package graft.app

/** Measures MinHash-LSH precision/recall against brute-force exact Jaccard
  * on the driver's documents table (backs BASELINE.md near-dup quality).
  * Usage: DedupQualityProbe [sfDir] [maxDocId] [threshold]
  */
object DedupQualityProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxDoc = args.lift(1).map(_.toLong).getOrElse(2000L)
    val th = args.lift(2).map(_.toDouble).getOrElse(0.7)
    val spark = Sessions.local("graft-dedup-quality", cores = 32, shufflePartitions = 32)
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < maxDoc)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.ops.Dedup.ngramJaccardPairs(docs, n = 1, threshold = th))
    val lsh = pairs(graft.ops.Dedup.minhashLshPairs(docs, n = 1, k = 32, bands = 8,
      threshold = th))
    val tp = (exact intersect lsh).size.toDouble
    println(f"[quality] sf=$sfDir docs<$maxDoc th=$th exact=${exact.size} lsh=${lsh.size} " +
      f"precision=${if (lsh.nonEmpty) tp / lsh.size else 1.0}%.4f " +
      f"recall=${if (exact.nonEmpty) tp / exact.size else 1.0}%.4f")
    spark.stop()
  }
}
