package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Embed
import graft.ops.{Dedup, Similarity}

/** Floors under BASELINE.md's approximate-operator quality figures: MinHash-LSH
  * precision/recall against exact Jaccard, and IVF recall@10 against brute
  * force together with the fraction of the corpus a query scans. Each floor
  * sits just below the value measured when it was pinned (see CHANGES.md),
  * so a change that degrades banding, candidate verification, centroid
  * training or cell assignment fails here.
  */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("MinHash-LSH (k=32, 8 bands, 1-grams, th 0.7) keeps precision and recall vs exact Jaccard") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(docs.count() === 500L)
    def pairs(df: DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = pairs(Dedup.ngramJaccardPairs(docs, n = 1, threshold = 0.7))
    val lsh = pairs(Dedup.minhashLshPairs(docs, n = 1, k = 32, bands = 8, threshold = 0.7))
    val tp = (exact intersect lsh).size.toDouble
    val (precision, recall) = (tp / lsh.size, tp / exact.size)
    info(f"exact=${exact.size} lsh=${lsh.size} precision=$precision%.4f recall=$recall%.4f")
    assert(exact.size > 1000, s"fixture yields too few true pairs: ${exact.size}")
    assert(precision >= 0.999, f"precision $precision%.4f")
    assert(recall >= 0.975, f"recall $recall%.4f")
  }

  test("IVF (C=64, nprobe=16, r=1, trained) keeps recall@10 on clustered vectors at a quarter scan") {
    val v = clusteredSynth(n = 2000, dim = 64, nClusters = 32, sigma = 0.25)
    val (nQueries, k, c, nprobe) = (50, 10, 64, 16)
    val q = v.filter($"vec_id" < nQueries).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val exact = topSets(Similarity.bruteForceTopK(v, q, k))
    val approx = topSets(Similarity.ivfTopK(v, q, k, nCentroids = c, nprobe = nprobe,
      kmeansIters = 5, multiAssign = 1))
    val recall = exact.map { case (g, truth) =>
      approx.getOrElse(g, Set.empty).intersect(truth).size.toDouble / truth.size
    }.sum / exact.size
    val vecs = v.as[(Long, Seq[Double])].collect().map { case (id, e) => (id, e.toArray) }
    val scan = scanFraction(vecs, vecs.filter(_._1 < nQueries),
      Similarity.kmeansCentroids(v, c, 5), nprobe)
    info(f"queries=${exact.size} recall@$k=$recall%.4f scan=$scan%.3f")
    assert(exact.size === nQueries)
    assert(recall >= 0.90, f"recall@$k $recall%.4f")
    assert(scan <= 0.25, f"scanned fraction $scan%.3f")
  }

  private def topSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select($"qid".cast("long"), $"neighbor_id".cast("long")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).toSet }

  /** Share of the corpus the queries' probe cells hold, summed over queries
    * (r = 1): a replay of ivfTopK's candidate generation on the driver,
    * with the same centroids, argmax-cosine and tie order.
    */
  private def scanFraction(vecs: Array[(Long, Array[Double])],
      queries: Array[(Long, Array[Double])], centroids: Seq[(Int, Seq[Double])],
      nprobe: Int): Double = {
    val cents = centroids.map { case (cid, c) => (cid, c.toArray) }
    def cells(x: Array[Double], take: Int): Set[Int] =
      cents.map { case (cid, c) => (Embed.cosine(x, c), cid) }
        .sortBy { case (s, cid) => (-s, cid) }.take(take).map(_._2).toSet
    val rowCells = vecs.map { case (_, x) => cells(x, 1) }
    val hits = queries.map { case (_, x) =>
      val probe = cells(x, nprobe)
      rowCells.count(_.exists(probe.contains)).toLong
    }.sum
    hits.toDouble / (queries.length.toLong * vecs.length)
  }

  /** `n` unit vectors around `nClusters` random centers with Gaussian noise
    * `sigma`, seed 42: the cluster geometry of text-embedding corpora.
    */
  private def clusteredSynth(n: Int, dim: Int, nClusters: Int, sigma: Double): DataFrame = {
    val rnd = new scala.util.Random(42)
    def unit(x: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(x.map(a => a * a).sum); x.map(_ / nrm)
    }
    val centers = Array.fill(nClusters)(unit(Array.fill(dim)(rnd.nextGaussian())))
    (0 until n).map { i =>
      val noise = Array.fill(dim)(rnd.nextGaussian() * sigma)
      (i.toLong, unit(centers(i % nClusters).zip(noise).map { case (a, b) => a + b }).toSeq)
    }.toDF("vec_id", "embedding")
  }
}
