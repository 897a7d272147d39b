package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Embed
import graft.ops.Similarity

/** Measurement harness backing BASELINE.md's IVF quality claim (VERDICT r2
  * next-round #7): recall@k AND scanned-corpus fraction of `ivfTopK` against
  * `bruteForceTopK`, across (nCentroids, nprobe, multiAssign, kmeansIters)
  * configs, on two datasets:
  *
  *  1. the driver's embeddings table — uniform random on the 64-d sphere
  *     (measured mean pairwise cosine ≈ 0.000, p99 ≈ 0.29), the WORST case
  *     for any space-partitioning index: neighbors are only weakly closer
  *     than strangers, so cell membership carries little signal;
  *  2. a deterministic clustered synthetic (mixture of 32 Gaussian bumps,
  *     fixed seed) with the geometry real text embeddings have — this is
  *     where IVF earns its C/nprobe× scan reduction.
  *
  * The scanned fraction is the real cost driver at 100 TB: recall must be
  * read against it (brute force is recall 1.0 at scan 1.0).
  * DedupQualityProbe plays the same role for MinHash-LSH.
  *
  * Usage: IvfRecallProbe [sfDir] [nQueries] [k]
  */
object IvfRecallProbe {

  private case class Cfg(nCentroids: Int, nprobe: Int, multiAssign: Int, iters: Int)

  private val cfgs = Seq(
    Cfg(16, 2, 1, 5), Cfg(16, 4, 1, 5), Cfg(16, 8, 1, 5),
    Cfg(64, 8, 1, 5), Cfg(64, 16, 1, 5),
    Cfg(64, 8, 2, 5), Cfg(64, 16, 2, 5),
    Cfg(16, 4, 1, 0), Cfg(64, 16, 1, 0)) // hash-seeded (untrained) reference points

  private def topSet(df: DataFrame): Map[Long, Set[Long]] =
    df.select(col("qid").cast("long"), col("neighbor_id").cast("long"))
      .collect().groupBy(_.getLong(0)).map { case (g, rs) => g -> rs.map(_.getLong(1)).toSet }

  /** Driver-side scanned-fraction account: Σ_q |{rows whose multiAssign
    * cells intersect q's probe cells}| / (nQ × n). Exact replay of ivfTopK's
    * candidate generation (same centroids, same argmax-cosine, same ties) on
    * the collected vectors — affordable at probe scale, never in the engine.
    */
  private def scanFraction(vecs: Array[(Long, Array[Double])],
      queries: Array[(Long, Array[Double])],
      centroids: Seq[(Int, Seq[Double])], nprobe: Int, r: Int): Double = {
    val cents = centroids.map { case (cid, v) => (cid, v.toArray) }.toArray
    def cells(x: Array[Double], take: Int): Set[Int] =
      cents.map { case (cid, c) => (Embed.cosine(x, c), cid) }
        .sortBy { case (s, cid) => (-s, cid) }.take(take).map(_._2).toSet
    val rowCells = vecs.map { case (_, v) => cells(v, r) }
    val hits = queries.map { case (_, q) =>
      val probe = cells(q, nprobe)
      rowCells.count(_.exists(probe.contains))
    }.map(_.toLong).sum
    hits.toDouble / (queries.length.toLong * vecs.length)
  }

  private def measure(spark: SparkSession, tag: String, v: DataFrame,
      nQueries: Int, k: Int): Unit = {
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = topSet(Similarity.bruteForceTopK(v, q, k))
    val collected = v.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qCollected = collected.filter(_._1 < nQueries)
    cfgs.foreach { c =>
      val approx = topSet(Similarity.ivfTopK(v, q, k, nCentroids = c.nCentroids,
        nprobe = c.nprobe, kmeansIters = c.iters, multiAssign = c.multiAssign))
      val recalls = exact.map { case (g, truth) =>
        approx.getOrElse(g, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      val mean = recalls.sum / recalls.size
      val cents = Similarity.kmeansCentroids(v, c.nCentroids, c.iters)
      val frac = scanFraction(collected, qCollected, cents, c.nprobe, c.multiAssign)
      println(f"[ivf-recall] data=$tag%s C=${c.nCentroids}%d nprobe=${c.nprobe}%d " +
        f"r=${c.multiAssign}%d kmeansIters=${c.iters}%d queries=${exact.size}%d " +
        f"recall@$k%d=$mean%.4f scan=$frac%.3f")
    }
  }

  /** Deterministic mixture-of-Gaussians embeddings: `n` unit vectors around
    * `nClusters` centers (within-cluster noise sigma), fixed-seed — the
    * cluster geometry real text/embedding corpora exhibit.
    */
  private def clusteredSynth(spark: SparkSession, n: Int, dim: Int,
      nClusters: Int, sigma: Double): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def unit(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum); v.map(_ / nrm)
    }
    val centers = Array.fill(nClusters)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val rows = (0 until n).map { i =>
      val c = centers(i % nClusters)
      val v = unit(c.zip(Array.fill(dim)(rnd.nextGaussian() * sigma)).map { case (a, b) => a + b })
      (i.toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val nQueries = args.lift(1).map(_.toInt).getOrElse(50)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local("graft-ivf-recall", cores = 8, shufflePartitions = 8)

    measure(spark, "uniform(sf)",
      spark.read.parquet(s"$sfDir/embeddings.parquet"), nQueries, k)
    measure(spark, "clustered(synth)",
      clusteredSynth(spark, 2000, 64, 32, 0.25), nQueries, k)
    spark.stop()
  }
}
