package graft.app

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry

/** Optimization-evidence tool over the declared contract queries
  * (`SparkEntry.queries`), in one warmed JVM. Not part of the bench contract
  * (`graft.Bench` is frozen); OPTIMIZATION_r06.md cites both modes:
  *  - `time`: every query `reps` times to a noop sink, each sample printed —
  *    the same-JVM A/B harness (fork-to-fork best-of numbers carry host
  *    noise larger than sub-0.1 s deltas);
  *  - `plan`: every query's `explain("formatted")` to
  *    `<outDir>/<query>_<suffix>.txt`, so plan-shape claims are checkable
  *    without running Spark.
  *
  * Usage: QueryProbe time <sfDir> <reps> [query ...]
  *        QueryProbe plan <sfDir> <outDir> <suffix> [query ...]
  * (default: the 12 headline queries). Session shape of the bench child:
  * local[$SPARK_GRAFT_CPUS] (default 32), shuffle partitions = cores.
  */
object QueryProbe {

  private val headline = Seq(
    "q1_agg", "kg_chunk_window", "kg_min_length_filter", "kg_connected_components",
    "dedup_token_jaccard", "dedup_minhash_pairs", "dedup_simhash_pairs",
    "ann_topk", "text_stats", "text_langid", "rrf_fusion", "q_window_topk")

  /** Throws, naming them, if `SparkEntry.queries` lacks any of `names`. */
  private def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
  }

  /** Time mode: `reps` noop-sink wall times (seconds) per query, in order.
    * Throws before any query runs if a name is unknown.
    */
  def time(spark: SparkSession, sfDir: String, reps: Int,
      names: Seq[String]): Seq[(String, Seq[Double])] = {
    requireKnown(names)
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // scan/codegen init
    names.map { name =>
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name%s best=${samples.min}%.3f " +
        s"samples=${samples.map(s => f"$s%.3f").mkString(",")}")
      name -> samples
    }
  }

  /** Plan mode: writes each query's formatted plan, returns the files.
    * Throws before any query runs if a name is unknown.
    */
  def plan(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Seq[Path] = {
    requireKnown(names)
    Files.createDirectories(Paths.get(outDir))
    names.map { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.writeString(out, plan)
      println(s"[probe] $name -> $out")
      out
    }
  }

  def main(args: Array[String]): Unit = {
    val fixedArgs = Map("time" -> 3, "plan" -> 4)
    val mode = args.headOption.filter(fixedArgs.contains).getOrElse("")
    if (mode.isEmpty || args.length < fixedArgs(mode)) {
      System.err.println(
        "usage: QueryProbe time <sfDir> <reps> [query ...]\n" +
          "       QueryProbe plan <sfDir> <outDir> <suffix> [query ...]")
      sys.exit(2)
    }
    val names = args.drop(fixedArgs(mode)).toSeq match {
      case Seq() => headline
      case given => given
    }
    try requireKnown(names) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local("graft-query-probe", cpus, cpus)
    if (mode == "time") time(spark, args(1), args(2).toInt, names)
    else plan(spark, args(1), args(2), args(3), names)
    spark.stop()
  }
}
