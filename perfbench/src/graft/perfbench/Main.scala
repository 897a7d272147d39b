package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM at local[4].
  *
  *   Main --workload bulk_ingest|incremental_mixed --seed N --seconds S
  *        --trace 0|1 --work DIR [--scale full|smoke]
  *
  * The last stdout line is one JSON object: correct, attempted, failed and
  * metrics (the end-to-end metrics untraced, the per-layer metrics traced).
  * Definitions and the reasons for each workload are in perfbench/README.md.
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case other => usage(s"--trace must be 0 or 1, got $other")
    }
    val scale = opts.getOrElse("scale", "full") match {
      case "full" => Scale.Full
      case "smoke" => Scale.Smoke
      case other => usage(s"unknown --scale $other")
    }
    val work = Paths.get(need("work")).toAbsolutePath
    val run: Ctx => Report = workload match {
      case "bulk_ingest" => Workloads.bulkIngest
      case "incremental_mixed" => Workloads.incrementalMixed
      case other => usage(s"unknown workload $other")
    }
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val ctx = new Ctx(spark, seed, seconds, traced, scale, work)
      val report = run(ctx)
      ctx.tracer.foreach(_.write(work.getParent.resolve("spans").resolve(s"$workload-seed$seed.jsonl")))
      report.notes.foreach(n => println(s"[perfbench] $n"))
      println(f"[perfbench] jvm: gc ${gcSecs()}%.2f s, jit ${
        java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3}%.2f s")
      println(report.json)
    } finally spark.stop()
  }

  private def gcSecs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: Main --workload bulk_ingest|incremental_mixed " +
      "--seed N --seconds S --trace 0|1 --work DIR [--scale full|smoke]")
    sys.exit(2)
  }
}

/** Input sizes. `Full` is what the benchmark measures; `Smoke` runs every
  * operation and check at a tiny size for the self-test.
  */
final case class Scale(
    bulkConvs: Int, bulkTurnsPerConv: Int, bulkSkew: Int,
    baseConvs: Int, batchConvs: Int, incTurnsPerConv: Int)

object Scale {
  val Full = Scale(bulkConvs = 60, bulkTurnsPerConv = 400, bulkSkew = 8,
    baseConvs = 60, batchConvs = 25, incTurnsPerConv = 40)
  val Smoke = Scale(bulkConvs = 4, bulkTurnsPerConv = 40, bulkSkew = 2,
    baseConvs = 6, batchConvs = 3, incTurnsPerConv = 20)
}

/** Per-run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Int, val traced: Boolean, val scale: Scale, val work: Path) {
  val cache = new CacheMeter
  spark.sparkContext.addSparkListener(cache)
  /** Created by the workload once its untraced reference pass is done. */
  var tracer: Option[Tracer] = None
  val rec = new Recorder
  /** (segments opened, segments live) of each bloom-pruned lookup. */
  val lookupScans = ArrayBuffer.empty[(Int, Int)]

  /** Runs one timed op: its result and wall seconds. Its storage peak goes
    * to `cache`, measured outside the timer.
    */
  def op[A](body: => A): (A, Double) = cache.measure(spark.sparkContext)(Stats.timed(body))

  def startTracing(): Tracer = {
    val t = new Tracer(spark.sparkContext, Main.Cores)
    tracer = Some(t)
    t
  }

  def span[A](layer: String, name: String, trace: String)(body: => A): A =
    tracer.fold(body)(_.span(layer, name, trace)(body))

  def rows(n: Long): Unit = tracer.foreach(_.rows(n))
}

/** Samples and op outcomes of one run. An op is one ingest batch or one
  * query; it fails when it throws or when its output check fails.
  */
final class Recorder {
  val batchSecs = ArrayBuffer.empty[Double]
  val batchTurns = ArrayBuffer.empty[Long]
  val queryMs = mutable.LinkedHashMap(
    "research" -> ArrayBuffer.empty[Double],
    "search" -> ArrayBuffer.empty[Double],
    "lookup" -> ArrayBuffer.empty[Double])
  var attempted = 0
  var failed = 0

  def outcome(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] FAILED: $what")
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secsSince(t0))
  }
}

/** One metric line of the result object. */
final case class Metric(name: String, value: Double, unit: String)

final case class Report(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric],
    notes: Seq[String]) {
  def json: String = {
    val ms = metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}")
      s""""${m.name}": {"value": ${BigDecimal(m.value).bigDecimal.toPlainString}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
