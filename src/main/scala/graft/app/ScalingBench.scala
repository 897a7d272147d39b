package graft.app

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.pipeline.Ingest
import graft.synth.TranscriptGen

/** Scaling-evidence harness (north rule): run the identical KG pipeline on
  * the identical *materialized* transcript table (parquet — the sandbox
  * stand-in for the Iceberg input) at several parallelism levels (local[N]
  * proxies N executors) and report turns/sec per level plus N→4N efficiency.
  *
  * Methodology: the corpus is generated once and written to parquet so every
  * level reads the same bytes; each level runs in its own child JVM
  * (`forkMeasure`) with one warmup pass (codegen/planning) and `reps`
  * measured passes, best-of — host noise runs to several seconds, and
  * best-of-n isolates the engine's own cost.
  *
  * Usage: ScalingBench [turns] [cores,cores,...] [reps] [mode]
  * (default: 1000000 8,32 2 full). A level whose child fails exits 1.
  */
object ScalingBench {

  private def session(cores: Int): SparkSession =
    // the SAME job at every parallelism level: shuffle partitioning is part
    // of the job's logical config, so it is held CONSTANT (one wave on the
    // widest level — the salted chunker balances partitions, so extra
    // straggler waves only add task overhead; measured: 32 partitions beat
    // 128 by ~1.6s at 32 cores and ~2× on the barrier-heavy full pipeline).
    // Letting it track the core count would also hand low-core levels a
    // lighter job and distort the scaling ratio.
    Sessions.local(s"graft-scaling-$cores", cores, shufflePartitions = 32,
      // the measurement corpus is a few hundred MB: default 128 MB splits
      // would give the 32-core level single-digit scan tasks and idle cores —
      // a fixture artifact, not an engine property (a 10^12-turn table has
      // millions of splits). 8 MB keeps every level's scan saturated.
      "spark.sql.files.maxPartitionBytes" -> s"${8 * 1024 * 1024}")

  /** Generate the corpus once → parquet. Returns totalTurns. `sorted` writes
    * the storage-ordered layout a standing transcript store maintains (each
    * conversation hash-routed to one file, files sorted by (conv_id,
    * turn_idx)) — the precondition for the chunker's sortedInput fast path.
    */
  def materializeCorpus(turnsTarget: Long, dir: String, sorted: Boolean = false,
      conv0Frac: Double = 0.0): Long = {
    val base = 400
    // conv0Frac > 0 builds the EXTREME-skew corpus: conversation 0 alone
    // holds that fraction of all turns (the north-star long-conversation
    // pathology), vs the default mild skew=8
    val skew =
      if (conv0Frac > 0) math.max((turnsTarget * conv0Frac / base).toInt, 1) else 8
    val numConvs = math.max(((turnsTarget - skew.toLong * base) / base + 1).toInt, 2)
    val cfg = TranscriptGen.Config(numConvs = numConvs, turnsPerConv = base, skew = skew)
    val spark = session(8)
    // 64 files so every parallelism level's scan has enough splits
    val t = TranscriptGen.transcripts(spark, cfg)
    val laid =
      if (sorted)
        t.repartition(64, org.apache.spark.sql.functions.col("conv_id"))
          .sortWithinPartitions("conv_id", "turn_idx")
      else t.repartition(64)
    laid.write.mode("overwrite").parquet(dir)
    spark.stop()
    cfg.totalTurns
  }

  /** The pipeline shapes `measure` times; see its scaladoc. */
  private val Modes: Seq[String] =
    Seq("chunk", "extract", "extract_sorted", "extract_fused", "full", "full_sorted")

  /** Exit 2 naming the valid modes, before any session starts: an unknown
    * mode must not silently measure a different pipeline.
    */
  private def requireMode(mode: String): Unit =
    if (!Modes.contains(mode)) {
      System.err.println(s"unknown mode '$mode'; valid modes: ${Modes.mkString(", ")}")
      sys.exit(2)
    }

  /** Best-of-reps pipeline wall time at one parallelism level, by mode:
    *  - "full": chunk→…→assembled triples (`Ingest.runInMemory`, which takes
    *    the fused extractor at the default config); "full_sorted": the same
    *    through the chunker's sortedInput fast path
    *  - "extract": chunk→extract only (the north-rule throughput metric), a
    *    straight-line scan+window+mapPartitions job with no persists;
    *    "extract_sorted": the same over a storage-ordered corpus via the
    *    chunker's shuffle-free sortedInput fast path
    *  - "extract_fused": the fused single-pass extractor
    *  - "chunk": the chunker alone
    */
  def measure(cores: Int, corpusDir: String, reps: Int, mode: String = "full"): Double = {
    val spark = session(cores)
    import spark.implicits._
    def once(): Double = {
      val turns = spark.read.parquet(corpusDir).as[graft.model.Turn]
      val t0 = System.nanoTime()
      val out = mode match {
        case "chunk" => graft.chunk.TurnChunker.chunk(spark, turns).toDF()
        // fused single-pass chunk-gate + extraction (spec-asserted
        // row-identical to extract(chunk(...))) — the deployment shape when
        // only triples are needed from a standing transcript store
        case "extract_fused" => graft.extract.TripleExtractor.extractFused(spark, turns).toDF()
        case "extract" | "extract_sorted" =>
          val ccfg = graft.chunk.TurnChunker.Config(
            sortedInput = mode == "extract_sorted")
          val chunks = graft.chunk.TurnChunker.chunk(spark, turns, ccfg)
          graft.extract.TripleExtractor.extract(spark, chunks).toDF()
        case "full" | "full_sorted" =>
          val icfg = Ingest.Config(chunker = graft.chunk.TurnChunker.Config(
            sortedInput = mode == "full_sorted"))
          Ingest.runInMemory(spark, turns, icfg).triples
      }
      out.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup: ONE uncounted pass of the real job. A tiny-corpus warmup
    // compiles the plans (codegen) but not the JVM itself — C2 JIT of the
    // hot row loops is volume-triggered, and a fresh fork that skips it
    // records compilation as engine time (measured: rep 1 at 16 cores runs
    // ~2.2× the converged time; reps 2+ agree with a long-warm JVM).
    once()
    val best = (1 to reps).map { _ =>
      spark.catalog.clearCache() // drop the previous rep's persisted stages
      once()
    }.min
    spark.stop()
    best
  }

  /** JDK17 module opens Spark needs outside spark-submit — mirrors
    * build.sbt's javaOptions (children don't inherit sbt's fork flags).
    */
  private val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Run a main class in a FRESH child JVM (same classpath + JDK17 opens)
    * and return (exit code, stdout). Fresh-JVM isolation is load-bearing for
    * every measurement: a long-lived bench JVM measures the same job 2-3×
    * slower after a few sessions (BASELINE.md §JVM churn).
    *
    * `timeoutMs > 0` bounds the child's wall clock: a wedged child is
    * destroyForcibly'd and the call returns rc=124 with whatever stdout had
    * drained. Round 4's recorded artifact was EMPTY because the unbounded
    * `readAllBytes`/`waitFor` here let one bad window consume the driver's
    * whole bench budget — every caller on the bench path now passes a bound.
    */
  def forkLines(mainClass: String, args: Seq[String],
      timeoutMs: Long = 0L): (Int, String) = {
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
    val cmd = Seq(javaBin) ++ jdk17AddOpens ++ Seq(
      s"-Xmx$mem", "-XX:+UseParallelGC",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(false)
    val proc = pb.start()
    // drain stderr on a thread so Spark logging can't fill the pipe and block
    val errDrain = new Thread(() => {
      val es = proc.getErrorStream
      val buf = new Array[Byte](8192)
      while (es.read(buf) >= 0) {}
    })
    errDrain.setDaemon(true)
    errDrain.start()
    // stdout also drains on a thread (readAllBytes on the parent thread
    // would wait forever on a wedged child even after a timeout fires)
    val outBuf = new java.io.ByteArrayOutputStream()
    val outDrain = new Thread(() => {
      val is = proc.getInputStream
      val buf = new Array[Byte](8192)
      var n = is.read(buf)
      while (n >= 0) {
        outBuf.synchronized { outBuf.write(buf, 0, n) }
        n = is.read(buf)
      }
    })
    outDrain.setDaemon(true)
    outDrain.start()
    val finished =
      if (timeoutMs > 0)
        proc.waitFor(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      else { proc.waitFor(); true }
    if (!finished) {
      proc.destroyForcibly()
      proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
    }
    outDrain.join(2000)
    val rc = if (finished) proc.exitValue() else 124
    (rc, new String(outBuf.synchronized(outBuf.toByteArray),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  /** One (cores, mode) measurement in a fresh child JVM → best-of-reps
    * seconds, or None if the child failed or hit `timeoutMs`. The child
    * prints one `[measure] <secs>` line. Never throws: the bench must keep
    * emitting its contract line no matter what a single fork does.
    */
  def forkMeasure(cores: Int, corpusDir: String, reps: Int, mode: String,
      timeoutMs: Long = 0L): Option[Double] = {
    val (rc, out) = forkLines("graft.app.ScalingBench",
      Seq("--measure", cores.toString, corpusDir, reps.toString, mode), timeoutMs)
    val secs = out.linesIterator.collectFirst {
      case l if l.startsWith("[measure] ") => l.stripPrefix("[measure] ").trim.toDouble
    }
    if (secs.isEmpty)
      println(s"[bench] fork_failed rc=$rc cores=$cores mode=$mode")
    secs
  }

  def run(turnsTarget: Long, cores: Seq[Int], reps: Int = 2,
      mode: String = "full"): Map[Int, Double] = {
    val dir = Files.createTempDirectory("graft-scaling-corpus").toString
    val total = materializeCorpus(turnsTarget, dir, sorted = mode.endsWith("_sorted"))
    val out = cores.map { n =>
      // one fresh JVM per level: levels timed in one JVM distort the ratio
      // (BASELINE.md §JVM churn: 0.46 in-bench vs 0.81 isolated)
      val secs = forkMeasure(n, dir, reps, mode).getOrElse {
        System.err.println(s"[scaling] mode=$mode cores=$n: measurement failed; no number")
        sys.exit(1)
      }
      println(f"[scaling] mode=$mode cores=$n turns=$total secs=$secs%.2f " +
        f"turns_per_sec=${total / secs}%.0f")
      n -> total / secs
    }.toMap
    out
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--materialize")) {
      val sorted = args.length > 3 && args(3) == "sorted"
      val conv0Frac = args.lift(4).map(_.toDouble).getOrElse(0.0)
      val n = materializeCorpus(args(1).toLong, args(2), sorted, conv0Frac)
      println(s"[materialize] $n ${args(2)}${if (sorted) " (sorted)" else ""}" +
        (if (conv0Frac > 0) s" conv0Frac=$conv0Frac" else ""))
      return
    }
    if (args.headOption.contains("--measure")) {
      // child-JVM entry used by forkMeasure: one level, one mode, one line
      val Array(_, coresS, dir, repsS, mode) = args
      requireMode(mode)
      val secs = measure(coresS.toInt, dir, repsS.toInt, mode)
      println(f"[measure] $secs%.6f")
      return
    }
    val mode = args.lift(3).getOrElse("full")
    requireMode(mode)
    val turns = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cores = args.lift(1).map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(8, 32))
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val tps = run(turns, cores, reps, mode)
    cores.sliding(2).foreach {
      case Seq(a, b) =>
        val ratio = b.toDouble / a
        println(f"[scaling] efficiency $a->$b: ${tps(b) / tps(a) / ratio}%.3f " +
          f"(speedup ${tps(b) / tps(a)}%.2fx over $ratio%.0fx cores)")
      case _ =>
    }
  }
}
