package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Peak block-manager storage (memory + disk) of one timed op, from
  * `SparkListenerBlockUpdated` events: the summed size of the blocks the op
  * stores, at its highest point during the op. Blocks stored before the op
  * began are left out, so the figure does not depend on how many ops ran
  * before, nor on blocks (such as local checkpoints) that are freed only
  * later by the context cleaner. Installed in every run: the largest op
  * peak is the `cache_peak_mb` end-to-end metric.
  */
final class CacheMeter extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  /** Blocks stored during the open op, with their sizes; None between ops. */
  private var opBlocks: Option[mutable.HashMap[String, Long]] = None
  private var opCurrent = 0L
  private var opPeak = 0L
  private var maxOpPeak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = s"${info.blockManagerId.executorId}/${info.blockId.name}"
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    val stored = sizes.contains(id)
    if (size == 0L) sizes.remove(id) else sizes(id) = size
    opBlocks.foreach { ob =>
      if (ob.contains(id) || (!stored && size > 0L)) {
        opCurrent += size - ob.getOrElse(id, 0L)
        if (size == 0L) ob.remove(id) else ob(id) = size
        opPeak = math.max(opPeak, opCurrent)
      }
    }
  }

  /** Runs one timed op and records the peak storage of the blocks it
    * stores. The listener bus is drained before and after `body`, outside
    * any timer `body` holds.
    */
  def measure[A](sc: SparkContext)(body: => A): A = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized { opBlocks = Some(mutable.HashMap.empty); opCurrent = 0L; opPeak = 0L }
    try body
    finally {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      synchronized { maxOpPeak = math.max(maxOpPeak, opPeak); opBlocks = None }
    }
  }

  /** The largest per-op peak measured so far. */
  def peakBytes: Long = synchronized(maxOpPeak)
}

/** Spans around the benchmark's calls into each layer, plus a listener that
  * attributes Spark jobs and tasks to the innermost open span through the
  * job group set while the span is open.
  *
  * Spans live in memory until `write`. Each records its layer, name, start,
  * end, parent and a trace id (one per pass or query).
  */
final class Tracer(sc: SparkContext, cores: Int) extends SparkListener {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  sc.addSparkListener(this)

  /** Stops attributing jobs, once every event so far has been counted. */
  def stop(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(this)
  }

  private def countersOf(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val span = group.filter(_.startsWith(GroupPrefix)).map(_.drop(GroupPrefix.length).toInt).getOrElse(-1)
    countersOf(span).jobs += 1
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = countersOf(stageSpan.getOrDefault(e.stageId, -1))
    c.tasks += 1
    if (e.reason != Success || e.taskInfo.attemptNumber > 0) c.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.resultBytes += m.resultSize
    }
  }

  /** Runs `body` inside a span of `layer`; Spark jobs it starts are tagged
    * with the span's job group.
    */
  def span[A](layer: String, name: String, trace: String)(body: => A): A = {
    val s = Span(spans.size, layer, name, open.headOption.map(_.id).getOrElse(-1), trace,
      System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(GroupPrefix + s.id, s"$layer:$name", interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, s"${p.layer}:${p.name}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Adds `n` to the rows produced by the innermost open span. */
  def rows(n: Long): Unit = open.headOption.foreach(_.rowsOut += n)

  /** Counts `rows` in a span of the benchmark's own (reported under no
    * layer) and sets the count as the rows of the layer span closed last.
    */
  def countRowsOfLast(trace: String)(rows: => Long): Long = {
    val target = spans.filter(s => s.endNs > 0 && s.layer != Bench).maxByOption(_.endNs)
    val n = span(Bench, "count", trace)(rows)
    target.foreach(_.rowsOut = n)
    n
  }

  /** Per-layer totals: each span contributes its self time and the jobs
    * attributed to it (never its children's), so layers sum without double
    * counting.
    */
  def layers(): Map[String, LayerTotals] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      val t = new LayerTotals
      ss.foreach { s =>
        t.selfS += selfNs(s) / 1e9
        t.rowsOut += s.rowsOut
        Option(counters.get(s.id)).foreach { c =>
          t.jobs += c.jobs; t.tasks += c.tasks; t.runMs += c.runMs
          t.shuffleWriteBytes += c.shuffleWriteBytes; t.spillBytes += c.spillBytes
          t.resultBytes += c.resultBytes; t.failedTasks += c.failedTasks
        }
      }
      t.idleCoreFrac = if (t.selfS <= 0) 0.0 else 1.0 - (t.runMs / 1e3) / (t.selfS * cores)
      layer -> t
    }
  }

  /** Span duration minus the union of its children's intervals. */
  private def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) covered += curEnd - curStart
    (s.endNs - s.startNs) - covered
  }

  /** Writes every span as one JSON line, times in ms from the first span. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val c = Option(counters.get(s.id)).getOrElse(new Counters)
      f"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","layer":"${s.layer}",""" +
        f""""name":"${s.name}","start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${selfNs(s) / 1e6}%.3f,"rows_out":${s.rowsOut},"jobs":${c.jobs},"tasks":${c.tasks}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  private val GroupPrefix = "perfbench-span-"
  /** Layer of the benchmark's own bookkeeping inside a pass. */
  val Bench = "bench"

  final case class Span(id: Int, layer: String, name: String, parent: Int, trace: String,
      startNs: Long) {
    var endNs: Long = 0L
    var rowsOut: Long = 0L
  }

  final class Counters {
    var jobs = 0
    var tasks = 0
    var failedTasks = 0
    var runMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var resultBytes = 0L
  }

  final class LayerTotals {
    var selfS = 0.0
    var jobs = 0
    var tasks = 0
    var failedTasks = 0
    var runMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var resultBytes = 0L
    var rowsOut = 0L
    var idleCoreFrac = 0.0
  }

  /** The layers, named after the repository's modules. */
  val Layers: Seq[String] =
    Seq("chunk", "extract", "canon", "link", "assemble", "tables", "query", "pipeline")
}
