package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.SnapshotLog

/** Shared local SparkSession for specs (one per JVM; sbt forks one test JVM). */
object SparkSpec {
  lazy val spark: SparkSession =
    graft.app.Sessions.local("graft-tests", cores = 4, shufflePartitions = 8)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Jobs the shared session starts while `action` runs. */
  protected def jobsOf(action: => Any): Int = {
    val jobs = new AtomicInteger(0)
    listening(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })(action)
    jobs.get()
  }

  /** Runs `body` with the given session confs set, then restores each key's
    * previous value (unsetting keys that were unset), also when `body`
    * throws. Specs run one at a time, so scoping a conf on the shared
    * session is safe here; library code never toggles session confs.
    */
  protected def withConf[T](confs: (String, String)*)(body: => T): T = {
    // getAll holds only explicitly set keys (getOption falls back to defaults)
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Bytes the shared session's tasks hand back to the driver as task
    * results (`taskMetrics.resultSize`, summed) while `action` runs.
    */
  protected def taskResultBytesOf(action: => Any): Long = {
    val bytes = new AtomicLong(0L)
    listening(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) bytes.addAndGet(te.taskMetrics.resultSize)
    })(action)
    bytes.get()
  }

  /** Snapshot ids with a data path or bloom file under table `t` of the
    * warehouse at `dir` that its manifest does not list.
    */
  protected def unlisted(log: SnapshotLog, dir: String, t: String): Seq[String] = {
    val listed = log.snapshots(t).toSet
    val seg = """snapshot-(\d+)(\.bloom.*)?""".r
    val st = Files.list(Paths.get(dir, t))
    try st.iterator().asScala.map(_.getFileName.toString).collect {
      case n @ seg(id, _) if !listed(id.toLong) => n
    }.toSeq.sorted finally st.close()
  }

  private def listening(listener: SparkListener)(action: => Any): Unit = {
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
