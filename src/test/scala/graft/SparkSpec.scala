package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

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

  private def listening(listener: SparkListener)(action: => Any): Unit = {
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
