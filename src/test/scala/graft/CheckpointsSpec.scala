package graft

import org.apache.spark.sql.functions._

import graft.tables.Checkpoints

/** `Checkpoints.collectUpTo`, the one bounded driver collect behind the
  * small-graph union-find, the local dedup and the broadcast topic map: its
  * cap boundary, its one-job probe, and a session conf it leaves alone.
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private val LimitKey = "spark.sql.limit.initialNumPartitions"

  // an RDD source: no row bound Catalyst could use to drop the limit
  private def relation(rows: Int) =
    spark.sparkContext.parallelize(0L until rows.toLong, 32).toDF("id")

  test("collectUpTo returns every row at exactly maxRows and None at maxRows + 1") {
    val df = relation(100)
    assert(Checkpoints.collectUpTo(df, 100).map(_.map(_.getLong(0)).sorted.toSeq) ===
      Some(0L until 100L))
    assert(Checkpoints.collectUpTo(relation(101), 100).isEmpty)
    assert(Checkpoints.collectUpTo(df, 99).isEmpty)
    assert(Checkpoints.collectUpTo(relation(0), 0).map(_.length) === Some(0))
  }

  test("collectUpTo runs ONE job on a 32-partition relation under the cap") {
    val df = relation(1000)
    var got: Option[Array[org.apache.spark.sql.Row]] = None
    assert(jobsOf { got = Checkpoints.collectUpTo(df, 5000) } === 1)
    assert(got.map(_.length) === Some(1000))
    // the same limit without the scoped conf scales up over several jobs
    assert(jobsOf(df.limit(5001).collect()) > 1)
  }

  test("collectUpTo restores the limit conf, set or unset before, also when the collect throws") {
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom")
      x
    }
    def roundTrip(prev: Option[String]): Unit = {
      prev.fold(spark.conf.unset(LimitKey))(spark.conf.set(LimitKey, _))
      assert(Checkpoints.collectUpTo(relation(10), 10).isDefined)
      assert(spark.conf.getAll.get(LimitKey) === prev)
      intercept[Exception](Checkpoints.collectUpTo(relation(10).select(boom($"id")), 10))
      assert(spark.conf.getAll.get(LimitKey) === prev)
    }
    try {
      roundTrip(Some("3"))
      roundTrip(None)
    } finally spark.conf.unset(LimitKey)
  }

  test("collectUpTo leaves the session conf alone while its job runs") {
    // a collect held mid-job by a UDF: the main thread reads the session
    // conf that every other thread shares (graft.Verify runs queries on 4)
    val hold = udf { (x: Long) =>
      CheckpointsSpec.entered.countDown()
      CheckpointsSpec.release.await(60, java.util.concurrent.TimeUnit.SECONDS)
      x
    }
    spark.conf.unset(LimitKey)
    CheckpointsSpec.reset()
    val collect = scala.concurrent.Future(
      Checkpoints.collectUpTo(relation(10).select(hold($"id")), 10))(
      scala.concurrent.ExecutionContext.global)
    try {
      assert(CheckpointsSpec.entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(spark.conf.getAll.get(LimitKey) === None)
    } finally CheckpointsSpec.release.countDown()
    val got = scala.concurrent.Await.result(collect, scala.concurrent.duration.Duration(60, "s"))
    assert(got.map(_.length) === Some(10))
    assert(spark.conf.getAll.get(LimitKey) === None)
  }
}

/** Latches the spec's UDF reaches statically: tasks run in the spec's JVM,
  * and a latch captured in the closure would be a deserialized copy.
  */
object CheckpointsSpec {
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }
}
