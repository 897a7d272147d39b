package graft.tables

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Lineage-truncation and bounded-collect helpers shared by every stage that
  * eagerly materializes a small intermediate (the graph kernels' iteration
  * rounds, with their convergence counts observed in the same job; dedup's
  * pending table; the sinks' entity (or link) and topic tables) or fetches
  * one to the driver when it is small enough.
  *
  * `localCheckpoint` truncates lineage to executor-local blocks: on a real
  * cluster, losing an executor makes the data unrecoverable (no lineage left
  * to recompute) — a documented Spark caveat. So when the session has a
  * RELIABLE checkpoint dir configured (`sparkContext.setCheckpointDir`), use
  * `df.checkpoint()` (survives executor loss); fall back to `localCheckpoint`
  * only in single-JVM local mode where executor loss is process death anyway.
  */
object Checkpoints {

  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // persist BEFORE checkpoint: an unpersisted df.checkpoint() runs the
      // plan twice (once for the eager action, once when
      // ReliableRDDCheckpointData re-computes to write the files — the
      // documented Spark caveat), doubling every truncated stage's cost
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try df.checkpoint()
      finally df.unpersist()
    } else df.localCheckpoint()

  /** [[truncate]]s `df` and returns it with `metric`, a Long aggregate of
    * its rows (null counts as 0) observed in the job that materializes it,
    * so a loop's per-round convergence count costs no job of its own. If
    * the async metric has not landed after 30 s, it is aggregated over the
    * truncated frame in a separate job instead.
    */
  private[graft] def truncateCounting(df: DataFrame, metric: Column): (DataFrame, Long) = {
    val obs = Observation(s"graft_observed_${observations.incrementAndGet()}")
    val t = truncate(df.observe(obs, metric.as("metric")))
    val row = try Await.result(obs.future, Duration(30, "s"))
    catch { case _: TimeoutException => t.agg(metric).head() }
    (t, if (row.isNullAt(0)) 0L else row.getLong(0))
  }

  private val observations = new AtomicLong(0L)

  /** Truncate SEVERAL mutually-independent small intermediates with one
    * result job: each is marked for local checkpoint lazily, then a single
    * union action computes them all, where N eager `truncate` calls would
    * run N result jobs. Under adaptive execution the inputs' shuffle stages
    * are NOT shared or overlapped: each input's stage jobs run when its
    * `toRdd` is built, one input after another, and only then does the one
    * union job materialize every input's final stage. Reliable-checkpoint
    * sessions keep per-df eager checkpoints: each is a distributed file
    * write with its own commit.
    */
  def truncateAll(dfs: DataFrame*): Seq[DataFrame] = dfs.toList match {
    case Nil => Nil
    case one :: Nil => Seq(truncate(one))
    case many =>
      val sc = many.head.sparkSession.sparkContext
      if (sc.getCheckpointDir.isDefined) many.map(truncate)
      else {
        val marked = many.map(_.localCheckpoint(eager = false))
        // one action materializes every marked checkpoint; the internal rows
        // are discarded, not copied
        sc.union(marked.map(_.queryExecution.toRdd.map(_ => ()))).count()
        marked
      }
  }

  /** `df`'s rows on the driver when it has at most `maxRows` of them, else
    * None, in ONE job: a single job over every partition, each task taking
    * at most `maxRows + 1` rows, is both the size probe and the fetch. A
    * `limit(maxRows + 1).collect()` would start at
    * `spark.sql.limit.initialNumPartitions` partitions (default 1) and scale
    * up 4× per round: four sequential jobs on a 32-partition relation under
    * the cap. The job touches no session conf, so concurrent callers on one
    * session cannot leave a setting behind.
    */
  def collectUpTo(df: DataFrame, maxRows: Long): Option[Array[Row]] = {
    val take = Math.toIntExact(maxRows + 1)
    val rows = df.sparkSession.sparkContext
      .runJob(df.rdd, (it: Iterator[Row]) => it.take(take).toArray)
      .iterator.flatten.take(take).toArray
    if (rows.length <= maxRows) Some(rows) else None
  }
}
