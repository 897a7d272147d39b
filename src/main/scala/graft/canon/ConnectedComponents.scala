package graft.canon

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.tables.Checkpoints

/** Connected components as iterative DataFrame joins (SURVEY.md §2.3 J2).
  *
  * Replaces the reference's in-memory Union-Find
  * (/root/reference/src/util/entity_dedup.py:68-97,226-256) with distributed
  * min-label propagation: every vertex repeatedly adopts the smallest label
  * among itself and its neighbors until fixpoint — with pointer jumping, no
  * GraphFrames jar and none of large-star/small-star's constant overhead.
  *
  * The loop itself is [[minLabel]], the one min-label propagation kernel of
  * the codebase: connected components run it on symmetrized edges, and
  * [[graft.query.GraphAlgos.stronglyConnected]] runs it forward and on
  * reversed edges. Graphs of at most [[SmallGraphEdges]] raw edges take the
  * driver route instead, through the one bounded collect [[smallEdges]].
  *
  * Scale notes: each round is one shuffle on `id`; a per-round checkpoint
  * truncates lineage so plans don't grow across iterations — a RELIABLE
  * checkpoint when `spark.sparkContext.setCheckpointDir` was called (executor
  * loss on a real cluster cannot drop blocks), `localCheckpoint` otherwise.
  * The driver only sees a per-round changed-count (an aggregated Long),
  * never data rows.
  */
object ConnectedComponents {

  /** Below this edge count the graph is union-found on the driver — same
    * result, none of the per-iteration job latency. The distributed loop is
    * the 10^12-scale path; alias graphs collapse to ~|entities| edges, so the
    * driver path stays bounded: 100k edges ≈ ~15 MB of uuid strings on the
    * driver, two orders of magnitude under any sane driver heap.
    */
  val SmallGraphEdges = 100000L

  /** @param edges DataFrame with string columns (src, dst); undirected.
    * @param maxIter round cap of the distributed loop; labels still changing
    *        at the cap raise instead of returning a partial labeling.
    * @param smallGraphEdges driver-fallback threshold (tests force the
    *        distributed path by passing 0).
    * @return DataFrame (id, component) where component = min id reachable.
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 25,
      smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    import spark.implicits._
    // union-find is direction- and duplicate-insensitive, so runLocal on the
    // raw rows (self-loops dropped here) gives the distributed labeling; ids
    // are read as strings, the type runLocal labels
    smallEdges(edges.select($"src".cast("string").as("src"), $"dst".cast("string").as("dst")),
        smallGraphEdges) match {
      case Some(rows) => runLocal(spark,
        rows.map(r => (r.getString(0), r.getString(1))).filter { case (a, b) => a != b })
      case None => runDistributed(spark, edges, maxIter)
    }
  }

  /** The (src, dst) rows of `edges` on the driver when there are at most
    * `maxEdges` of them, else None: one bounded collect is both the
    * small-graph probe and the fetch. It reads the RAW edges: a union with
    * their own reversal would run the edge subtree twice in one job (e.g.
    * the CC query's cosine pair scan), and a distinct costs an exchange.
    * Shared by CC's and SCC's driver routes.
    */
  private[graft] def smallEdges(edges: DataFrame,
      maxEdges: Long = SmallGraphEdges): Option[Array[Row]] =
    Checkpoints.collectUpTo(edges.select(col("src"), col("dst")), maxEdges)

  private def runDistributed(spark: SparkSession, edges: DataFrame, maxIter: Int): DataFrame = {
    import spark.implicits._
    // symmetrize + distinct once, persisted for the iterative rounds (the
    // probe's partial scan is not reusable here)
    val sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .filter($"src" =!= $"dst")
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    sym.count() // materialize the cache for the iterative rounds

    val vertices = sym.select($"src".as("id"))
      .union(edges.select($"src".as("id")))
      .union(edges.select($"dst".as("id")))
      .distinct()
    try minLabel(sym, vertices, maxIter).withColumnRenamed("label", "component")
    finally sym.unpersist()
  }

  /** Fixpoint min-label propagation along edge DIRECTION, the kernel of
    * connected components (symmetrized edges) and of
    * [[graft.query.GraphAlgos.stronglyConnected]] (forward and reversed):
    * label(v) = the min vertex with a directed path to v, for every `id` of
    * `vertices`, typed like it. Each round is one shuffle on `id` plus
    * pointer jumping (adopt the label of my label: reachability composes,
    * so long chains converge in O(log n) rounds, not O(diameter)). Rows
    * carry their previous label as `old` (messages bring null), so the
    * changed-count is observed in the job that truncates the round. Labels
    * still moving after `maxIter` rounds raise, never a partial labeling.
    *
    * @param edges materialized directed (src, dst) edges, no self-loops.
    */
  private[graft] def minLabel(edges: DataFrame, vertices: DataFrame, maxIter: Int): DataFrame = {
    val idType = vertices.schema("id").dataType
    var labels = Checkpoints.truncate(vertices.select(col("id"), col("id").as("label")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // 1. neighbor min: for each edge (src,dst), dst hears src's label
      val msgs = edges.join(labels, edges("src") === labels("id"))
        .select(edges("dst").as("id"), col("label"), lit(null).cast(idType).as("old"))
      val merged = labels.select(col("id"), col("label"), col("label").as("old"))
        .unionByName(msgs)
        .groupBy(col("id")).agg(min(col("label")).as("label"), max(col("old")).as("old"))
      // 2. pointer jumping
      val jump = merged.select(col("id").as("jid"), col("label").as("jlabel"))
      val (next, n) = Checkpoints.truncateCounting(
        merged.join(jump, merged("label") === jump("jid"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("jlabel"), col("label"))).as("label"),
            col("old")),
        count(when(col("label") =!= col("old"), 1)))
      changed = n
      labels = next.drop("old")
      iter += 1
    }
    require(changed == 0, s"min-label propagation did not converge in $maxIter rounds")
    labels
  }

  /** Driver union-find with path compression (the reference's own structure,
    * entity_dedup.py:68-97) for graphs under SmallGraphEdges. Produces the
    * identical (id, min-reachable-id) labeling as the distributed loop.
    * `private[graft]`: EntityDedup's bounded driver-local fast path feeds it
    * locally-generated edges directly (no self-loops by construction there).
    */
  private[graft] def runLocal(spark: SparkSession, edges: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // union by min keeps the min-label invariant directly
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val rows = parent.keys.toSeq.map(id => (id, find(id)))
    spark.createDataset(rows).toDF("id", "component")
  }
}
