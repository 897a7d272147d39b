package graft.canon

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

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

  /** @param edges DataFrame with columns (src, dst) of one id type;
    *        undirected.
    * @param maxIter round cap of the distributed loop; labels still changing
    *        at the cap raise instead of returning a partial labeling.
    * @param smallGraphEdges driver-fallback threshold (tests force the
    *        distributed path by passing 0).
    * @return DataFrame (id, component), typed like the ids, where component
    *         = the min id reachable under the id type's own ordering — the
    *         same answer on the driver route and the distributed one.
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 25,
      smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    val idType = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).schema("id").dataType
    val pairs = edges.select(col("src").cast(idType).as("src"), col("dst").cast(idType).as("dst"))
    // union-find is direction- and duplicate-insensitive, so runLocal on the
    // raw rows gives the distributed labeling; ids without a driver-side
    // order matching Spark's run distributed
    driverOrdering(idType).flatMap(ord => smallEdges(pairs, smallGraphEdges).map(rows =>
        runLocal(spark, idType, ord, rows.toSeq.map(r => (r.get(0), r.get(1))))))
      .getOrElse(runDistributed(spark, pairs, maxIter))
  }

  /** The driver-side ordering that agrees with Spark's `min` over ids of
    * `idType` (`UTF8String` byte order for strings, numeric for integral,
    * decimal, date and timestamp ids), or None when the driver cannot
    * reproduce it (floating point, binary, collated strings, nested types).
    * The driver routes of CC and SCC label by it.
    */
  private[graft] def driverOrdering(idType: DataType): Option[Ordering[Any]] = idType match {
    case StringType =>
      Some(Ordering.by((v: Any) => UTF8String.fromString(v.asInstanceOf[String])))
    case LongType | IntegerType | ShortType | ByteType | DateType | TimestampType |
        _: DecimalType =>
      Some(Ordering.fromLessThan((a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0))
    case _ => None
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
    * identical (id, min-reachable-id) labeling as the distributed loop,
    * typed `idType` and ordered by `ord` ([[driverOrdering]]); self-loops
    * and null endpoints add no union. `private[graft]`: EntityDedup's
    * bounded driver-local fast path feeds it locally-generated edges
    * directly.
    */
  private[graft] def runLocal(spark: SparkSession, idType: DataType, ord: Ordering[Any],
      edges: Iterable[(Any, Any)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (a != null) parent.getOrElseUpdate(a, a)
      if (b != null) parent.getOrElseUpdate(b, b)
      if (a != null && b != null) {
        val (ra, rb) = (find(a), find(b))
        // union by min keeps the min-label invariant directly
        if (ord.lt(ra, rb)) parent(rb) = ra else if (ord.lt(rb, ra)) parent(ra) = rb
      }
    }
    val rows = parent.keys.toSeq.map(id => Row(id, find(id)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", idType), StructField("component", idType))))
  }
}
