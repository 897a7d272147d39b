package graft.query

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.canon.ConnectedComponents
import graft.tables.Checkpoints

/** Graph analytics over the materialized entity/triple graph, expressed as
  * (iterative) DataFrame joins — the GraphFrames idiom without the jar.
  *
  * The reference surfaces its graph only through retrieval (1-hop expansion,
  * traversal, ENUMERATION drilldown's "top entities by incident facts",
  * /root/reference/src/query_v6.py). A standing KG warehouse also wants the
  * classic analytics: degree profiles, bounded-hop reachability, PageRank
  * centrality (the principled version of "top entities"), and triangle
  * counts (local clustering / community density). Each is a handful of
  * shuffles on the edge key, so the shapes below hold at 10^12-edge scale:
  *
  *  - [[degrees]]: one symmetrize + one hash aggregation.
  *  - [[kHop]]: `maxHops` rounds of frontier ⋈ edges with an anti-join
  *    against the visited set; per-round lineage truncation keeps plans
  *    flat. Frontiers are the only growing state and stay bounded by the
  *    reachable set.
  *  - [[pageRank]]: fixed-iteration contribution join + aggregation;
  *    dangling mass folded in via a 1-row broadcast cross join (never a
  *    driver collect inside the loop).
  *  - [[triangles]]: degree-ordered edge orientation (each undirected edge
  *    points low→high by (degree, id)) before the wedge self-join — the
  *    standard compact-forward bound: a hot vertex of degree d fans out
  *    wedges only from its lower-ordered endpoints, so the join is
  *    Σ outdeg² with outdeg ≈ O(√m) worst case instead of d².
  *
  * All operators take an edge DataFrame with columns (src, dst) of any
  * orderable id type; [[kHop]]/[[pageRank]]/[[triangles]] treat it as
  * undirected by symmetrizing internally (pass a pre-directed list to
  * [[pageRank]] via `directed = true` to keep link direction).
  */
object GraphAlgos {

  private def sym(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Undirected degree per vertex: (id, degree). Isolated vertices (present
    * in no edge) are absent — join against the vertex table if zeros matter.
    */
  def degrees(edges: DataFrame): DataFrame =
    sym(edges).groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))

  /** Minimum-hop distance from any seed, bounded at `maxHops`:
    * (id, dist) with dist in [0, maxHops]. BFS as frontier expansion — each
    * round joins the current frontier to the symmetric edge list and
    * anti-joins the accumulated visited set, so a vertex is labeled the
    * first round it is reached (= its true minimum distance).
    *
    * Runs exactly `maxHops` rounds of [[bfsLevels]], the BFS loop of
    * [[betweenness]] and [[closeness]] (no convergence probe).
    *
    * @param seeds single-column DataFrame of seed vertex ids.
    */
  def kHop(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    // all seeds share one BFS source, so each vertex keeps its nearest seed's level
    val starts = seeds.toDF("id").distinct().select(lit(0).as("s"), col("id").as("v"))
    bfsLevels(Checkpoints.truncate(sym(edges)), starts, maxHops, countPaths = false)
      .zipWithIndex.map { case (level, d) => level.select(col("v").as("id"), lit(d).as("dist")) }
      .reduce(_ unionByName _)
  }

  /** Fixed-iteration PageRank: (id, rank). The vertex set is the distinct
    * edge endpoints (isolated vertices contribute nothing and receive only
    * the teleport term — join them back post hoc if needed).
    *
    * rank_{t+1}(v) = (1-d)/n + d * (Σ_{u→v} rank_t(u)/outdeg(u) + D_t/n)
    * where D_t is the total rank on dangling vertices (outdeg 0) — mass is
    * conserved every iteration. On a symmetrized graph D_t = 0.
    *
    * Per iteration: one contribution join (edges ⋈ ranks on src — the edge
    * side never re-shuffles once `adj` is materialized), one aggregation on
    * dst, one 1-row broadcast for the dangling mass. Lineage truncated per
    * iteration so the plan stays flat at any iteration count.
    *
    * @param directed keep edge direction (true) or symmetrize (false).
    */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
      directed: Boolean = false): DataFrame =
    pageRankImpl(prepareAdj(edges, directed, weighted = false), iters, damping, seeds = None)

  /** Personalized PageRank: the teleport (and the dangling redistribution)
    * lands only on `seeds`, uniformly, instead of on every vertex — so rank
    * measures importance RELATIVE to the seed entities (the
    * "what matters around X" ranking). Seeds not present in the edge list
    * still receive teleport mass (they are added as vertices); iteration
    * starts from the teleport distribution. Same per-iteration shape as
    * [[pageRank]]: the seed flag rides the vertex table as a column, never
    * a driver-side structure.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 5,
      damping: Double = 0.85, directed: Boolean = false): DataFrame =
    pageRankImpl(prepareAdj(edges, directed, weighted = false), iters, damping,
      seeds = Some(seeds.toDF("id").distinct()))

  /** PageRank + degree in one report, sharing ONE materialized symmetric
    * adjacency (calling [[pageRank]] and [[degrees]] separately pays the
    * dominant symmetrize-distinct shuffle twice).
    */
  def centralityReport(edges: DataFrame, iters: Int = 5,
      seeds: Option[DataFrame] = None, damping: Double = 0.85): DataFrame = {
    val adj = prepareAdj(edges, directed = false, weighted = false)
    val pr = pageRankImpl(adj, iters, damping,
      seeds.map(_.toDF("id").distinct()))
    val deg = adj.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    pr.join(deg, Seq("id"), "left")
  }

  /** WEIGHTED PageRank: multi-edges count. The weight of (u, v) is the
    * number of parallel input edges (for the KG graph: how many distinct
    * facts relate the pair — a multiplicity signal [[pageRank]] collapses),
    * and a vertex distributes its rank proportionally to edge weight:
    * rank_{t+1}(v) = (1-d)/n + d * Σ_{u→v} rank_t(u) * w(u,v)/W(u).
    * Undirected: each input edge contributes its weight in both directions.
    * Runs [[pageRank]]'s own iteration loop over the weighted adjacency
    * (W(u) is its out-degree aggregation, a sum of `w`); no dangling
    * handling needed on the symmetrized form, and directed inputs reuse the
    * dangling term.
    */
  def pageRankWeighted(edges: DataFrame, iters: Int = 5,
      damping: Double = 0.85, directed: Boolean = false): DataFrame =
    pageRankImpl(prepareAdj(edges, directed, weighted = true), iters, damping, seeds = None)

  /** Loop-free weighted adjacency (src, dst, w), lineage-truncated (it feeds
    * the out-degree aggregation plus one join per iteration): w = the number
    * of parallel input edges when `weighted`, else 1 on the distinct pairs.
    */
  private def prepareAdj(edges: DataFrame, directed: Boolean, weighted: Boolean): DataFrame = {
    val pairs = edges.select(col("src"), col("dst"))
    val both = if (directed) pairs
      else pairs.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val loopFree = both.filter(col("src") =!= col("dst"))
    Checkpoints.truncate(
      if (weighted) loopFree.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      else loopFree.distinct().withColumn("w", lit(1L)))
  }

  /** The PageRank loop over a weighted adjacency (src, dst, w): a vertex
    * sends rank * w / W to each out-neighbor, W = its summed out-weight.
    * With w = 1 that is rank / outdeg.
    */
  private def pageRankImpl(adj: DataFrame, iters: Int, damping: Double,
      seeds: Option[DataFrame]): DataFrame = {
    val baseVerts = adj.select(col("src").as("id"))
      .union(adj.select(col("dst").as("id"))).distinct()
    // the teleport distribution rides the vertex table as a column:
    // uniform over all vertices (standard), or over the seed set
    // (personalized — seeds outside the edge list still become vertices;
    // with no out-edges their mass re-enters through the dangling term)
    val verts = Checkpoints.truncate(seeds match {
      case Some(sd) => baseVerts.unionByName(sd).distinct()
        .join(sd.withColumn("is_seed", lit(true)), Seq("id"), "left")
        .select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      case None => baseVerts.withColumn("is_seed", lit(true))
    })
    val outW = Checkpoints.truncate(
      adj.groupBy(col("src").as("id")).agg(sum(col("w")).as("od")))
    // each edge carries its source's out-weight, and each vertex its
    // teleport share and whether it is dangling (no out-edges), so an
    // iteration joins the ranks only to the edges
    val edgesW = Checkpoints.truncate(adj.join(outW.withColumnRenamed("id", "src"), "src"))
    val nTele = verts.filter(col("is_seed")).count().toDouble
    val consts = Checkpoints.truncate(verts.join(outW, Seq("id"), "left")
      .select(col("id"),
        when(col("is_seed"), lit(1.0) / lit(nTele)).otherwise(lit(0.0)).as("tele"),
        col("od").isNull.as("dangling")))
    val d = lit(damping)

    var ranks = consts.select(col("id"), col("tele").as("rank"), col("dangling"))
    var it = 0
    while (it < iters) {
      val contribs = ranks.filter(!col("dangling"))
        .join(edgesW, col("id") === edgesW("src"))
        .groupBy(edgesW("dst").as("id"))
        .agg(sum(col("rank") * col("w") / col("od")).as("contrib"))
      // dangling mass as a 1-row aggregate broadcast into the update — keeps
      // the whole iteration one lazy plan (no driver collect per round);
      // redistributed BY the teleport distribution (uniform in the standard
      // case), so mass is conserved in both variants
      val dangling = ranks.filter(col("dangling"))
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dmass"))
      val next = consts.join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          ((lit(1.0) - d) * col("tele") + d * (coalesce(col("contrib"), lit(0.0)) +
            col("dmass") * col("tele"))).as("rank"),
          col("dangling"))
      ranks = Checkpoints.truncate(next)
      it += 1
    }
    ranks.select(col("id"), col("rank"))
  }

  /** Synchronous label-propagation community detection: (id, label) after
    * `iters` rounds. Every vertex starts labeled with its own id; each round
    * every vertex simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — fully deterministic, no
    * RNG, no asynchronous update order (the classic LPA nondeterminism),
    * so the result is layout-invariant and replayable by any engine.
    *
    * Densely connected vertex groups converge to a shared label (their
    * minimum id) within a few rounds while bridges between communities stay
    * outvoted — the cheap community-structure complement to
    * [[graft.canon.ConnectedComponents]] (which merges ANY connectivity).
    * Known synchronous-LPA caveat applies: perfectly bipartite regions can
    * oscillate with period 2, which fixed `iters` keeps deterministic.
    *
    * Per round: one join of the adjacency against the current labels, one
    * (vertex, label) count aggregation, one per-vertex top-1 window — all
    * hash-partitioned on vertex id, no global sort; lineage truncated per
    * round. Scale note: the histogram is bounded by the true degree sum
    * (= 2|E| rows) regardless of label skew, so rounds cost O(|E|) shuffle
    * each at any graph size.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 5): DataFrame = {
    val adj = Checkpoints.truncate(sym(edges))
    var labels = Checkpoints.truncate(
      adj.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    val top1 = Window.partitionBy(col("id"))
      .orderBy(col("c").desc, col("label").asc)
    var it = 0
    while (it < iters) {
      // neighbor votes PLUS one self-vote: pure synchronous neighbor-only
      // LPA provably cuts every edge of a star or isolated pair forever
      // (the endpoints adopt each other's label in lockstep each round —
      // measured on the entity graph as modularity < 0 with zero internal
      // edges everywhere); the self-vote is the standard damping that
      // stabilizes those shapes while majority neighborhoods still win
      val votes = adj
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"))
        .union(labels)
      val hist = votes.groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("c"))
      val next = hist.withColumn("rn", row_number().over(top1))
        .filter(col("rn") === 1).select(col("id"), col("label"))
      labels = Checkpoints.truncate(next)
      it += 1
    }
    labels
  }

  /** Newman modularity per community: (label, n_vertices, internal_edges,
    * degree_sum, contribution), where contribution = e_c/m − (d_c/2m)² and
    * Σ contributions = Q — the quality metric that tells a user whether the
    * [[labelPropagation]] communities are real structure or noise (Q near 0
    * = no better than random given the degree sequence).
    *
    * `communities` is any (id, label) assignment; vertices of the edge set
    * missing from it are dropped from the edge-side stats (their rows can't
    * be attributed), communities with no surviving edges report zeros. One
    * shared symmetrized adjacency feeds both per-community aggregates in a
    * single pass (each directed row contributes 1 to its src community's
    * degree sum and, when the endpoints agree, 1 to internal×2), and the
    * global 2m total rides in as a 1-row broadcast — two shuffles on vertex
    * id + one bounded-by-#communities aggregation at any graph size.
    */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val und = Checkpoints.truncate(sym(edges))
    val lab = communities.select(col("id"), col("label"))
    val withLabels = und
      .join(lab.select(col("id").as("src"), col("label").as("ls")), Seq("src"))
      .join(lab.select(col("id").as("dst"), col("label").as("ld")), Seq("dst"))
    val eStats = withLabels.groupBy(col("ls").as("label"))
      .agg(count(lit(1)).as("degree_sum"),
        sum(when(col("ls") === col("ld"), lit(1L)).otherwise(lit(0L)))
          .as("internal2"))
    val m2 = und.agg(count(lit(1)).as("m2"))
    lab.groupBy(col("label")).agg(count(lit(1)).as("n_vertices"))
      .join(eStats, Seq("label"), "left")
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_vertices"),
        (coalesce(col("internal2"), lit(0L)) / 2).cast("long").as("internal_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"),
        (coalesce(col("internal2"), lit(0L)).cast("double") / col("m2")
          - (coalesce(col("degree_sum"), lit(0L)).cast("double") / col("m2"))
            * (coalesce(col("degree_sum"), lit(0L)).cast("double") / col("m2")))
          .as("contribution"))
  }

  /** Per-vertex triangle count: (id, triangles), vertices in no triangle
    * omitted. Compact-forward: orient each undirected edge from its lower
    * endpoint by (degree, id), enumerate wedges from the common LOW vertex,
    * and close them with a semi-join back onto the oriented edge list. Three
    * shuffles total (orient, wedge join, close); the orientation bounds the
    * wedge fan-out of skewed vertices, which is what makes this survive a
    * power-law 10^12-edge graph where the naive a<b<c self-join would not.
    */
  def triangles(edges: DataFrame): DataFrame =
    // three consumers (degree agg, orientation join, closing probe) — one
    // materialization instead of three symmetrize shuffles
    trianglesFromSym(Checkpoints.truncate(sym(edges)))

  /** [[triangles]] over an already-symmetrized, deduplicated, materialized
    * adjacency — shared by [[graphStats]] so the report symmetrizes once.
    */
  private def trianglesFromSym(und: DataFrame): DataFrame =
    triangleTriples(und)
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))

  /** Each triangle exactly once as (u, v, w): u = the degree-ordered apex
    * both oriented wedge arms leave from, v < w by id. Shared by the
    * per-vertex counts ([[trianglesFromSym]]) and the per-edge support
    * ([[edgeSupport]]) so both inherit the compact-forward bound.
    */
  private def triangleTriples(und: DataFrame): DataFrame = {
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    // orient low→high by (degree, id); each undirected edge survives once
    val oriented = Checkpoints.truncate(
      und.join(deg.withColumnRenamed("id", "src")
            .withColumnRenamed("deg", "sdeg"), Seq("src"))
        .join(deg.withColumnRenamed("id", "dst")
            .withColumnRenamed("deg", "ddeg"), Seq("dst"))
        .filter(col("sdeg") < col("ddeg") ||
          (col("sdeg") === col("ddeg") && col("src") < col("dst")))
        .select(col("src"), col("dst")))
    val e1 = oriented.select(col("src").as("u"), col("dst").as("v"))
    val e2 = oriented.select(col("src").as("u"), col("dst").as("w"))
    // (v, w) vs (w, v) from the same u is the same wedge — keep one; the
    // closing probe uses the SYMMETRIC list because the (v, w) edge may be
    // oriented either way (orientation order is (degree, id), wedge dedup
    // order is plain id)
    val wedges = e1.join(e2, Seq("u")).filter(col("v") < col("w"))
    val closing = und.select(col("src").as("v"), col("dst").as("w"))
    wedges.join(closing, Seq("v", "w"), "left_semi")
  }

  /** Per-edge triangle support: (src, dst, support) for every undirected
    * edge in id-canonical orientation (src < dst) — the edge-level dual of
    * [[clusteringCoefficients]] and the quantity k-truss peels on (an edge
    * with high support sits inside a dense community; support 0 = bridge
    * or noise). Same cost envelope as [[triangles]]: the triple enumeration
    * plus one canonicalize-explode-aggregate keyed by the edge.
    */
  def edgeSupport(edges: DataFrame): DataFrame =
    edgeSupportFromSym(Checkpoints.truncate(sym(edges)))

  private def edgeSupportFromSym(und: DataFrame): DataFrame = {
    val tris = triangleTriples(und)
    def canon(x: String, y: String) = tris.select(
      least(col(x), col(y)).as("src"), greatest(col(x), col(y)).as("dst"))
    val sup = canon("u", "v").union(canon("u", "w")).union(canon("v", "w"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("support"))
    und.filter(col("src") < col("dst"))
      .join(sup, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Edges of the k-truss: the maximal subgraph in which every edge sits in
    * at least k−2 triangles of that subgraph — the edge-level strengthening
    * of [[kCore]] (a k-truss is always inside the (k−1)-core but prunes
    * tree-like tendrils a core keeps). Iterative peel to fixpoint, same
    * driver discipline as kCore: per-round edge COUNTS only (observed in
    * the job that materializes the round), per-round lineage truncation,
    * O(peel-rounds) triangle passes. Returns the surviving edges in
    * id-canonical orientation (src, dst); a peel still removing edges after
    * `maxRounds` rounds raises instead of returning a partial truss.
    */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    var (e, prev) = Checkpoints.truncateCounting(
      sym(edges).filter(col("src") < col("dst")), count(lit(1)))
    var round = 0
    while (prev > 0 && round < maxRounds) {
      val und = Checkpoints.truncate(
        e.union(e.select(col("dst").as("src"), col("src").as("dst"))))
      val (next, n) = Checkpoints.truncateCounting(
        edgeSupportFromSym(und).filter(col("support") >= k - 2)
          .select(col("src"), col("dst")), count(lit(1)))
      e = next
      if (n == prev) return e // fixpoint: every edge meets the bound
      prev = n
      round += 1
    }
    require(prev == 0, s"k-truss peeling did not converge in $maxRounds rounds")
    e
  }

  /** Local clustering coefficients: (id, degree, triangles, coefficient)
    * for every non-isolated vertex — coefficient = 2·T(v)/(deg(v)·(deg(v)−1)),
    * 0 when deg < 2 (the per-vertex community-density signal PageRank and
    * degree miss). One shared symmetrized adjacency feeds both the degree
    * aggregation and the triangle count (the [[graphStats]] sharing
    * discipline — never two symmetrize shuffles).
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val und = Checkpoints.truncate(sym(edges))
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    deg.join(trianglesFromSym(und), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(coalesce(col("triangles"), lit(0L)).cast("double") * 2.0
            / (col("degree") * (col("degree") - 1)).cast("double"))
          .as("coefficient"))
  }

  /** Vertices of the k-core: the maximal subgraph in which every vertex
    * has degree >= k (the standard graph-quality filter — noise entities
    * and weakly-attested facts peel away first). Iterative peeling as
    * DataFrame joins: drop all vertices below degree k, recompute degrees
    * on the induced subgraph, repeat to fixpoint. O(peel-rounds) shuffles;
    * the driver sees only per-round edge COUNTS (the CC precedent), never
    * rows, each observed in the job that materializes its round;
    * per-round lineage truncation keeps plans flat. A peel still removing
    * edges after `maxIter` rounds raises instead of returning a partial
    * core.
    *
    * No driver-oracle row: the fixpoint's MAXIMALITY is not expressible as
    * a bounded DuckDB recomputation (round count is data-dependent, and
    * SQL recursion cannot aggregate per round); the k-core properties are
    * instead asserted on hand graphs in GraphAlgosSpec.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var (adj, before) = Checkpoints.truncateCounting(sym(edges), count(lit(1)))
    var it = 0
    var converged = before == 0L
    while (!converged && it < maxIter) {
      val keep = adj.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("id"))
      val (next, after) = Checkpoints.truncateCounting(
        adj.join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")), count(lit(1)))
      converged = after == before || after == 0L
      before = after
      adj = next
      it += 1
    }
    require(converged, s"k-core peeling did not converge in $maxIter rounds")
    adj.select(col("src").as("id")).distinct()
  }

  /** One shortest path between two vertices on the undirected graph:
    * (step, vertex) rows from step 0 = `srcId` to step d = `dstId`, empty
    * when `dstId` is farther than `maxHops` (or unreachable).
    *
    * The path is DETERMINISTIC: among equal-length paths it follows, at
    * every vertex, the minimum-id predecessor on the previous BFS level —
    * so retries, layouts, and other engines (the DuckDB oracle) replay the
    * identical vertex sequence.
    *
    * Cost: one bounded BFS ([[kHop]]), one join to build the predecessor
    * table, then d ≤ maxHops single-row joins to walk back — the walk is
    * O(path length), never a second traversal.
    */
  def shortestPath(edges: DataFrame, srcId: Any, dstId: Any,
      maxHops: Int = 8): DataFrame = {
    val spark = edges.sparkSession
    val idField = edges.schema("src")
    val seed = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(srcId)), 1),
      StructType(Seq(idField.copy(name = "id"))))
    val dists = Checkpoints.truncate(kHop(edges, seed, maxHops))
    val dDst = dists.filter(col("id") === lit(dstId))
      .select(col("dist")).collect().headOption.map(_.getInt(0))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("step", IntegerType), idField.copy(name = "vertex"))))
    dDst match {
      case None => empty
      case Some(d) =>
        // pred(v) = min neighbor one BFS level closer to the source
        val und = sym(edges)
        val lvl = dists.select(col("id").as("pid"), col("dist").as("pdist"))
        val pred = Checkpoints.truncate(
          und.join(dists, und("dst") === dists("id"))
            .join(lvl, und("src") === lvl("pid") && lvl("pdist") === dists("dist") - 1)
            .groupBy(dists("id")).agg(min(und("src")).as("pred")))
        var cur = dists.filter(col("id") === lit(dstId))
          .select(col("dist").as("step"), col("id").as("vertex"))
        var path = cur
        var i = 0
        while (i < d) {
          // per-iteration renames: cur derives from pred after round one,
          // so a bare re-join would be an ambiguous self-join
          val p = pred.select(col("id").as(s"__pid$i"), col("pred").as(s"__pv$i"))
          cur = cur.join(p, col("vertex") === col(s"__pid$i"))
            .select((col("step") - 1).as("step"), col(s"__pv$i").as("vertex"))
          path = path.unionByName(cur)
          i += 1
        }
        path
    }
  }

  /** Strongly connected components of a DIRECTED graph: (id, component)
    * where component = the smallest vertex id in the SCC under the id
    * column's own ordering (numeric for bigint). The vertex set is the
    * endpoints of the non-self-loop edges; acyclic vertices are singletons.
    *
    * Graphs of at most [[ConnectedComponents.SmallGraphEdges]] raw edges
    * take connected components' driver route: the same bounded collect
    * ([[ConnectedComponents.smallEdges]]), then [[sccLocal]]. Larger graphs,
    * and ids that do not hash and order on the driver as in Spark (floating
    * point, binary, collated strings, nested), run [[sccPeel]].
    */
  def stronglyConnected(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val idType = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).schema("id").dataType
    val pairs = edges.select(col("src").cast(idType).as("src"), col("dst").cast(idType).as("dst"))
    ConnectedComponents.driverOrdering(idType).flatMap(o => ConnectedComponents.smallEdges(pairs)
        .map(sccLocal(pairs.sparkSession, idType, o, _)))
      .getOrElse(sccPeel(pairs, maxIter))
  }

  /** SCCs of the collected (src, dst) rows on the driver: iterative Tarjan
    * (an explicit DFS stack, so no path length meets the JVM stack), each
    * component labeled by its minimum id under `ord`.
    */
  private[graft] def sccLocal(spark: SparkSession, idType: DataType, ord: Ordering[Any],
      rows: Array[Row]): DataFrame = {
    val ids = mutable.ArrayBuffer.empty[Any]
    val index = mutable.HashMap.empty[Any, Int]
    def vertex(id: Any) = index.getOrElseUpdate(id, { ids += id; ids.length - 1 })
    val out = rows.collect {
      case r if !r.isNullAt(0) && !r.isNullAt(1) && r.get(0) != r.get(1) =>
        (vertex(r.get(0)), vertex(r.get(1)))
    }.groupMap(_._1)(_._2)
    val n = ids.length
    val order = Array.fill(n)(-1) // discovery order, -1 = unvisited
    val low = new Array[Int](n)
    val arc = new Array[Int](n)   // next out-arc to follow
    val label = new Array[Any](n) // set when the vertex's SCC closes
    val open = mutable.ArrayBuffer.empty[Int] // Tarjan's stack
    val path = mutable.ArrayBuffer.empty[Int] // the DFS call stack
    var seen = 0
    def enter(v: Int): Unit = { order(v) = seen; low(v) = seen; seen += 1; open += v; path += v }
    for (root <- 0 until n if order(root) < 0) {
      enter(root)
      while (path.nonEmpty) {
        val v = path.last
        val succ = out.getOrElse(v, Array.emptyIntArray)
        if (arc(v) < succ.length) {
          val w = succ(arc(v))
          arc(v) += 1
          if (order(w) < 0) enter(w)
          else if (label(w) == null) low(v) = math.min(low(v), order(w)) // w is open
        } else {
          path.dropRightInPlace(1)
          if (path.nonEmpty) low(path.last) = math.min(low(path.last), low(v))
          if (low(v) == order(v)) { // v roots an SCC: the open vertices from v up
            val members = open.drop(open.lastIndexOf(v))
            open.dropRightInPlace(members.length)
            val m = members.map(ids).min(ord)
            members.foreach(label(_) = m)
          }
        }
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(ids.indices.map(i => Row(ids(i), label(i))): _*),
      StructType(Seq(StructField("id", idType), StructField("component", idType))))
  }

  /** Distributed SCC by forward-backward min-label peeling (the FW-BW
    * family). Each pass runs connected components' kernel
    * ([[ConnectedComponents.minLabel]]) forward, fwd(v) = min vertex with a
    * path TO v, and on the reversed edges, bwd(v) = min vertex reachable
    * FROM v. fwd(v) == bwd(v) == m makes v mutually reachable with m, and
    * all of SCC(m) shares both labels, so each pass peels COMPLETE SCCs (at
    * least that of every locally minimal vertex) and the rest recurses.
    *
    * Passes = the longest chain in the condensation DAG: an acyclic chain
    * needs a pass per chain vertex, so a directed path of more than
    * `maxIter` vertices raises "SCC peeling did not converge" at the cap.
    * The driver sees only per-round changed-counts and per-pass
    * remaining-counts, each observed in the job that materializes it.
    */
  private[graft] def sccPeel(edges: DataFrame, maxIter: Int): DataFrame = {
    val dir0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    var (remaining, nRemaining) = Checkpoints.truncateCounting(
      dir0.select(col("src").as("id"))
        .union(dir0.select(col("dst").as("id"))).distinct(), count(lit(1)))
    var rem = Checkpoints.truncate(dir0)
    var out = remaining.select(col("id"), col("id").as("component")).limit(0)
    var pass = 0
    while (nRemaining > 0 && pass < maxIter) {
      val fwd = ConnectedComponents.minLabel(rem, remaining, maxIter * 4)
      val bwd = ConnectedComponents.minLabel(
        rem.select(col("dst").as("src"), col("src").as("dst")), remaining, maxIter * 4)
      val scc = Checkpoints.truncate(
        fwd.join(bwd.withColumnRenamed("label", "blabel"), "id")
          .filter(col("label") === col("blabel"))
          .select(col("id"), col("label").as("component")))
      out = out.unionByName(scc)
      val (left, n) = Checkpoints.truncateCounting(
        remaining.join(scc, Seq("id"), "left_anti"), count(lit(1)))
      remaining = left
      nRemaining = n
      rem = Checkpoints.truncate(
        rem.join(scc.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(scc.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .select(col("src"), col("dst")))
      pass += 1
    }
    require(nRemaining == 0, s"SCC peeling did not converge in $maxIter passes")
    out
  }

  /** One-row graph health report over the undirected graph: vertex/edge
    * counts, connected-component count + largest size, degree profile
    * (p50/p90 via percentile_approx — a report statistic, not an oracle
    * surface), and total triangle count. Shares ONE symmetrized adjacency
    * across the degree, component, and triangle passes.
    */
  def graphStats(edges: DataFrame): DataFrame = {
    val und = Checkpoints.truncate(sym(edges))
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    val degStats = deg.agg(
      count(lit(1)).as("nodes"),
      max(col("degree")).as("max_degree"),
      percentile_approx(col("degree"), lit(0.5), lit(10000)).as("p50_degree"),
      percentile_approx(col("degree"), lit(0.9), lit(10000)).as("p90_degree"))
    val comps = graft.canon.ConnectedComponents.run(und.sparkSession, und)
      .groupBy(col("component")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("components"), max(col("n")).as("largest_component"))
    val triTotal = trianglesFromSym(und)
      .agg(coalesce(sum(col("triangles")) / 3, lit(0L)).cast("long").as("triangles"))
    val edgeCount = und.agg((count(lit(1)) / 2).cast("long").as("edges"))
    // global clustering = 3·triangles / wedges (closed over open triads)
    // and degree assortativity — the two one-number structure signals
    val wedges = deg.agg(coalesce(
      sum(col("degree") * (col("degree") - 1) / 2), lit(0L)).cast("long").as("wedges"))
    val assort = assortativityFromSym(und).select(col("assortativity"))
    degStats.crossJoin(edgeCount).crossJoin(comps).crossJoin(triTotal)
      .crossJoin(wedges).crossJoin(assort)
      .withColumn("global_clustering",
        when(col("wedges") === 0, lit(null).cast("double"))
          .otherwise(round(col("triangles").cast("double") * 3 / col("wedges"), 6)))
      .drop("wedges")
  }

  /** Newman degree assortativity (2002): the Pearson correlation of endpoint
    * degrees over directed edge stubs — positive = hubs attach to hubs
    * (social shape), negative = hub-and-spoke (the typical KG shape; a star
    * is exactly −1), NULL on a regular graph (zero variance). One row:
    * (m, se, s1, s2, assortativity) with the three stub sums kept as EXACT
    * integers (the double arithmetic happens once, at the end, in a pinned
    * op order — the oracle reproduces the row bit-for-bit). Two shuffles:
    * the degree aggregation and its broadcast-back join; the sums combine
    * map-side. Integer sums hold to ~10^6 max degree at 10^12 edges —
    * past that, pre-divide degrees or switch the sums to double.
    */
  def assortativity(edges: DataFrame): DataFrame =
    assortativityFromSym(Checkpoints.truncate(sym(edges)))

  private def assortativityFromSym(und: DataFrame): DataFrame = {
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val pairs = und
      .join(deg.select(col("id").as("src"), col("d").as("j")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("d").as("k")), Seq("dst"))
    val sums = pairs.agg(count(lit(1)).as("m"),
      sum(col("j") * col("k")).as("se"),
      sum(col("j")).as("s1"),
      sum(col("j") * col("j")).as("s2"))
    val mean = col("s1").cast("double") / col("m")
    val num = col("se").cast("double") / col("m") - mean * mean
    val den = col("s2").cast("double") / col("m") - mean * mean
    sums.select(col("m"), col("se"), col("s1"), col("s2"),
      when(den === 0.0, lit(null).cast("double"))
        .otherwise(round(num / den, 6)).as("assortativity"))
  }

  /** Link prediction over non-adjacent vertex pairs that share at least one
    * neighbor: (a, b, common, jaccard, adamic_adar) with a < b. The classic
    * missing-edge scores — common-neighbor count, Jaccard overlap of the
    * neighborhoods, and Adamic-Adar Σ 1/ln(deg(z)) over shared neighbors z
    * (rare shared neighbors weigh more).
    *
    * Shape: one wedge self-join through the shared neighbor (the same
    * Σ deg² bound as [[triangles]] — at power-law scale, cap or sample hub
    * neighborhoods upstream), one aggregation on the candidate pair, one
    * anti-join to drop already-connected pairs, one degree join. Never
    * enumerates all O(n²) pairs — only pairs at distance exactly 2.
    */
  def linkPrediction(edges: DataFrame): DataFrame = {
    val und = Checkpoints.truncate(sym(edges))
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    // wedges a–z–b through shared neighbor z, scored by z's rarity
    val byZ = und.select(col("src").as("z"), col("dst").as("n"))
      .join(deg.withColumnRenamed("id", "z").withColumnRenamed("deg", "zdeg"), Seq("z"))
    val pairs = byZ.select(col("z"), col("n").as("a"), col("zdeg"))
      .join(byZ.select(col("z"), col("n").as("b")), Seq("z"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"),
        sum(lit(1.0) / log(col("zdeg").cast("double"))).as("adamic_adar"))
    val nonAdj = pairs.join(
      und.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"), "left_anti")
    nonAdj
      .join(deg.select(col("id").as("a"), col("deg").as("dega")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("degb")), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        (col("common").cast("double") /
          (col("dega") + col("degb") - col("common")).cast("double")).as("jaccard"),
        col("adamic_adar"))
  }

  /** Deterministic pseudo-random walks for graph-embedding training
    * corpora (DeepWalk/node2vec input): `walksPerNode` walks per seed
    * vertex, `length` steps each, output (walk_id, walk_idx, step, vertex)
    * with step 0 = the seed.
    *
    * The "randomness" is a hash: at step t, walk (u, i) at vertex v moves
    * to the neighbor w minimizing md5(walk_id:i:t:w) — the same
    * hash-plays-the-RNG trick as Sampling.datasetSplit, so walks are
    * reproducible across retries, partitionings, and engines (no rand(),
    * no seed plumbing), at the cost of sampling without replacement
    * semantics nobody needs for skip-gram windows. The walk index is part
    * of the hash, so the i walks from one seed decorrelate after step 1.
    * Dead ends stop early.
    *
    * Shape: `length` rounds of frontier ⋈ adjacency + a min_by aggregation
    * per walk — the frontier is one row per live walk, so each round moves
    * O(vertices × walksPerNode) rows regardless of graph size.
    */
  def deterministicWalks(edges: DataFrame, length: Int,
      walksPerNode: Int = 1): DataFrame = {
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    val adj = Checkpoints.truncate(sym(edges))
    var cur = Checkpoints.truncate(
      adj.select(col("src").as("walk_id")).distinct()
        .select(col("walk_id"),
          explode(sequence(lit(0), lit(walksPerNode - 1))).as("walk_idx"))
        .select(col("walk_id"), col("walk_idx"),
          lit(0).as("step"), col("walk_id").as("vertex")))
    var out = cur
    var t = 1
    while (t <= length) {
      val next = cur.join(adj, cur("vertex") === adj("src"))
        .groupBy(col("walk_id"), col("walk_idx"))
        .agg(min_by(col("dst"),
          md5(concat_ws(":", col("walk_id"), col("walk_idx"), lit(t),
            col("dst")))).as("vertex"))
        .select(col("walk_id"), col("walk_idx"), lit(t).as("step"), col("vertex"))
      cur = Checkpoints.truncate(next)
      out = out.unionByName(cur)
      t += 1
    }
    out
  }

  /** Betweenness centrality (Brandes 2001 as iterative DataFrame joins),
    * exact within a bounded shortest-path horizon: (id, betweenness) where
    * betweenness(v) = Σ_{s≠v≠t} σ_st(v)/σ_st over UNDIRECTED shortest paths
    * of length ≤ `maxDepth`. With maxDepth ≥ the graph diameter this is
    * exact textbook betweenness; a bounded horizon is itself the standard
    * web-scale relaxation (distant pairs contribute little and cost most).
    *
    * Forward pass: one multi-source BFS level table per depth carrying the
    * shortest-path COUNT σ(s,v) (sum over predecessors — never path
    * enumeration). Backward pass: Brandes dependency accumulation
    * δ(s,u) = Σ_{w: succ} σ(s,u)/σ(s,w) · (1 + δ(s,w)), level by level.
    * betweenness(v) = Σ_s δ(s,v) / 2 (each unordered pair counted from both
    * endpoints).
    *
    * Shape: 2·maxDepth join+aggregate rounds over (source, vertex) states —
    * O(n²) state for all-sources exact mode, never O(paths). Per-round
    * lineage truncation keeps plans flat. At 10^12-edge scale pass a
    * deterministic source sample as `sources` (Brandes–Pich 2007): the
    * returned sums then estimate n/|S| · betweenness — the caller scales,
    * keeping raw sums exact and engine-portable here.
    */
  def betweenness(edges: DataFrame, maxDepth: Int,
      sources: Option[DataFrame] = None): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val adj = Checkpoints.truncate(sym(edges))
    val srcs = sources.map(_.toDF("id").distinct())
      .getOrElse(adj.select(col("src").as("id")).distinct())
    val levels = bfsLevels(adj, srcs.select(col("id").as("s"), col("id").as("v")),
      maxDepth, countPaths = true)
    // backward accumulation: deltaCur holds δ for the level being consumed
    var deltaCur = levels(maxDepth).select(
      col("s"), col("v"), lit(0.0).as("delta"))
    // deepest level's δ = 0: contributes nothing but keeps every reached
    // (s,v≠s) pair present in the output sum
    var acc = deltaCur
    var d = maxDepth
    while (d >= 1) {
      val wlv = levels(d).join(deltaCur, Seq("s", "v"))
      val contrib = wlv.join(adj, wlv("v") === adj("src"))
        .select(col("s"), adj("dst").as("v"),
          col("sigma").as("sigma_w"), col("delta"))
        .join(levels(d - 1).select(col("s"), col("v"),
          col("sigma").as("sigma_u")), Seq("s", "v"))
        .groupBy(col("s"), col("v"))
        .agg(sum(col("sigma_u").cast("double") / col("sigma_w").cast("double")
          * (lit(1.0) + col("delta"))).as("delta"))
      val prev = levels(d - 1).select(col("s"), col("v"))
        .join(contrib, Seq("s", "v"), "left")
        .select(col("s"), col("v"), coalesce(col("delta"), lit(0.0)).as("delta"))
      deltaCur = Checkpoints.truncate(prev)
      if (d > 1) acc = acc.unionByName(deltaCur) // level 0 is v = s: excluded
      d -= 1
    }
    acc.groupBy(col("v").as("id"))
      .agg((sum(col("delta")) / 2.0).as("betweenness"))
  }

  /** Closeness + harmonic centrality within a bounded horizon:
    * (id, reached, closeness, harmonic) over undirected min-hop distances
    * d(v,·) ≤ maxDepth, where reached = |{u ≠ v : d ≤ maxDepth}|,
    * closeness = reached / Σ d(v,u) (the Wasserman–Faust form is
    * reached/(n-1) × this — callers scale), harmonic = Σ 1/d(v,u).
    * Harmonic is the form that stays meaningful on disconnected graphs
    * (Boldi–Vigna); both are exact when maxDepth ≥ the diameter, and the
    * bounded horizon is the standard web-scale relaxation otherwise.
    *
    * Shape: [[betweenness]]'s forward BFS loop itself, without the path
    * counts — maxDepth rounds of frontier ⋈ adjacency with an anti-join,
    * O(n·reached) state, one final aggregation per source. At 10^12-edge
    * scale run it over a source sample or swap the exact BFS for
    * HyperBall-style HLL neighborhood sketches
    * ([[graft.ops.Sketch.hllRegisters]] is the register layer that approach
    * needs).
    */
  def closeness(edges: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val adj = Checkpoints.truncate(sym(edges))
    val starts = adj.select(col("src").as("s"), col("src").as("v")).distinct()
    // (s, v, dist) for every v ≠ s reached; distances are the level number
    val reached = bfsLevels(adj, starts, maxDepth, countPaths = false).zipWithIndex.drop(1)
      .map { case (level, d) => level.select(col("s"), col("v"), lit(d).as("dist")) }
      .reduce(_ unionByName _)
    reached.groupBy(col("s").as("id")).agg(
      count(lit(1)).as("reached"),
      (count(lit(1)).cast("double") / sum(col("dist")).cast("double")).as("closeness"),
      sum(lit(1.0) / col("dist").cast("double")).as("harmonic"))
  }

  /** Multi-source BFS over the symmetric adjacency, the loop of [[kHop]],
    * [[closeness]] and [[betweenness]]'s forward pass: levels(d) =
    * (s, v, sigma) for the vertices v first reached from source s at depth
    * d, d = 0..maxDepth (level 0 = `starts`, (s, v) rows). With
    * `countPaths`, sigma = the number of distinct shortest s→v paths
    * (summed over predecessors, never enumerated); otherwise sigma stays 1,
    * so a path-dense graph cannot overflow a count the caller never reads.
    * Each level is lineage-truncated.
    */
  private def bfsLevels(adj: DataFrame, starts: DataFrame, maxDepth: Int,
      countPaths: Boolean): IndexedSeq[DataFrame] = {
    val levels = mutable.ArrayBuffer(Checkpoints.truncate(starts.withColumn("sigma", lit(1L))))
    var visited = levels(0).select(col("s"), col("v"))
    while (levels.length <= maxDepth) {
      val next = levels.last.join(adj, levels.last("v") === adj("src"))
        .select(col("s"), adj("dst").as("v"), col("sigma"))
        .join(visited, Seq("s", "v"), "left_anti")
        .groupBy(col("s"), col("v"))
        .agg((if (countPaths) sum(col("sigma")) else max(col("sigma"))).as("sigma"))
      val nextT = Checkpoints.truncate(next)
      levels += nextT
      visited = Checkpoints.truncate(
        visited.unionByName(nextT.select(col("s"), col("v"))))
    }
    levels.toIndexedSeq
  }

  /** Weighted shortest distances from `seeds` under a bounded relaxation
    * horizon — Bellman–Ford as iterative joins: (id, wdist) with wdist the
    * minimum total edge weight over UNDIRECTED paths of at most `maxRounds`
    * hops (non-negative weights; exact SSSP whenever every optimal path
    * uses ≤ maxRounds edges — always true at maxRounds = n−1; the bounded
    * form is the scale contract, same stance as [[kHop]]/[[betweenness]]).
    *
    * Input edges carry (src, dst, w); each edge relaxes both directions.
    * Per round: frontier ⋈ adjacency, a min-aggregation per vertex, and a
    * keep-better merge into the label table — only IMPROVED labels re-enter
    * the frontier, so post-convergence rounds are empty joins. Integer
    * weights keep min-comparisons exact across engines (no float-tie
    * ambiguity in the oracle).
    */
  def weightedDistances(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val adj = Checkpoints.truncate(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"),
          col("w").cast("long").as("w")))
        .filter(col("src") =!= col("dst")).distinct())
    var best = Checkpoints.truncate(
      seeds.toDF("id").distinct().withColumn("wdist", lit(0L)))
    var frontier = best
    var r = 0
    while (r < maxRounds) {
      val cand = frontier.join(adj, frontier("id") === adj("src"))
        .select(adj("dst").as("id"), (col("wdist") + col("w")).as("cand"))
        .groupBy(col("id")).agg(min(col("cand")).as("cand"))
      val improved = cand.join(
          best.select(col("id").as("bid"), col("wdist").as("bw")),
          cand("id") === col("bid"), "left")
        .filter(col("bw").isNull || col("cand") < col("bw"))
        .select(col("id"), col("cand").as("wdist"))
      val impT = Checkpoints.truncate(improved)
      best = Checkpoints.truncate(
        best.join(impT.select(col("id").as("iid")),
          best("id") === col("iid"), "left_anti").unionByName(impT))
      frontier = impT
      r += 1
    }
    best
  }

  /** HyperBall (Boldi & Vigna, 2013): per-vertex HLL sketches of the
    * distance-≤d neighborhood balls — THE way closeness/harmonic scale to
    * 10^12 edges, replacing [[closeness]]'s exact O(n·reached) BFS state
    * with O(n · 2^p) register rows that never grow with ball size.
    *
    * regs_0(v) = HLL({v}); regs_d(v) = register-wise max of regs_{d-1}(v)
    * and every neighbor's regs_{d-1} — max-merge is exactly HLL union, so
    * regs_d(v) sketches B(v, d). One join + one max-aggregation per round;
    * every register derives from the same md5 hex arithmetic as
    * [[graft.ops.Sketch.hllRegistersBy]], so the whole recurrence is
    * deterministic and engine-replayable (the driver oracle re-runs it
    * register-identically in DuckDB).
    *
    * Returns the round-`maxDepth` sketches: (id, register, max_rho).
    */
  def hyperBall(edges: DataFrame, maxDepth: Int, p: Int = 8): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    hyperBallRounds(edges, maxDepth, p).last
  }

  /** The [[hyperBall]] recurrence's registers after each round 0..maxDepth,
    * each round lineage-truncated.
    */
  private def hyperBallRounds(edges: DataFrame, maxDepth: Int, p: Int): Seq[DataFrame] = {
    val adj = Checkpoints.truncate(sym(edges))
    val rounds = mutable.ArrayBuffer(Checkpoints.truncate(graft.ops.Sketch.hllRegistersBy(
      adj.select(col("src").as("id"), col("src").as("member")).distinct(), Seq("id"), "member", p)))
    while (rounds.length <= maxDepth) {
      val regs = rounds.last
      val nbr = regs.join(adj, regs("id") === adj("src"))
        .select(adj("dst").as("id"), col("register"), col("max_rho"))
      rounds += Checkpoints.truncate(
        nbr.unionByName(regs)
          .groupBy(col("id"), col("register"))
          .agg(max(col("max_rho")).as("max_rho")))
    }
    rounds.toSeq
  }

  /** Approximate neighborhood function + harmonic centrality from the
    * [[hyperBall]] recurrence (its own round loop, estimating every
    * round's registers): (id, ball_est, harmonic_est) where ball_est
    * estimates |B(v, maxDepth)| (self included) and
    * harmonic_est ≈ Σ_u 1/d(v,u) via Σ_d (est_d − est_{d−1})/d. Per-round
    * shrinkage (estimates can wiggle at the linear-counting boundary even
    * though registers only grow) clamps to 0, per the paper. Standard error
    * per estimate ≈ 1.04/√2^p.
    */
  def hyperBallHarmonic(edges: DataFrame, maxDepth: Int, p: Int = 8): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val ests = hyperBallRounds(edges, maxDepth, p).zipWithIndex.map { case (regs, d) =>
      graft.ops.Sketch.hllEstimateBy(regs, Seq("id"), p).withColumn("d", lit(d))
    }.reduce(_ unionByName _)
    val byId = Window.partitionBy(col("id")).orderBy(col("d"))
    ests
      .withColumn("growth",
        greatest(col("estimate") - lag(col("estimate"), 1).over(byId), lit(0.0)))
      .groupBy(col("id"))
      .agg(max(when(col("d") === maxDepth, col("estimate"))).as("ball_est"),
        sum(when(col("d") > 0, col("growth") / col("d"))).as("harmonic_est"))
  }
}
