package graft

import org.apache.spark.sql.functions._

import graft.query.GraphAlgos

class GraphAlgosSpec extends SparkSpec {
  import spark.implicits._

  private def edges(es: (Long, Long)*) = es.toDF("src", "dst")

  // path 0-1-2-3-4 plus a triangle 10-11-12 hanging off 4 via 4-10
  private lazy val g = edges(
    0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 10L,
    10L -> 11L, 11L -> 12L, 12L -> 10L)

  test("degrees counts undirected neighbors once per edge") {
    val d = GraphAlgos.degrees(g).as[(Long, Long)].collect().toMap
    assert(d(0L) === 1L && d(1L) === 2L && d(4L) === 2L)
    assert(d(10L) === 3L && d(11L) === 2L)
    // duplicate + reversed edges collapse
    val dd = GraphAlgos.degrees(edges(1L -> 2L, 2L -> 1L, 1L -> 2L))
      .as[(Long, Long)].collect().toMap
    assert(dd === Map(1L -> 1L, 2L -> 1L))
  }

  test("kHop labels minimum distances, bounded by maxHops") {
    val d = GraphAlgos.kHop(g, Seq(0L).toDF("id"), maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(d === Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
    // two seeds: a vertex reachable from both gets the smaller distance
    val d2 = GraphAlgos.kHop(g, Seq(0L, 4L).toDF("id"), maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(d2(2L) === 2 && d2(3L) === 1 && d2(10L) === 1 && d2(11L) === 2)
    assert(!d2.contains(12L) || d2(12L) === 2) // 12 via 10: dist 2
  }

  test("pageRank conserves mass and ranks the hub highest") {
    // star: center 0 linked to 1..5
    val star = edges((1L to 5L).map(i => 0L -> i): _*)
    val r = GraphAlgos.pageRank(star, iters = 10).as[(Long, Double)].collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    val leaves = (1L to 5L).map(r)
    assert(r(0L) > leaves.max)
    assert(leaves.max - leaves.min < 1e-12) // symmetry
  }

  test("pageRank directed: dangling mass is redistributed, not lost") {
    // a -> b, b dangling: hand-unrolled one iteration from r0 = (.5, .5):
    // dangling D = .5; a gets teleport + d*D/n = .075 + .85*.25 = .2875;
    // b gets .075 + .85*(.5 + .25) = .7125
    val r = GraphAlgos.pageRank(edges(1L -> 2L), iters = 1, directed = true)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r(1L) - 0.2875) < 1e-12)
    assert(math.abs(r(2L) - 0.7125) < 1e-12)
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
  }

  test("pageRankWeighted: multiplicity bias, hand-unrolled, uniform ≡ unweighted") {
    // 0-1 three parallel edges, 0-2 one: W(0)=4, W(1)=3, W(2)=1; one
    // iteration from r0 = 1/3 each (no dangling on the symmetrized form):
    // r(0) = .05 + .85*(1/3 + 1/3)      = .6166667
    // r(1) = .05 + .85*(1/3 * 3/4)      = .2625
    // r(2) = .05 + .85*(1/3 * 1/4)      = .1208333
    val multi = edges(0L -> 1L, 0L -> 1L, 0L -> 1L, 0L -> 2L)
    val r = GraphAlgos.pageRankWeighted(multi, iters = 1)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r(0L) - (0.05 + 0.85 * 2.0 / 3.0)) < 1e-12)
    assert(math.abs(r(1L) - 0.2625) < 1e-12)
    assert(math.abs(r(2L) - (0.05 + 0.85 / 12.0)) < 1e-12)
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
    // directed with a weighted split AND dangling sinks: 1->2 w2, 1->3 w1;
    // dangling D = 2/3 redistributes D/n = 2/9 to every vertex
    val rd = GraphAlgos.pageRankWeighted(
      edges(1L -> 2L, 1L -> 2L, 1L -> 3L), iters = 1, directed = true)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(rd(1L) - (0.05 + 0.85 * 2.0 / 9.0)) < 1e-12)
    assert(math.abs(rd(2L) - (0.05 + 0.85 * (2.0 / 9.0 + 2.0 / 9.0))) < 1e-12)
    assert(math.abs(rd(3L) - (0.05 + 0.85 * (1.0 / 9.0 + 2.0 / 9.0))) < 1e-12)
    assert(math.abs(rd.values.sum - 1.0) < 1e-12)
    // all-multiplicity-1 input degenerates to the unweighted algorithm
    val w1 = GraphAlgos.pageRankWeighted(g, iters = 4)
      .as[(Long, Double)].collect().toMap
    val std = GraphAlgos.pageRank(g, iters = 4).as[(Long, Double)].collect().toMap
    assert(w1.keySet === std.keySet)
    w1.foreach { case (id, v) => assert(math.abs(v - std(id)) < 1e-12) }
  }

  test("personalizedPageRank: seed-local mass, isolated-seed fixpoint, all-seeds ≡ standard") {
    // path graph: rank decays away from the seed end
    val path = edges(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L)
    val r = GraphAlgos.personalizedPageRank(path, Seq(0L).toDF("id"), iters = 8)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r(0L) > r(1L) && r(1L) > r(2L) && r(2L) > r(3L))
    // a seed absent from the edge list is a dangling vertex whose mass
    // teleports straight back: rank stays 1.0 on it, 0 elsewhere
    val iso = GraphAlgos.personalizedPageRank(path, Seq(99L).toDF("id"), iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(iso(99L) - 1.0) < 1e-12)
    assert(iso.filter(_._1 != 99L).values.forall(v => math.abs(v) < 1e-12))
    // seeding EVERY vertex is bit-identical to the standard variant
    val verts = (0L to 4L).toDF("id")
    val std = GraphAlgos.pageRank(path, iters = 4).as[(Long, Double)].collect().toMap
    val all = GraphAlgos.personalizedPageRank(path, verts, iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(all === std)
  }

  test("labelPropagation: communities converge to min id; bridge stays outvoted") {
    // barbell: two K4s joined by ONE bridge edge 4-10 — each side must keep
    // its own community label (the bridge vote is always outnumbered 3:1)
    val k4a = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val k4b = k4a.map { case (a, b) => (a + 9L) -> (b + 9L) }
    val barbell = edges(k4a ++ k4b :+ (4L -> 10L): _*)
    val l = GraphAlgos.labelPropagation(barbell, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert((1L to 4L).forall(l(_) === 1L), s"left K4 labels: $l")
    assert((10L to 13L).forall(l(_) === 10L), s"right K4 labels: $l")
    // disjoint triangles each converge to their own min id by round 2
    val tri2 = edges(1L -> 2L, 2L -> 3L, 1L -> 3L,
      10L -> 11L, 11L -> 12L, 10L -> 12L)
    val lt = GraphAlgos.labelPropagation(tri2, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(lt === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // self-vote semantics pinned: an isolated pair AGREES on the min label
    // in one round and stays there (pure neighbor-only sync LPA would swap
    // labels forever and cut the edge in every even/odd snapshot — the star
    // pathology the self-vote exists to kill)
    val one = edges(1L -> 2L)
    val swap = GraphAlgos.labelPropagation(one, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(swap === Map(1L -> 1L, 2L -> 1L))
    val back = GraphAlgos.labelPropagation(one, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(back === Map(1L -> 1L, 2L -> 1L))
    // star K1,3: the hub + leaves collapse to one community (the entity-
    // graph shape that motivated the self-vote)
    val star = GraphAlgos.labelPropagation(
        edges(5L -> 1L, 5L -> 2L, 5L -> 3L), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(star.values.toSet.size === 1, s"star must unify: $star")
  }

  test("triangles: K4 has each vertex in 3 triangles; squares have none") {
    val k4 = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val t = GraphAlgos.triangles(k4).as[(Long, Long)].collect().toMap
    assert(t === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val square = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    assert(GraphAlgos.triangles(square).isEmpty)
    // the hanging triangle in g is found exactly once per member
    val tg = GraphAlgos.triangles(g).as[(Long, Long)].collect().toMap
    assert(tg === Map(10L -> 1L, 11L -> 1L, 12L -> 1L))
  }

  test("kCore peels to the maximal min-degree-k subgraph") {
    // g = path 0-1-2-3-4-10 + triangle 10-11-12: the 2-core is exactly the
    // triangle (the path peels away end-first over several rounds — the
    // fixpoint needs ITERATION, one pass only removes the current leaves)
    val core2 = GraphAlgos.kCore(g, k = 2).as[Long].collect().toSet
    assert(core2 === Set(10L, 11L, 12L))
    // K4: 3-core = all of it; 4-core = empty
    val k4 = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    assert(GraphAlgos.kCore(k4, 3).as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 4L))
    assert(GraphAlgos.kCore(k4, 4).isEmpty)
    // a pure path has no 2-core at all
    assert(GraphAlgos.kCore(edges(1L -> 2L, 2L -> 3L, 3L -> 4L), 2).isEmpty)
    // k=1 = drop isolated only: everything with an edge survives
    assert(GraphAlgos.kCore(g, 1).count() === 8L)
  }

  test("kCore raises when the peel is still running at its round cap") {
    // a 40-edge path's 2-core peels two leaves per round: ~20 rounds
    val path = edges((0L until 40L).map(i => i -> (i + 1)): _*)
    val e = intercept[IllegalArgumentException](GraphAlgos.kCore(path, 2, maxIter = 3))
    assert(e.getMessage.contains("did not converge in 3 rounds"), e.getMessage)
    // each round's edge count is observed in the job that materializes it
    val jobs = jobsOf(assert(GraphAlgos.kCore(path, 2).isEmpty))
    info(s"kCore(path40, 2): $jobs jobs")
    assert(jobs <= 63, s"kCore ran $jobs jobs")
  }

  test("graphStats: one-row report with hand-checked counts") {
    val r = GraphAlgos.graphStats(g).collect().head
    def l(c: String) = r.getLong(r.fieldIndex(c))
    assert(l("nodes") === 8L && l("edges") === 8L)
    assert(l("components") === 1L && l("largest_component") === 8L)
    assert(l("triangles") === 1L && l("max_degree") === 3L)
    // wedges = Σ d(d−1)/2 = 9, one closed → global clustering 3·1/9
    assert(math.abs(r.getDouble(r.fieldIndex("global_clustering")) - 1.0 / 3) < 1e-6)
    val a = r.getDouble(r.fieldIndex("assortativity"))
    assert(a >= -1.0 && a <= 1.0)
    // two components when the bridge edge is absent
    val r2 = GraphAlgos.graphStats(edges(1L -> 2L, 10L -> 11L)).collect().head
    assert(r2.getLong(r2.fieldIndex("components")) === 2L)
    assert(r2.getLong(r2.fieldIndex("triangles")) === 0L)
    // two isolated edges: every degree 1 → no wedges (clustering NULL) and
    // zero degree variance (assortativity NULL)
    assert(r2.isNullAt(r2.fieldIndex("global_clustering")))
    assert(r2.isNullAt(r2.fieldIndex("assortativity")))
  }

  test("linkPrediction scores distance-2 pairs only, hand-checked") {
    // square 1-2-3-4: diagonals (1,3) and (2,4) share both off-diagonal
    // vertices; adjacent pairs must not appear
    val square = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    val p = GraphAlgos.linkPrediction(square)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(p.keySet === Set((1L, 3L), (2L, 4L)))
    val (cn, jac, aa) = p((1L, 3L))
    assert(cn === 2L && math.abs(jac - 1.0) < 1e-12)
    assert(math.abs(aa - 2.0 / math.log(2.0)) < 1e-12)
    // path 1-2-3: (1,3) via 2 (deg 2): jaccard 1/(1+1-1)=1, aa=1/ln 2
    val path = GraphAlgos.linkPrediction(edges(1L -> 2L, 2L -> 3L))
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(path.length === 1)
    assert(path.head._1 === 1L && path.head._2 === 3L && path.head._3 === 1L)
    assert(math.abs(path.head._5 - 1.0 / math.log(2.0)) < 1e-12)
    // K3: every pair adjacent -> nothing to predict
    assert(GraphAlgos.linkPrediction(
      edges(1L -> 2L, 2L -> 3L, 1L -> 3L)).isEmpty)
  }

  test("deterministicWalks: adjacency respected, layout-invariant, full length") {
    val w = GraphAlgos.deterministicWalks(g, length = 3)
      .as[(Long, Int, Int, Long)].collect().sorted.toSeq
    // one walk per vertex, each of full length (no dead ends once symmetrized)
    val byWalk = w.groupBy(_._1)
    assert(byWalk.keySet === Set(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L))
    assert(byWalk.values.forall(_.length === 4)) // steps 0..3
    // every step moves along a real edge
    val pairs = Set(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 10L,
      10L -> 11L, 11L -> 12L, 12L -> 10L).flatMap { case (a, b) => Seq(a -> b, b -> a) }
    byWalk.values.foreach { steps =>
      steps.sortBy(_._3).sliding(2).foreach {
        case Seq((_, _, _, u), (_, _, _, v)) => assert(pairs.contains(u -> v))
        case _ =>
      }
    }
    // determinism across physical layouts: shuffled/repartitioned input
    // produces the identical walk set
    val w2 = GraphAlgos.deterministicWalks(g.repartition(7), length = 3)
      .as[(Long, Int, Int, Long)].collect().sorted.toSeq
    assert(w2 === w)
    // a single edge bounces: 1 -> 2 -> 1 -> 2
    val bounce = GraphAlgos.deterministicWalks(edges(1L -> 2L), length = 3)
      .as[(Long, Int, Int, Long)].collect().filter(_._1 == 1L).sortBy(_._3).map(_._4).toSeq
    assert(bounce === Seq(1L, 2L, 1L, 2L))
    // multi-walk: 3 walks per seed, all adjacency-respecting, and at least
    // one seed's walks diverge (the walk index is in the hash)
    val multi = GraphAlgos.deterministicWalks(g, length = 3, walksPerNode = 3)
      .as[(Long, Int, Int, Long)].collect()
    assert(multi.length === 8 * 3 * 4)
    val bySeed = multi.groupBy(m => (m._1, m._2))
    assert(bySeed.size === 24)
    val diverged = multi.groupBy(_._1).values.exists { ws =>
      ws.groupBy(_._2).values.map(_.sortBy(_._3).map(_._4).toSeq).toSet.size > 1
    }
    assert(diverged, "walks from the same seed never diverged")
  }

  test("shortestPath walks one deterministic minimum path") {
    // g: path 0-1-2-3-4, 4-10, triangle 10-11-12 → dist(0,12) = 6 via 10
    val p = GraphAlgos.shortestPath(g, 0L, 12L, maxHops = 8)
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(p === Seq(0 -> 0L, 1 -> 1L, 2 -> 2L, 3 -> 3L, 4 -> 4L,
      5 -> 10L, 6 -> 12L).map { case (s, v) => (s, v) })
    // equal-length paths: diamond 0-1-3 / 0-2-3 → min predecessor (1) wins
    val diamond = edges(0L -> 1L, 0L -> 2L, 1L -> 3L, 2L -> 3L)
    val q = GraphAlgos.shortestPath(diamond, 0L, 3L)
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(q === Seq(0 -> 0L, 1 -> 1L, 2 -> 3L))
    // src == dst is the zero-length path
    val z = GraphAlgos.shortestPath(g, 2L, 2L).as[(Int, Long)].collect()
    assert(z === Seq(0 -> 2L))
    // beyond maxHops or disconnected → empty
    assert(GraphAlgos.shortestPath(g, 0L, 12L, maxHops = 3).isEmpty)
    assert(GraphAlgos.shortestPath(edges(0L -> 1L, 5L -> 6L), 0L, 6L).isEmpty)
  }

  // every fixture runs both routes: the driver Tarjan behind the public
  // call and the distributed peel, which must agree with it
  private def scc(es: (Long, Long)*): Map[Long, Long] = {
    val df = es.toDF("src", "dst")
    val driver = GraphAlgos.stronglyConnected(df).as[(Long, Long)].collect().toMap
    val peel = GraphAlgos.sccPeel(df, maxIter = 25).as[(Long, Long)].collect().toMap
    assert(peel === driver)
    driver
  }

  test("stronglyConnected: two cycles joined by a one-way bridge stay separate") {
    // cycle {0,1,2} → bridge 2→10 → cycle {10,11,12}
    val got = scc(0L -> 1L, 1L -> 2L, 2L -> 0L, 2L -> 10L,
      10L -> 11L, 11L -> 12L, 12L -> 10L)
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("stronglyConnected: a DAG is all singletons") {
    val got = scc(0L -> 1L, 0L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L)
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // a 40-vertex directed path: the peel would need a pass per vertex,
    // past its 25-pass cap; the driver route solves it in one collect
    val path = GraphAlgos.stronglyConnected(edges((0L until 39L).map(i => i -> (i + 1)): _*))
      .as[(Long, Long)].collect().toMap
    assert(path === (0L until 40L).map(i => i -> i).toMap)
    val e = intercept[IllegalArgumentException](
      GraphAlgos.sccPeel(edges((0L until 39L).map(i => i -> (i + 1)): _*), maxIter = 3))
    assert(e.getMessage.contains("SCC peeling did not converge in 3 passes"), e.getMessage)
  }

  test("stronglyConnected matches brute-force reachability on random digraphs") {
    val rnd = new scala.util.Random(20261019L)
    (1 to 20).foreach { g =>
      val n = 25 + rnd.nextInt(11)
      val es = Seq.fill(n + rnd.nextInt(n))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // reach(u) = every vertex with a directed path from u (u included)
      val out = es.filter { case (a, b) => a != b }.groupMap(_._1)(_._2)
      def reach(u: Long): Set[Long] = {
        var seen = Set(u)
        var frontier = List(u)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(out.getOrElse(_, Nil)).filterNot(seen)
          seen ++= next
          frontier = next.distinct
        }
        seen
      }
      val verts = out.keySet ++ out.values.flatten
      val reachOf = verts.map(v => v -> reach(v)).toMap
      val expected = verts.map(v => v -> verts.filter(u => reachOf(v)(u) && reachOf(u)(v)).min).toMap
      val got = GraphAlgos.stronglyConnected(edges(es: _*)).as[(Long, Long)].collect().toMap
      assert(got === expected, s"graph $g: $es")
    }
  }

  test("stronglyConnected labels by the id type's own ordering") {
    // bigint: 9 < 10 numerically (as strings "10" < "9")
    assert(scc(9L -> 10L, 10L -> 9L) === Map(9L -> 9L, 10L -> 9L))
    val str = GraphAlgos.stronglyConnected(
        Seq("b" -> "a", "a" -> "b", "a" -> "c", "c" -> "c").toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    assert(str === Map("a" -> "a", "b" -> "a", "c" -> "c"))
  }

  test("stronglyConnected: mutual pair + chained SCCs peel in order") {
    // 5↔6 form one SCC; 6→1, cycle {1,2,3} below it; 3→9 dangling.
    // The min-vertex SCC {1,2,3} peels first; {5,6} only satisfies
    // fwd==bwd on a later pass — exercises the outer peeling loop.
    val got = scc(5L -> 6L, 6L -> 5L, 6L -> 1L,
      1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 9L)
    assert(got === Map(5L -> 5L, 6L -> 5L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      9L -> 9L))
  }

  test("stronglyConnected: one big cycle is one component labeled by its min") {
    val n = 12L
    val ring = (0L until n).map(i => i -> ((i + 1) % n))
    assert(scc(ring: _*) === (0L until n).map(_ -> 0L).toMap)
  }

  private def bc(maxDepth: Int, es: (Long, Long)*): Map[Long, Double] =
    GraphAlgos.betweenness(edges(es: _*), maxDepth)
      .as[(Long, Double)].collect().toMap

  test("betweenness: path interior nodes carry the crossings, endpoints zero") {
    // path 0-1-2-3: pairs through 1 = (0,2),(0,3); through 2 = (0,3),(1,3)
    assert(bc(5, 0L -> 1L, 1L -> 2L, 2L -> 3L) ===
      Map(0L -> 0.0, 1L -> 2.0, 2L -> 2.0, 3L -> 0.0))
  }

  test("betweenness: star center sees every leaf pair; split paths halve") {
    // K1,3: 3 leaf pairs through the center
    assert(bc(4, 9L -> 1L, 9L -> 2L, 9L -> 3L) ===
      Map(9L -> 3.0, 1L -> 0.0, 2L -> 0.0, 3L -> 0.0))
    // diamond 0-1, 0-2, 1-3, 2-3: (0,3) splits over 1 and 2; (1,2) over 0 and 3
    assert(bc(4, 0L -> 1L, 0L -> 2L, 1L -> 3L, 2L -> 3L) ===
      Map(0L -> 0.5, 1L -> 0.5, 2L -> 0.5, 3L -> 0.5))
  }

  test("betweenness: horizon truncation drops pairs farther than maxDepth") {
    // path 0-1-2-3 at maxDepth=2: (0,3) no longer counted from either end
    assert(bc(2, 0L -> 1L, 1L -> 2L, 2L -> 3L) ===
      Map(0L -> 0.0, 1L -> 1.0, 2L -> 1.0, 3L -> 0.0))
  }

  test("betweenness: sampled sources accumulate only those sources' dependencies") {
    // path 0-1-2-3, sources={0}: delta_0(1)=2 (covers 2 and 3), delta_0(2)=1
    val got = GraphAlgos.betweenness(
        edges(0L -> 1L, 1L -> 2L, 2L -> 3L), maxDepth = 5,
        sources = Some(Seq(0L).toDF("id")))
      .as[(Long, Double)].collect().toMap
    // the source itself is never an interior vertex of its own paths, so it
    // is absent (same "no incident evidence -> absent" convention as degrees)
    assert(got === Map(1L -> 1.0, 2L -> 0.5, 3L -> 0.0))
  }

  test("closeness/harmonic: hand-checked path values; horizon bounds the sums") {
    // path 0-1-2-3: node 0 dists (1,2,3), node 1 dists (1,1,2)
    val c = GraphAlgos.closeness(edges(0L -> 1L, 1L -> 2L, 2L -> 3L), maxDepth = 5)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(c(0L) === ((0L, 3L, 0.5, 1.0 + 0.5 + 1.0 / 3)))
    assert(c(1L) === ((1L, 3L, 0.75, 2.5)))
    // horizon 1: only direct neighbors count
    val h1 = GraphAlgos.closeness(edges(0L -> 1L, 1L -> 2L, 2L -> 3L), maxDepth = 1)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(h1(0L) === ((0L, 1L, 1.0, 1.0)) && h1(1L) === ((1L, 2L, 1.0, 2.0)))
    // disconnected components never see each other (harmonic's raison d'etre)
    val disc = GraphAlgos.closeness(edges(0L -> 1L, 5L -> 6L), maxDepth = 5)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(disc(0L) === ((0L, 1L, 1.0, 1.0)) && disc(5L) === ((5L, 1L, 1.0, 1.0)))
  }

  test("clusteringCoefficients: triangle density per vertex, pendant zero") {
    // K3 {1,2,3} + pendant edge 3-4
    val cc = GraphAlgos.clusteringCoefficients(
        edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L))
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(cc(1L) === ((1L, 2L, 1L, 1.0)) && cc(2L) === ((2L, 2L, 1L, 1.0)))
    assert(cc(3L)._2 === 3L && math.abs(cc(3L)._4 - 1.0 / 3) < 1e-12)
    assert(cc(4L) === ((4L, 1L, 0L, 0.0)))
  }

  test("weightedDistances: relaxation prefers light detours; hop bound truncates") {
    val e = Seq((0L, 1L, 10L), (1L, 2L, 1L), (0L, 2L, 1L)).toDF("src", "dst", "w")
    val full = GraphAlgos.weightedDistances(e, Seq(0L).toDF("id"), maxRounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(full === Map(0L -> 0L, 1L -> 2L, 2L -> 1L)) // 0-2-1 beats the direct 10
    val oneRound = GraphAlgos.weightedDistances(e, Seq(0L).toDF("id"), maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(oneRound === Map(0L -> 0L, 1L -> 10L, 2L -> 1L)) // no detour in 1 hop
    // vertices beyond the hop bound stay unlabeled
    val chain = Seq((0L, 1L, 1L), (1L, 2L, 1L)).toDF("src", "dst", "w")
    val b = GraphAlgos.weightedDistances(chain, Seq(0L).toDF("id"), maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(b === Map(0L -> 0L, 1L -> 1L))
  }

  test("hyperBall registers at round H equal the HLL of the exact reachable ball") {
    val es = edges(0L -> 1L, 1L -> 2L, 2L -> 3L, 7L -> 8L)
    val got = GraphAlgos.hyperBall(es, maxDepth = 2, p = 8)
      .as[(Long, Int, Int)].collect().toSet
    val balls = Map(
      0L -> Seq(0L, 1L, 2L), 1L -> Seq(0L, 1L, 2L, 3L),
      2L -> Seq(0L, 1L, 2L, 3L), 3L -> Seq(1L, 2L, 3L),
      7L -> Seq(7L, 8L), 8L -> Seq(7L, 8L))
    val pairs = balls.toSeq.flatMap { case (v, ms) => ms.map(m => (v, m)) }
    val expected = graft.ops.Sketch.hllRegistersBy(
        pairs.toDF("id", "member"), Seq("id"), "member", p = 8)
      .as[(Long, Int, Int)].collect().toSet
    assert(got === expected)
  }

  test("hyperBallHarmonic tracks exact harmonic within sketch tolerance") {
    // ring of 24 with chords — diameter ~6, one component
    val ring = (0L until 24L).map(i => i -> ((i + 1) % 24))
    val chords = (0L until 24L by 4).map(i => i -> ((i + 9) % 24))
    val es = edges((ring ++ chords): _*)
    val exact = GraphAlgos.closeness(es, maxDepth = 10)
      .select(col("id"), col("harmonic")).as[(Long, Double)].collect().toMap
    val hb = GraphAlgos.hyperBallHarmonic(es, maxDepth = 10, p = 8)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // deterministic md5 registers -> these bounds are exact replays, not flaky
    val relErrs = exact.map { case (v, h) => math.abs(hb(v)._2 - h) / h }
    assert(relErrs.sum / relErrs.size < 0.15,
      s"mean rel err ${relErrs.sum / relErrs.size}")
    // every ball estimate lands near the true component size (24, self incl.)
    hb.values.foreach { case (ball, _) => assert(ball > 18 && ball < 31) }
  }

  test("edgeSupport + kTruss: shared-edge support 2, pendant 0, truss peels cascades") {
    // two triangles sharing edge 2-3, plus pendant 4-5
    val g = edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L)
    val sup = GraphAlgos.edgeSupport(g)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(sup === Map((1L, 2L) -> 1L, (2L, 3L) -> 2L, (1L, 3L) -> 1L,
      (2L, 4L) -> 1L, (3L, 4L) -> 1L, (4L, 5L) -> 0L))
    // 3-truss = every edge in >= 1 triangle: only the pendant peels
    val t3 = GraphAlgos.kTruss(g, 3).as[(Long, Long)].collect().toSet
    assert(t3 === Set((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L)))
    // 4-truss: dropping the support-1 edges leaves 2-3 alone, whose support
    // then collapses to 0 — the CASCADE a one-shot filter would miss
    assert(GraphAlgos.kTruss(g, 4).isEmpty)
    // K4 is a 4-truss (every edge closes 2 triangles) — nothing peels
    val k4 = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    assert(GraphAlgos.kTruss(k4, 4).count() === 6L)
  }

  test("kTruss raises when the peel is still cascading at its round cap") {
    // i ~ i+1, i+3, i+4 on 24 vertices: the 4-truss peels from both ends
    // one layer per round (6 rounds) until nothing is left
    val strip = edges((for (i <- 0L until 24L; d <- Seq(1L, 3L, 4L) if i + d < 24L)
      yield i -> (i + d)): _*)
    val e = intercept[IllegalArgumentException](GraphAlgos.kTruss(strip, 4, maxRounds = 2))
    assert(e.getMessage.contains("did not converge in 2 rounds"), e.getMessage)
    // each round's edge count is observed in the job that materializes it
    val jobs = jobsOf(assert(GraphAlgos.kTruss(strip, 4).isEmpty))
    info(s"kTruss(strip24, 4): $jobs jobs")
    assert(jobs <= 82, s"kTruss ran $jobs jobs")
  }

  test("assortativity: path is -1-free hand-check, star -1, regular graph NULL") {
    // path 1-2-3: stub pairs (1,2)x2, (2,1)x2 -> r = -1 (ends meet middle)
    val p = GraphAlgos.assortativity(edges(1L -> 2L, 2L -> 3L)).collect()(0)
    assert((p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3)) === ((4L, 8L, 6L, 10L)))
    assert(p.getDouble(4) === -1.0)
    // star K1,4 is perfectly disassortative
    val s = GraphAlgos.assortativity(
      edges(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L)).collect()(0)
    assert(s.getDouble(4) === -1.0)
    // K3 is regular: zero degree variance -> NULL, not NaN
    val k = GraphAlgos.assortativity(edges(1L -> 2L, 2L -> 3L, 1L -> 3L)).collect()(0)
    assert(k.isNullAt(4))
  }

  test("modularity: perfect split Q=0.5, single community Q=0, hand-checked path") {
    // two disjoint triangles with the natural communities: each contributes
    // 3/6 - (6/12)^2 = 0.25, Q = 0.5 (the textbook maximum for this graph)
    val twoTri = edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 5L, 5L -> 6L, 4L -> 6L)
    val split = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 1L))
      .toDF("id", "label")
    val q = GraphAlgos.modularity(twoTri, split)
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(q(0L) === ((0L, 3L, 3L, 6L, 0.25)) && q(1L) === ((1L, 3L, 3L, 6L, 0.25)))
    // everything in one community: e_c/m = 1 and d_c/2m = 1 -> Q = 0 exactly
    val one = GraphAlgos.modularity(twoTri,
        split.select($"id", lit(9L).as("label")))
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(one.toSeq === Seq((9L, 6L, 6L, 12L, 0.0)))
    // path 1-2-3 with communities {1,2} / {3}: contributions 2/4 - (3/4)^2
    // = -0.0625 and 0 - (1/4)^2 = -0.0625 (cut communities go negative)
    val p = GraphAlgos.modularity(edges(1L -> 2L, 2L -> 3L),
        Seq((1L, 0L), (2L, 0L), (3L, 1L)).toDF("id", "label"))
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(p(0L) === ((0L, 2L, 1L, 3L, -0.0625)))
    assert(p(1L) === ((1L, 1L, 0L, 1L, -0.0625)))
    // labelPropagation communities on the two-triangle graph recover Q = 0.5
    val lp = GraphAlgos.labelPropagation(twoTri, iters = 3)
    val qlp = GraphAlgos.modularity(twoTri, lp)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(math.abs(qlp.map(_._5).sum - 0.5) < 1e-12, qlp.toSeq)
  }
}
