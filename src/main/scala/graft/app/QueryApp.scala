package graft.app

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.query.{GraphLookup, Researcher, Retriever}
import graft.tables.SnapshotLog

/** spark-submit QUERY entry point over a committed warehouse — the
  * counterpart of IngestApp, so a reference user has the full
  * construct-then-query loop on the command line (the reference exposes
  * this surface through its MCP server, mcp_server.py, and the v6
  * researcher; every subcommand here maps onto one of those operations).
  *
  * Usage:
  *   QueryApp <warehouseDir> research  "<question>" [--topk N] [--ontology <topics.json>]
  *   QueryApp <warehouseDir> search    "<query>"    [--topk N]
  *   QueryApp <warehouseDir> entity    "<name>"
  *   QueryApp <warehouseDir> neighbors "<name>" [--hint "<free text>"]
  *
  *  - research: the v6 flow end-to-end from a bare question (decompose →
  *    hint-resolve → dual-path retrieve → boost → cap) — evidence rows;
  *  - search: the deterministic retriever (vector ∥ keyword ∥ graph → RRF),
  *    graph anchors auto-resolved from the query (Strategy 3);
  *  - entity: get_entity_info (canonical row + summary);
  *  - neighbors: explore_neighbors / explore_neighbors_semantic when a
  *    --hint ranks the incident edges.
  *
  * Fact embeddings come from the committed triples table when the warehouse
  * was ingested with --fact-embeddings, and are otherwise derived
  * deterministically from fact text at read time
  * (Retriever.withFactEmbeddings) — both paths are value-identical.
  * Point lookups (neighbors) read through the bloom index
  * (SnapshotLog.readForAnyKeys): only segments incident to the requested
  * entity are opened.
  */
object QueryApp {
  private def usage(): Nothing = {
    System.err.println(
      "usage: QueryApp <warehouseDir> research|search|entity|neighbors|subgraph|timeline <text> " +
        "[--topk N] [--hint text] [--hops N] [--ontology topics.json] [--master local[N]]\n" +
        "       QueryApp <warehouseDir> path <entityA> --to <entityB> [--hops N]\n" +
        "       QueryApp <warehouseDir> centrality [--topk N] [--iters N] [--seed \"entity name\"] [--full true] | communities [--iters N] | stats [--master local[N]]")
    sys.exit(2)
  }

  private def show(df: DataFrame, n: Int): Unit = {
    val rows = df.limit(n).collect()
    val cols = df.columns
    println(cols.mkString(" | "))
    rows.foreach { r =>
      println(cols.indices.map { i =>
        r.get(i) match {
          case null => ""
          case s: scala.collection.Seq[_] => s.mkString(",")
          case d: Double => f"$d%.4f"
          case v => v.toString
        }
      }.mkString(" | "))
    }
    println(s"[query] ${rows.length} row(s)")
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) usage()
    val Array(wh, cmd) = args.take(2)
    // centrality/stats take no free-text argument; everything else requires
    // one (taken verbatim — a query may legitimately start with '--')
    val needsText = cmd != "centrality" && cmd != "stats" && cmd != "communities"
    if (needsText && args.length < 3) usage()
    if (!needsText && args.length > 2 && !args(2).startsWith("--")) {
      System.err.println(s"$cmd takes no positional argument: '${args(2)}'")
      sys.exit(2)
    }
    val text = if (needsText) args(2) else ""
    val opts = args.drop(if (needsText) 3 else 2).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k -> v
    }.toMap
    val unknown = opts.keys
      .filterNot(Set("--topk", "--hint", "--ontology", "--master", "--iters", "--seed", "--hops", "--to", "--full"))
    if (unknown.nonEmpty) {
      System.err.println(s"unknown option(s): ${unknown.mkString(", ")}"); sys.exit(2)
    }
    val topK = opts.get("--topk").map(_.toInt).getOrElse(15)

    val spark = Sessions.cli("graft-query", opts.get("--master"))

    val log = new SnapshotLog(spark, wh)
    def table(name: String): DataFrame = log.read(name).getOrElse {
      System.err.println(s"warehouse $wh has no committed '$name' table — run IngestApp first")
      sys.exit(1)
    }

    cmd match {
      case "research" =>
        val facts = Retriever.withFactEmbeddings(table("triples"))
        val ontology = opts.get("--ontology")
          .map(p => graft.sources.OntologyLoader.load(spark, p))
          .getOrElse(graft.synth.TranscriptGen.ontology)
        val out = Researcher.researchQuestion(facts, table("entities"), text, ontology)
        show(out.select(col("final_score"), col("sources"), col("fact")), topK)

      case "search" =>
        val facts = Retriever.withFactEmbeddings(table("triples"))
        // a committed ANN index (TableApp ann-index triples) serves the
        // global vector strategy from its pruned cell partitions; without
        // one the exact brute-force scan runs (small-warehouse default)
        val anchors = Retriever.resolveQueryEntities(table("entities"), text)
        val fused = (log.read("triples_ann_centroids"), log.read("triples_ann_assignments")) match {
          case (Some(cents), Some(assigned)) =>
            System.err.println("[query] ANN index: serving global strategy from committed cells")
            // staleness guard: facts committed after the last index commit
            // are invisible to the vector arm until TableApp ann-refresh runs
            def lastCommit(t: String): Long = log.history(t)
              .agg(org.apache.spark.sql.functions.max(col("committed_at")))
              .first() match {
                case r if r.isNullAt(0) => 0L
                case r => r.getTimestamp(0).getTime
              }
            if (lastCommit("triples") > lastCommit("triples_ann_assignments"))
              System.err.println("[query] WARNING: triples committed after the " +
                "last index build — run `TableApp ann-refresh triples` to cover them")
            Retriever.searchIndexed(facts, cents, assigned, text, anchors, topK)
          case _ =>
            Retriever.search(facts, text, anchors, topK)
        }
        val out = fused
          .join(table("triples").select(col("fact_uuid"), col("fact")), Seq("fact_uuid"))
        show(out.select(col("rrf_score"), col("found_by"), col("fact"))
          .orderBy(col("rrf_score").desc, col("fact")), topK)

      case "entity" =>
        show(GraphLookup.getEntityInfo(table("entities"), text), 1)

      case "neighbors" =>
        val entities = table("entities")
        val resolved = GraphLookup.resolveEntity(entities, text).collect()
        if (resolved.isEmpty) {
          System.err.println(s"no entity matching '$text'"); sys.exit(1)
        }
        val uuid = resolved.head.getString(0)
        // bloom-indexed point lookup: open only the triples segments that
        // might contain facts incident to this entity
        val incident = log.readForAnyKeys("triples",
            Seq(Seq("subject_uuid") -> Seq(Seq(uuid)),
              Seq("object_uuid") -> Seq(Seq(uuid))))
          .getOrElse(table("triples"))
        log.lastLookupScan.foreach { case (s, n) =>
          System.err.println(s"[query] bloom index: scanning $s of $n triples segment(s)") }
        opts.get("--hint") match {
          case Some(hint) =>
            show(GraphLookup.exploreNeighborsSemantic(
              Retriever.withFactEmbeddings(incident), uuid, hint, topK), topK)
          case None =>
            show(GraphLookup.exploreNeighbors(incident, uuid)
              .orderBy(col("direction"), col("predicate"), col("neighbor")), topK)
        }

      case "centrality" =>
        // entity importance over the committed graph: PageRank (the
        // principled version of the reference drilldown's "top entities by
        // incident facts") + degree for context. Multi-edges collapse
        // (GraphAlgos symmetrizes + distincts), so rank reflects the
        // relationship STRUCTURE, not fact multiplicity. With --seed
        // "<entity name>", the personalized variant ranks importance
        // RELATIVE to that entity ("what matters around X").
        val edges = table("triples")
          .select(col("subject_uuid").as("src"), col("object_uuid").as("dst"))
        val iters = opts.get("--iters").map(_.toInt).getOrElse(5)
        val seeds = opts.get("--seed").map { seedName =>
          val resolved = GraphLookup.resolveEntity(table("entities"), seedName).collect()
          if (resolved.isEmpty) {
            System.err.println(s"no entity matching '$seedName'"); sys.exit(1)
          }
          import spark.implicits._
          resolved.map(_.getString(0)).toSeq.toDF("id")
        }
        // one report = PageRank + degree over ONE shared symmetrized
        // adjacency (separate calls would symmetrize the edge list twice)
        val report = graft.query.GraphAlgos.centralityReport(edges, iters, seeds)
        // --full true: add Brandes betweenness + harmonic closeness at a
        // bounded horizon (entity graphs are shallow; 6 covers them) — the
        // expensive trio a one-off health report wants but a default query
        // should not pay for
        val withExtra = if (opts.get("--full").exists(_.toBoolean)) {
          val bc = graft.query.GraphAlgos.betweenness(edges, maxDepth = 6)
          val cl = graft.query.GraphAlgos.closeness(edges, maxDepth = 6)
            .select(col("id"), col("harmonic"))
          report.join(bc, Seq("id"), "left").join(cl, Seq("id"), "left")
            .withColumn("betweenness", coalesce(col("betweenness"), lit(0.0)))
            .withColumn("harmonic", coalesce(col("harmonic"), lit(0.0)))
        } else report
        val baseCols = Seq(col("canonical_name"), col("entity_type"),
          col("rank"), coalesce(col("degree"), lit(0L)).as("degree"))
        val cols = if (opts.get("--full").exists(_.toBoolean))
          baseCols ++ Seq(col("betweenness"), col("harmonic")) else baseCols
        val out = withExtra
          .withColumnRenamed("id", "entity_uuid")
          .join(table("entities")
            .select(col("entity_uuid"), col("canonical_name"), col("entity_type")),
            Seq("entity_uuid"))
          .select(cols: _*)
          .orderBy(col("rank").desc, col("canonical_name"))
        show(out, topK)

      case "subgraph" =>
        // the k-hop neighborhood around an entity: BFS distance labels
        // (GraphAlgos.kHop) over the committed graph, then every fact whose
        // BOTH endpoints sit inside the ball — the exploration primitive
        // behind "show me everything within 2 hops of X"
        val hops = opts.get("--hops").map(_.toInt).getOrElse(2)
        val resolved = GraphLookup.resolveEntity(table("entities"), text).collect()
        if (resolved.isEmpty) {
          System.err.println(s"no entity matching '$text'"); sys.exit(1)
        }
        import spark.implicits._
        val seeds = resolved.map(_.getString(0)).toSeq.toDF("id")
        val triples = table("triples")
        val edges = triples
          .select(col("subject_uuid").as("src"), col("object_uuid").as("dst"))
        val ball = graft.query.GraphAlgos.kHop(edges, seeds, hops)
        val facts = triples
          .join(ball.select(col("id").as("subject_uuid"), col("dist").as("d_subj")),
            Seq("subject_uuid"))
          .join(ball.select(col("id").as("object_uuid"), col("dist").as("d_obj")),
            Seq("object_uuid"))
          .select(least(col("d_subj"), col("d_obj")).as("dist"),
            col("fact"), col("predicate"))
          .distinct() // the same fact text extracted from several chunks shows once
          .orderBy(col("dist"), col("fact"))
        println(s"[query] ${ball.count()} entit(ies) within $hops hop(s)")
        show(facts, topK)

      case "path" =>
        // how two entities connect: one deterministic shortest path over the
        // committed graph, each hop annotated with a fact that witnesses it
        val toName = opts.getOrElse("--to", {
          System.err.println("path requires --to <entity>"); sys.exit(2)
        })
        val hops = opts.get("--hops").map(_.toInt).getOrElse(6)
        val ents = table("entities")
        def resolve1(n: String): String = {
          val r = GraphLookup.resolveEntity(ents, n).collect()
          if (r.isEmpty) { System.err.println(s"no entity matching '$n'"); sys.exit(1) }
          r(0).getString(0)
        }
        val (a, b) = (resolve1(text), resolve1(toName))
        val triples = table("triples")
        val edges = triples
          .select(col("subject_uuid").as("src"), col("object_uuid").as("dst"))
        val path = graft.query.GraphAlgos.shortestPath(edges, a, b, hops)
        val named = path.join(
          ents.select(col("entity_uuid").as("vertex"), col("canonical_name")),
          Seq("vertex"), "left")
        val prev = path.select((col("step") + 1).as("step"),
          col("vertex").as("prev_vertex"))
        val fact = triples.select(col("subject_uuid").as("fs"),
          col("object_uuid").as("fo"), col("fact"))
        val annotated = named.join(prev, Seq("step"), "left")
          .join(fact,
            (col("fs") === col("prev_vertex") && col("fo") === col("vertex")) ||
              (col("fo") === col("prev_vertex") && col("fs") === col("vertex")),
            "left")
          .groupBy(col("step"), col("canonical_name"))
          .agg(min(col("fact")).as("via_fact")) // deterministic witness pick
          .orderBy(col("step"))
        if (annotated.isEmpty) println(s"[path] no path within $hops hops")
        else show(annotated, hops + 1)

      case "timeline" =>
        // an entity's facts in temporal order: date_context parsed with the
        // chunker's lenient rules (ISO prefix / year-month / bare year),
        // undated facts last — "what happened to X, in order"
        val resolved = GraphLookup.resolveEntity(table("entities"), text).collect()
        if (resolved.isEmpty) {
          System.err.println(s"no entity matching '$text'"); sys.exit(1)
        }
        val uuid = resolved(0).getString(0)
        // date_context is a phrase ("in 2020", "2021-03", "2022-05-01 at …")
        // — take its first ISO-shaped token, then the chunker's lenient rules
        val t = regexp_extract(col("date_context"),
          "(\\d{4}-\\d{2}-\\d{2}|\\d{4}-\\d{2}|\\d{4})", 1)
        val factDate = when(t.rlike("^\\d{4}-\\d{2}-\\d{2}$"), try_to_date(t))
          .when(t.rlike("^\\d{4}-\\d{2}$"), try_to_date(concat(t, lit("-01"))))
          .when(t.rlike("^\\d{4}$"), try_to_date(concat(t, lit("-01-01"))))
        val timeline = table("triples")
          .filter(col("subject_uuid") === uuid || col("object_uuid") === uuid)
          .withColumn("fact_date", factDate)
          .select(col("fact_date"), col("predicate"), col("fact"))
          .distinct()
          .orderBy(col("fact_date").asc_nulls_last, col("fact"))
        show(timeline, topK)

      case "stats" =>
        // one-row graph health report over the committed triples graph
        val edges = table("triples")
          .select(col("subject_uuid").as("src"), col("object_uuid").as("dst"))
        val ents = table("entities").count()
        val facts = table("triples").count()
        println(s"[stats] entities=$ents facts=$facts")
        show(graft.query.GraphAlgos.graphStats(edges), 1)

      case "communities" =>
        // community structure of the committed graph: label-propagation
        // communities (--iters rounds) scored by THEIR modularity
        // contribution, largest first, each named by its top-PageRank
        // member so the report reads as "the cluster around X"
        val edges = table("triples")
          .select(col("subject_uuid").as("src"), col("object_uuid").as("dst"))
        val iters = opts.get("--iters").map(_.toInt).getOrElse(5)
        val comms = graft.query.GraphAlgos.labelPropagation(edges, iters)
        val q = graft.query.GraphAlgos.modularity(edges, comms)
        val names = comms
          .join(graft.query.GraphAlgos.pageRank(edges, iters = 3)
            .withColumnRenamed("id", "entity_uuid"),
            comms("id") === col("entity_uuid"))
          .join(table("entities")
            .select(col("entity_uuid"), col("canonical_name")), Seq("entity_uuid"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
              .orderBy(col("rank").desc, col("canonical_name"))))
          .filter(col("rn") === 1)
          .select(col("label"), col("canonical_name").as("around"))
        val totalQ = q.agg(coalesce(sum(col("contribution")), lit(0.0)))
          .collect()(0).getDouble(0)
        println(f"[communities] n=${q.count()} modularity=$totalQ%.4f")
        show(q.join(names, Seq("label"), "left")
          .select(col("around"), col("n_vertices"), col("internal_edges"),
            col("degree_sum"), round(col("contribution"), 6).as("contribution"))
          .orderBy(col("n_vertices").desc, col("around")), topK)

      case other =>
        System.err.println(s"unknown command: $other"); usage()
    }
    spark.stop()
  }
}
