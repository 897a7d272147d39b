package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Ingest
import graft.synth.TranscriptGen

/** Physical-plan hygiene at the operators that matter at 100 TB: filters
  * reach the parquet scan, projections prune columns, the fact-resolution
  * join broadcasts, and no accidental cartesian products appear in the
  * pipeline plan.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sfDir = "/root/testdata/sf0.001"

  test("filter + projection push into the parquet scan (PushedFilters/ReadSchema)") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter($"l_quantity" > 30.0)
      .select($"l_orderkey", $"l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), scan)
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), s"unused columns must be pruned: $readSchema")
  }

  test("group_id partition filter prunes partitions on committed tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val turns = TranscriptGen.transcripts(spark, TranscriptGen.Config(3, 15, 2))
    Ingest.run(spark, turns, dir)
    val triples = new graft.tables.SnapshotLog(spark, dir).read("triples").get
      .filter($"group_id" === "default")
    val plan = triples.queryExecution.executedPlan.toString
    // partition column filter shows as PartitionFilters on the scan
    assert(plan.contains("PartitionFilters") && plan.contains("group_id"), plan)
  }

  test("index-served global search reads only the probed cells (partition pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-prune").toString
    val vecs = (0L until 64L).map(i =>
      (i, Seq.tabulate(8)(d => math.sin(i / 16 * 17 + d)))).toDF("vec_id", "embedding")
    val (cents, assigned) = graft.ops.Similarity.buildIvfIndex(vecs, nCentroids = 4)
    val log = new graft.tables.SnapshotLog(spark, dir)
    log.commit("ann_centroids", cents)
    log.commit("ann_assignments", assigned, partitionBy = Seq("cell"))
    val served = graft.query.Retriever.globalSearchIndexed(
      log.read("ann_centroids").get, log.read("ann_assignments").get,
      "anything", nprobe = 2, idCol = "vec_id")
    val plan = served.queryExecution.executedPlan.toString
    // the cell IN (...) filter must land as a PartitionFilter on the
    // assignments scan — the probe reads nprobe partitions, not the table
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    assert(!plan.toLowerCase.contains("partitionfilters: []"), plan)
  }

  test("fact-resolution join is a broadcast hash join, and no cartesian product in the pipeline") {
    val turns = TranscriptGen.transcripts(spark, TranscriptGen.Config(4, 20, 2))
    val triples = Ingest.runInMemory(spark, turns).triples
    val plan = triples.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "resolution lookups must broadcast:\n" + plan)
    assert(!plan.contains("CartesianProduct"), "no cartesian in the pipeline plan:\n" + plan)
  }

  test("entity-link join: Catalyst broadcasts the committed entity table at fixture size, " +
      "sort-merges it when broadcasts are off, and both give the same links") {
    val dir = java.nio.file.Files.createTempDirectory("graft-link-plan").toString
    val fixture = TranscriptGen.Config(4, 20, 2)
    Ingest.run(spark, TranscriptGen.transcripts(spark, fixture), dir)
    val log = new graft.tables.SnapshotLog(spark, dir)
    // fresh conversations: same generator, other seed, prefixed conv ids
    val batch = TranscriptGen.transcripts(spark, fixture.copy(seed = 1042L))
      .withColumn("conv_id", concat(lit("inc-"), $"conv_id")).as[graft.model.Turn]
    val incoming = Ingest.runInMemory(spark, batch).entities
    // (join operator on the block key, link rows)
    def link(): (Seq[String], Seq[org.apache.spark.sql.Row]) = {
      val linked = graft.link.EntityLinker.link(spark, incoming, log.read("entities").get)
      val joins = "(\\w+Join) \\[block_key".r
        .findAllMatchIn(linked.queryExecution.executedPlan.toString).map(_.group(1)).toSeq
      (joins, linked.orderBy($"entity_uuid").collect().toSeq)
    }
    def check(state: String): Unit = {
      val (joins, rows) = link()
      assert(joins === Seq("BroadcastHashJoin"), state)
      val (forcedJoins, forcedRows) =
        withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(link())
      assert(forcedJoins === Seq("SortMergeJoin"), state)
      assert(rows.nonEmpty && forcedRows === rows, state)
    }
    check("fresh warehouse")
    // one increment upserts the entity table: its read is then merge-on-read
    Ingest.runIncremental(spark, batch, dir)
    check("after one increment")
  }

  test("chunker windows are all salted: no turn-ordered window partitioned by bare conv_id") {
    val turns = TranscriptGen.transcripts(spark, TranscriptGen.Config(4, 30, 2))
    val plan = graft.chunk.TurnChunker.chunk(spark, turns)
      .queryExecution.executedPlan.toString
    // a turn-ordered window keyed by conv_id alone would put one pathological
    // conversation in one task — the exact skew-killer the salting removes
    val unsalted = "windowspecdefinition\\(conv_id#\\d+, turn_idx#\\d+ ASC".r
    assert(unsalted.findFirstIn(plan).isEmpty,
      "found a window over bare conv_id ordered by turn_idx:\n" + plan)
    assert(plan.contains("windowspecdefinition(conv_id"), plan) // sanity: windows exist
  }

  test("sortedInput chunker never exchanges the turn stream (only the tiny stats reconcile)") {
    val turns = TranscriptGen.transcripts(spark, TranscriptGen.Config(4, 30, 2))
    val chunks = graft.chunk.TurnChunker.chunk(spark, turns,
      graft.chunk.TurnChunker.Config(sortedInput = true))
    // the sorted path surfaces as a plain RDD scan (scan -> mapPartitions ->
    // zip); the only shuffles live in the TINY stats/enrich lineage — assert
    // the SQL plan carries none, and the RDD lineage shuffles are bounded to
    // the reconciliation (stats agg + conv window + partition routing)
    val exchanges = chunks.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"sorted path must not shuffle the turn stream")
    val shuffles = chunks.rdd.toDebugString.linesIterator.count(_.contains("ShuffledRDD"))
    assert(shuffles <= 3, s"only the tiny reconciliation may shuffle (saw $shuffles)")
    assert(chunks.count() > 0)
  }

  test("IVF plan has no single-partition exchange (centroid pick must not globally sort)") {
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d)).toSeq))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val df = graft.ops.Similarity.ivfTopK(vecs, queries, k = 3, nCentroids = 4, nprobe = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "IVF must not funnel the corpus through one partition:\n" + plan)
    assert(df.count() > 0)
  }

  test("similarity top-k: rank-limit pushdown prunes per partition before the per-query exchange") {
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d)).toSeq))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    for ((name, df) <- Seq(
        "brute" -> graft.ops.Similarity.bruteForceTopK(vecs, queries, k = 3),
        "quantized" -> graft.ops.Similarity.quantizedTopK(vecs, queries, k = 3),
        "ivf" -> graft.ops.Similarity.ivfTopK(vecs, queries, k = 3,
          nCentroids = 4, nprobe = 2))) {
      val plan = df.queryExecution.executedPlan.toString
      // the row_number ≤ k filter must trigger InferWindowGroupLimit with a
      // PARTIAL (map-side) group limit below the per-query exchange: each
      // input partition then ships only its own top-k rows per query, so the
      // rank exchange never funnels a query's whole candidate set — at
      // corpus scale the alternative is a single-task sort of the corpus
      // per query. If this assertion ever breaks (a Spark regression or a
      // rewrite that loses the rank+filter idiom), restore the pushdown or
      // add an explicit (qid, spark_partition_id) pre-rank phase.
      assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
        s"$name: missing partial rank-limit pushdown below the rank window:\n$plan")
    }
  }

  test("researchBatch plan: scoped/topic paths are broadcast equi-joins, no cartesian product") {
    val r = Ingest.runInMemory(spark,
      TranscriptGen.transcripts(spark, TranscriptGen.Config(3, 15, 2)))
    val facts = graft.query.Retriever.withFactEmbeddings(r.triples)
    val questions = Seq((1L, "what happened", Seq("Spark"), Seq.empty[String], false))
      .toDF("query_id", "question", "entity_hints", "topic_hints", "enumeration")
    val plan = graft.query.Researcher.researchBatch(facts, r.entities, questions)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "no cartesian product allowed")
    assert(plan.contains("BroadcastHashJoin"), "query-side tables must broadcast")
  }

  test("extractFused plan: one narrow pass, no exchange/sort of the turn stream") {
    val turns = TranscriptGen.transcripts(spark, TranscriptGen.Config(3, 15, 2))
    val plan = graft.extract.TripleExtractor.extractFused(spark, turns)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fused extraction must not shuffle:\n$plan")
    assert(!plan.contains("Sort "), s"fused extraction must not sort:\n$plan")
  }

  test("topic resolution: exact path is a broadcast HASH join, scored path has no interpreted UDF") {
    val names = Seq(("acquisitions", "default"), ("zzqx unknown blob", "default"))
      .toDF("name", "group_id")
    val df = graft.link.TopicResolver.resolve(spark, names, TranscriptGen.ontology)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "exact term-key match must plan as a broadcast hash join")
    // the similarity side may nested-loop over the bounded broadcast term
    // list, but its score must be the codegen expression, not a per-pair
    // interpreted Scala UDF (the join condition would show ...UDF...)
    val joinLines = plan.linesIterator.filter(l =>
      l.contains("NestedLoopJoin") || l.contains("BroadcastHashJoin")).toSeq
    assert(!joinLines.exists(_.contains("UDF")),
      s"no interpreted UDF in join conditions:\n${joinLines.mkString("\n")}")
    assert(plan.contains("dot_product") || plan.contains("DotProduct") ||
      !plan.contains("NestedLoopJoin"), "scored path uses the codegen dot product")
  }

  test("q1-style agg runs partial aggregation (map-side combine)") {
    val df = SparkEntry.queries("q1_agg")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // two HashAggregate levels = partial + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("graph analytics: equi-joins only — no cartesian product, no nested loop") {
    // the wedge joins (triangles, link prediction) and the PageRank
    // contribution join must all hash-join on the vertex key; a cartesian
    // or nested-loop join here would be the 10^12-edge scale-killer
    val edges = (0L until 40L).map(i => (i, (i * 7 + 3) % 40)).toDF("src", "dst")
    for ((name, df) <- Seq(
        "triangles" -> graft.query.GraphAlgos.triangles(edges),
        "linkPrediction" -> graft.query.GraphAlgos.linkPrediction(edges),
        "pageRank" -> graft.query.GraphAlgos.pageRank(edges, iters = 1))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      // pageRank's 1-row dangling-mass broadcast is a legitimate
      // BroadcastNestedLoopJoin (no join key exists on a scalar); every
      // other nested loop is a defect
      if (name != "pageRank")
        assert(!plan.contains("NestedLoopJoin"), s"$name:\n$plan")
    }
  }

  test("substring dedup: window-frequency agg is partial (map-side combine), no cartesian") {
    val docs = (0L until 30L).map(i => (i, s"prefix$i shared passage body $i")).toDF("doc_id", "text")
    for ((name, df) <- Seq(
        "duplicateSpans" -> graft.ops.Dedup.duplicateSpans(docs, window = 8),
        "dropDuplicateSpans" -> graft.ops.Dedup.dropDuplicateSpans(docs, window = 8),
        "winnowFingerprints" -> graft.ops.Dedup.winnowFingerprints(docs, k = 5, w = 4))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
        s"$name:\n$plan")
      // the O(corpus-chars) frequency/distinct aggregation must combine
      // map-side — shuffling every raw window row would move corpus-sized
      // bytes twice
      assert("HashAggregate".r.findAllIn(plan).size >= 2, s"$name:\n$plan")
    }
    // winnowing's per-doc rolling min must be ONE window pass: a single
    // sort-based exchange on doc_id, no repeated shuffles of the k-gram rows
    val wf = graft.ops.Dedup.winnowFingerprints(docs, k = 5, w = 4)
    val exchanges = wf.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 2, // doc_id window + final distinct
      s"winnowFingerprints shuffles:\n${exchanges.mkString("\n")}")
  }

  test("quality classifier: weight/model joins broadcast, per-doc sums combine map-side") {
    val docs = (0L until 40L).map(i => (i, s"token$i shared words here $i")).toDF("doc_id", "text")
    val pos = docs.filter($"doc_id" % 2 === 0)
    val neg = docs.filter($"doc_id" % 2 === 1)
    val plan = graft.ops.QualityClassifier.scores(docs, pos, neg)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the ≤buckets-row weight table must reach the feature stream as a
    // broadcast hash join — a shuffle join here re-partitions the corpus
    assert(plan.contains("BroadcastHashJoin"), plan)
    // feature histograms + per-doc sums combine map-side
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
  }

  test("weightedSample is a TakeOrdered top-k, never a global sort") {
    val docs = (0L until 100L).map(i => (i, i % 9 + 1)).toDF("doc_id", "w")
    val plan = graft.ops.Sampling.weightedSample(docs, k = 10, weightCol = "w")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("ShuffleExchange"), s"key+limit must stay narrow:\n$plan")
  }

  test("modularity: labeled-adjacency joins are hash joins; 2m rides as a 1-row broadcast") {
    val edges = (0L until 40L).map(i => (i, (i * 7 + 3) % 40)).toDF("src", "dst")
    val comms = (0L until 40L).map(i => (i, i % 4)).toDF("id", "label")
    val plan = graft.query.GraphAlgos.modularity(edges, comms)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly one nested-loop is legitimate: the 1-row m2 broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1, plan)
  }

  test("event analytics + quota + truss: user/edge-keyed hash plans, no cartesian, no global collapse") {
    def ts(h: Long) = new java.sql.Timestamp(h * 3600000L)
    val events = (0L until 60L).map(i =>
      (i % 12, ts(i), Seq("signup", "view", "purchase")(i.toInt % 3)))
      .toDF("user_id", "ts", "event_type")
    for ((name, df) <- Seq(
        "funnel" -> graft.ops.EventAnalytics.funnel(events,
          Seq("signup", "view", "purchase"), "INTERVAL 72 HOURS"),
        "cohort" -> graft.ops.EventAnalytics.cohortRetention(events),
        "edgeSupport" -> graft.query.GraphAlgos.edgeSupport(
          (0L until 40L).map(i => (i, (i * 7 + 3) % 40)).toDF("src", "dst")))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
        s"$name:\n$plan")
    }
    // quotaSample's two-phase windows are keyed (stratum, pid) then stratum:
    // no empty-partitionBy window = no single-partition exchange
    val qPlan = graft.ops.Sampling.quotaSample(
        (0L until 100L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "source"),
        k = 5, "source", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!qPlan.contains("SinglePartition"), qPlan)
  }

  test("centrality iterations: betweenness/closeness/hyperBall hash-join on vertex keys only") {
    val edges = (0L until 30L).map(i => (i, (i * 11 + 5) % 30)).toDF("src", "dst")
    for ((name, df) <- Seq(
        "betweenness" -> graft.query.GraphAlgos.betweenness(edges, maxDepth = 3),
        "closeness" -> graft.query.GraphAlgos.closeness(edges, maxDepth = 3),
        "hyperBall" -> graft.query.GraphAlgos.hyperBall(edges, maxDepth = 3, p = 4))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
        s"$name:\n$plan")
    }
  }

  test("bench queries carry no cosmetic trailing global sort (round-6 §6: " +
      "a range exchange is a boundary-sampling job + shuffle+sort round of " +
      "pure fixed cost; membership is fixed upstream, driver compare is " +
      "row-sorted)") {
    // every rangepartitioning left in these plans must feed a limit/top-k
    // (none do today — the queries end in agg/filter/project); rrf_fusion's
    // limit-feeding TakeOrderedAndProject is NOT a rangepartitioning node
    for (name <- Seq("q1_agg", "kg_chunk_window", "kg_min_length_filter",
        "kg_connected_components", "dedup_token_jaccard",
        "dedup_minhash_pairs", "dedup_simhash_pairs", "ann_topk",
        "text_stats", "text_langid", "rrf_fusion", "q_window_topk")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("rangepartitioning"),
        s"$name regained a global sort:\n$plan")
    }
  }
}
