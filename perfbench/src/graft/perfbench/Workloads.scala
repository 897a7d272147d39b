package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.assemble.TripleAssembler
import graft.canon.EntityDedup
import graft.chunk.TurnChunker
import graft.extract.TripleExtractor
import graft.link.{EntityLinker, TopicResolver}
import graft.model.{Mention, Turn}
import graft.pipeline.Ingest
import graft.query.{GraphLookup, Researcher, Retriever}
import graft.synth.TranscriptGen
import graft.tables.{Checkpoints, SnapshotLog}

/** The two workloads. Each run sets up once, then runs closed-loop cycles
  * with one client until `seconds` of measured op time have passed (at
  * least one cycle). A cycle is one ingest batch, on `incremental_mixed`
  * followed by queries. Output checks run outside the timed ops.
  */
object Workloads {

  private val Cfg = Ingest.Config()

  // ---- bulk_ingest ---------------------------------------------------------

  /** Whole-corpus in-memory passes (`Ingest.runInMemory`, default config, so
    * the fused extractor runs and the chunker is bypassed) over a sorted
    * parquet corpus, triples to a noop sink. Set-up writes the corpus and
    * runs the first, JIT-cold pass, whose triples are kept for the golden
    * P/R check. Every later pass must produce as many triples as that one.
    */
  def bulkIngest(ctx: Ctx): Report = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val s = ctx.scale
    val genCfg = TranscriptGen.Config(numConvs = s.bulkConvs, turnsPerConv = s.bulkTurnsPerConv,
      skew = s.bulkSkew, seed = ctx.seed)
    val corpusDir = ctx.work.resolve("corpus").toString
    val nTurns = genCfg.totalTurns

    val notes = ArrayBuffer.empty[String]
    val ((turns, firstPassKeys, firstPassTriples), setupS) = Stats.timed {
      // the storage-ordered layout a standing transcript store keeps
      val (_, genS) = Stats.timed(TranscriptGen.transcripts(spark, genCfg)
        .repartition(8, $"conv_id").sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite").parquet(corpusDir))
      val t = spark.read.parquet(corpusDir).as[Turn]
      val ((keys, n), passS) = Stats.timed {
        val obs = Observation()
        val k = keysOf(Ingest.runInMemory(spark, t, Cfg).triples.toDF()
          .observe(obs, count(lit(1)).as("n")), full = true)
        spark.catalog.clearCache()
        (k, obs.get("n").asInstanceOf[Long])
      }
      notes += f"set-up: corpus $genS%.2f s, first pass $passS%.2f s, $n triples"
      (t, keys, n)
    }

    // triples produced by each measured pass
    val passTriples = ArrayBuffer.empty[Long]
    val layerMetrics = if (!ctx.traced) {
      measureWindow(ctx) { _ =>
        val (n, secs) = ctx.op(noopPass(spark, turns))
        ctx.rec.batchSecs += secs
        ctx.rec.batchTurns += nTurns
        passTriples += n
      }
      Nil
    } else {
      val tracer = ctx.startTracing()
      val probe = tracedPass(ctx, turns, nTurns, "pass-1")
      tracer.stop()
      ctx.rec.batchSecs += probe.secs
      ctx.rec.batchTurns += nTurns
      passTriples += probe.triples
      // untraced reference for trace_overhead_frac, on the same input
      val (_, untracedS) = Stats.timed(noopPass(spark, turns))
      notes += f"traced pass ${probe.secs}%.3f s, untraced pass $untracedS%.3f s"
      layerReport(ctx, tracer, probe, untracedS, None)
    }

    val pr = precisionRecall(firstPassKeys,
      keysOf(TranscriptGen.goldenTriples(spark, genCfg).toDF(), full = true))
    notes += f"golden P=${pr._1}%.4f R=${pr._2}%.4f"
    val prOk = pr._1 >= 0.95 && pr._2 >= 0.95
    passTriples.zipWithIndex.foreach { case (n, i) =>
      ctx.rec.outcome(prOk && n == firstPassTriples,
        f"pass ${i + 1}: $n triples (set-up pass $firstPassTriples), golden P/R ${pr._1}%.4f/${pr._2}%.4f")
    }
    finish(ctx, setupS, layerMetrics, notes.toSeq)
  }

  /** One untraced pass to the noop sink; returns the triples it produced. */
  private def noopPass(spark: SparkSession, turns: Dataset[Turn]): Long = {
    val obs = Observation()
    Ingest.runInMemory(spark, turns, Cfg).triples.toDF()
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()
    obs.get("n").asInstanceOf[Long]
  }

  /** What a traced pass learns beyond its spans; `secs` is the wall time
    * of its pipeline span.
    */
  final case class Probe(secs: Double, turns: Long, rawTriples: Long, triples: Long,
      pendingEntities: Long, candidateEdges: Long, entities: Long, linkedEntities: Long,
      linkedMatched: Long, bytesWritten: Long)

  /** `runInMemory`'s fused route, one span per call, each call's output
    * materialized before the next starts.
    */
  private def tracedPass(ctx: Ctx, turns: Dataset[Turn], turnsCount: Long, trace: String): Probe = {
    val spark = ctx.spark
    import spark.implicits._
    val cfg = Cfg
    val t = ctx.tracer.get
    val ((raw, mentions, nEntities, nTriples), secs) = Stats.timed(
        t.span("pipeline", "Ingest.runInMemory", trace) {
      val raw = t.span("extract", "TripleExtractor.extractFused", trace) {
        val r = TripleExtractor.extractFused(spark, turns, cfg.chunker.minChars, cfg.chunker.groupId)
          .persist(StorageLevel.MEMORY_AND_DISK)
        t.rows(r.count())
        r
      }
      val mentions = t.span("extract", "TripleExtractor.mentions", trace) {
        val m = TripleExtractor.mentions(spark, raw).persist(StorageLevel.MEMORY_AND_DISK)
        t.rows(m.count())
        m
      }
      val (entities, remap) = t.span("canon", "EntityDedup.dedup", trace) {
        val (e, r) = EntityDedup.dedup(spark, mentions, cfg.dedup)
        val Seq(e1, r1) = Checkpoints.truncateAll(e.toDF(), r)
        (e1, r1)
      }
      val nEntities = t.countRowsOfLast(trace)(entities.count())
      val topics = t.span("link", "TopicResolver.resolve", trace) {
        val names = raw.toDF().select(explode(concat($"topics",
            when(lower($"subject_type") === "topic", array($"subject")).otherwise(array()),
            when(lower($"object_type") === "topic", array($"object")).otherwise(array())))
            .as("name"), $"group_id")
          .distinct()
        Checkpoints.truncate(TopicResolver.resolve(spark, names, cfg.ontology, cfg.topics))
      }
      t.countRowsOfLast(trace)(topics.count())
      val nTriples = t.span("assemble", "TripleAssembler.assemble", trace) {
        val obs = Observation("assembled")
        TripleAssembler.assemble(spark, raw, remap, topics, cfg.assembler).toDF()
          .observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").format("noop").save()
        obs.get("n").asInstanceOf[Long].tap(t.rows)
      }
      (raw, mentions, nEntities, nTriples)
    })
    val (pending, edges) = canonCounts(spark, mentions, cfg.dedup)
    val probe = Probe(secs, turnsCount, raw.count(), nTriples, pending, edges, nEntities,
      0L, 0L, 0L)
    spark.catalog.clearCache()
    probe
  }

  // ---- incremental_mixed ---------------------------------------------------

  /** A base warehouse committed in set-up, then `Ingest.runIncremental`
    * batches of fresh conversations (per-batch conv_id prefix), each
    * followed by queries on that batch's new facts and entities.
    */
  def incrementalMixed(ctx: Ctx): Report = {
    val spark = ctx.spark
    val s = ctx.scale
    val wh = ctx.work.resolve("warehouse").toString
    val baseCfg = TranscriptGen.Config(numConvs = s.baseConvs, turnsPerConv = s.incTurnsPerConv,
      skew = 8, seed = ctx.seed)
    val (_, setupS) = Stats.timed(Ingest.run(spark, TranscriptGen.transcripts(spark, baseCfg), wh, Cfg))
    val log = new SnapshotLog(spark, wh)
    var committedTurns = baseCfg.totalTurns
    val notes = ArrayBuffer.empty[String]

    def batch(k: Int): (TranscriptGen.Config, String, Dataset[Turn]) = {
      val cfg = TranscriptGen.Config(numConvs = s.batchConvs, turnsPerConv = s.incTurnsPerConv,
        skew = 1, seed = ctx.seed * 1000 + k)
      val prefix = s"b$k-"
      (cfg, prefix, prefixed(spark, TranscriptGen.transcripts(spark, cfg), prefix))
    }

    def cycle(k: Int, traced: Boolean): (Double, Option[Probe]) = {
      val (cfg, prefix, turns) = batch(k)
      val known = entityUuids(log)
      val (probe, secs) =
        if (traced) {
          val p = tracedIncrement(ctx, turns, cfg.totalTurns, wh, s"batch-$k")
          (Some(p), p.secs)
        } else ctx.op { Ingest.runIncremental(spark, turns, wh, Cfg); None }
      spark.catalog.clearCache()
      committedTurns += cfg.totalTurns
      ctx.rec.batchSecs += secs
      ctx.rec.batchTurns += cfg.totalTurns
      ctx.rec.outcome(checkBatch(spark, log, cfg, prefix, turns, notes), s"batch $k checks")
      val pool = QueryPool(log, prefix, known, ctx.seed * 1000 + k)
      notes += s"${prefix}lookup subjects: ${pool.lookups.size} new entities"
      runQueries(ctx, log, pool, k)
      (secs, probe)
    }

    val layerMetrics = if (!ctx.traced) {
      measureWindow(ctx)(k => cycle(k, traced = false))
      Nil
    } else {
      val tracer = ctx.startTracing()
      val (tracedS, probe) = cycle(1, traced = true)
      tracer.stop()
      // untraced reference batch for trace_overhead_frac: the same size,
      // after the traced one, unchecked
      val (cfg2, _, turns2) = batch(2)
      val (_, untracedS) = Stats.timed(Ingest.runIncremental(spark, turns2, wh, Cfg))
      spark.catalog.clearCache()
      committedTurns += cfg2.totalTurns
      notes += f"traced batch $tracedS%.3f s, untraced batch $untracedS%.3f s"
      layerReport(ctx, tracer, probe.get, untracedS,
        Some((log, dirBytes(Path.of(wh)).toDouble / committedTurns)))
    }
    finish(ctx, setupS, layerMetrics, notes.toSeq)
  }

  private def entityUuids(log: SnapshotLog): Set[String] =
    log.read("entities").get.select("entity_uuid").collect().map(_.getString(0)).toSet

  private def prefixed(spark: SparkSession, turns: Dataset[Turn], prefix: String): Dataset[Turn] = {
    import spark.implicits._
    turns.withColumn("conv_id", concat(lit(prefix), $"conv_id")).as[Turn]
  }

  /** `Ingest.runIncremental`, one span per call, each call's output
    * materialized before the next starts; the three table writes share one
    * `tables` span.
    */
  private def tracedIncrement(ctx: Ctx, turns: Dataset[Turn], turnsCount: Long, wh: String,
      trace: String): Probe = {
    val spark = ctx.spark
    import spark.implicits._
    val cfg = Cfg
    val t = ctx.tracer.get
    val log = new SnapshotLog(spark, wh)
    val bytesBefore = dirBytes(Path.of(wh))
    val ((raw, mentions, nTriples, nEntities, nLinked, nMatched), secs) = Stats.timed(
        t.span("pipeline", "Ingest.runIncremental", trace) {
      val existing = log.read("entities").get
      val (chunks, nChunks) = t.span("chunk", "TurnChunker.chunk", trace) {
        val c = TurnChunker.chunk(spark, turns, cfg.chunker).persist(StorageLevel.MEMORY_AND_DISK)
        (c, c.count().tap(t.rows))
      }
      val raw = t.span("extract", "TripleExtractor.extract", trace) {
        val r = TripleExtractor.extract(spark, chunks).persist(StorageLevel.MEMORY_AND_DISK)
        t.rows(r.count())
        r
      }
      val mentions = t.span("extract", "TripleExtractor.mentions", trace) {
        val m = TripleExtractor.mentions(spark, raw).persist(StorageLevel.MEMORY_AND_DISK)
        t.rows(m.count())
        m
      }
      val (newEntities, remap) = t.span("canon", "EntityDedup.dedup", trace) {
        val (e, r) = EntityDedup.dedup(spark, mentions, cfg.dedup)
        val Seq(e1, r1) = Checkpoints.truncateAll(e.toDF(), r)
        (e1, r1)
      }
      val nEntities = t.countRowsOfLast(trace)(newEntities.count())
      val (linked, finalRemap) = t.span("link", "EntityLinker.link", trace) {
        val l = Checkpoints.truncate(EntityLinker.link(spark, newEntities, existing, cfg.linker))
        val fr = remap
          .join(l.select($"entity_uuid".as("canonical_uuid"), $"resolved_uuid", $"resolved_name"),
            Seq("canonical_uuid"))
          .select($"entity_uuid", $"resolved_uuid".as("canonical_uuid"),
            $"resolved_name".as("canonical_name"), $"name")
        (l, Checkpoints.truncate(fr))
      }
      val nLinked = t.countRowsOfLast(trace)(linked.count())
      val nMatched = t.span(Tracer.Bench, "count", trace)(linked.filter(!$"is_new").count())
      val topics = t.span("link", "TopicResolver.resolve", trace) {
        val names = raw.toDF().select(explode($"topics").as("name"), $"group_id").distinct()
        Checkpoints.truncate(TopicResolver.resolve(spark, names, cfg.ontology, cfg.topics))
      }
      t.countRowsOfLast(trace)(topics.count())
      val (triples, nTriples) = t.span("assemble", "TripleAssembler.assemble", trace) {
        val tr = TripleAssembler.assemble(spark, raw, finalRemap, topics, cfg.assembler).toDF()
          .persist(StorageLevel.MEMORY_AND_DISK)
        (tr, tr.count().tap(t.rows))
      }
      val entityRows = t.span("link", "Ingest.foldLinkedEntities", trace) {
        Checkpoints.truncate(Ingest.foldLinkedEntities(spark, linked, existing.columns))
      }
      val nEntityRows = t.countRowsOfLast(trace)(entityRows.count())
      t.span("tables", "SnapshotLog.merge", trace) {
        log.mergeUpsert("entities", entityRows, Seq("entity_uuid"), Seq("group_id"))
        log.mergeAppend("triples", triples, Seq("fact_uuid"), Seq("group_id"),
          auxBloomKeys = Ingest.TripleLookupBlooms)
        log.mergeAppend("chunks", chunks.toDF(), Seq("chunk_uuid"), Seq("group_id"))
        t.rows(nEntityRows + nTriples + nChunks)
      }
      (raw, mentions, nTriples, nEntities, nLinked, nMatched)
    })
    val bytesWritten = dirBytes(Path.of(wh)) - bytesBefore
    val (pending, edges) = canonCounts(spark, mentions, cfg.dedup)
    Probe(secs, turnsCount, raw.count(), nTriples, pending, edges, nEntities, nLinked, nMatched,
      bytesWritten)
  }

  /** Batch checks, outside the timed op: the committed triple count equals
    * an in-memory run of the same batch; (conv_id, predicate, date_context)
    * P/R >= 0.95 against the golden triples; the new triples snapshot's
    * lineage verifies.
    */
  private def checkBatch(spark: SparkSession, log: SnapshotLog, cfg: TranscriptGen.Config,
      prefix: String, turns: Dataset[Turn], notes: ArrayBuffer[String]): Boolean = {
    import spark.implicits._
    val committed = log.read("triples").get.filter($"conv_id".startsWith(prefix))
    val nCommitted = committed.count()
    val nInMemory = Ingest.runInMemory(spark, turns, Cfg).triples.count()
    spark.catalog.clearCache()
    val pr = precisionRecall(keysOf(committed, full = false),
      keysOf(TranscriptGen.goldenTriples(spark, cfg).toDF()
        .withColumn("conv_id", concat(lit(prefix), $"conv_id")), full = false))
    val lineage = log.latestSnapshot("triples").exists(id => log.verifyLineage("triples", id))
    notes += f"$prefix committed=$nCommitted in-memory=$nInMemory P=${pr._1}%.4f R=${pr._2}%.4f lineage=$lineage"
    nCommitted == nInMemory && pr._1 >= 0.95 && pr._2 >= 0.95 && lineage
  }

  // ---- queries ---------------------------------------------------------------

  /** What to ask about one batch. `facts` are the batch's committed facts;
    * `lookups` are the (name, uuid) of subjects that are new entities of the
    * batch, so a bloom-pruned lookup of one can skip the older segments.
    * Both come from a uuid-ordered sample and are picked with a seeded skew
    * toward its front, so some questions repeat.
    */
  final case class QueryPool(facts: IndexedSeq[String], lookups: IndexedSeq[(String, String)],
      seed: Long) {
    private val rng = new scala.util.Random(seed)
    private def pick[A](xs: IndexedSeq[A]): A = {
      val u = rng.nextDouble()
      xs((u * u * xs.size).toInt)
    }
    def nextFact(): String = pick(facts)
    def nextLookup(): (String, String) = pick(lookups)
  }

  object QueryPool {
    /** `known`: the entity uuids committed before the batch. */
    def apply(log: SnapshotLog, convPrefix: String, known: Set[String], seed: Long): QueryPool = {
      val rows = log.read("triples").get.filter(col("conv_id").startsWith(convPrefix))
        .select("fact", "subject", "subject_uuid", "fact_uuid")
        .orderBy("fact_uuid").limit(400).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toIndexedSeq
      val lookups = rows.collect { case (_, name, uuid) if !known(uuid) => (name, uuid) }.distinct
      require(lookups.nonEmpty, s"no new entities among the subjects of batch $convPrefix")
      QueryPool(rows.map(_._1), lookups, seed)
    }
  }

  /** One research question, one search and one lookup with one client,
    * each timed on its own; the output check of each runs after its timer
    * stops.
    */
  private def runQueries(ctx: Ctx, log: SnapshotLog, pool: QueryPool, cycle: Int): Unit = {
    locally {
      val fact = pool.nextFact()
      val (out, secs) = ctx.op(ctx.span("query", "Researcher.researchQuestion", s"c$cycle-research") {
        val facts = Retriever.withFactEmbeddings(log.read("triples").get)
        val rows = Researcher.researchQuestion(facts, log.read("entities").get, fact,
          TranscriptGen.ontology).select("fact", "final_score", "fact_uuid").collect()
        ctx.rows(rows.length)
        rows
      })
      ctx.rec.queryMs("research") += secs * 1e3
      val top = out.sortBy(r => (-r.getDouble(1), r.getString(2))).headOption.map(_.getString(0))
      ctx.rec.outcome(top.contains(fact), s"research '$fact' returned ${top.getOrElse("nothing")} first")
    }
    locally {
      val fact = pool.nextFact()
      val tr = s"c$cycle-search"
      val (out, secs) = ctx.op {
        val anchors = ctx.span("query", "Retriever.resolveQueryEntities", tr) {
          Retriever.resolveQueryEntities(log.read("entities").get, fact)
        }
        ctx.span("query", "Retriever.search", tr) {
          val triples = log.read("triples").get
          Retriever.search(Retriever.withFactEmbeddings(triples), fact, anchors, 15)
            .join(triples.select("fact_uuid", "fact"), Seq("fact_uuid"))
            .select("fact").collect().map(_.getString(0))
            .tap(rows => ctx.rows(rows.length))
        }
      }
      ctx.rec.queryMs("search") += secs * 1e3
      ctx.rec.outcome(out.contains(fact), s"search '$fact' did not return the fact")
    }
    locally {
      val (subject, subjectUuid) = pool.nextLookup()
      val tr = s"c$cycle-lookup"
      val (res, secs) = ctx.op {
        val uuids = ctx.span("query", "GraphLookup.resolveEntity", tr) {
          GraphLookup.resolveEntity(log.read("entities").get, subject).collect().map(_.getString(0))
        }
        uuids.find(_ == subjectUuid).orElse(uuids.headOption).map { uuid =>
          val incident = ctx.span("tables", "SnapshotLog.readForAnyKeys", tr) {
            log.readForAnyKeys("triples", Seq(Seq("subject_uuid") -> Seq(Seq(uuid)),
              Seq("object_uuid") -> Seq(Seq(uuid)))).get
          }
          val scan = log.lastLookupScan
          val nbrs = ctx.span("query", "GraphLookup.exploreNeighbors", tr) {
            GraphLookup.exploreNeighbors(incident, uuid).collect().toSeq
              .tap(rows => ctx.rows(rows.length))
          }
          (uuid, nbrs, scan)
        }
      }
      ctx.rec.queryMs("lookup") += secs * 1e3
      res.flatMap(_._3).foreach { case (opened, live) => ctx.lookupScans += ((opened, live)) }
      val ok = res.exists { case (uuid, nbrs, _) =>
        val full = GraphLookup.exploreNeighbors(log.read("triples").get, uuid).collect().toSeq
        nbrs.nonEmpty && nbrs.sortBy(_.toString) == full.sortBy(_.toString)
      }
      ctx.rec.outcome(ok, s"lookup '$subject' ($subjectUuid): bloom-pruned neighbours differ from a full scan")
    }
  }

  // ---- shared ----------------------------------------------------------------

  /** Runs cycles until `seconds` of op time (ingest plus queries) have been
    * measured; checks between cycles do not count.
    */
  private def measureWindow(ctx: Ctx)(cycle: Int => Any): Unit = {
    var k = 0
    def opSecs = ctx.rec.batchSecs.sum + ctx.rec.queryMs.values.flatten.sum / 1e3
    while (k == 0 || opSecs < ctx.seconds) {
      k += 1
      cycle(k)
    }
  }

  private def canonCounts(spark: SparkSession, mentions: Dataset[Mention],
      cfg: EntityDedup.Config): (Long, Long) = {
    val pending = EntityDedup.pendingEntities(spark, mentions, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    val n = pending.count()
    val edges = EntityDedup.candidateEdges(spark, pending, cfg).count()
    pending.unpersist()
    (n, edges)
  }

  /** (conv_id, subject, predicate, object, date) keys, or (conv_id,
    * predicate, date) when `full` is false: linking renames entities by
    * design, so incremental batches are checked on the name-free key.
    */
  private def keysOf(df: DataFrame, full: Boolean): Set[Seq[String]] = {
    val cols =
      if (full) Seq(col("conv_id"), lower(col("subject")), col("predicate"), lower(col("object")),
        coalesce(col("date_context"), lit("")))
      else Seq(col("conv_id"), col("predicate"), coalesce(col("date_context"), lit("")))
    df.select(cols: _*).distinct().collect().map(r => r.toSeq.map(v => String.valueOf(v))).toSet
  }

  private def precisionRecall(got: Set[Seq[String]], expected: Set[Seq[String]]): (Double, Double) = {
    val tp = (got intersect expected).size.toDouble
    (if (got.isEmpty) 0.0 else tp / got.size, if (expected.isEmpty) 0.0 else tp / expected.size)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def finish(ctx: Ctx, setupS: Double, layerMetrics: Seq[Metric],
      notes: Seq[String]): Report = {
    val r = ctx.rec
    val metrics =
      if (ctx.traced) layerMetrics
      else Seq(
        Metric("setup_s", setupS, "s"),
        Metric("ingest_turns_per_s",
          Stats.median(r.batchTurns.zip(r.batchSecs).map { case (n, s) => n / s }.toSeq), "turns/s"),
        Metric("batch_commit_s_p50", Stats.median(r.batchSecs.toSeq), "s"),
        Metric("cache_peak_mb", ctx.cache.peakBytes / 1e6, "MB"),
        Metric("ops_ok_ratio", (r.attempted - r.failed).toDouble / r.attempted, "ratio"))
    val sampleNote = s"samples: batches=${r.batchSecs.size} " +
      r.queryMs.map { case (k, v) => s"$k=${v.size}" }.mkString(" ")
    Report(r.failed == 0, r.attempted, r.failed, metrics, notes :+ sampleNote)
  }

  /** Per-layer metrics of a traced run; `warehouse` is the committed
    * warehouse and its bytes per committed turn, when the workload has one.
    */
  private def layerReport(ctx: Ctx, tracer: Tracer, probe: Probe, untracedS: Double,
      warehouse: Option[(SnapshotLog, Double)]): Seq[Metric] = {
    val layers = tracer.layers()
    val perLayer = Tracer.Layers.flatMap { l =>
      val t = layers.getOrElse(l, new Tracer.LayerTotals)
      Seq(
        Metric(s"$l.self_s", t.selfS, "s"),
        Metric(s"$l.jobs", t.jobs, "count"),
        Metric(s"$l.tasks", t.tasks, "count"),
        Metric(s"$l.shuffle_write_mb", t.shuffleWriteBytes / 1e6, "MB"),
        Metric(s"$l.spill_mb", t.spillBytes / 1e6, "MB"),
        Metric(s"$l.driver_result_mb", t.resultBytes / 1e6, "MB"),
        Metric(s"$l.failed_tasks", t.failedTasks, "count"),
        Metric(s"$l.rows_out", t.rowsOut.toDouble, "rows"),
        Metric(s"$l.idle_core_frac", t.idleCoreFrac, "fraction"))
    }
    val nQueries = ctx.rec.queryMs.values.map(_.size).sum
    val scans = ctx.lookupScans
    val embedS = warehouse.fold(0.0) { case (log, _) =>
      Stats.timed(Retriever.withFactEmbeddings(log.read("triples").get)
        .write.mode("overwrite").format("noop").save())._2
    }
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def medianOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val q = ctx.rec.queryMs
    val all = q.values.flatten.toSeq
    perLayer ++ Seq(
      Metric("extract.triples_per_turn", ratio(probe.rawTriples, probe.turns), "triples/turn"),
      Metric("canon.edge_accept_ratio",
        ratio(probe.pendingEntities - probe.entities, probe.candidateEdges), "ratio"),
      Metric("canon.local_route",
        if (probe.pendingEntities <= Cfg.dedup.maxLocalPending) 1.0 else 0.0, "flag"),
      Metric("link.entities.matched_ratio", ratio(probe.linkedMatched, probe.linkedEntities), "ratio"),
      Metric("tables.lookup_scan_ratio", ratio(scans.map(_._1).sum, scans.map(_._2).sum), "ratio"),
      Metric("tables.segments", scans.lastOption.map(_._2.toDouble).getOrElse(0.0), "count"),
      Metric("tables.bytes_written_mb", probe.bytesWritten / 1e6, "MB"),
      Metric("query.jobs_per_query",
        ratio(layers.get("query").map(_.jobs.toDouble).getOrElse(0.0), nQueries), "jobs/query"),
      Metric("query.fact_embed_s", embedS, "s"),
      Metric("query.research_ms_p50", medianOr0(q("research").toSeq), "ms"),
      Metric("query.search_ms_p50", medianOr0(q("search").toSeq), "ms"),
      Metric("query.lookup_ms_p50", medianOr0(q("lookup").toSeq), "ms"),
      Metric("query.queries_per_s", ratio(all.size, all.sum / 1e3), "1/s"),
      Metric("tables.warehouse_bytes_per_turn", warehouse.fold(0.0)(_._2), "bytes/turn"),
      Metric("trace_overhead_frac", (probe.secs - untracedS) / untracedS, "fraction"))
  }
}
