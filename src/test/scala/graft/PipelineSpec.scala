package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.Ingest
import graft.synth.TranscriptGen
import graft.tables.SnapshotLog

/** Golden-triple E2E (SURVEY.md §5.2-3): seeded transcripts → full pipeline →
  * (subject, predicate, object, date) set vs the independently-derived golden
  * fixture; P/R ≥ 0.95 per BASELINE.json. Plus resume/lineage (north rule).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = TranscriptGen.Config(numConvs = 8, turnsPerConv = 30, skew = 4)

  private def key(df: org.apache.spark.sql.DataFrame) =
    df.select($"conv_id", lower($"subject").as("s"), $"predicate".as("p"),
      lower($"object").as("o"), coalesce($"date_context", lit("")).as("d"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toSet

  test("E2E: pipeline triples match golden fixture with P/R >= 0.95") {
    val turns = TranscriptGen.transcripts(spark, cfg)
    val result = Ingest.runInMemory(spark, turns)
    val got = key(result.triples)
    val expected = key(
      TranscriptGen.goldenTriples(spark, cfg).toDF()
        .withColumnRenamed("object", "object")) // golden has same column names
    assert(expected.nonEmpty && got.nonEmpty)
    val tp = (got intersect expected).size.toDouble
    val precision = tp / got.size
    val recall = tp / expected.size
    info(f"precision=$precision%.4f recall=$recall%.4f got=${got.size} expected=${expected.size}")
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95; sample miss: " +
      (got diff expected).take(3).mkString("; "))
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95; sample miss: " +
      (expected diff got).take(3).mkString("; "))
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering") {
    val a = TranscriptGen.transcripts(spark, cfg).orderBy($"conv_id", $"turn_idx")
      .collect()
    val b = TranscriptGen.transcripts(spark, cfg).repartition(17)
      .orderBy($"conv_id", $"turn_idx").collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) => assert(x === y) }
  }

  test("topics resolve to ontology labels (synonyms map to canonical)") {
    val turns = TranscriptGen.transcripts(spark, cfg)
    val result = Ingest.runInMemory(spark, turns)
    val labels = result.triples.select(explode($"topics").as("t")).distinct()
      .collect().map(_.getString(0)).toSet
    val valid = TranscriptGen.ontology.map(_.label).toSet
    assert(labels.nonEmpty)
    assert(labels.subsetOf(valid), s"unresolved topic labels: ${labels -- valid}")
  }

  test("snapshot commit / resume: second run reuses committed stages byte-identically") {
    val dir = Files.createTempDirectory("graft-wh").toString
    val small = TranscriptGen.Config(numConvs = 4, turnsPerConv = 20, skew = 2)
    val turns = TranscriptGen.transcripts(spark, small)
    val r1 = Ingest.run(spark, turns, dir)
    val t1 = r1.triples.orderBy($"fact_uuid").collect()
    // relaunch: all stages committed → must read back, not recompute
    val log = new SnapshotLog(spark, dir)
    val snapBefore = log.latestSnapshot("triples").get
    val r2 = Ingest.run(spark, turns, dir)
    val t2 = r2.triples.orderBy($"fact_uuid").collect()
    assert(log.latestSnapshot("triples").get === snapBefore, "resume must not re-commit")
    assert(t1.toSeq === t2.toSeq)
    // lineage rows exist per stage with row counts
    val lin = log.lineage("triples").get
    assert(lin.agg(sum($"output_rows")).collect().head.getLong(0) === t1.length.toLong)
  }

  test("committed-path parity: Ingest.run stage tables yield the same triples as runInMemory") {
    val small = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 3)
    val turns = TranscriptGen.transcripts(spark, small)
    // the in-memory sink takes the fused extractor at the default config
    // (which has no layout requirement, hence the arbitrary repartition) and
    // the chunk route at windowSize 2; the committed sink always chunks.
    // A 50-byte broadcast threshold derives a topic-map cap of 1, which sends
    // assembly down its explode + regroup fallback: it must give the same
    // triples as the default run's broadcast-map path.
    val windowed = Ingest.Config(chunker = graft.chunk.TurnChunker.Config(windowSize = 2))
    val fallback = Seq("spark.sql.autoBroadcastJoinThreshold" -> "50")
    var broadcastMap = Array.empty[org.apache.spark.sql.Row]
    Seq(("default", turns, Ingest.Config(), Nil),
        ("repartition(7)", turns.repartition(7), Ingest.Config(), Nil),
        ("windowSize=2", turns, windowed, Nil),
        ("topic fallback", turns, Ingest.Config(), fallback)).foreach {
      case (input, t, cfg, confs) => withConf(confs: _*) {
        val inMem = Ingest.runInMemory(spark, t, cfg).triples
          .orderBy($"fact_uuid").collect()
        val dir = Files.createTempDirectory("graft-parity").toString
        val committed = Ingest.run(spark, t, dir, cfg).triples
          .orderBy($"fact_uuid").collect()
        assert(inMem.length === committed.length && inMem.nonEmpty, input)
        inMem.zip(committed).foreach { case (a, b) => assert(a === b, input) }
        if (input == "default") broadcastMap = inMem
        if (confs.nonEmpty) {
          val labels = inMem.flatMap(r => r.getSeq[String](r.fieldIndex("topics"))).distinct.length
          assert(graft.assemble.TripleAssembler.derivedTopicCap(spark) < labels, input)
          assert(inMem.toSeq === broadcastMap.toSeq, input)
        }
      }
    }
  }

  test("determinism under parallelism + skew: triple set identical across partitionings") {
    // heavily skewed corpus: conv 0 is 12× the others (north-star skew case)
    val skewed = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 12)
    def tripleSet(partitions: Int): Set[String] = {
      val turns = TranscriptGen.transcripts(spark, skewed).repartition(partitions)
      Ingest.runInMemory(spark, turns).triples
        .select($"fact_uuid").collect().map(_.getString(0)).toSet
    }
    val a = tripleSet(3)
    val b = tripleSet(16)
    assert(a === b, "output must not depend on partitioning")
    assert(a.nonEmpty)
  }

  test("persisted fact vectors (factEmbeddings): committed == derived; increments follow the layout") {
    import graft.query.Retriever
    val small = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 3)
    val turns = TranscriptGen.transcripts(spark, small)
    val dir = Files.createTempDirectory("graft-factemb").toString
    val r = Ingest.run(spark, turns, dir, Ingest.Config(factEmbeddings = true))
    assert(r.triples.columns.contains("embedding"),
      "the committed triples table must carry the fact vectors")
    // committed vectors are value-identical to the derive-at-read path
    val committed = r.triples.select($"fact_uuid", $"embedding").collect()
      .map(x => x.getString(0) -> x.getSeq[Double](1)).toMap
    val derived = Retriever.withFactEmbeddings(r.triples.drop("embedding"))
      .select($"fact_uuid", $"embedding").collect()
    assert(derived.nonEmpty)
    derived.foreach(x => assert(committed(x.getString(0)) === x.getSeq[Double](1)))
    // read path SKIPS re-derivation when the column is already present
    // (same plan object back, no added projection)
    assert(Retriever.withFactEmbeddings(r.triples) eq r.triples)
    // an increment ingested WITHOUT the flag still follows the committed
    // layout (segment schemas must agree for the merge-on-read union)
    val inc = TranscriptGen.Config(numConvs = 3, turnsPerConv = 25, skew = 1, seed = 99L)
    val r2 = Ingest.runIncremental(spark, TranscriptGen.transcripts(spark, inc), dir)
    assert(r2.triples.columns.contains("embedding"))
    assert(r2.triples.filter($"embedding".isNull).count() === 0,
      "every segment, including the increment's, carries vectors")
    // and retrieval runs straight off the committed column
    val q = r2.triples.orderBy($"fact_uuid").select($"fact").first().getString(0)
    val hits = Retriever.search(Retriever.withFactEmbeddings(r2.triples), q,
      Seq.empty, topK = 5).collect()
    assert(hits.nonEmpty)
  }

  test("partial resume: killing after chunks commit resumes from raw_triples") {
    val dir = Files.createTempDirectory("graft-wh2").toString
    val small = TranscriptGen.Config(numConvs = 3, turnsPerConv = 15, skew = 2)
    val turns = TranscriptGen.transcripts(spark, small)
    val log = new SnapshotLog(spark, dir)
    // simulate a killed job that only committed the chunks stage
    log.commit("chunks", graft.chunk.TurnChunker.chunk(spark, turns).toDF(), Seq("group_id"))
    val r = Ingest.run(spark, turns, dir)
    assert(log.latestSnapshot("chunks").get === 1L, "chunks stage must be reused")
    assert(log.latestSnapshot("triples").nonEmpty)
    assert(r.triples.count() > 0)
  }

  test("Ingest.run commits exactly five tables") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val small = TranscriptGen.Config(numConvs = 3, turnsPerConv = 15, skew = 2)
    Ingest.run(spark, TranscriptGen.transcripts(spark, small), dir)
    val tables = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(tables === Set("chunks", "raw_triples", "entities", "topics", "triples"))
  }

  test("resume after the entities commit: entities commit once, same triples") {
    val small = TranscriptGen.Config(numConvs = 4, turnsPerConv = 20, skew = 2)
    val turns = TranscriptGen.transcripts(spark, small)
    val fullDir = Files.createTempDirectory("graft-full").toString
    val expected = Ingest.run(spark, turns, fullDir).triples.orderBy($"fact_uuid").collect()
    val done = new SnapshotLog(spark, fullDir)
    // a run killed after its entities commit: chunks, raw_triples and
    // entities committed, topics and triples not
    val dir = Files.createTempDirectory("graft-killed").toString
    val log = new SnapshotLog(spark, dir)
    log.commit("chunks", done.read("chunks").get, Seq("group_id"), bloomKeys = Seq("chunk_uuid"))
    log.commit("raw_triples", done.read("raw_triples").get, Seq("group_id"))
    log.commit("entities", done.read("entities").get, Seq("group_id"),
      bloomKeys = Seq("entity_uuid"))
    val entitiesSnap = log.latestSnapshot("entities").get
    val resumed = Ingest.run(spark, turns, dir).triples.orderBy($"fact_uuid").collect()
    assert(log.latestSnapshot("entities").get === entitiesSnap,
      "the resumed run must not commit entities again")
    assert(resumed.nonEmpty && resumed.toSeq === expected.toSeq)
  }

  test("job count of each sink stays at or below its pinned ceiling") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.perfbench.ListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val small = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 3)
    val turns = TranscriptGen.transcripts(spark, small)
    // fresh conversations for the increment: same generator, prefixed conv ids
    val batch = TranscriptGen.transcripts(spark, small.copy(numConvs = 3, seed = 7L))
      .withColumn("conv_id", concat(lit("inc-"), $"conv_id")).as[graft.model.Turn]
    val dir = Files.createTempDirectory("graft-jobs").toString
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(sinkRun: => Any): Int = {
      spark.catalog.clearCache()
      ListenerBus.drain(spark.sparkContext)
      jobs.set(0)
      sinkRun
      ListenerBus.drain(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    val counts = try Seq(
      "runInMemory" -> jobsOf(Ingest.runInMemory(spark, turns).triples
        .write.mode("overwrite").format("noop").save()),
      "run" -> jobsOf(Ingest.run(spark, turns, dir)),
      "runIncremental" -> jobsOf(Ingest.runIncremental(spark, batch, dir)))
    finally spark.sparkContext.removeSparkListener(listener)
    info(counts.map { case (s, n) => s"$s=$n" }.mkString(" "))
    // pinned at the measured counts: an extra driver round in a sink fails here
    val ceilings = Map("runInMemory" -> 16, "run" -> 25, "runIncremental" -> 38)
    counts.foreach { case (sink, n) =>
      assert(n <= ceilings(sink), s"$sink ran $n jobs, ceiling ${ceilings(sink)}")
    }
  }
}
