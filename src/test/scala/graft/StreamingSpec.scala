package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.model.Turn
import graft.streaming.StreamingIngest
import graft.tables.SnapshotLog

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def turn(conv: String, idx: Int, text: String): Turn =
    Turn(conv, idx, "user", text, "", new Timestamp(1704067200000L + idx * 60000L))

  private val fact1 = "Apex Systems Inc acquired Nova Robotics Ltd in 2019. extra filler text to pass the length filter."
  private val fact2 = "Granite Foods LLC partnered with Vertex Capital Inc. extra filler text to pass the length filter."

  test("streaming ingest: micro-batches land raw triples idempotently (foreachBatch + MERGE)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream").toString
    val mem = MemoryStream[Turn]
    val q = StreamingIngest.start(spark, mem.toDS(), dir)
    try {
      mem.addData(turn("c1", 0, fact1))
      q.processAllAvailable()
      val log = new SnapshotLog(spark, dir)
      assert(log.read("raw_triples").get.count() === 1)

      // second batch: one new fact + a REPLAY of the first → only one lands
      mem.addData(turn("c1", 0, fact1), turn("c2", 0, fact2))
      q.processAllAvailable()
      val raw = log.read("raw_triples").get
      assert(raw.count() === 2)
      assert(raw.select($"subject").collect().map(_.getString(0)).sorted.toSeq ===
        Seq("Apex Systems Inc", "Granite Foods LLC"))
    } finally q.stop()
  }

  test("streaming chunk numbering matches a single batch run (3 batches vs 1)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-num").toString
    val allTurns = (0 until 9).flatMap { i =>
      Seq(turn("c1", i, s"turn number $i with enough filler text to pass the length filter."),
        turn("c2", i, if (i % 3 == 1) "short" // gaps: numbering skips dropped turns
          else s"conversation two turn $i with enough filler text to pass the filter."))
    }
    val mem = MemoryStream[Turn]
    val q = StreamingIngest.start(spark, mem.toDS(), dir)
    try {
      // in-order batches, plus a REPLAY of batch 2 inside batch 3
      val sorted = allTurns.sortBy(t => (t.conv_id, t.turn_idx))
      val (b1, rest) = sorted.splitAt(6)
      val (b2, b3) = rest.splitAt(6)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b2 ++ b3: _*); q.processAllAvailable()
    } finally q.stop()
    val log = new SnapshotLog(spark, dir)
    val streamed = log.read("chunks").get.select($"chunk_uuid", $"chunk_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val batch = graft.chunk.TurnChunker.chunk(spark, allTurns.toDS()).collect()
      .map(c => (c.chunk_uuid, c.chunk_id)).toMap
    assert(streamed === batch,
      s"diff=${(streamed.toSet diff batch.toSet) ++ (batch.toSet diff streamed.toSet)}")
  }

  test("streaming restart: a NEW query over the same warehouse resumes exactly-once under replay") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-restart").toString
    val allTurns = (0 until 8).map(i =>
      turn("c1", i, s"turn number $i with enough filler text to pass the length filter."))
    val (b1, b2) = allTurns.splitAt(4)
    val mem1 = MemoryStream[Turn]
    val q1 = StreamingIngest.start(spark, mem1.toDS(), dir)
    try { mem1.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()

    // "crash + restart": a fresh query instance on the same warehouse; an
    // at-least-once source replays the tail of the pre-crash batch along
    // with the new rows — MERGE on deterministic identity absorbs the
    // replay, numbering resumes from the committed high-water mark
    val mem2 = MemoryStream[Turn]
    val q2 = StreamingIngest.start(spark, mem2.toDS(), dir)
    try { mem2.addData(b1.drop(2) ++ b2: _*); q2.processAllAvailable() } finally q2.stop()

    val log = new SnapshotLog(spark, dir)
    val streamed = log.read("chunks").get.select($"chunk_uuid", $"chunk_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val batch = graft.chunk.TurnChunker.chunk(spark, allTurns.toDS()).collect()
      .map(c => (c.chunk_uuid, c.chunk_id)).toMap
    assert(streamed === batch,
      s"restart+replay must land the single-batch result; diff=" +
        s"${(streamed.toSet diff batch.toSet) ++ (batch.toSet diff streamed.toSet)}")
  }

  test("a micro-batch whose chunks merge throws publishes neither table") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-fail").toString
    // a directory where the chunks merge's key bloom goes makes that merge throw
    Files.createDirectories(Paths.get(dir, "chunks", "snapshot-1.bloom"))
    val mem = MemoryStream[Turn]
    val q = StreamingIngest.start(spark, mem.toDS(), dir)
    try {
      mem.addData(turn("c1", 0, fact1))
      intercept[StreamingQueryException](q.processAllAvailable())
    } finally q.stop()
    val log = new SnapshotLog(spark, dir)
    assert(log.snapshots("raw_triples").isEmpty,
      "raw triples were published although their chunk was not")
    assert(log.snapshots("chunks").isEmpty)
    assert(!Files.exists(Paths.get(dir, "raw_triples", "snapshot-1")),
      "the staged raw triples were left behind")
  }

  test("flatMapGroupsWithState session tracker accumulates per-conv state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[graft.model.Turn]
    val updates = StreamingIngest.sessionTracker(mem.toDS(), idleTimeout = None)
    val q = updates.writeStream.outputMode("append").format("memory")
      .queryName("conv_sessions").start()
    try {
      mem.addData(turn("c1", 0, fact1), turn("c1", 1, "short"))
      q.processAllAvailable()
      mem.addData(turn("c1", 2, fact2), turn("c2", 0, fact1))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT conv_id, n_turns, n_fact_turns FROM conv_sessions").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // c1 emitted twice: after batch 1 (2 turns, 1 fact) and batch 2 (3, 2)
      assert(rows.contains(("c1", 2L, 1L)))
      assert(rows.contains(("c1", 3L, 2L)))
      assert(rows.contains(("c2", 1L, 1L)))
    } finally q.stop()
  }

  test("watermarked windowed aggregation over the turn stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val agg = StreamingIngest.turnVolume(mem.toDS(), window = "10 minutes")
    val q = agg.writeStream.outputMode("update").format("memory")
      .queryName("turn_volume").start()
    try {
      mem.addData((0 until 25).map(i => turn("c1", i, s"turn $i")): _*)
      q.processAllAvailable()
      val rows = spark.sql("SELECT conv_id, n_turns FROM turn_volume").collect()
      assert(rows.nonEmpty)
      assert(rows.map(_.getAs[Long]("n_turns")).sum === 25L)
    } finally q.stop()
  }

  test("streaming corpus gate+dedup: bounded-state exact dedup drops in-horizon replays") {
    implicit val sqlCtx = spark.sqlContext
    val longA = "the quick brown fox jumps over the lazy dog and keeps running " +
      "through the wide open field for a very long time indeed today"
    val longB = "a completely different document about shipping container logistics " +
      "moving freight across the harbor with tugboats and cranes all afternoon"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDS().toDF("doc_id", "text", "ts")
    val out = graft.streaming.StreamingCorpus.dedupedWithinWatermark(
      graft.streaming.StreamingCorpus.gated(docs, minTokens = 10, minQuality = 0.3))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("corpus_clean").start()
    try {
      val t0 = new Timestamp(1704067200000L)
      mem.addData((1L, longA, t0), (2L, "tiny", t0))
      q.processAllAvailable()
      // same content replayed within the horizon + one genuinely new doc
      mem.addData((3L, longA, new Timestamp(t0.getTime + 60000L)),
        (4L, longB, new Timestamp(t0.getTime + 60000L)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, lang_pred FROM corpus_clean").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // 2 fails the token gate; 3 is an in-horizon duplicate of 1
      assert(rows.keySet === Set(1L, 4L))
      assert(rows(1L) === "en")
    } finally q.stop()
  }

  test("streaming funnel: in-order arrival reproduces the batch funnel exactly") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingIngest.FunnelEvent
    def t(h: Long) = new Timestamp(h * 3600000L)
    // the TemporalSpec funnel fixture (full/partial/ordering/tie cases)
    val fixture = Seq(
      FunnelEvent(1L, t(0), "signup"), FunnelEvent(1L, t(1), "view"),
      FunnelEvent(1L, t(2), "purchase"),
      FunnelEvent(2L, t(0), "signup"), FunnelEvent(2L, t(100), "view"),
      FunnelEvent(3L, t(0), "view"), FunnelEvent(3L, t(1), "purchase"),
      FunnelEvent(4L, t(0), "signup"), FunnelEvent(4L, t(1), "purchase"),
      FunnelEvent(4L, t(2), "view"),
      FunnelEvent(5L, t(0), "signup"), FunnelEvent(5L, t(0), "view"))
    val mem = MemoryStream[FunnelEvent]
    val updates = StreamingIngest.funnelTracker(mem.toDS(),
      Seq("signup", "view", "purchase"), windowMs = 72L * 3600000L)
    val q = updates.writeStream.outputMode("append").format("memory")
      .queryName("funnel_updates").start()
    try {
      // feed in event-time order, split mid-stream across micro-batches
      val ordered = fixture.sortBy(e => (e.ts.getTime, e.user_id))
      val (b1, b2) = ordered.splitAt(6)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // last update per user = the streaming funnel's final answer
      val finals = spark.sql("SELECT user_id, steps_completed, step_ts FROM funnel_updates")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
        .groupBy(_._1).view.mapValues(_.last).toMap
      val batch = graft.ops.EventAnalytics.funnel(
          fixture.map(e => (e.user_id, e.ts, e.event_type))
            .toDF("user_id", "ts", "event_type"),
          Seq("signup", "view", "purchase"), "INTERVAL 72 HOURS")
        .collect().map { r =>
          r.getLong(0) -> (Seq(Option(r.getTimestamp(1)), Option(r.getTimestamp(2)),
            Option(r.getTimestamp(3))).map(_.map(_.getTime).getOrElse(-1L)),
            r.getInt(4))
        }.toMap
      // streaming also tracks users who never hit step 1 (state exists the
      // moment any event arrives) — they report depth 0; every batch-funnel
      // row must match exactly
      assert(finals.keySet === batch.keySet + 3L)
      assert(finals(3L)._2 === 0)
      batch.foreach { case (uid, (ts, depth)) =>
        assert(finals(uid)._2 === depth, s"u$uid depth")
        assert(finals(uid)._3.toSeq === ts, s"u$uid step timestamps")
      }
    } finally q.stop()
  }

  test("streaming funnel: repeated step type matches the later position (batch parity)") {
    // view→click→view: `steps.indexOf` only ever saw position 0 for "view",
    // so the third step could never match (ADVICE r5). Match against the
    // first UNMATCHED position of the event's type instead.
    implicit val sqlCtx = spark.sqlContext
    import StreamingIngest.FunnelEvent
    def t(h: Long) = new Timestamp(h * 3600000L)
    val fixture = Seq(
      // u1 completes view→click→view (the mid-stream view at t1.5h must NOT
      // steal position 2: batch requires t3 > t2)
      FunnelEvent(1L, t(0), "view"), FunnelEvent(1L, t(1), "view"),
      FunnelEvent(1L, t(2), "click"), FunnelEvent(1L, t(3), "view"),
      // u2 stops at click (no view after it)
      FunnelEvent(2L, t(0), "view"), FunnelEvent(2L, t(1), "click"))
    val mem = MemoryStream[FunnelEvent]
    val updates = StreamingIngest.funnelTracker(mem.toDS(),
      Seq("view", "click", "view"), windowMs = 72L * 3600000L)
    val q = updates.writeStream.outputMode("append").format("memory")
      .queryName("funnel_repeat").start()
    try {
      mem.addData(fixture.sortBy(e => (e.ts.getTime, e.user_id)): _*)
      q.processAllAvailable()
      val finals = spark.sql("SELECT user_id, steps_completed, step_ts FROM funnel_repeat")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
        .groupBy(_._1).view.mapValues(_.last).toMap
      val batch = graft.ops.EventAnalytics.funnel(
          fixture.map(e => (e.user_id, e.ts, e.event_type))
            .toDF("user_id", "ts", "event_type"),
          Seq("view", "click", "view"), "INTERVAL 72 HOURS")
        .collect().map { r =>
          r.getLong(0) -> (Seq(Option(r.getTimestamp(1)), Option(r.getTimestamp(2)),
            Option(r.getTimestamp(3))).map(_.map(_.getTime).getOrElse(-1L)),
            r.getInt(4))
        }.toMap
      assert(batch(1L)._2 === 3 && batch(2L)._2 === 2) // fixture sanity
      batch.foreach { case (uid, (ts, depth)) =>
        assert(finals(uid)._2 === depth, s"u$uid depth")
        assert(finals(uid)._3.toSeq === ts, s"u$uid step timestamps")
      }
    } finally q.stop()
  }
}
