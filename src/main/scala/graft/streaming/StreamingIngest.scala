package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.chunk.TurnChunker
import graft.extract.TripleExtractor
import graft.model.Turn
import graft.pipeline.Ingest
import graft.tables.SnapshotLog
import graft.tables.SnapshotLog.Write

/** Incremental (streaming) ingest. The reference is batch-only (SURVEY.md
  * §2.9); this is the optional append-stream path it anticipates: phase-1
  * extraction is a `foreachBatch` over an append stream of turns, landing
  * raw triples idempotently (MERGE on deterministic identity); the global
  * resolution phases (dedup/link) stay batch barriers, run via
  * `Ingest.runIncremental` on a cadence.
  *
  * Also provides the watermark + windowed-aggregation building block
  * (turn volume per conversation per event-time window) used for
  * monitoring/backpressure decisions.
  */
object StreamingIngest {

  /** Append-stream extraction: each micro-batch is chunked + extracted, raw
    * triples MERGE-append on (chunk_uuid, fact, subject, object) — replays
    * and overlapping batches are no-ops (exactly-once on content).
    * A micro-batch's two merges are one `SnapshotLog.write`, chunks listed
    * first, so no reader sees a raw triple whose chunk is not yet visible;
    * if either merge fails, neither table gains a snapshot.
    *
    * Chunk numbering is BATCH-RUN PARITY (reference numbers chunks per
    * document globally, markdown_chunker.py:70-79): each micro-batch offsets
    * its per-conversation chunk_no by the max already committed for that
    * conversation, so a 3-batch stream lands the same chunk_ids a single
    * batch run over the same turns produces (in-order append stream assumed;
    * replayed rows are dropped by chunk_uuid before numbering, so replays
    * cannot shift the sequence).
    */
  def start(spark: SparkSession, turns: Dataset[Turn], warehouseDir: String,
      cfg: Ingest.Config = Ingest.Config()): StreamingQuery = {
    import spark.implicits._
    turns.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        val log = new SnapshotLog(spark, warehouseDir)
        val chunks = TurnChunker.chunk(spark, batch, cfg.chunker)
        val raw = TripleExtractor.extract(spark, chunks)
        val renumbered = log.read("chunks") match {
          case None => chunks.toDF()
          case Some(committed) =>
            // committed per-conv numbering high-water mark; only the batch's
            // conversations matter, so the offset table stays micro-batch-sized
            val chunkNo = (c: org.apache.spark.sql.Column) =>
              substring_index(c, "_chunk_", -1).cast("int")
            val convs = chunks.select($"conv_id").distinct()
            val offsets = committed.join(convs, Seq("conv_id"), "left_semi")
              .groupBy($"conv_id").agg(max(chunkNo($"chunk_id")).as("chunk_off"))
            val fresh = chunks.toDF()
              .join(committed.select($"chunk_uuid"), Seq("chunk_uuid"), "left_anti")
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy($"conv_id").orderBy($"window_end")
            fresh.join(offsets, Seq("conv_id"), "left")
              .withColumn("chunk_id", format_string("%s_chunk_%04d", $"conv_id",
                row_number().over(w) + coalesce($"chunk_off", lit(0))))
              .drop("chunk_off")
              .select(chunks.columns.map(col): _*)
        }
        log.write(Seq(
          Write("chunks", renumbered, Write.Append, Seq("chunk_uuid"), Seq("group_id")),
          Write("raw_triples", raw.toDF(), Write.Append,
            Seq("chunk_uuid", "fact", "subject", "relationship", "object"), Seq("group_id"))))
        ()
      }
      .start()
  }

  /** Watermarked event-time aggregation: turns per conversation per window.
    * Late data beyond the watermark is dropped (state is bounded — required
    * for an unbounded 10^12-turn stream).
    */
  def turnVolume(turns: Dataset[Turn], window: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    turns.toDF()
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("conv_id"))
      .agg(count(lit(1)).as("n_turns"))

  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class FunnelState(ts: Seq[Long])
  case class FunnelUpdate(user_id: Long, steps_completed: Int, step_ts: Seq[Long])

  /** Streaming window funnel: per-user state = the matched timestamp per
    * step (−1 = unmatched), advanced by folding each micro-batch's events
    * in event-time order under EXACTLY the batch rule
    * ([[graft.ops.EventAnalytics.funnel]]): anchor at the earliest step-1
    * event, step i matches its first event strictly after step i−1 and
    * within `windowMs` of the anchor. State is k longs per live user —
    * bounded for an unbounded stream.
    *
    * Parity contract (spec-asserted): when each user's events ARRIVE in
    * event-time order across batches — the Kafka-keyed-by-user deployment —
    * the final update per user is identical to the batch funnel. Cross-batch
    * out-of-order arrivals degrade to arrival-order semantics (a
    * lower-anchor step-1 event arriving after step 2 matched cannot rewind
    * matches whose candidate events are gone — the bounded-state price).
    */
  def funnelTracker(events: Dataset[FunnelEvent], steps: Seq[String],
      windowMs: Long): Dataset[FunnelUpdate] = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps, got ${steps.size}")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid, rows, state) =>
          val ts = state.getOption.map(_.ts.toArray)
            .getOrElse(Array.fill(steps.size)(-1L))
          // (ts, type) sort: same-ts ties fold identically either way under
          // the strictly-after rule, the sort just pins the iteration
          for (e <- rows.toSeq.sortBy(x => (x.ts.getTime, x.event_type))) {
            // first UNMATCHED position whose step name equals the event type
            // — `steps.indexOf` only ever saw the first occurrence, so a
            // funnel with a repeated step type (view→click→view) could never
            // match the later position, breaking the documented parity with
            // EventAnalytics.funnel (which matches each position's type
            // independently). ADVICE r5 finding.
            val i = steps.indices
              .find(j => steps(j) == e.event_type && ts(j) == -1L)
              .getOrElse(-1)
            val t = e.ts.getTime
            if (i == 0) ts(0) = t
            else if (i > 0 && ts(i - 1) != -1L &&
              t > ts(i - 1) && t <= ts(0) + windowMs) ts(i) = t
          }
          state.update(FunnelState(ts.toSeq))
          Iterator.single(FunnelUpdate(uid, ts.takeWhile(_ != -1L).length, ts.toSeq))
      }
  }

  /** Per-conversation state summary. */
  case class ConvState(n_turns: Long, n_fact_turns: Long, first_ts: Long, last_ts: Long)
  case class ConvSessionUpdate(conv_id: String, n_turns: Long, n_fact_turns: Long,
      duration_ms: Long, closed: Boolean)

  /** Custom stateful streaming (KeyValueGroupedDataset.flatMapGroupsWithState):
    * tracks per-conversation turn counts + activity span across micro-batches;
    * with `idleTimeout` set, idle conversations close via processing-time
    * timeout and their state is evicted — bounded state for an unbounded
    * stream of conversations. (Tests use `idleTimeout = None`:
    * processing-time timeouts schedule perpetual empty batches, which makes
    * `processAllAvailable` spin — drive timed queries with a real trigger
    * clock in production.)
    */
  def sessionTracker(turns: Dataset[Turn],
      idleTimeout: Option[String] = Some("10 minutes")): Dataset[ConvSessionUpdate] = {
    import turns.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeoutConf = idleTimeout.fold[GroupStateTimeout](GroupStateTimeout.NoTimeout())(
      _ => GroupStateTimeout.ProcessingTimeTimeout())
    turns.groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, ConvSessionUpdate](
        OutputMode.Append(), timeoutConf) {
        (convId: String, rows: Iterator[Turn], state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ConvSessionUpdate(convId, s.n_turns, s.n_fact_turns,
              s.last_ts - s.first_ts, closed = true))
          } else {
            val batch = rows.toSeq
            val prev = state.getOption.getOrElse(ConvState(0, 0, Long.MaxValue, 0))
            val factTurns = batch.count(t => t.text != null && t.text.length >= 50)
            val next = ConvState(
              prev.n_turns + batch.size,
              prev.n_fact_turns + factTurns,
              math.min(prev.first_ts, batch.map(_.ts.getTime).min),
              math.max(prev.last_ts, batch.map(_.ts.getTime).max))
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            Iterator.single(ConvSessionUpdate(convId, next.n_turns, next.n_fact_turns,
              next.last_ts - next.first_ts, closed = false))
          }
      }
  }
}
