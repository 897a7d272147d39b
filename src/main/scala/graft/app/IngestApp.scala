package graft.app

import graft.pipeline.Ingest
import graft.synth.TranscriptGen

/** spark-submit entry point: knowledge-graph construction over a transcripts
  * table (resume-aware — rerunning with the same warehouse skips committed
  * stages; north rule checkpoint/lineage semantics).
  *
  * Usage:
  *   IngestApp <warehouseDir> [--input <parquet-of-transcripts>]
  *             [--input-jsonl <jsonl-of-transcripts>]
  *             [--synth convs=N,turns=M,skew=S,seed=K] [--master local[N]]
  *             [--sorted true|auto] [--incremental true]
  *             [--ontology <topics.json>] [--fact-embeddings true]
  *
  * With --input, reads an (conv_id, turn_idx, role, text, tool, ts) parquet
  * table (the input_hint shape); --input-jsonl reads the same shape as
  * JSONL through the PERMISSIVE bad-line-tolerant source (S3 semantics —
  * malformed lines drop, count logged); otherwise synthesizes transcripts.
  * `--sorted true` declares the input storage-ordered by (conv_id, turn_idx)
  * within files (each conversation confined to one file or its splits) and
  * routes chunking through the shuffle-free sortedInput fast path — the
  * right call on a standing sorted transcript store; layout violations fail
  * fast with a pointer back to the default windowed path. `--sorted auto`
  * additionally lets the planner measure the corpus's max-conversation
  * share first (TurnChunker.preferSorted) and fall back to the
  * skew-invariant salted windowed plan when a pathological conversation
  * would starve the sorted path's layout-bound parallelism.
  * `--incremental true` ingests the input as an ADDITIONAL
  * corpus into an existing warehouse (Ingest.runIncremental, J4 entity
  * linking: new entities link against the committed registry, triples and
  * chunks merge-append idempotently) — the CLI form of the reference's
  * ingest-more-files-into-a-standing-store flow; fails fast when the
  * warehouse has no committed entities table yet. `conv_id` is the
  * STORE-WIDE conversation key (chunk/fact uuids derive from it): an
  * incremental corpus must bring fresh conv ids for genuinely new
  * conversations — re-submitting an existing conv_id is treated as
  * already-ingested content and deduplicates by uuid rather than adding.
  */
object IngestApp {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: IngestApp <warehouseDir> [--input <parquet>] [--input-jsonl <jsonl>] " +
          "[--synth convs=N,turns=M,skew=S,seed=K] [--master local[N]] " +
          "[--sorted true|auto] [--incremental true] " +
          "[--ontology <topics.json>] [--fact-embeddings true]")
      sys.exit(2)
    }
    val warehouse = args(0)
    val opts = args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k -> v
    }.toMap
    val unknown = opts.keys.filterNot(
      Set("--input", "--input-jsonl", "--synth", "--master", "--sorted",
        "--incremental", "--ontology", "--fact-embeddings"))
    if (unknown.nonEmpty) {
      System.err.println(s"unknown option(s): ${unknown.mkString(", ")}")
      sys.exit(2)
    }

    val spark = Sessions.cli("graft-ingest", opts.get("--master"))
    import spark.implicits._

    var jsonlObs: Option[org.apache.spark.sql.Observation] = None
    val turns = (opts.get("--input"), opts.get("--input-jsonl")) match {
      case (Some(path), _) => spark.read.parquet(path).as[graft.model.Turn]
      case (None, Some(path)) =>
        // corrupt-line count rides the pipeline's own first scan (observe
        // metric) — a standalone count would parse the corpus twice
        val (t, o) = graft.sources.JsonlSource.readTranscriptsObserved(spark, path)
        jsonlObs = Some(o)
        t
      case _ =>
        val synth = opts.getOrElse("--synth", "")
        val kv = synth.split(",").filter(_.contains("=")).map { s =>
          val Array(k, v) = s.split("=", 2); k -> v
        }.toMap
        val cfg = TranscriptGen.Config(
          numConvs = kv.getOrElse("convs", "20").toInt,
          turnsPerConv = kv.getOrElse("turns", "40").toInt,
          skew = kv.getOrElse("skew", "8").toInt,
          seed = kv.getOrElse("seed", "42").toLong)
        TranscriptGen.transcripts(spark, cfg)
    }

    val t0 = System.nanoTime()
    val incremental = opts.get("--incremental").exists(_.toBoolean)
    val sortedInput = opts.get("--sorted") match {
      case Some("auto") =>
        // input is declared storage-ordered; let the planner decide whether
        // exploiting that beats the skew-invariant salted windowed plan
        val (use, frac) = graft.chunk.TurnChunker.preferSorted(turns)
        println(f"[ingest] sorted=auto: max conversation holds ${frac * 100}%.1f%% " +
          f"of the corpus -> ${if (use) "sorted fast path" else "salted windowed path"}%s")
        use
      case other => other.exists(_.toBoolean)
    }
    // --ontology: the reference's curated topic file (financial_topics.json
    // format) as the resolver's dimension table; default = the synthetic
    // 10-topic ontology
    val ontology = opts.get("--ontology") match {
      case Some(path) =>
        val o = graft.sources.OntologyLoader.load(spark, path)
        println(s"[ingest] ontology: ${o.size} topics from $path")
        o
      case None => TranscriptGen.ontology
    }
    // --fact-embeddings: persist fact vectors in the committed triples table
    // (the reference's fact_embeddings sink); retrieval reads the column
    // instead of re-deriving. Incremental runs follow the committed layout
    // automatically.
    val icfg = Ingest.Config(chunker = graft.chunk.TurnChunker.Config(
      sortedInput = sortedInput), ontology = ontology,
      factEmbeddings = opts.get("--fact-embeddings").exists(_.toBoolean))
    val result =
      if (incremental) Ingest.runIncremental(spark, turns, warehouse, icfg)
      else Ingest.run(spark, turns, warehouse, icfg)
    val nTriples = result.triples.count()
    val nEntities = result.entities.count()
    // incremental: chunks = the NEW corpus's chunks; entity/triple counts are
    // the LIVE post-merge tables
    val chunksNote =
      if (incremental) s"chunks_new=${result.chunks.count()}"
      else s"chunks=${result.chunks.count()}"
    val secs = (System.nanoTime() - t0) / 1e9
    jsonlObs.foreach { o =>
      // non-blocking: the metric future is complete iff the pipeline's first
      // action scanned the source (a full resume never does — nothing to log)
      o.future.value.foreach {
        case scala.util.Success(row) if !row.isNullAt(0) && row.getLong(0) > 0 =>
          println(s"[ingest] skipped ${row.getLong(0)} malformed JSONL line(s)")
        case _ =>
      }
    }
    println(f"[ingest] $chunksNote%s entities=$nEntities triples=$nTriples in $secs%.1fs")
    println(s"[ingest] warehouse=$warehouse (committed snapshots; rerun resumes)")
    spark.stop()
  }
}
