package graft.app

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, concat_ws, lit, max, sum}

import graft.tables.SnapshotLog
import graft.tables.SnapshotLog.Write

/** Warehouse maintenance CLI — the operational surface of the table layer
  * (reference: a standing Neo4j store is administered out-of-band; this
  * engine's warehouse is plain parquet + manifests, so administration is a
  * spark-submit main).
  *
  * Usage:
  *   TableApp <warehouseDir> history  [table]          per-segment commit log
  *   TableApp <warehouseDir> snapshot <table> <asOf>   time-travel row count + schema
  *   TableApp <warehouseDir> compact  <table>          force-rewrite as ONE full snapshot
  *   TableApp <warehouseDir> vacuum   [table]          drop pre-compaction history
  *   TableApp <warehouseDir> verify   [table]          recompute each segment's rows and
  *                                   checksum; compare with its manifest lineage
  *   TableApp <warehouseDir> ann-index <table> [nCentroids] [vecCol] [idCol]
  *                                   train + commit the persisted IVF index
  *   TableApp <warehouseDir> ann-refresh <table> [vecCol]
  *                                   assign index-unseen rows, merge-append
  *   TableApp <warehouseDir> export <outDir> [csv|jsonl]
  *                                   property-graph dump (Neo4j bulk-import
  *                                   layout: headerless parts + _header.csv,
  *                                   or plain JSONL)
  *   TableApp <warehouseDir> walks <outDir> [length] [walksPerNode]
  *                                   deterministic DeepWalk training corpus
  *
  * `history`/`vacuum`/`verify` default to every table in the warehouse.
  * `verify` scans each segment once (one job); a segment committed before
  * lineage moved into the manifest is checked against its
  * `snapshot-N-lineage/` directory instead.
  * `compact` is `SnapshotLog.compactIfFragmented` with one segment allowed:
  * the layout (partition columns, merge keys, aux key sets) is read from the
  * live segments' manifest lines, by the same rule as auto-compaction, so
  * the compacted snapshot stays bloom-prunable and partition-pruned. Only a
  * legacy line without `partition_by` has its partition columns recovered
  * from its directories.
  */
object TableApp {
  private def usage(): Nothing = {
    System.err.println(
      "usage: TableApp <warehouseDir> history|snapshot|compact|vacuum|verify|ann-index|ann-refresh [table] [asOf|nCentroids ...]\n" +
        "       TableApp <warehouseDir> export <outDir> [csv|jsonl] | walks <outDir> [length] [walksPerNode]\n" +
        "       TableApp <warehouseDir> sketch <table> <column> [width] [depth] [p]\n" +
        "       TableApp <warehouseDir> classifier <table> <textCol> <labelCol> <posValue> [buckets]\n" +
        "       TableApp <warehouseDir> profile <table>")
    sys.exit(2)
  }

  /** Tables = subdirectories of the warehouse holding a snapshot manifest. */
  private def tables(wh: String): Seq[String] = {
    val root = Paths.get(wh)
    if (!Files.isDirectory(root)) Seq.empty
    else Files.list(root).iterator().asScala
      .filter(p => Files.exists(p.resolve("_snapshots.json")))
      .map(_.getFileName.toString).toSeq.sorted
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) usage()
    val wh = args(0)
    val cmd = args(1)
    val spark = Sessions.cli("graft-tables", None)
    val log = new SnapshotLog(spark, wh)

    def targets(idx: Int): Seq[String] =
      if (args.length > idx) Seq(args(idx)) else tables(wh)

    // the committed table `t`; exit 2 when it is absent or lacks one of `cols`
    def committed(t: String, cols: String*): DataFrame = {
      val src = log.read(t).getOrElse { System.err.println(s"no committed table: $t"); sys.exit(2) }
      for (c <- cols if !src.columns.contains(c)) {
        System.err.println(s"table $t has no '$c' column"); sys.exit(2)
      }
      src
    }

    cmd match {
      case "history" =>
        for (t <- targets(2)) {
          println(s"[table] $t")
          log.history(t).orderBy("snapshot_id").collect().foreach { r =>
            println(s"  snapshot=${r.getLong(0)} kind=${r.getString(1)}" +
              s" upsert=${r.getBoolean(2)} keys=${r.getSeq[String](3).mkString(",")}" +
              s" committed_at=${r.get(4)} live=${r.getBoolean(5)}" +
              s" partition_by=${r.getSeq[String](7).mkString(",")}")
          }
        }

      case "snapshot" =>
        if (args.length < 4) usage()
        val t = args(2)
        // numeric = snapshot id (VERSION AS OF); otherwise an ISO-8601
        // instant, e.g. 2026-08-17T21:00:00Z (TIMESTAMP AS OF)
        val view = args(3) match {
          case id if id.forall(_.isDigit) => log.readAt(t, id.toLong)
          case iso => log.readAtTime(t,
            java.sql.Timestamp.from(java.time.Instant.parse(iso)))
        }
        view match {
          case Some(df) =>
            println(s"[table] $t@${args(3)} rows=${df.count()} columns=${df.columns.mkString(",")}")
          case None =>
            println(s"[table] $t@${args(3)} absent (nothing committed yet, or vacuumed)")
            sys.exit(1)
        }

      case "compact" =>
        if (args.length < 3) usage()
        val t = args(2)
        val live = log.history(t).filter("live").collect()
        if (live.isEmpty) { println(s"[table] $t: nothing committed"); sys.exit(1) }
        if (live.length == 1) { println(s"[table] $t: already one full snapshot"); sys.exit(0) }
        val id = log.compactIfFragmented(t, 1).get
        val c = log.history(t).filter(col("snapshot_id") === id).head()
        def keys(r: Row) = r.getSeq[String](3).toList
        def parts(r: Row) = r.getSeq[String](7).toList
        val layouts = live.toSeq.map(r => (keys(r), parts(r))).distinct
        if (layouts.size > 1)
          println(s"[table] $t: WARNING live segments disagree on layout" +
            s" (${layouts.mkString("; ")}) — compacting with" +
            s" partitionBy=${parts(c).mkString(",")} keys=${keys(c).mkString(",")}")
        val aux = c.getSeq[scala.collection.Seq[String]](6)
        println(s"[table] $t: compacted ${live.length} live segments -> snapshot $id" +
          s" (partitionBy=${parts(c).mkString(",")} bloomKeys=${keys(c).mkString(",")}" +
          (if (aux.nonEmpty) s" auxBlooms=${aux.map(_.mkString("|")).mkString(",")}" else "") + ")")

      case "vacuum" =>
        for (t <- targets(2)) {
          val ids = log.vacuum(t)
          println(s"[table] $t: vacuumed ${ids.size} segment(s)" +
            (if (ids.nonEmpty) s" [${ids.mkString(",")}]" else ""))
        }

      case "verify" =>
        var bad = 0
        for (t <- targets(2); id <- log.snapshots(t)) {
          val ok = log.verifyLineage(t, id)
          if (!ok) bad += 1
          println(s"[table] $t snapshot=$id lineage=${if (ok) "OK" else "MISMATCH"}")
        }
        if (bad > 0) { println(s"[table] $bad snapshot(s) FAILED lineage verification"); sys.exit(1) }

      // ann-index <table> [nCentroids] [vecCol] [idCol]: train + commit an IVF index
      case "ann-index" =>
        if (args.length < 3) usage()
        val t = args(2)
        val nCentroids = args.lift(3).map(_.toInt).getOrElse(64)
        val vecCol = args.lift(4).getOrElse("embedding")
        val src = committed(t, vecCol)
        val idCol = args.lift(5).orElse(
          Seq("fact_uuid", "vec_id", "doc_id").find(src.columns.contains)).getOrElse {
          System.err.println(s"no id column found in $t (pass one explicitly)"); sys.exit(2)
        }
        val nAssigned = annIndex(log, t, src, nCentroids, vecCol, idCol)
        println(s"[table] $t: IVF index committed " +
          s"(${t}_ann_centroids n=$nCentroids, ${t}_ann_assignments " +
          s"rows=$nAssigned idCol=$idCol)")

      // ann-refresh <table> [vecCol]: assign rows the committed index has
      // not seen (e.g. after an incremental ingest) against the STANDING
      // centroids and merge-append them — O(new rows), no retraining, no
      // touch of the existing assignment segments. Covers APPENDED rows
      // only: an upsert that rewrites an existing row's vector needs an
      // ann-index rebuild (the id is already assigned, so refresh skips it).
      case "ann-refresh" =>
        if (args.length < 3) usage()
        val t = args(2)
        val vecCol = args.lift(3).getOrElse("embedding")
        val (src, cents, assignedT) = (log.read(t), log.read(s"${t}_ann_centroids"),
            log.read(s"${t}_ann_assignments")) match {
          case (Some(a), Some(b), Some(c)) => (a, b, c)
          case _ =>
            System.err.println(s"$t needs a committed table + ann-index first"); sys.exit(2)
        }
        // the id column is whatever the committed index was built over —
        // derived from the assignments schema, not re-guessed from the table
        val idCol = assignedT.columns.find(c => c != "cell" && c != vecCol)
          .getOrElse { System.err.println(s"${t}_ann_assignments has no id column"); sys.exit(2) }
        val unseen = src.join(assignedT.select(idCol), Seq(idCol), "left_anti")
        val delta = graft.ops.Similarity.assignToIndex(cents, unseen, idCol = idCol,
          vecCol = vecCol).persist()
        val nNew = delta.count()
        val snap = log.mergeAppend(s"${t}_ann_assignments", delta,
          keys = Seq("cell", idCol), partitionBy = Seq("cell"))
        delta.unpersist()
        println(s"[table] $t: ann-refresh appended $nNew assignment row(s)" +
          s" (snapshot $snap)")

      // sketch <table> <column> [width] [depth] [p]: build or refresh CMS + HLL sketches
      case "sketch" =>
        if (args.length < 4) usage()
        val t = args(2)
        val colName = args(3)
        val width = args.lift(4).map(_.toInt).getOrElse(1024)
        val depth = args.lift(5).map(_.toInt).getOrElse(4)
        val p = args.lift(6).map(_.toInt).getOrElse(8)
        val src = committed(t, colName)
        val srcSnap = log.latestSnapshot(t).get
        sketch(log, t, src, colName, width, depth, p) match {
          case None => println(s"[table] $t.$colName sketches already at snapshot $srcSnap")
          case Some((mode, est)) => println(f"[table] $t.$colName sketches committed ($mode," +
            f" source snapshot $srcSnap): cms ${width}x$depth, hll p=$p distinct≈$est%.0f")
        }

      // profile <table>: one-pass column health report (nulls, approx
      // distincts, ranges) — ONE aggregation job regardless of column count
      case "profile" =>
        if (args.length < 3) usage()
        val t = args(2)
        val prof = graft.ops.Profiler.profile(committed(t)).collect()
        println("column | dtype | rows | nulls | null_frac | distinct~ | min | max")
        prof.foreach { r =>
          println((0 until 8).map(i => Option(r.get(i)).map {
            case s: String if s.length > 32 => s.take(29) + "..."
            case v => v.toString
          }.getOrElse("")).mkString(" | "))
        }
        println(s"[table] profile $t: ${prof.length} column(s)")

      // classifier <table> <textCol> <labelCol> <posValue> [buckets]:
      // build-or-refresh the committed NB quality-classifier model
      // (QualityClassifier.trainCounts) over a text column, labeled pos/neg
      // by labelCol == posValue. Appends since the last build fold in by
      // plain count addition — O(delta), the sketch discipline; compaction/
      // upsert since the last build forces a full rebuild. The committed
      // model drives QualityClassifier.scoreWithModel.
      case "classifier" =>
        if (args.length < 6) usage()
        val t = args(2)
        val textCol = args(3)
        val labelCol = args(4)
        val posValue = args(5)
        val buckets = args.lift(6).map(_.toInt).getOrElse(4096)
        val src = committed(t, textCol, labelCol)
        val srcSnap = log.latestSnapshot(t).get
        val modelName = s"${t}_classifier_$textCol"
        val meta = Seq("source_snapshot", "buckets", "npos", "nneg",
          "label_col", "pos_value")
        val prior = log.read(modelName)
        val priorSnap = prior.map(
          _.agg(max(col("source_snapshot"))).collect()(0).getLong(0))
        // label definition is part of the model identity: folding counts
        // trained under a different labeling would silently corrupt it
        val sameParams = prior.forall(d =>
          d.agg(max(col("buckets")), max(col("label_col")),
              max(col("pos_value"))).collect()(0) match {
            case r => r.getInt(0) == buckets && r.getString(1) == labelCol &&
              r.getString(2) == posValue
          })
        if (priorSnap.contains(srcSnap) && sameParams) {
          println(s"[table] $modelName already at snapshot $srcSnap")
        } else {
          val delta = priorSnap.filter(_ => sameParams)
            .flatMap(ps => log.readSince(t, ps))
          val input = delta.getOrElse(src)
          def split(df: DataFrame) =
            (df.filter(col(labelCol) === posValue),
              df.filter(col(labelCol) =!= posValue || col(labelCol).isNull))
          val (pos, neg) = split(input)
          val counts = graft.ops.QualityClassifier
            .trainCounts(pos, neg, buckets, textCol)
          val (nPos, nNeg) = (pos.count(), neg.count())
          val (model, np, nn, mode) = delta match {
            case Some(_) =>
              val prev = prior.get
              val (pp, pn) = prev.agg(max(col("npos")), max(col("nneg")))
                .collect()(0) match { case r => (r.getLong(0), r.getLong(1)) }
              // counts are mergeable by construction: add per bucket
              (prev.drop(meta: _*).union(counts).groupBy(col("bucket"))
                .agg(sum(col("cpos")).as("cpos"), sum(col("cneg")).as("cneg")),
                pp + nPos, pn + nNeg, "incremental")
            case None => (counts, nPos, nNeg, "full")
          }
          log.commit(modelName, model
            .withColumn("source_snapshot", lit(srcSnap))
            .withColumn("buckets", lit(buckets))
            .withColumn("npos", lit(np)).withColumn("nneg", lit(nn))
            .withColumn("label_col", lit(labelCol))
            .withColumn("pos_value", lit(posValue)))
          println(s"[table] $modelName committed ($mode, source snapshot " +
            s"$srcSnap): buckets=$buckets npos=$np nneg=$nn")
        }

      case "walks" =>
        // DeepWalk/node2vec training corpus from the committed graph:
        // deterministic hash-greedy walks (GraphAlgos.deterministicWalks)
        // over the entity graph, written as (walk_id, step, vertex) parquet
        // for a downstream skip-gram trainer. Reproducible end to end — the
        // same warehouse always yields byte-identical walks.
        if (args.length < 3) usage()
        val outDir = args(2)
        val length = args.lift(3).map(_.toInt).getOrElse(8)
        val perNode = args.lift(4).map(_.toInt).getOrElse(10)
        val edges = log.read("triples").getOrElse {
          System.err.println(s"warehouse $wh has no committed 'triples' table")
          sys.exit(1)
        }.select(org.apache.spark.sql.functions.col("subject_uuid").as("src"),
          org.apache.spark.sql.functions.col("object_uuid").as("dst"))
        val walks = graft.query.GraphAlgos.deterministicWalks(edges, length, perNode)
        walks.write.mode("overwrite").parquet(outDir)
        val n = spark.read.parquet(outDir).count()
        println(s"[table] walks: $n (walk_id, walk_idx, step, vertex) rows," +
          s" length=$length walksPerNode=$perNode -> $outDir")

      case "export" =>
        if (args.length < 3) usage()
        val out = args(2)
        val fmt = args.lift(3).getOrElse("csv")
        if (fmt != "csv" && fmt != "jsonl") {
          System.err.println(s"unknown export format: $fmt (csv|jsonl)"); sys.exit(2)
        }
        if (log.read("triples").isEmpty) {
          System.err.println(s"warehouse $wh has no committed 'triples' table")
          sys.exit(1)
        }
        exportGraph(log, out, csv = fmt == "csv")
          .foreach { case (name, rows) =>
            println(s"[table] export $name rows=$rows format=$fmt") }

      case other =>
        System.err.println(s"unknown command: $other"); usage()
    }
    spark.stop()
  }

  /** Trains an IVF index over `src`'s `vecCol` and commits `<t>_ann_centroids`
    * and a FULL `<t>_ann_assignments` snapshot (the older build's rows are
    * keyed to its centroids' cells; only ann-refresh appends) in one
    * `SnapshotLog.write`: a failed rebuild leaves the previous pair live.
    * Bloom keys keep refresh deltas prunable. Returns the assignment rows.
    */
  def annIndex(log: SnapshotLog, t: String, src: DataFrame, nCentroids: Int,
      vecCol: String, idCol: String): Long = {
    val (cents, assigned) = graft.ops.Similarity.buildIvfIndex(
      src, nCentroids = nCentroids, kmeansIters = 2, idCol = idCol, vecCol = vecCol)
    val assignedRows = assigned.persist()
    try {
      val nAssigned = assignedRows.count()
      log.write(Seq(Write(s"${t}_ann_centroids", cents, Write.Full),
        Write(s"${t}_ann_assignments", assignedRows, Write.Full, Seq("cell", idCol), Seq("cell"))))
      nAssigned
    } finally assignedRows.unpersist()
  }

  /** Builds or refreshes the committed count-min and HLL sketches of `t`'s
    * `colName`, stamped with `t`'s latest snapshot. Appends since the last
    * build fold in by MERGE (counters add, registers max), O(delta); a
    * compaction or upsert since then forces a full rebuild (readSince
    * declines the delta). Both commit in one `SnapshotLog.write`, so a
    * failure stamps neither. Returns the mode and the distinct estimate,
    * or None when both already stand at that snapshot and parameters.
    */
  def sketch(log: SnapshotLog, t: String, src: DataFrame, colName: String,
      width: Int, depth: Int, p: Int): Option[(String, Double)] = {
    val srcSnap = log.latestSnapshot(t).get
    val cmsName = s"${t}_sketch_${colName}_cms"
    val hllName = s"${t}_sketch_${colName}_hll"
    val meta = Seq("source_snapshot", "width", "depth", "p")
    val priorCms = log.read(cmsName)
    val priorHll = log.read(hllName)
    val priorSnap = priorCms.map(
      _.agg(max(col("source_snapshot"))).collect()(0).getLong(0))
    val sameParams = priorCms.forall(d => d.agg(max(col("width")),
      max(col("depth"))).collect()(0) match {
        case r => r.getInt(0) == width && r.getInt(1) == depth
      }) && priorHll.forall(
      _.agg(max(col("p"))).collect()(0).getInt(0) == p)
    if (priorSnap.contains(srcSnap) && sameParams) None
    else {
      val delta = priorSnap.filter(_ => sameParams)
        .flatMap(ps => log.readSince(t, ps))
      val keyed = delta.getOrElse(src).select(col(colName))
      val (cms, hll, mode) = delta match {
        case Some(_) =>
          (graft.ops.Sketch.cmsMerge(
            priorCms.get.drop(meta: _*),
            graft.ops.Sketch.countMin(keyed, colName, width, depth)),
            graft.ops.Sketch.hllMerge(
              priorHll.get.drop(meta: _*),
              graft.ops.Sketch.hllRegisters(keyed, colName, p)),
            "incremental")
        case None =>
          (graft.ops.Sketch.countMin(keyed, colName, width, depth),
            graft.ops.Sketch.hllRegisters(keyed, colName, p), "full")
      }
      val stamp = (d: DataFrame) => d.withColumn("source_snapshot", lit(srcSnap))
        .withColumn("width", lit(width)).withColumn("depth", lit(depth)).withColumn("p", lit(p))
      val hllStamped = stamp(hll).persist()
      try {
        log.write(Seq(Write(cmsName, stamp(cms), Write.Full),
          Write(hllName, hllStamped, Write.Full)))
        Some((mode, graft.ops.Sketch.hllEstimate(hllStamped.drop(meta: _*), p)))
      } finally hllStamped.unpersist()
    }
  }

  /** Property-graph dump of the committed warehouse — the analogue of the
    * reference's Neo4j materialization (pipeline.py:219-312 creates
    * Entity/Topic/Document/Episodic nodes + fact edges in a live store; a
    * Spark warehouse exports the same graph as bulk-import files).
    *
    * csv = neo4j-admin database import layout: headerless distributed part
    * files + ONE `_header.csv` per directory carrying the
    * :ID/:START_ID/:END_ID/:TYPE/:LABEL header (an inline header per part
    * file would be ingested as data rows by every part after the first;
    * `_`-prefixed files are also invisible to Spark readers, so the
    * directory stays loadable). Import:
    *   neo4j-admin database import full \
    *     --nodes=nodes_entity/_header.csv,nodes_entity/part-.* ...
    * jsonl = plain names, native arrays. Embedding vectors are intentionally
    * not exported (vector indexes are rebuilt store-side, as the reference
    * does at pipeline.py:152).
    *
    * @return (file set name, row count) per written output.
    */
  def exportGraph(log: SnapshotLog, out: String,
      csv: Boolean): Seq[(String, Long)] = {
    def arr(c: Column) = if (csv) concat_ws(";", c) else c
    def hdr(plain: String, neo: String) = if (csv) neo else plain
    val written = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def write(df: DataFrame, name: String): Unit = {
      // persist across the count + write pair: without it the frame (for
      // rels_mentioned_in, a union+distinct shuffle of triples) runs twice
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val rows = df.count()
        if (csv) {
          df.write.mode("overwrite").option("header", false)
            .option("escape", "\"").csv(s"$out/$name")
          Files.writeString(Paths.get(out, name, "_header.csv"),
            df.columns.mkString(",") + "\n")
        } else df.write.mode("overwrite").json(s"$out/$name")
        written += name -> rows
      } finally df.unpersist()
    }
    val triples = log.read("triples").getOrElse(
      throw new IllegalArgumentException("no committed 'triples' table"))
    log.read("entities").foreach { e =>
      write(e.select(
        col("entity_uuid").as(hdr("entity_uuid", "uuid:ID")),
        col("canonical_name").as("name"),
        col("entity_type").as("entity_type"),
        col("summary"),
        arr(col("aliases")).as(hdr("aliases", "aliases:string[]")),
        lit("Entity").as(hdr("label", ":LABEL"))), "nodes_entity")
    }
    // the topics table holds one row per surface name; a node is one topic
    log.read("topics").foreach { t =>
      write(t.dropDuplicates("topic_uuid").select(
        col("topic_uuid").as(hdr("topic_uuid", "uuid:ID")),
        col("canonical_label").as("name"), col("definition"),
        lit("Topic").as(hdr("label", ":LABEL"))), "nodes_topic")
    }
    log.read("chunks").foreach { c =>
      write(c.select(
        col("chunk_uuid").as(hdr("chunk_uuid", "uuid:ID")),
        col("chunk_id"), col("conv_id"), col("header_path"),
        col("document_date"), col("text"),
        lit("Chunk").as(hdr("label", ":LABEL"))), "nodes_chunk")
    }
    write(triples.select(
      col("subject_uuid").as(hdr("subject_uuid", ":START_ID")),
      col("object_uuid").as(hdr("object_uuid", ":END_ID")),
      col("predicate").as(hdr("predicate", ":TYPE")),
      col("fact_uuid"), col("fact"), col("date_context"),
      arr(col("topics")).as(hdr("topics", "topics:string[]")),
      col("chunk_uuid")), "rels_fact")
    // provenance edges: entity -> chunk it was extracted from
    val mentioned = triples.filter(col("chunk_uuid").isNotNull)
      .select(col("subject_uuid").as("eid"), col("chunk_uuid"))
      .union(triples.filter(col("chunk_uuid").isNotNull)
        .select(col("object_uuid").as("eid"), col("chunk_uuid")))
      .distinct()
    write(mentioned.select(
      col("eid").as(hdr("entity_uuid", ":START_ID")),
      col("chunk_uuid").as(hdr("chunk_uuid", ":END_ID")),
      lit("MENTIONED_IN").as(hdr("rel", ":TYPE"))),
      "rels_mentioned_in")
    written.toSeq
  }
}
