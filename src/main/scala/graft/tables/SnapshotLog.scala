package graft.tables

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.{ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.LineageRow

/** Iceberg-*style* table layer: partitioned Parquet + an atomic JSON snapshot
  * log (SURVEY.md §7.0/§2.1 S9). No Iceberg jar ships in /opt/spark/jars, so
  * this provides the north rule's observable behaviors directly:
  *
  *  - committed snapshots: data lands in `table/snapshot-N/`, then a manifest
  *    line is appended via atomic rename — readers only ever see committed
  *    snapshots;
  *  - checkpoint/resume: `latestSnapshot(stage)` lets a relaunched job skip
  *    every stage that already committed (reference checkpoint.py:116-157
  *    resume-from-last-phase semantics);
  *  - per-partition lineage: each commit records one (partition id, row
  *    count, xor-of-hash checksum) triple per write task in its manifest
  *    line — computed IN the write pass (see commit), never by re-reading
  *    the snapshot; older segments keep theirs in `snapshot-N-lineage/`;
  *  - O(delta) appends: a manifest entry is either a `full` snapshot or a
  *    `delta` segment; the live table is the last full snapshot plus every
  *    delta after it. `mergeAppend`/`mergeUpsert` write ONLY the new/changed
  *    rows as a delta segment (reference MERGE batches, pipeline.py:416-547)
  *    — round 2 rewrote existing ∪ fresh on every append, an O(table) write
  *    per increment that a standing 100 TB triples table cannot afford.
  *    `commit` remains the compaction path (writes a new full snapshot).
  *  - merge-on-read updates: an upsert delta marks its key columns in the
  *    manifest; `read` then resolves last-writer-wins per key (Iceberg MOR
  *    semantics). Append-only tables skip that window entirely.
  *  - O(delta) merge READS via per-segment key blooms (Iceberg/Delta-style
  *    file-skipping): every keyed segment write builds a bloom filter over
  *    the merge-key hash (a key-column read-back of the just-written
  *    segment — O(delta) for merge deltas) and lands it next to the
  *    segment. `mergeAppend`/
  *    `mergeUpsert` then probe the incoming delta against each live
  *    segment's bloom and anti-join/EXCEPT against ONLY the segments that
  *    might contain an incoming key. In the standing regime (increments
  *    are new conversations → new uuids) a small increment into a huge
  *    table touches ZERO existing segments — without the blooms every
  *    increment re-scans the live table's key column, an O(table) read a
  *    100 TB fact table cannot afford per 20k-turn increment. Bloom
  *    misses are impossible (no false negatives), so pruning never drops
  *    a genuine match; false positives only cost an unnecessary scan.
  *    Segments without a bloom (legacy, or a saturated/oversized
  *    compaction) are always scanned — strictly the old behavior.
  *  - staged commits: `write` commits several tables' full snapshots or
  *    merges as one unit. It stages each segment's parquet and blooms under
  *    its table's next snapshot id, invisible until a manifest line lists
  *    it; then appends the lines in order, lineage and layout included, and
  *    only then compacts fragmented tables (layout read from the manifest).
  *    A staging failure deletes every staged segment: no table changes.
  *    `commit`, `mergeAppend` and `mergeUpsert` are one-write calls.
  *  - a merge's input feeds two jobs (bloom probe and write) and is
  *    persisted for them only when its plan is not already materialized
  *    (cached, local, or checkpointed leaves): a persist of a cached input
  *    stores it twice and keeps the cache's shuffle partitions, so a small
  *    delta is written as several small files per partition.
  *
  * The driver never holds data rows: each write task folds its own lineage,
  * and the driver receives one (partition, count, checksum) tuple per task,
  * which it writes into the manifest entry.
  *
  * Concurrency contract: ONE WRITER PER TABLE (the reference pipeline is
  * likewise one ingest process per store). Different tables may be staged
  * concurrently from threads of one writer — each claims its own table's
  * next snapshot id — but two concurrent writers of one table can both
  * claim the same id. Readers are safe against a concurrent writer
  * (manifest renames are atomic; segments are immutable once listed), and
  * `vacuum` deletes segment files a concurrently-started merge may still
  * plan to scan — serialize each table's writes and maintenance (TableApp)
  * behind whatever job scheduler owns the warehouse.
  *
  * Each segment's key bloom (and every aux lookup bloom) is sized to the
  * segment's own row count, known from the lineage accumulator before the
  * bloom job runs — an upper bound on its distinct keys. A large compacted
  * base stays prunable instead of saturating, and a small delta writes,
  * ships to the driver and probes with bloom bytes for its own rows only.
  * @param bloomMaxItems capacity CEILING: a segment holding more keys than
  *   this writes NO bloom (a saturated bloom flags everything anyway —
  *   "missing = always scan" is the same behavior minus the probe cost).
  *   Bounds bloom bytes at ~28.8 bits/key × ceiling (≈115 MB at the 32M
  *   default) — the driver loads every live segment's bloom per merge.
  * @param bloomProbeBudgetBytes cap on the bloom bytes resident on the
  *   driver (and serialized into one probe job's task closures) at any
  *   moment during a merge: segments are probed in GROUPS whose summed
  *   bloom size stays under the budget, each group's blooms dropped before
  *   the next loads. Worst-case transient driver memory is therefore
  *   budget + one bloom (≤ budget + ~115 MB at the bloomMaxItems ceiling),
  *   independent of the live-segment count — without the grouping, a merge
  *   against 32 live max-size segments held ~3.7 GB of blooms in one task
  *   binary. A group still probes in ONE aggregation job over the
  *   (materialized) delta, so the typical table (few live segments,
  *   MB-scale blooms) keeps paying a single job.
  */
class SnapshotLog(spark: SparkSession, baseDir: String,
    autoCompactSegments: Int = 32,
    bloomMaxItems: Long = 32L * 1000 * 1000,
    bloomProbeBudgetBytes: Long = 512L << 20) {
  import spark.implicits._
  import SnapshotLog.{BloomFpp, Segment, Staged, Write}

  /** (segments scanned, segments live) of the most recent merge — a test/
    * diagnostics hook for the bloom-pruning read path.
    */
  @volatile private[graft] var lastMergeScan: Option[(Int, Int)] = None

  /** (segments scanned, segments live) of the most recent point-lookup read
    * (`readForKey`/`readForAnyKeys`) — the diagnostics hook for the
    * read-side bloom index.
    */
  @volatile private[graft] var lastLookupScan: Option[(Int, Int)] = None

  /** One manifest line; `lineage` and `partitionBy` are None on legacy lines. */
  private case class Entry(id: Long, kind: String, upsert: Boolean, keys: Seq[String],
      schemaB64: Option[String], committedAtMs: Option[Long] = None, hashV: Int = 1,
      auxKeys: Seq[Seq[String]] = Nil, lineage: Option[Seq[(Int, Long, Long)]] = None,
      partitionBy: Option[Seq[String]] = None)

  private def tableDir(name: String): Path = Paths.get(baseDir, name)
  private def manifest(name: String): Path = tableDir(name).resolve("_snapshots.json")
  private def legacyLineageDir(name: String, id: Long): Path =
    tableDir(name).resolve(s"snapshot-$id-lineage")

  /** A manifest line parsed, or None when it carries no snapshot id. Legacy
    * lines without `kind` are full snapshots and without `hash_v` are v1.
    * `aux_keys` is flat-encoded: multi-column sets are joined by "|".
    */
  private def parseEntry(line: String): Option[Entry] = {
    val j = SnapshotLog.Json.readTree(line)
    def field(f: String) = Option(j.get(f))
    def strings(f: String) = field(f).toSeq.flatMap(_.elements().asScala.map(_.asText))
    field("snapshot_id").map { id =>
      Entry(id.asLong, field("kind").fold("full")(_.asText), j.path("upsert").asBoolean,
        strings("keys"), field("schema_b64").map(_.asText), field("committed_at_ms").map(_.asLong),
        j.path("hash_v").asInt(1), strings("aux_keys").map(_.split("\\|").toSeq),
        field("lineage").map(_.elements().asScala.map(t =>
          (t.get(0).asInt, t.get(1).asLong, t.get(2).asLong)).toSeq),
        field("partition_by").map(_ => strings("partition_by")))
    }
  }

  /** The manifest's lines as written, each with its parsed entry. */
  private def manifestLines(name: String): Seq[(String, Option[Entry])] = {
    val m = manifest(name)
    if (!Files.exists(m)) Seq.empty
    else Files.readAllLines(m, UTF_8).asScala.toSeq
      .map(l => l -> (if (l.isEmpty) None else parseEntry(l)))
  }

  /** Parsed manifest entries, ascending by snapshot id. */
  private def entries(name: String): Seq[Entry] =
    manifestLines(name).flatMap(_._2).sortBy(_.id)

  /** Committed snapshot/segment ids for a table, ascending. */
  def snapshots(name: String): Seq[Long] = entries(name).map(_.id)

  def latestSnapshot(name: String): Option[Long] = snapshots(name).lastOption

  def snapshotPath(name: String, id: Long): String =
    tableDir(name).resolve(s"snapshot-$id").toString

  /** The live segment set: last full snapshot + every delta after it. */
  private def liveOf(all: Seq[Entry]): Seq[Entry] =
    all.drop(math.max(0, all.lastIndexWhere(_.kind == "full")))
  private def liveEntries(name: String): Seq[Entry] = liveOf(entries(name))

  /** Read one segment with its manifest-pinned schema: partition-column
    * TYPE INFERENCE otherwise re-types numeric-looking partition values
    * (e.g. a group_id of "12345" comes back as INT), silently changing the
    * schema AND breaking lineage verification (the write-time row hash used
    * the original types). Legacy entries without a recorded schema fall back
    * to inference.
    */
  private def segDf(name: String, e: Entry): DataFrame =
    pinnedSchemaOf(e).fold(spark.read)(spark.read.schema(_)).parquet(snapshotPath(name, e.id))

  /** Read the current committed state of a table: union of live segments,
    * with last-writer-wins key resolution when any live segment is an upsert
    * delta (merge-on-read). Append-only tables pay no dedup.
    */
  def read(name: String): Option[DataFrame] =
    resolveSegments(name, liveEntries(name))

  /** TIME TRAVEL: the table as of snapshot `asOf` (the highest committed id
    * ≤ asOf counts — as-of semantics, like Delta's VERSION AS OF). Works for
    * every id still in the manifest: compaction writes a NEW full snapshot
    * without deleting the segments it collapsed, so pre-compaction history
    * stays readable until `vacuum` reclaims it. None when nothing was
    * committed at or before `asOf`, or a segment it needs was vacuumed.
    */
  def readAt(name: String, asOf: Long): Option[DataFrame] = {
    val live = liveOf(entries(name).filter(_.id <= asOf))
    if (live.exists(e => !Files.exists(Paths.get(snapshotPath(name, e.id))))) None
    else resolveSegments(name, live)
  }

  /** TIME TRAVEL by wall clock (Delta's TIMESTAMP AS OF): the state as of
    * the last snapshot committed at or before `ts`. Entries without a
    * recorded commit time (legacy manifests) are treated as older than any
    * timestamp — included, like their ids suggest.
    */
  def readAtTime(name: String, ts: Timestamp): Option[DataFrame] =
    entries(name).filter(_.committedAtMs.forall(_ <= ts.getTime))
      .lastOption.flatMap(e => readAt(name, e.id))

  /** APPEND-ONLY DELTA READ: the rows added strictly after snapshot
    * `afterId` — a union of just the delta segments that landed since, so an
    * incremental consumer folding MERGEABLE state (sketches, counters,
    * partial aggregates) pays O(delta), never O(table). None when the delta
    * is not reconstructable from segments alone and the caller must fall
    * back to a full read: a FULL snapshot landed since (compaction — segment
    * rows ≠ added rows), an UPSERT delta landed since (an updated key would
    * double-count as an addition), or nothing landed since.
    */
  def readSince(name: String, afterId: Long): Option[DataFrame] = {
    val later = entries(name).filter(_.id > afterId)
    if (later.isEmpty || later.exists(e => e.kind == "full" || e.upsert)) None
    else resolveSegments(name, later)
  }

  /** BLOOM-INDEXED POINT LOOKUP: the resolved table filtered to rows whose
    * `key` is one of `values`, scanning ONLY the live segments whose
    * key bloom (merge-key or aux) might contain one of the literals.
    * The graph-query surface (get_chunk(s), get_entity_info,
    * explore_neighbors) is point lookups by uuid — without this every MCP
    * call reads O(table); with it a lookup into a standing 100 TB table
    * opens only the segments that can hold the key. Blooms have no false
    * negatives, so pruning never hides a row; segments without a usable
    * bloom (legacy, ceiling-skipped, different column set) always scan.
    * None only when the table has no committed state at all.
    */
  def readForKey(name: String, key: String, values: Seq[Any]): Option[DataFrame] =
    readForAnyKeys(name, Seq(Seq(key) -> values.map(Seq(_))))

  /** Disjunctive point lookup: rows matching ANY (columns, literal tuples)
    * probe — the 1-hop adjacency shape (`subject_uuid = u OR object_uuid
    * = u` over a triples table carrying aux blooms on both columns). A
    * segment is pruned only when EVERY probe has a usable bloom there and
    * none of its literals hit.
    *
    * Upsert (merge-on-read) tables prune only when every probe's column set
    * IS the merge key set: a row's newer version can move any non-key
    * column's value, so pruning by a non-key probe could hide the segment
    * holding the LATEST version of a matching key and resurface a stale
    * row. Mismatched probes on upsert tables fall back to scanning every
    * live segment (correct, just unpruned). Literal values must match the
    * committed column types (uuids here are strings).
    *
    * The literal hashes are computed with the SAME Catalyst expression the
    * segment writes used (`keyHashCol`, per segment hash version) over a
    * local relation — the optimizer's ConvertToLocalRelation folds that
    * projection on the driver, so probing schedules no cluster job; the
    * blooms themselves load and probe driver-side one at a time (a lookup
    * carries a handful of literals, unlike a merge's delta-side probe job).
    */
  def readForAnyKeys(name: String,
      probes: Seq[(Seq[String], Seq[Seq[Any]])]): Option[DataFrame] = {
    val live = liveEntries(name)
    if (live.isEmpty) return None
    val active = probes.filter(_._2.nonEmpty)
    if (active.isEmpty) {
      lastLookupScan = Some((0, live.size))
      return read(name).map(_.filter(lit(false)))
    }
    val pred = active.map { case (k, vs) => probePredicate(k, vs) }.reduce(_ || _)
    def ci(s: Seq[String]) = s.map(_.toLowerCase(java.util.Locale.ROOT)).sorted
    val mergeKeysCI = live.filter(_.upsert).lastOption.map(e => ci(e.keys))
    val upsertSafe = mergeKeysCI.forall(mk => active.forall(p => ci(p._1) == mk))
    if (!upsertSafe) {
      // non-merge-key probe on a merge-on-read table: neither pruning NOR a
      // per-segment filter is sound — a key's newer version can change any
      // non-key column, so filtering before the last-writer-wins window
      // would let a STALE row (whose newer version no longer matches the
      // predicate) win the window and resurface. Resolve fully, then filter.
      lastLookupScan = Some((live.size, live.size))
      return read(name).map(_.filter(pred))
    }
    val scanned = {
        // literal hashes are computed against each segment's PINNED key
        // column types (a type change between segments would change the
        // hash), cached by (probe, version, key types) — one entry in
        // practice. A segment without a pinned schema always scans.
        val hashCache = scala.collection.mutable
          .Map[(Int, Int, Seq[org.apache.spark.sql.types.DataType]), Option[Array[Long]]]()
        live.filter { e =>
          val v = if (e.hashV >= 2) 2 else 1
          pinnedSchemaOf(e) match {
            case None => true // no pinned schema: must scan
            case Some(schema) =>
              active.indices.exists { pi =>
                lookupBloomPath(name, e, active(pi)._1).flatMap(loadBloom) match {
                  case None => true // no usable bloom: must scan
                  case Some(bf) =>
                    val types = active(pi)._1.map(k =>
                      schema.fields.find(_.name.equalsIgnoreCase(k)).map(_.dataType))
                    if (types.exists(_.isEmpty)) true // column absent: scan
                    else hashCache.getOrElseUpdate((pi, v, types.map(_.get)),
                        literalHashes(schema, active(pi)._1, active(pi)._2, v)) match {
                      case None => true
                      case Some(hs) => hs.exists(bf.mightContainLong)
                    }
                }
              }
          }
        }
      }
    lastLookupScan = Some((scanned.size, live.size))
    resolveSegments(name, scanned, _.filter(pred))
      .orElse(read(name).map(_.filter(lit(false))))
  }

  /** Pinned read schema of a segment, when the manifest recorded one. */
  private def pinnedSchemaOf(e: Entry): Option[org.apache.spark.sql.types.StructType] =
    e.schemaB64.map { b64 =>
      val json = new String(java.util.Base64.getDecoder.decode(b64), UTF_8)
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** The lookup filter itself: IN for single-column probes (pushes down as
    * parquet IN), OR-of-AND for composite tuples (also pushdown-eligible).
    */
  private def probePredicate(keys: Seq[String], values: Seq[Seq[Any]]): Column =
    if (keys.size == 1) col(keys.head).isin(values.map(_.head): _*)
    else values.map(t => keys.zip(t).map { case (k, v) => col(k) === lit(v) }
      .reduce(_ && _)).reduce(_ || _)

  /** xxhash64 of each literal key tuple, via the same `keyHashCol`
    * expression the write side used, evaluated over a local relation
    * (driver-only after ConvertToLocalRelation). None when a requested
    * column is absent from the pinned schema — the caller then scans.
    */
  private def literalHashes(pinned: org.apache.spark.sql.types.StructType,
      keys: Seq[String], values: Seq[Seq[Any]], v: Int): Option[Array[Long]] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val fields = keys.map(k => pinned.fields.find(_.name.equalsIgnoreCase(k)))
    if (fields.exists(_.isEmpty)) return None
    val st = StructType(keys.zip(fields).map { case (k, f) =>
      StructField(k, f.get.dataType) })
    val rows: java.util.List[Row] = values.map(t => Row.fromSeq(t)).asJava
    val df = spark.createDataFrame(rows, st)
    Some(df.select(keyHashCol(keys, v).as("h")).as(Encoders.scalaLong).collect())
  }

  /** Commit history of a table as a DataFrame (ascending snapshot_id):
    * id, kind (full|delta), upsert flag, merge keys, commit timestamp,
    * whether the segment is part of the CURRENT live read set, aux key sets
    * and partition columns (recovered from the directories on legacy lines).
    */
  def history(name: String): DataFrame = {
    val liveIds = liveEntries(name).map(_.id).toSet
    entries(name).map(e => (e.id, e.kind, e.upsert, e.keys,
        e.committedAtMs.map(new Timestamp(_)).orNull, liveIds(e.id), e.auxKeys,
        partitionColumnsOf(name, e)))
      .toDF("snapshot_id", "kind", "upsert", "keys", "committed_at", "live", "aux_keys",
        "partition_by")
  }

  /** A segment's partition columns as its line records them; a legacy line's
    * are recovered from its hive-style `col=value/` directories, outermost
    * first (a non-partition dir such as a crashed write's `_temporary` is
    * skipped; a vacuumed segment has none).
    */
  private def partitionColumnsOf(name: String, e: Entry): Seq[String] =
    e.partitionBy.getOrElse {
      def step(dir: Path): Seq[String] = if (!Files.isDirectory(dir)) Nil else {
        val s = Files.list(dir)
        try s.iterator().asScala.filter(Files.isDirectory(_)).map(_.getFileName.toString)
          .find(_.contains("=")).fold(Seq.empty[String])(f =>
            f.takeWhile(_ != '=') +: step(dir.resolve(f)))
        finally s.close()
      }
      step(Paths.get(snapshotPath(name, e.id)))
    }

  /** RETENTION: delete every segment older than the last full snapshot (the
    * set unreachable from `read`, kept only for time travel) — data,
    * lineage, and bloom — and rewrite the manifest without those entries.
    * Returns the vacuumed ids. The live read set is never touched, so
    * `read`/merges are unaffected; `readAt` for vacuumed ids returns None.
    */
  def vacuum(name: String): Seq[Long] = {
    val all = entries(name)
    val lastFull = all.lastIndexWhere(_.kind == "full")
    if (lastFull <= 0) return Seq.empty
    val (dead, live) = all.splitAt(lastFull)
    // manifest first (atomic rename): a crash between the two steps leaves
    // orphaned-but-unreferenced files, never a referenced-but-deleted one
    rewriteManifest(name, live.map(_.id).toSet)
    dead.map { e =>
      deleteSegment(name, e.id, e.auxKeys)
      e.id
    }
  }

  private def rewriteManifest(name: String, keep: Set[Long]): Unit = {
    val kept = manifestLines(name).collect { case (line, e) if e.forall(x => keep(x.id)) => line }
    val tmp = tableDir(name).resolve("_snapshots.json.tmp-vacuum")
    Files.write(tmp, kept.mkString("\n").getBytes(UTF_8))
    Files.move(tmp, manifest(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The resolved view of a SUBSET of live segments (same union +
    * last-writer-wins window as `read`). Safe for merge pruning: a key's
    * rows hash into the bloom of EVERY segment that holds them, so a
    * key-complete subset resolves those keys exactly as the full view does.
    */
  private def resolveSegments(name: String, live: Seq[Entry],
      perSegment: DataFrame => DataFrame = identity): Option[DataFrame] = {
    if (live.isEmpty) None
    else if (live.size == 1) Some(perSegment(segDf(name, live.head)))
    else {
      val anyUpsert = live.exists(_.upsert)
      if (!anyUpsert)
        Some(live.map(e => perSegment(segDf(name, e)))
          .reduce(_ unionByName _))
      else {
        // perSegment is applied BEFORE the last-writer-wins window, so a
        // point-lookup filter shrinks every segment scan first; callers must
        // only pass key-complete filters (all rows of a key pass or none) —
        // readForAnyKeys' upsert guard enforces that
        val keys = live.filter(_.upsert).last.keys
        val tagged = live.map(e =>
          perSegment(segDf(name, e)).withColumn("_seg", lit(e.id)))
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_seg").desc)
        Some(tagged.reduce(_ unionByName _)
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .drop("_rn", "_seg"))
      }
    }
  }

  /** Hash version each NEW segment is written with, recorded per entry in
    * the manifest (`hash_v`; absent = 1). v1 hashed xxhash64 over the
    * columns' JSON — a per-row string serialization on EVERY commit, the
    * single largest avoidable CPU term of a 100 TB write. v2 feeds the
    * columns to xxhash64 directly (codegen, no materialized string;
    * measured 2.4× faster at 5M rows). Both versions order columns
    * lexicographically, so partition-column reordering on read-back cannot
    * change the hash. Legacy v1 segments keep verifying and bloom-pruning
    * with v1 expressions — the version travels with the segment.
    */
  private val HashVCurrent = 2

  /** The hash version a frame CAN be written with: multi-arg xxhash64 (v2)
    * rejects MapType anywhere in the schema (Spark disallows hashing maps —
    * their entry order is undefined), while v1's to_json rendering accepts
    * them — so map-bearing frames stay on v1 and just keep paying the JSON
    * cost. One version per segment covers both the row hash and the key
    * hash (keys are a subset of the columns).
    */
  private def writableHashV(schema: org.apache.spark.sql.types.StructType): Int = {
    import org.apache.spark.sql.types._
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    if (schema.fields.exists(f => hasMap(f.dataType))) 1 else HashVCurrent
  }

  /** Merge-key hash (same expression on the segment-write side and the
    * merge-probe side), in the given version. Keys order CASE-INSENSITIVELY
    * (ties broken case-sensitively for totality): the key-set guard in
    * `scannedEntries` accepts a caller key set that matches the recorded one
    * case-insensitively, so the hash's column order must be identical for
    * e.g. Seq("ID","g") vs Seq("id","g") — a case-SENSITIVE sort would order
    * those differently ("I" < "g" but "g" < "i"), hash different values, and
    * falsely prune a segment that does hold the incoming keys. (For
    * all-lowercase key sets — every in-repo table — this order equals the
    * old case-sensitive one, so existing segment blooms stay valid.)
    */
  private def keyHashCol(keys: Seq[String], v: Int) = {
    val ordered = keys.sortBy(k => (k.toLowerCase(java.util.Locale.ROOT), k))
    if (v >= 2) xxhash64(ordered.map(col): _*)
    else xxhash64(to_json(struct(ordered.map(col): _*)))
  }

  private def bloomPath(name: String, id: Long): Path =
    tableDir(name).resolve(s"snapshot-$id.bloom")

  /** AUX bloom file for a non-merge-key column set (named by the sorted
    * column list, so lookups find it regardless of the caller's key order).
    */
  private def auxBloomPath(name: String, id: Long, keySet: Seq[String]): Path =
    tableDir(name).resolve(s"snapshot-$id.bloom-" +
      keySet.map(_.toLowerCase(java.util.Locale.ROOT)).sorted.mkString("+"))

  private def loadBloom(p: Path): Option[org.apache.spark.util.sketch.BloomFilter] =
    if (!Files.exists(p)) None
    else {
      val in = Files.newInputStream(p)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      catch { case _: java.io.IOException => None }
      finally in.close()
    }

  /** The bloom file covering a requested column set on a segment, if any:
    * the merge-key bloom when the sets match (case-insensitively), else a
    * matching aux bloom. None = no usable bloom = the segment must scan.
    */
  private def lookupBloomPath(name: String, e: Entry, req: Seq[String]): Option[Path] = {
    val reqCI = req.map(_.toLowerCase(java.util.Locale.ROOT)).sorted
    def ci(s: Seq[String]) = s.map(_.toLowerCase(java.util.Locale.ROOT)).sorted
    if (e.keys.nonEmpty && ci(e.keys) == reqCI) Some(bloomPath(name, e.id))
    else e.auxKeys.find(s => ci(s) == reqCI).map(s => auxBloomPath(name, e.id, s))
  }

  /** The live segments a merge of `in` must scan: segments whose bloom
    * matches at least one incoming key hash, plus every segment without a
    * usable bloom. A bloom is usable only when the segment's RECORDED merge
    * keys equal the caller's key set (case-insensitive): the bloom hashes
    * the recorded keys' values, so probing it with a different key set
    * hashes different values and could prune a segment that DOES contain
    * the incoming keys — a silent-duplicate/stale-resolution bug for any
    * external caller that merges a public table on a different key set
    * than it was committed with. Mismatched segments fall back to
    * always-scan (correct, just unpruned).
    *
    * Segments probe in groups bounded by `bloomProbeBudgetBytes` (each
    * group = one aggregation job over the materialized delta; blooms load
    * lazily per group and are dropped before the next group loads), so
    * driver memory and per-job task-closure size stay bounded regardless
    * of how many live segments the table has. Each segment's bloom is
    * probed with the hash version IT was written under (one derived column
    * per version present, usually one). Records `lastMergeScan`.
    */
  private def scannedEntries(name: String, in: DataFrame, keys: Seq[String]): Seq[Entry] = {
    val live = liveEntries(name)
    val keySet = keys.map(_.toLowerCase).sorted
    val (candidates, unpruned) = live.partition(e =>
      e.keys.map(_.toLowerCase).sorted == keySet && Files.exists(bloomPath(name, e.id)))
    val hitIds = scala.collection.mutable.Set[Long]()
    val noBloom = scala.collection.mutable.ListBuffer[Entry]()
    def vOf(e: Entry) = if (e.hashV >= 2) 2 else 1
    def probeGroup(group: Seq[(Entry, org.apache.spark.util.sketch.BloomFilter)]): Unit = {
      val probe = group.map(x => vOf(x._1)).distinct.foldLeft(in)((df, v) =>
        df.withColumn(s"__graft_key_hash_v$v", keyHashCol(keys, v)))
      val flags = group.map { case (e, b) =>
        val c = col(s"__graft_key_hash_v${vOf(e)}")
        val hit = udf((h: Long) => b.mightContainLong(h))
        max(when(hit(c), 1).otherwise(0)).as(s"s${e.id}")
      }
      val row = probe.agg(flags.head, flags.tail: _*).first()
      group.indices.foreach { i =>
        if (!row.isNullAt(i) && row.getInt(i) == 1) hitIds += group(i)._1.id
      }
    }
    var group = List.empty[(Entry, org.apache.spark.util.sketch.BloomFilter)]
    var groupBytes = 0L
    candidates.foreach { e =>
      loadBloom(bloomPath(name, e.id)) match {
        case None => noBloom += e // unreadable bloom file: always scan
        case Some(b) =>
          val bytes = b.bitSize() / 8
          if (group.nonEmpty && groupBytes + bytes > bloomProbeBudgetBytes) {
            probeGroup(group.reverse)
            group = Nil; groupBytes = 0L
          }
          group ::= (e, b); groupBytes += bytes
      }
    }
    if (group.nonEmpty) probeGroup(group.reverse)
    val scanned = live.filter(e =>
      unpruned.contains(e) || noBloom.contains(e) || hitIds(e.id))
    lastMergeScan = Some((scanned.size, live.size))
    scanned
  }

  /** Write a new FULL snapshot (also the compaction path for delta-fragmented
    * tables): parquet first, manifest append last (atomic rename). Returns
    * the new snapshot id. `bloomKeys` (the table's merge keys, when it has
    * them) makes the snapshot carry a key bloom so later merges can skip it.
    */
  def commit(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      bloomKeys: Seq[String] = Nil, auxBloomKeys: Seq[Seq[String]] = Nil): Long =
    write(Seq(Write(name, df, Write.Full, bloomKeys, partitionBy, auxBloomKeys))).head

  /** Commits `writes`, one per table, as one unit: stages them side by side
    * on a pool made for the call (its threads inherit the caller's Spark
    * local properties; one write stages on the caller's thread), then lists
    * their lines in order. A staging failure deletes every staged segment
    * and rethrows the first failure. Returns per write its table's
    * compaction id, else its snapshot id, else (a zero-row merge) the current one.
    */
  def write(writes: Seq[Write]): Seq[Long] = {
    require(writes.map(_.name).distinct.size == writes.size, "one write per table")
    publish(if (writes.size <= 1) writes.map(stage) else {
      val pool = Executors.newFixedThreadPool(writes.size)
      val outcomes = try writes.map(w => pool.submit(() => stage(w)))
        .map(f => try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) })
      finally pool.shutdown()
      outcomes.collectFirst { case Left(e) => e }.foreach { e =>
        outcomes.foreach(_.foreach(discard))
        throw e
      }
      outcomes.flatMap(_.toOption)
    })
  }

  /** One write pass that streams rows to parquet while folding per-partition
    * lineage (row count + xor-of-row-hash checksum) into a collection
    * accumulator — one (Int, Long, Long) tuple per task partition reaches the
    * driver, never data rows. Round 2 re-read the whole written snapshot to
    * compute lineage; at 100 TB that second pass costs as much as the stage
    * itself. The row hash is xxhash64 over the row's columns in
    * lexicographic column order (see HashVCurrent for versioning), so
    * `verifyLineage` can recompute it from the committed files regardless of
    * the partition-column reordering that `partitionBy` writes produce on
    * read-back.
    *
    * Accumulator caveat (documented): updates come from the write job's
    * tasks; Spark drops updates from failed attempts, and the df feeds
    * exactly one action here, so counts are exact unless speculative
    * execution races two attempts of one partition — the tuples are deduped
    * by partition id, which also covers that case.
    *
    * This is the WRITE half of a commit: parquet and blooms land under the
    * next snapshot id, and the lineage tuples ride in the returned
    * [[Segment]], but no manifest line lists them, so no reader sees the
    * segment until `publish` writes its line, lineage included. A failure
    * deletes whatever the write left behind before it rethrows. None = a
    * zero-row delta (`skipIfEmpty`), nothing written.
    */
  private def stageSegment(name: String, df: DataFrame, partitionBy: Seq[String],
      kind: String, upsert: Boolean, keys: Seq[String],
      skipIfEmpty: Boolean = false, auxKeys: Seq[Seq[String]] = Nil): Option[Segment] = {
    val id = latestSnapshot(name).getOrElse(0L) + 1L
    try writeFiles(name, id, df, partitionBy, kind, upsert, keys, skipIfEmpty, auxKeys)
    catch {
      case e: Throwable =>
        try deleteSegment(name, id, auxKeys) catch { case d: Throwable => e.addSuppressed(d) }
        throw e
    }
  }

  private def writeFiles(name: String, id: Long, df: DataFrame, partitionBy: Seq[String],
      kind: String, upsert: Boolean, keys: Seq[String],
      skipIfEmpty: Boolean, auxKeys: Seq[Seq[String]]): Option[Segment] = {
    val dataPath = snapshotPath(name, id)

    val acc = spark.sparkContext
      .collectionAccumulator[(Int, Long, Long)](s"graft-lineage-$name-$id")
    val hashV = writableHashV(df.schema)
    val enriched = df.withColumn("__graft_row_hash", rowHashCol(df.columns, hashV))
    val schema = enriched.schema
    val hashIdx = schema.fieldIndex("__graft_row_hash")
    val counted = enriched.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      new Iterator[Row] {
        private var cnt = 0L
        private var xor = 0L
        private var reported = false
        override def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !reported) { acc.add((pid, cnt, xor)); reported = true }
          h
        }
        override def next(): Row = {
          val r = it.next()
          cnt += 1
          if (!r.isNullAt(hashIdx)) xor ^= r.getLong(hashIdx)
          r
        }
      }
    }(Encoders.row(schema))

    // PARQUET COLUMN BLOOM FILTERS on the merge-key + aux lookup columns of
    // FULL segments: the pruning level BELOW the segment blooms. Once
    // readForAnyKeys/scannedEntries has resolved which segments might hold a
    // key, the parquet reader's row-group filter (parquet.filter.bloom
    // .enabled — on by default under spark.sql.parquet.filterPushdown)
    // skips the row groups inside a surviving segment whose column bloom
    // rejects the pushed literal, so a point lookup into a multi-row-group
    // base reads only the groups that can hold the key (uuid keys are
    // unsorted, so min/max stats never prune them; low-cardinality chunks
    // stay fully dictionary-encoded and parquet-mr then drops the bloom
    // because dictionary row-group filtering is already exact).
    // FULL segments only, by design: adaptive sizing (the only mode that
    // works without a pre-write NDV, which the write-first single-pass
    // design cannot know) floors at maxBytes/16 = 64 KB per column chunk —
    // nothing against a compacted multi-GB base, but it would break the
    // "append cost ∝ new rows" invariant on small delta segments. Deltas
    // don't need it: the per-segment key blooms already prune them
    // wholesale per lookup, and auto-compaction folds delta history into a
    // bloom-bearing full segment anyway.
    val bloomCols =
      if (kind != "full") Nil
      else (keys ++ auxKeys.flatten)
        .flatMap(k => df.schema.fields.find(_.name.equalsIgnoreCase(k)).map(_.name))
        .distinct
    val writer0 = counted.drop("__graft_row_hash").write.mode("overwrite")
    val writer =
      if (bloomCols.isEmpty) writer0
      else bloomCols.foldLeft(
          writer0.option("parquet.bloom.filter.adaptive.enabled", "true"))(
          (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dataPath)

    // delta merges write FIRST and discard a zero-row segment here — the
    // accumulator already counted the rows during the single write pass, so
    // the anti-join/EXCEPT delta is computed exactly once (an up-front
    // `isEmpty` probe would execute it a second time; at scale the delta
    // against the live table is the expensive half of an append)
    val tuples = acc.value.asScala.toSeq
      .groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
    if (skipIfEmpty && tuples.map(_._2).sum == 0L) {
      deleteRecursively(Paths.get(dataPath))
      return None
    }

    // a partitionBy write of an EMPTY stage creates no parquet files (dynamic
    // partitioning has nothing to lay out), which would fail read-back schema
    // inference — land one zero-row schema-bearing file so empty stages
    // commit and resume like any other (e.g. a micro-batch with no facts)
    val hasParquet = {
      val s = Files.walk(Paths.get(dataPath))
      try s.anyMatch(p => p.toString.endsWith(".parquet")) finally s.close()
    }
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == "__graft_row_hash"))
    if (!hasParquet) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dataSchema)
        .coalesce(1).write.mode("append").parquet(dataPath)
    }

    // key bloom lands BEFORE the manifest line makes the segment visible
    // (an EMPTY bloom is still written: it makes a zero-row segment
    // skippable, whereas a MISSING bloom means "always scan"). Built by a
    // key-column read-back of the JUST-written segment: a columnar scan of
    // ONLY the key columns — O(delta) for merge deltas, one extra scan at
    // compaction — where treeAggregate merges partial blooms executor-side
    // so the driver receives O(√tasks) partials instead of one full-size
    // bloom per task (an accumulator-in-the-write-pass build ships
    // ~bloom-size bytes per task result: fine at 32 tasks, ~36 GB at a
    // 10k-task cluster write). NOT `stat.bloomFilter`: in Spark 4 that
    // routes through BloomFilterAggregate, which silently clamps capacity
    // to the runtime-filter confs (maxNumItems=4M, maxNumBits=64M bits) —
    // a 5M-row segment's bloom saturates to fpp≈1e-3 and every increment
    // flags every segment (measured: BloomProbe scan went 0/4 → 4/4).
    // capacity is the segment's row count (already known from the lineage
    // tuples — an upper bound on distinct keys), at least 1 so a zero-row
    // segment still gets a valid empty bloom; above bloomMaxItems no bloom
    // is written (missing = always scan, which is what a saturated bloom
    // degrades to anyway)
    val segRows = tuples.map(_._2).sum
    // every requested bloom (the merge-key one plus any AUX lookup-column
    // ones) builds in the SAME single key-column read-back pass: one
    // columnar scan of the union of bloom columns, one treeAggregate over
    // an array of filters — adding a lookup index costs hash CPU, not an
    // extra scan
    val bloomSpecs = (if (keys.nonEmpty) Seq(keys) else Nil) ++ auxKeys
    if (bloomSpecs.nonEmpty && segRows <= bloomMaxItems) {
      val capacity = math.max(1L, segRows)
      def fresh() = Array.fill(bloomSpecs.size)(
        org.apache.spark.util.sketch.BloomFilter.create(capacity, BloomFpp))
      // zero-row keyed commits (e.g. an empty streaming micro-batch stage)
      // skip the read job; treeAggregate on the empty frame would also
      // return the zero blooms, this just avoids scheduling it
      val bfs =
        if (segRows == 0L) fresh()
        else {
          val hashed = spark.read.schema(dataSchema).parquet(dataPath)
            .select(bloomSpecs.zipWithIndex.map { case (s, i) =>
              keyHashCol(s, hashV).as(s"h$i") }: _*)
          hashed.rdd.treeAggregate(fresh())(
            (arr, row) => {
              var i = 0
              while (i < arr.length) { arr(i).putLong(row.getLong(i)); i += 1 }
              arr
            },
            (a, b) => {
              var i = 0
              while (i < a.length) { a(i).mergeInPlace(b(i)); i += 1 }
              a
            },
            depth = 2)
        }
      bloomSpecs.indices.foreach { i =>
        val p = if (keys.nonEmpty && i == 0) bloomPath(name, id)
          else auxBloomPath(name, id, bloomSpecs(i))
        val out = Files.newOutputStream(p)
        try bfs(i).writeTo(out) finally out.close()
      }
    }

    Some(Segment(id, kind, upsert, dataSchema, hashV, tuples, partitionBy, keys, auxKeys))
  }

  /** Lists the staged segments in their tables' manifests in order (atomic
    * renames), which makes them visible; a line that fails to land discards
    * its segment and every later one, then rethrows. Only after every line
    * has landed does it compact the tables that gained a delta, so a failed
    * compaction leaves them published and fragmented. Returns what
    * [[write]] returns.
    */
  private def publish(staged: Seq[Staged]): Seq[Long] = {
    staged.indices.foreach { i =>
      try staged(i).segment.foreach(appendManifest(staged(i).name, _))
      catch { case e: Throwable => staged.drop(i).foreach(discard); throw e }
    }
    val compacted = staged.collect { case Staged(n, Some(seg)) if seg.kind == "delta" => n }
      .distinct.flatMap(n => compactIfFragmented(n, autoCompactSegments).map(n -> _)).toMap
    staged.map(s => compacted.getOrElse(s.name,
      s.segment.fold(latestSnapshot(s.name).get)(_.id)))
  }

  /** Deletes a staged segment's data and bloom files; it was never listed,
    * so no reader can have seen it.
    */
  private def discard(s: Staged): Unit =
    s.segment.foreach(seg => deleteSegment(s.name, seg.id, seg.auxKeys))

  /** Data, legacy lineage directory and every bloom file of snapshot `id`. */
  private def deleteSegment(name: String, id: Long, auxKeys: Seq[Seq[String]]): Unit = {
    deleteRecursively(Paths.get(snapshotPath(name, id)))
    deleteRecursively(legacyLineageDir(name, id))
    Files.deleteIfExists(bloomPath(name, id))
    auxKeys.foreach(k => Files.deleteIfExists(auxBloomPath(name, id, k)))
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }

  /** Row-content hash used for lineage checksums, in the given version
    * (see HashVCurrent): columns in lexicographic name order, stable across
    * the column reordering of partitioned read-back.
    */
  private def rowHashCol(columns: Seq[String], v: Int) =
    if (v >= 2) xxhash64(columns.sorted.map(col): _*)
    else xxhash64(to_json(struct(columns.sorted.map(col): _*)))

  /** Recompute (total rows, global xor checksum) from the COMMITTED files of
    * a segment and compare against the lineage its manifest entry recorded
    * at commit time — with the hash version that entry records. Partition
    * boundaries differ on read-back, so the comparison is at the
    * order-independent aggregate level — which is exactly the resume
    * integrity question ("are the committed bytes the rows the job saw?").
    * One job (the segment's scan) whatever the table's history. False for an
    * id the manifest does not list or a segment with no recorded lineage.
    */
  def verifyLineage(name: String, id: Long): Boolean =
    entries(name).find(_.id == id).exists { e =>
      recordedLineage(name, e).exists { recorded =>
        val committed = segDf(name, e)
        val perTask = committed.select(rowHashCol(committed.columns, e.hashV)).as[Long]
          .mapPartitions { it =>
            var (rows, xor) = (0L, 0L)
            it.foreach { h => rows += 1; xor ^= h }
            Iterator((rows, xor))
          }.collect()
        perTask.map(_._1).sum == recorded.map(_._2).sum &&
          perTask.map(_._2).foldLeft(0L)(_ ^ _) ==
            recorded.filter(_._2 > 0).map(_._3).foldLeft(0L)(_ ^ _)
      }
    }

  /** A segment's (partition, rows, checksum) tuples: its manifest entry's,
    * or for a legacy entry those in its `snapshot-N-lineage/` directory.
    */
  private def recordedLineage(name: String, e: Entry): Option[Seq[(Int, Long, Long)]] =
    e.lineage.orElse {
      val dir = legacyLineageDir(name, e.id)
      if (!Files.exists(dir)) None
      else Some(legacyLineageRows(Seq(dir))
        .select($"partition_id", $"output_rows", $"checksum").as[(Int, Long, Long)]
        .collect().toSeq)
    }

  /** Legacy lineage directories, read with their known schema (no inference job). */
  private def legacyLineageRows(dirs: Seq[Path]): DataFrame =
    spark.read.schema(Encoders.product[LineageRow].schema).parquet(dirs.map(_.toString): _*)

  private def appendManifest(name: String, seg: Segment): Unit = {
    Files.createDirectories(tableDir(name))
    val m = manifest(name)
    val existing = manifestLines(name)
    def strings(xs: Seq[String]) = xs.map(k => "\"" + k + "\"").mkString("[", ", ", "]")
    // flat-encoded (see parseEntry); only appended when present so legacy
    // manifest lines stay byte-identical in format. Recorded even above the
    // bloom ceiling (like `keys`): compaction reads the layout from the line
    val auxJson =
      if (seg.auxKeys.isEmpty) ""
      else seg.auxKeys.map(s => "\"" + s.mkString("|") + "\"")
        .mkString(""", "aux_keys": [""", ", ", "]")
    val schemaB64 = java.util.Base64.getEncoder.encodeToString(seg.schema.json.getBytes(UTF_8))
    val lineageJson = seg.lineage.map { case (p, n, x) => s"[$p, $n, $x]" }
      .mkString("[", ", ", "]")
    // recorded commit time is clamped to be monotone with snapshot id (as
    // Delta monotonizes commit timestamps): readAtTime picks the highest-id
    // entry at-or-before ts and readAt then includes ALL lower-id segments,
    // which is only correct if no lower-id entry carries a LATER timestamp —
    // an NTP step-back between commits would otherwise break as-of reads
    val prevTs = existing.reverseIterator.flatMap(_._2.flatMap(_.committedAtMs))
      .nextOption().getOrElse(0L)
    val committedAt = math.max(System.currentTimeMillis(), prevTs)
    val entry =
      s"""{"snapshot_id": ${seg.id}, "table": "$name", "kind": "${seg.kind}", """ +
        s""""upsert": ${seg.upsert}, "keys": ${strings(seg.keys)}$auxJson, """ +
        s""""partition_by": ${strings(seg.partitionBy)}, "schema_b64": "$schemaB64", """ +
        s""""hash_v": ${seg.hashV}, "committed_at_ms": $committedAt, "lineage": $lineageJson}"""
    val tmp = tableDir(name).resolve(s"_snapshots.json.tmp-${seg.id}")
    Files.write(tmp, (existing.map(_._1) :+ entry).mkString("\n").getBytes(UTF_8))
    Files.move(tmp, m, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** All lineage rows for a table across snapshots: the manifest entries'
    * tuples as [[LineageRow]]s (stamped with the entry's commit time), plus
    * the legacy `snapshot-N-lineage/` directories of entries without them.
    * None when no segment recorded lineage.
    */
  def lineage(name: String): Option[DataFrame] = {
    val (inManifest, legacy) = entries(name).partition(_.lineage.isDefined)
    val rows = for (e <- inManifest; (p, n, x) <- e.lineage.get)
      yield LineageRow(name, p, 0L, n, x, e.id, e.committedAtMs.map(new Timestamp(_)).orNull)
    val dirs = legacy.map(e => legacyLineageDir(name, e.id)).filter(Files.exists(_))
    (Option.when(inManifest.nonEmpty)(rows.toDF()) ++
      Option.when(dirs.nonEmpty)(legacyLineageRows(dirs))).reduceOption(_ unionByName _)
  }

  /** MERGE-style append (S6 semantics, reference pipeline.py:416-547
    * UNWIND-upsert + dedup-before-write :791-801): rows whose key already
    * exists in the live table are dropped (left_anti); the remainder is
    * written as a DELTA SEGMENT — O(new rows), not O(table). Idempotent:
    * re-running the same append writes nothing. Returns the new segment id
    * (or the current one when nothing new arrived). A one-write [[write]].
    */
  def mergeAppend(name: String, df: DataFrame, keys: Seq[String],
      partitionBy: Seq[String] = Nil, auxBloomKeys: Seq[Seq[String]] = Nil): Long =
    write(Seq(Write(name, df, Write.Append, keys, partitionBy, auxBloomKeys))).head

  /** MERGE with UPDATE semantics (entity-link summary/alias merges): rows
    * whose key is new OR whose content differs from the live row are written
    * as an upsert delta; `read` resolves last-writer-wins per key
    * (merge-on-read). O(changed + new) write. EXCEPT does the change
    * detection null-safely. Idempotent on content. A one-write [[write]].
    */
  def mergeUpsert(name: String, df: DataFrame, keys: Seq[String],
      partitionBy: Seq[String] = Nil, auxBloomKeys: Seq[Seq[String]] = Nil): Long =
    write(Seq(Write(name, df, Write.Upsert, keys, partitionBy, auxBloomKeys))).head

  /** One write, staged: readers see nothing until `publish`; `discard`
    * deletes it. A merge into a table with no live segment, like a full
    * write, stages a full snapshot.
    *
    * A merge's incoming rows (deduplicated on `keys`) feed two jobs, the bloom
    * probe and the write. They are persisted for the pair only when `df`
    * is not already materialized (see [[materialized]]); otherwise both
    * jobs re-read the materialized leaves, no second copy is stored, and
    * AQE still coalesces the write's partitions. The write itself is
    * first: the anti-join (append) or EXCEPT (upsert) executes ONCE inside
    * the write pass, and a zero-row delta is discarded there instead of
    * being probed with a second isEmpty execution.
    */
  private def stage(w: Write): Staged = {
    val Write(name, df, _, keys, partitionBy, auxKeys) = w
    val upsert = w.kind == Write.Upsert
    val in = if (w.kind == Write.Full) df else df.dropDuplicates(keys)
    val segment =
      if (w.kind == Write.Full || liveEntries(name).isEmpty)
        stageSegment(name, in, partitionBy, kind = "full", upsert = false, keys,
          auxKeys = auxKeys)
      else {
        val persisted = !materialized(df)
        if (persisted) in.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // pruning is key-complete (see resolveSegments), so the scanned
          // subset resolves every key the delta could touch exactly as the
          // full view does; EXCEPT rows from unrelated keys can never equal
          // an incoming row (row equality implies key equality)
          val delta = resolveSegments(name, scannedEntries(name, in, keys)) match {
            case None => in
            case Some(ex) if upsert => in.except(ex.select(in.columns.map(col): _*))
            case Some(ex) => in.join(ex.select(keys.map(col): _*), keys, "left_anti")
          }
          stageSegment(name, delta, partitionBy, kind = "delta", upsert, keys,
            skipIfEmpty = true, auxKeys = auxKeys)
        } finally if (persisted) in.unpersist(blocking = false)
      }
    Staged(name, segment)
  }

  /** True when re-reading `df` costs no upstream work: every leaf of its
    * plan, with cached data substituted, is a cached relation, a local
    * relation or an RDD that is checkpointed, and the plan is
    * deterministic (so the bloom probe and the write see the same rows).
    * A `foreachBatch` frame or a `createDataFrame(rdd, schema)` frame is an
    * RDD that is not materialized.
    */
  private def materialized(df: DataFrame): Boolean = {
    val plan = df.queryExecution.withCachedData
    plan.deterministic && plan.collectLeaves().forall {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }
  }

  /** LSM-style amortized compaction: when the live manifest holds more than
    * `maxSegments` segments, rewrite the resolved table as ONE full snapshot
    * (collapsing the merge-on-read window). Auto-invoked by `publish`, so
    * each row is rewritten at most once per `maxSegments` appends and the
    * read path's segment union stays bounded; `TableApp compact` passes 1.
    * The layout comes from the live entries, not a caller, so a bare delta
    * landing last cannot strip it: partition columns, merge keys and aux
    * key sets are each the live full base's value when non-empty, else the
    * most common non-empty live value (ties by its text), else empty.
    */
  def compactIfFragmented(name: String, maxSegments: Int): Option[Long] = {
    val live = liveEntries(name)
    if (live.size <= maxSegments) None
    else {
      val baseFull = live.head.kind == "full"
      def pick[A](values: Seq[Seq[A]]): Seq[A] =
        values.headOption.filter(v => baseFull && v.nonEmpty).orElse(
          values.filter(_.nonEmpty).map(_.toList).groupBy(identity).toSeq
            .sortBy { case (v, g) => (-g.size, v.toString) }.headOption.map(_._1))
          .getOrElse(Nil)
      resolveSegments(name, live).map(df => commit(name, df,
        pick(live.map(partitionColumnsOf(name, _))), pick(live.map(_.keys)),
        pick(live.map(_.auxKeys))))
    }
  }

  /** Read a stage if committed, else compute + commit it (resume semantics).
    * `bloomKeys` = the table's merge keys when later increments will merge
    * into it (the initial full snapshot then carries a skippable key bloom).
    */
  def computeIfAbsent(name: String, partitionBy: Seq[String] = Nil,
      bloomKeys: Seq[String] = Nil,
      auxBloomKeys: Seq[Seq[String]] = Nil)(f: => DataFrame): DataFrame =
    read(name) match {
      case Some(df) => df
      case None =>
        commit(name, f, partitionBy, bloomKeys, auxBloomKeys)
        read(name).get
    }
}

object SnapshotLog {

  /** Per-test false-positive rate of every segment bloom AT capacity. A
    * merge makes deltaRows × segments membership tests and scans every
    * segment with ≥ 1 hit, so the expected number of NEEDLESSLY scanned
    * segments is ≈ deltaRows × fpp × segments — fpp must sit well under
    * 1/deltaRows for the typical increment, not at the 1-5% of scan-time
    * bloom defaults (0.03 at a 10k-row delta flags EVERY segment almost
    * surely). 1e-6 costs ≈ 28.8 bits × segment rows per bloom and keeps a
    * 10k-row delta's flag-FP chance at ~1% per segment.
    */
  private val BloomFpp = 1e-6

  /** A segment written under its snapshot id but not listed in the manifest,
    * with its per-task (partition, rows, checksum) lineage tuples and its
    * layout: partition columns, merge keys and aux key sets.
    */
  private final case class Segment(id: Long, kind: String, upsert: Boolean,
      schema: org.apache.spark.sql.types.StructType, hashV: Int,
      lineage: Seq[(Int, Long, Long)], partitionBy: Seq[String], keys: Seq[String],
      auxKeys: Seq[Seq[String]])

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A write's output, written but not yet listed; None for a zero-row merge. */
  private final case class Staged(name: String, segment: Option[Segment])

  /** One table's part of a [[SnapshotLog.write]]: its frame, how it lands
    * and its layout — merge keys (a full snapshot's bloom keys), partition
    * columns and aux lookup key sets.
    */
  final case class Write(name: String, df: DataFrame, kind: Write.Kind,
      keys: Seq[String] = Nil, partitionBy: Seq[String] = Nil,
      auxKeys: Seq[Seq[String]] = Nil)

  object Write {
    /** A full snapshot, or a merge that drops rows whose key is live
      * (append) or keeps new and changed rows (upsert). */
    sealed trait Kind
    case object Full extends Kind
    case object Append extends Kind
    case object Upsert extends Kind
  }
}
