package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Turn
import graft.pipeline.Ingest
import graft.synth.TranscriptGen
import graft.tables.SnapshotLog
import graft.tables.SnapshotLog.Write

/** Round-3 table-layer contracts: O(delta) append segments, merge-on-read
  * upserts, one-pass lineage (no re-read of the written snapshot), and
  * compaction.
  */
class SnapshotLogSpec extends SparkSpec {
  import spark.implicits._

  private def dirSize(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else Files.walk(root).filter(Files.isRegularFile(_))
      .mapToLong(f => Files.size(f)).sum()
  }

  test("mergeAppend writes O(delta) segments — append cost ∝ new rows, not table size") {
    val dir = Files.createTempDirectory("graft-seg").toString
    val log = new SnapshotLog(spark, dir)
    val big = (1 to 20000).map(i => (i.toLong, s"value-$i-" + "x" * 40)).toDF("id", "v")
    log.mergeAppend("t", big, Seq("id"))
    val fullBytes = dirSize(log.snapshotPath("t", 1))

    // 100 overlapping + 50 new keys → only the 50 land, as a delta segment
    val incr = (19901 to 20050).map(i => (i.toLong, s"value-$i-" + "x" * 40)).toDF("id", "v")
    log.mergeAppend("t", incr, Seq("id"))
    assert(log.snapshots("t") === Seq(1L, 2L))
    val deltaBytes = dirSize(log.snapshotPath("t", 2))
    assert(deltaBytes > 0 && deltaBytes < fullBytes / 10,
      s"delta segment ($deltaBytes B) must be small vs the full snapshot ($fullBytes B)")

    // read = union of live segments, content identical to a rewrite
    val rows = log.read("t").get
    assert(rows.count() === 20050L)
    assert(rows.filter($"id" === 20050L).count() === 1L)
    assert(rows.select($"id").distinct().count() === 20050L)

    // idempotent: same increment again writes no new segment
    log.mergeAppend("t", incr, Seq("id"))
    assert(log.snapshots("t") === Seq(1L, 2L))
  }

  test("mergeUpsert: changed rows replace via merge-on-read; unchanged input is a no-op") {
    val dir = Files.createTempDirectory("graft-mor").toString
    val log = new SnapshotLog(spark, dir)
    val v1 = Seq((1L, "alpha", "s1"), (2L, "beta", "s2")).toDF("id", "name", "summary")
    log.mergeUpsert("t", v1, Seq("id"))

    // unchanged content → no new segment (idempotent on content)
    log.mergeUpsert("t", v1, Seq("id"))
    assert(log.snapshots("t") === Seq(1L))

    // id=2 changes summary, id=3 is new → ONE delta holding exactly those two
    val v2 = Seq((2L, "beta", "s2-merged"), (3L, "gamma", "s3")).toDF("id", "name", "summary")
    log.mergeUpsert("t", v2, Seq("id"))
    assert(log.snapshots("t") === Seq(1L, 2L))
    assert(spark.read.parquet(log.snapshotPath("t", 2)).count() === 2L)

    val rows = log.read("t").get.orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq === Seq((1L, "alpha", "s1"), (2L, "beta", "s2-merged"), (3L, "gamma", "s3")),
      "read must resolve last-writer-wins per key")
  }

  test("auto-compaction bounds the live segment count (LSM-amortized rewrites)") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val log = new SnapshotLog(spark, dir, autoCompactSegments = 5)
    (1 to 14).foreach { i =>
      log.mergeAppend("t", Seq((i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))
    }
    // every append past 5 live segments triggers a full rewrite, so the live
    // set never exceeds 6 (threshold + the compacted full) and read-back is
    // complete
    val live = log.read("t").get.collect().map(_.getLong(0)).sorted
    assert(live === (1L to 14L).toArray)
    val manifest = Files.readAllLines(
      Paths.get(dir, "t", "_snapshots.json")).toArray.mkString("\n")
    assert(manifest.linesIterator.count(_.contains("\"full\"")) >= 2,
      s"expected auto-compaction full snapshots in:\n$manifest")
    val lastFullId = log.snapshots("t").zip(manifest.linesIterator.toSeq)
      .filter(_._2.contains("\"full\"")).map(_._1).max
    assert(log.snapshots("t").count(_ >= lastFullId) <= 6)
  }

  test("mergeAppend/mergeUpsert execute the delta ONCE (write-first, no isEmpty probe)") {
    val dir = Files.createTempDirectory("graft-onejoin").toString
    val log = new SnapshotLog(spark, dir)
    log.commit("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))

    def ticked(from: Long, until: Long) = {
      val acc = spark.sparkContext.longAccumulator("delta-evals")
      val tick = udf { (i: Long) => acc.add(1L); i }.asNondeterministic()
      (spark.range(from, until).select(tick($"id").as("id"), lit("x").as("v")), acc)
    }

    // non-empty delta: the anti-join runs once, inside the write pass
    val (in1, acc1) = ticked(1, 101)
    log.mergeAppend("t", in1, Seq("id"))
    assert(acc1.value === 100L,
      s"incoming rows must be evaluated exactly once, got ${acc1.value}")

    // zero-row delta: discarded inside the SAME single pass — no second
    // execution, no new snapshot
    val (in2, acc2) = ticked(1, 101)
    val before = log.snapshots("t")
    log.mergeAppend("t", in2, Seq("id"))
    assert(acc2.value === 100L,
      s"zero-row delta still one evaluation, got ${acc2.value}")
    assert(log.snapshots("t") === before, "empty delta must not land a segment")

    // upsert path: EXCEPT runs once too (rows identical to live → no-op;
    // ids 3..100 carry "x" in the live table from the append above)
    val (in3, acc3) = ticked(3, 101)
    log.mergeUpsert("t", in3, Seq("id"))
    assert(acc3.value === 98L,
      s"upsert EXCEPT delta must execute once, got ${acc3.value}")
    assert(log.snapshots("t") === before, "no-op upsert must not land a segment")
  }

  test("commit runs ONE scan of the stage output and ONE job (lineage in manifest)") {
    val dir = Files.createTempDirectory("graft-onepass").toString
    val log = new SnapshotLog(spark, dir)
    // every evaluation of the stage output bumps the accumulator once per row
    val scans = spark.sparkContext.longAccumulator("stage-scans")
    val tick = udf { (i: Long) => scans.add(1L); i }.asNondeterministic()
    val df = spark.range(0, 5000, 1, 4).select(tick($"id").as("id"), lit("p").as("v"))

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      log.commit("t", df)
      // listener bus is async; give it a beat
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(scans.value === 5000L,
      s"stage output must be scanned exactly once (got ${scans.value} row evaluations)")
    assert(jobs.get() <= 1,
      s"commit must be the data write alone, got ${jobs.get()} jobs")
    assert(!Files.exists(Paths.get(dir, "t", "snapshot-1-lineage")))
    // and the lineage totals reconcile against the committed bytes
    assert(log.verifyLineage("t", 1L))
    val lin = log.lineage("t").get
    assert(lin.agg(sum($"output_rows")).first().getLong(0) === 5000L)
  }

  test("verifyLineage detects committed-byte divergence") {
    val dir = Files.createTempDirectory("graft-vlin").toString
    val log = new SnapshotLog(spark, dir)
    log.commit("t", (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v"))
    assert(log.verifyLineage("t", 1L))
    // tamper: drop one data file → checksum/count must no longer reconcile
    val dataDir = Paths.get(log.snapshotPath("t", 1))
    val victim = Files.walk(dataDir).filter(p => p.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.delete(victim)
    assert(!log.verifyLineage("t", 1L))
  }

  test("verifyLineage runs ONE job on a 12-segment table; no write leaves a lineage dir") {
    val dir = Files.createTempDirectory("graft-vlin-jobs").toString
    val log = new SnapshotLog(spark, dir, autoCompactSegments = 6)
    def rows(from: Long) = (from until from + 50L).map(i => (i, s"v$i", s"g${i % 3}"))
      .toDF("id", "v", "g")
    log.commit("t", rows(0L), partitionBy = Seq("g"), bloomKeys = Seq("id"))
    (1 to 10).foreach { i =>
      if (i % 2 == 0) log.mergeAppend("t", rows(i * 100L), Seq("id"), Seq("g"))
      else log.mergeUpsert("t", rows(i * 100L - 25L), Seq("id"), Seq("g"))
    }
    val ids = log.snapshots("t")
    assert(ids.size >= 10 && log.history("t").filter($"kind" === "full").count() >= 2,
      s"fixture must hold >= 10 segments and a compaction: $ids")
    val lineageDirs = Files.list(Paths.get(dir, "t"))
    try assert(lineageDirs.iterator().asScala.forall(!_.toString.endsWith("-lineage")))
    finally lineageDirs.close()
    ids.foreach { id =>
      var ok = false
      val jobs = jobsOf { ok = log.verifyLineage("t", id) }
      assert(ok, s"snapshot $id must verify")
      assert(jobs === 1, s"verifyLineage of snapshot $id ran $jobs jobs")
    }
  }

  test("a legacy segment's lineage directory verifies, lists, detects loss and is vacuumed") {
    val dir = Files.createTempDirectory("graft-vlin-legacy").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeAppend("t", (1L to 300L).map(i => (i, s"v$i")).toDF("id", "v").repartition(3),
      Seq("id"))
    log.mergeAppend("t", (301L to 400L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    def lineageSet = log.lineage("t").get
      .select($"snapshot_id", $"partition_id", $"output_rows", $"checksum")
      .as[(Long, Int, Long, Long)].collect().toSet
    val before = lineageSet
    assert(before.map(_._1) === Set(1L, 2L))

    // segment 1 in the older layout: no `lineage` field on its manifest
    // line, its tuples in a seven-column snapshot-1-lineage/ directory
    val legacyDir = Paths.get(dir, "t", "snapshot-1-lineage")
    log.lineage("t").get.filter($"snapshot_id" === 1L).coalesce(1)
      .write.parquet(legacyDir.toString)
    val m = Paths.get(dir, "t", "_snapshots.json")
    val lines = Files.readAllLines(m).asScala.toSeq
    val rewritten = lines.map(l =>
      if (l.contains("\"snapshot_id\": 1,")) l.replaceAll(""", "lineage": \[.*\]\}$""", "}")
      else l)
    assert(rewritten.head != lines.head && !rewritten.head.contains("lineage"))
    Files.write(m, rewritten.mkString("\n").getBytes)

    assert(log.verifyLineage("t", 1L) && log.verifyLineage("t", 2L))
    assert(lineageSet === before, "lineage() must list the legacy and the manifest rows")
    assert(log.lineage("t").get.columns.toSeq === Seq("stage", "partition_id", "input_rows",
      "output_rows", "checksum", "snapshot_id", "committed_at"))

    val victim = Files.walk(Paths.get(log.snapshotPath("t", 1)))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.delete(victim)
    assert(!log.verifyLineage("t", 1L), "a lost data file of a legacy segment must not verify")

    log.commit("t", log.read("t").get, bloomKeys = Seq("id"))
    assert(log.vacuum("t") === Seq(1L, 2L))
    assert(!Files.exists(legacyDir), "vacuum must delete the legacy lineage directory")
    assert(log.verifyLineage("t", 3L))
  }

  test("truncateAll materializes three independent tables in ONE job, values intact") {
    val a = spark.range(1, 101).select($"id".cast("int").as("x")).filter($"x" % 2 === 0)
    val b = (1 to 50).map(i => (i, s"n$i")).toDF("id", "name")
    val c = Seq(("t1", 0.5), ("t2", 0.9)).toDF("topic", "score")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val r = graft.tables.Checkpoints.truncateAll(a.toDF(), b, c)
      Thread.sleep(500) // listener bus is async
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() === 1,
      s"three independent truncations must share ONE materialization job, got ${jobs.get()}")
    assert(out(0).collect().map(_.getInt(0)).sorted.toSeq === (2 to 100 by 2).toSeq)
    assert(out(1).count() === 50L && out(2).count() === 2L)
    // lineage actually truncated: the returned plans scan checkpointed RDDs,
    // not the original subtrees
    out.foreach { df =>
      assert(df.queryExecution.optimizedPlan.collectLeaves().forall(
        _.getClass.getSimpleName.contains("LogicalRDD")),
        s"expected LogicalRDD leaves, got ${df.queryExecution.optimizedPlan}")
    }
  }

  test("commit after deltas compacts: read sees exactly the last full snapshot onward") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeAppend("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    log.mergeAppend("t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    assert(log.snapshots("t") === Seq(1L, 2L))
    // compaction: one full snapshot of the current state
    log.commit("t", log.read("t").get)
    assert(log.snapshots("t") === Seq(1L, 2L, 3L))
    assert(log.read("t").get.count() === 2L)
    // post-compaction append still works and reads union(full, delta)
    log.mergeAppend("t", Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    assert(log.read("t").get.orderBy($"id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 3L))
  }

  test("bloom pruning: all-new-key merges scan ZERO live segments; overlap scans only hits") {
    val dir = Files.createTempDirectory("graft-bloom").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeAppend("t", (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    log.mergeAppend("t", (1001L to 2000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(log.snapshots("t") === Seq(1L, 2L))
    // every keyed segment carries a bloom file
    assert(Files.exists(Paths.get(dir, "t", "snapshot-1.bloom")))
    assert(Files.exists(Paths.get(dir, "t", "snapshot-2.bloom")))

    // disjoint keys: the anti-join reads NO existing segment at all — the
    // O(delta)-read contract a 100 TB table needs per small increment
    log.mergeAppend("t", (9001L to 9100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(log.lastMergeScan === Some((0, 2)),
      s"disjoint increment must scan 0 of 2 segments: ${log.lastMergeScan}")
    assert(log.read("t").get.count() === 2100L)

    // keys overlapping ONLY segment 2 → scan exactly the hit segment(s),
    // and the overlapping rows are correctly dropped (no duplicates)
    log.mergeAppend("t", (1901L to 1950L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val (scanned, live) = log.lastMergeScan.get
    assert(live === 3 && scanned >= 1 && scanned < 3,
      s"overlap with one segment must scan a strict subset: ${log.lastMergeScan}")
    assert(log.read("t").get.count() === 2100L) // all duplicates dropped
    assert(log.snapshots("t") === Seq(1L, 2L, 3L)) // zero-row delta discarded

    // idempotency through the pruned path: full replay appends nothing
    log.mergeAppend("t", (1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(log.read("t").get.count() === 2100L)
  }

  test("bloom pruning: upsert resolves changed keys correctly through a pruned scan") {
    val dir = Files.createTempDirectory("graft-bloomup").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeUpsert("t", (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    log.mergeUpsert("t", (501L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    // change one row living in segment 1, add one new key
    log.mergeUpsert("t", Seq((42L, "CHANGED"), (5000L, "NEW")).toDF("id", "v"), Seq("id"))
    val (scanned, live) = log.lastMergeScan.get
    assert(live === 2 && scanned <= 1,
      s"two-key upsert should scan at most the one hit segment: ${log.lastMergeScan}")
    val m = log.read("t").get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(42L) === "CHANGED" && m(5000L) === "NEW" && m(43L) === "v43")
    assert(m.size === 1001)
    // unchanged replay through the pruned path is still a no-op
    val before = log.snapshots("t")
    log.mergeUpsert("t", Seq((42L, "CHANGED")).toDF("id", "v"), Seq("id"))
    assert(log.snapshots("t") === before)
  }

  test("bloom pruning: a bloom built over DIFFERENT merge keys is never trusted") {
    // a public-API caller can merge a table on a different key set than its
    // segments were committed with — the blooms then hash different values,
    // so trusting them could prune a segment that DOES hold incoming keys
    // (silent duplicates). The guard treats key-set-mismatched blooms as
    // absent: correct (always scan), just unpruned.
    val dir = Files.createTempDirectory("graft-bloomkeys").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeAppend("t", (1L to 500L).map(i => (i, s"g${i % 7}", s"v$i"))
      .toDF("id", "g", "v"), Seq("id", "g"))
    log.mergeAppend("t", (501L to 1000L).map(i => (i, s"g${i % 7}", s"v$i"))
      .toDF("id", "g", "v"), Seq("id", "g"))
    // merge on a SUBSET key (id only) with rows whose (id) exists but whose
    // (id, g) would hash differently: both segments must be scanned, and the
    // id-duplicate rows dropped
    log.mergeAppend("t", Seq((42L, "OTHER", "dup"), (5000L, "g0", "new"))
      .toDF("id", "g", "v"), Seq("id"))
    assert(log.lastMergeScan === Some((2, 2)),
      s"key-set mismatch must disable pruning: ${log.lastMergeScan}")
    val rows = log.read("t").get.collect()
    assert(rows.length === 1001)
    assert(rows.count(_.getLong(0) == 42L) === 1, "id-keyed dedup must hold")
    // same keys, different order/case: blooms stay trusted (pruning intact)
    val log2 = new SnapshotLog(spark, Files.createTempDirectory("graft-bk2").toString)
    log2.mergeAppend("t", (1L to 200L).map(i => (i, s"g${i % 7}", s"v$i"))
      .toDF("id", "g", "v"), Seq("id", "g"))
    log2.mergeAppend("t", Seq((9000L, "gX", "new2")).toDF("id", "g", "v"), Seq("G", "ID"))
    assert(log2.lastMergeScan === Some((0, 1)),
      s"order/case-insensitive key match must keep pruning: ${log2.lastMergeScan}")
  }

  test("bloom key hash orders columns case-insensitively (mixed-case keys never false-prune)") {
    // keys whose case-SENSITIVE sort differs from the case-insensitive one:
    // ("ID","g") sorts (ID,g) case-sensitively ('I' < 'g') but (g, id)
    // case-insensitively. The key-set guard accepts Seq("id","g") as the
    // same set, so the probe hash MUST order columns identically to the
    // bloom-build hash or an overlapping segment gets falsely pruned and
    // the duplicate key lands silently.
    val dir = Files.createTempDirectory("graft-bloomcase").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeAppend("t", (1L to 300L).map(i => (i, s"g${i % 5}", s"v$i"))
      .toDF("ID", "g", "v"), Seq("ID", "g"))
    // overlapping row, lowercase caller keys → MUST flag + dedup
    log.mergeAppend("t", Seq((42L, s"g${42 % 5}", "dup"), (9000L, "g0", "new"))
      .toDF("ID", "g", "v"), Seq("id", "g"))
    assert(log.lastMergeScan === Some((1, 1)),
      s"overlap must be flagged through the mixed-case hash: ${log.lastMergeScan}")
    assert(log.read("t").get.count() === 301L, "duplicate (ID,g) key must be dropped")
    // and disjoint keys still prune to zero through the same path
    log.mergeAppend("t", Seq((9500L, "gZ", "new2")).toDF("ID", "g", "v"), Seq("id", "g"))
    assert(log.lastMergeScan.get._1 === 0,
      s"disjoint mixed-case merge must still prune: ${log.lastMergeScan}")
  }

  test("bloom probing under a tiny driver budget groups correctly and still prunes") {
    // bloomProbeBudgetBytes=1 forces ONE bloom per probe job — the bounded-
    // driver-memory path (worst-case resident = budget + one bloom, never
    // segments × bloom bytes). Semantics must be identical to the one-job
    // path: disjoint increments scan zero, overlaps scan exactly the hits.
    val dir = Files.createTempDirectory("graft-bloombudget").toString
    val log = new SnapshotLog(spark, dir, bloomProbeBudgetBytes = 1L)
    log.mergeAppend("t", (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    log.mergeAppend("t", (501L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    log.mergeAppend("t", (2001L to 2100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(log.lastMergeScan === Some((0, 2)),
      s"grouped probing must still prune disjoint merges: ${log.lastMergeScan}")
    log.mergeAppend("t", Seq((42L, "dup"), (950L, "dup")).toDF("id", "v"), Seq("id"))
    assert(log.lastMergeScan === Some((2, 3)),
      s"grouped probing must flag both hit segments: ${log.lastMergeScan}")
    assert(log.read("t").get.count() === 1100L)
  }

  test("manifest commit timestamps are monotone even if the wall clock steps back") {
    val dir = Files.createTempDirectory("graft-monotone").toString
    val log = new SnapshotLog(spark, dir)
    log.commit("t", Seq((1L, "a")).toDF("id", "v"))
    // simulate an NTP step-back: hand-edit snapshot 1's recorded time into
    // the far future, then commit again — the new entry must clamp to it,
    // not record an EARLIER time on a LATER snapshot id
    val m = Paths.get(dir, "t", "_snapshots.json")
    val future = System.currentTimeMillis() + 10L * 365 * 86400 * 1000
    val edited = new String(Files.readAllBytes(m), java.nio.charset.StandardCharsets.UTF_8)
      .replaceAll("\"committed_at_ms\": \\d+", s""""committed_at_ms": $future""")
    Files.write(m, edited.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    log.mergeAppend("t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    val times = log.history("t").orderBy("snapshot_id")
      .collect().map(_.getTimestamp(4).getTime)
    assert(times.length === 2 && times(1) >= times(0),
      s"commit times must be monotone with snapshot id: ${times.toSeq}")
    // readAtTime at the (clamped) shared instant sees BOTH segments — the
    // as-of invariant the monotone clamp protects
    assert(log.readAtTime("t", new java.sql.Timestamp(times(1))).get.count() === 2L)
  }

  test("bloom pruning: a segment without a bloom file is always scanned (legacy safety)") {
    val dir = Files.createTempDirectory("graft-bloomlegacy").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeAppend("t", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    log.mergeAppend("t", (101L to 200L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    Files.delete(Paths.get(dir, "t", "snapshot-1.bloom")) // simulate legacy segment
    // disjoint keys: segment 2's bloom prunes it, bloom-less segment 1 must
    // still be scanned — and the merge stays correct
    log.mergeAppend("t", (301L to 320L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(log.lastMergeScan === Some((1, 2)), s"${log.lastMergeScan}")
    // overlap with the legacy segment still dedups correctly
    log.mergeAppend("t", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(log.read("t").get.count() === 220L)
  }

  test("bloom capacity auto-sizes to the segment row count; the ceiling writes no bloom") {
    // 5,000 keys: a FIXED small-capacity bloom would saturate (every probe
    // hits, no pruning); auto-sizing keeps fpp at spec and the disjoint
    // increment scans ZERO segments
    val dir = Files.createTempDirectory("graft-bloomsize").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeAppend("t", (1L to 5000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    log.mergeAppend("t", (9001L to 9100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(log.lastMergeScan === Some((0, 1)),
      s"auto-sized bloom must prune the 5000-key base: ${log.lastMergeScan}")

    // above the ceiling no bloom lands (saturated blooms flag everything
    // anyway); the segment is simply always scanned — and stays correct
    val dir2 = Files.createTempDirectory("graft-bloomcap").toString
    val log2 = new SnapshotLog(spark, dir2, bloomMaxItems = 1000L)
    log2.mergeAppend("t", (1L to 5000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(!Files.exists(Paths.get(dir2, "t", "snapshot-1.bloom")))
    log2.mergeAppend("t", (9001L to 9100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(log2.lastMergeScan === Some((1, 1)), s"${log2.lastMergeScan}")
    log2.mergeAppend("t", (1L to 5000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(log2.read("t").get.count() === 5100L)
  }

  test("bloom bytes follow the segment's rows: a small merge writes and ships a small bloom") {
    // 1,000 keys at fpp 1e-6 need ~28.8 bits each (~3.6 KB); a bloom sized
    // past the segment's own rows shows up here as file bytes and as
    // task-result bytes (every bloom-building task returns a full copy)
    val dir = Files.createTempDirectory("graft-bloombytes").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeAppend("t", Seq((0L, "v0")).toDF("id", "v"), Seq("id"))
    val resultBytes = taskResultBytesOf(
      log.mergeAppend("t", (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id")))
    val bloomBytes = Files.size(Paths.get(dir, "t", "snapshot-2.bloom"))
    assert(bloomBytes <= 8L * 1024, s"1,000-row segment's bloom is $bloomBytes bytes")
    assert(resultBytes <= (1L << 20), s"merge shipped $resultBytes task-result bytes")

    // a zero-row keyed commit still writes a (tiny) bloom, so the segment
    // stays skippable rather than always scanned
    log.mergeAppend("z", Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))
    assert(Files.exists(Paths.get(dir, "z", "snapshot-1.bloom")))
    log.mergeAppend("z", Seq((7L, "v7")).toDF("id", "v"), Seq("id"))
    assert(log.lastMergeScan === Some((0, 1)), s"${log.lastMergeScan}")

    // small blooms keep pruning: a disjoint merge scans nothing, an
    // overlapping one scans exactly the segment holding the key
    log.mergeAppend("t", (5001L to 5010L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(log.lastMergeScan === Some((0, 2)), s"${log.lastMergeScan}")
    log.mergeAppend("t", Seq((500L, "dup")).toDF("id", "v"), Seq("id"))
    assert(log.lastMergeScan === Some((1, 3)), s"${log.lastMergeScan}")
    assert(log.read("t").get.count() === 1011L)
  }

  test("hash v1 formula is pinned (legacy warehouses keep verifying/pruning bit-identically)") {
    // golden values captured from the v1 implementation before the v2
    // switch; if these move, every pre-v2 warehouse's lineage checksums and
    // bloom probes silently break
    val df = Seq((7L, "alpha", "z")).toDF("num", "name", "tag")
    val v1row = xxhash64(to_json(struct(df.columns.sorted.map(col): _*)))
    assert(df.select(v1row).first().getLong(0) === -2568080976545920057L)
    val v1key = xxhash64(to_json(struct(Seq("name").map(col): _*)))
    assert(df.select(v1key).first().getLong(0) === -7839204850250498293L)
    val n = Seq((Option.empty[String], "x")).toDF("a", "b")
    assert(n.select(xxhash64(to_json(struct("a", "b")))).first().getLong(0)
      === 3103532763444505691L)
  }

  test("mixed hash versions: a legacy v1 segment's bloom prunes and hits via the v1 probe") {
    val dir = Files.createTempDirectory("graft-hashv").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeAppend("t", (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    log.mergeAppend("t", (501L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))

    // hand-craft segment 1 as a LEGACY v1 segment: strip hash_v from its
    // manifest line and overwrite its bloom with v1-hashed keys
    val m = Paths.get(dir, "t", "_snapshots.json")
    val lines = Files.readAllLines(m).toArray.map(_.toString)
    val rewritten = lines.map(l =>
      if (l.contains("\"snapshot_id\": 1")) l.replace("\"hash_v\": 2, ", "") else l)
    assert(rewritten.mkString != lines.mkString, "fixture must actually strip hash_v")
    Files.write(m, rewritten.mkString("\n").getBytes)
    val v1Hashes = (1L to 500L).toDF("id")
      .select(xxhash64(to_json(struct(col("id")))).as("h"))
      .collect().map(_.getLong(0))
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000000L, 1e-6)
    v1Hashes.foreach(bf.putLong)
    val out = Files.newOutputStream(Paths.get(dir, "t", "snapshot-1.bloom"))
    try bf.writeTo(out) finally out.close()

    // disjoint keys: BOTH segments prune — the v1 segment via the v1 probe
    log.mergeAppend("t", (9001L to 9100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(log.lastMergeScan === Some((0, 2)), s"${log.lastMergeScan}")
    // keys living in the v1 segment: it must HIT (no false negatives across
    // versions) and the replay stays a no-op
    val before = log.read("t").get.count()
    log.mergeAppend("t", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val (scanned, _) = log.lastMergeScan.get
    assert(scanned >= 1, s"v1 overlap must scan the legacy segment: ${log.lastMergeScan}")
    assert(log.read("t").get.count() === before)
  }

  test("map-typed columns fall back to hash v1 (xxhash64 can't hash maps) and still prune") {
    val dir = Files.createTempDirectory("graft-mapv").toString
    val log = new SnapshotLog(spark, dir)
    val withMap = (1L to 300L).map(i => (i, Map("k" -> s"v$i"))).toDF("id", "attrs")
    log.mergeAppend("t", withMap, Seq("id"))
    assert(Files.readString(Paths.get(dir, "t", "_snapshots.json")).contains("\"hash_v\": 1"),
      "map-bearing segment must record the v1 hash")
    assert(log.verifyLineage("t", 1L), "v1 lineage must verify")
    // disjoint increment prunes through the v1 bloom; overlap dedups
    log.mergeAppend("t", (901L to 950L).map(i => (i, Map("k" -> s"v$i"))).toDF("id", "attrs"),
      Seq("id"))
    assert(log.lastMergeScan === Some((0, 1)), s"${log.lastMergeScan}")
    log.mergeAppend("t", (1L to 300L).map(i => (i, Map("k" -> s"v$i"))).toDF("id", "attrs"),
      Seq("id"))
    assert(log.read("t").get.count() === 350L)
  }

  test("point lookup (readForKeys): scans only bloom-hit segments, rows equal full-read filter") {
    val dir = Files.createTempDirectory("graft-lookup").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeAppend("t", (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    log.mergeAppend("t", (1001L to 2000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    log.mergeAppend("t", (2001L to 3000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))

    // keys living only in segment 2 → exactly that segment opens
    val hit = log.readForKey("t", "id", Seq(1500L, 1600L)).get
    val got = hit.collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(log.lastLookupScan === Some((1, 3)),
      s"two segment-2 keys must open 1 of 3 segments: ${log.lastLookupScan}")
    assert(got === Seq((1500L, "v1500"), (1600L, "v1600")))

    // absent key: ZERO segments open; empty result, schema intact
    val miss = log.readForKey("t", "id", Seq(99999L)).get
    assert(miss.count() === 0L)
    assert(log.lastLookupScan === Some((0, 3)))
    assert(miss.columns.toSeq === log.read("t").get.columns.toSeq)

    // empty probe: nothing matches, nothing scans
    assert(log.readForKey("t", "id", Seq.empty).get.count() === 0L)
    assert(log.lastLookupScan === Some((0, 3)))

    // keys across two segments: both (and only both) open; parity with the
    // unpruned read's filter
    val multi = log.readForKey("t", "id", Seq(10L, 2999L)).get
    val expect = log.read("t").get.filter($"id".isin(10L, 2999L))
      .collect().map(_.toString).sorted
    assert(multi.collect().map(_.toString).sorted === expect)
    assert(log.lastLookupScan === Some((2, 3)))

    // a probe on a column with NO bloom anywhere must scan everything and
    // still answer correctly
    val byV = log.readForKey("t", "v", Seq("v42")).get.collect()
    assert(log.lastLookupScan === Some((3, 3)))
    assert(byV.map(_.getLong(0)).toSeq === Seq(42L))
  }

  test("aux lookup blooms: non-merge-column point lookups prune (1-hop adjacency shape)") {
    val dir = Files.createTempDirectory("graft-auxbloom").toString
    val log = new SnapshotLog(spark, dir)
    val aux = Seq(Seq("subject_uuid"), Seq("object_uuid"))
    def seg(tag: String) = (1 to 400).map(i =>
      (s"$tag-f$i", s"$tag-s${i % 20}", s"$tag-o${i % 20}", s"fact $tag $i"))
      .toDF("fact_uuid", "subject_uuid", "object_uuid", "fact")
    log.mergeAppend("t", seg("a"), Seq("fact_uuid"), Nil, auxBloomKeys = aux)
    log.mergeAppend("t", seg("b"), Seq("fact_uuid"), Nil, auxBloomKeys = aux)
    log.mergeAppend("t", seg("c"), Seq("fact_uuid"), Nil, auxBloomKeys = aux)
    // aux bloom files land next to the merge-key bloom
    assert(Files.exists(Paths.get(dir, "t", "snapshot-1.bloom")))
    assert(Files.exists(Paths.get(dir, "t", "snapshot-1.bloom-subject_uuid")))
    assert(Files.exists(Paths.get(dir, "t", "snapshot-1.bloom-object_uuid")))

    // the explore_neighbors shape: subject = e OR object = e — entity b-s3
    // lives only in segment 2
    val out = log.readForAnyKeys("t", Seq(
      Seq("subject_uuid") -> Seq(Seq("b-s3")),
      Seq("object_uuid") -> Seq(Seq("b-s3")))).get
    assert(log.lastLookupScan === Some((1, 3)),
      s"an entity of one segment must open 1 of 3: ${log.lastLookupScan}")
    val expect = log.read("t").get
      .filter($"subject_uuid" === "b-s3" || $"object_uuid" === "b-s3")
      .collect().map(_.toString).sorted
    assert(out.collect().map(_.toString).sorted === expect)
    assert(expect.nonEmpty)

    // merge pruning is unaffected by the aux blooms (fact_uuid bloom intact)
    log.mergeAppend("t", seg("z"), Seq("fact_uuid"), Nil, auxBloomKeys = aux)
    assert(log.lastMergeScan === Some((0, 3)),
      s"disjoint merge must still scan 0: ${log.lastMergeScan}")

    // a table committed WITHOUT aux blooms (legacy) scans everything for the
    // same probe — correct, just unpruned
    val log2 = new SnapshotLog(spark, Files.createTempDirectory("graft-aux2").toString)
    log2.mergeAppend("t", seg("a"), Seq("fact_uuid"))
    log2.mergeAppend("t", seg("b"), Seq("fact_uuid"))
    val legacy = log2.readForAnyKeys("t", Seq(
      Seq("subject_uuid") -> Seq(Seq("b-s3")),
      Seq("object_uuid") -> Seq(Seq("b-s3")))).get
    assert(log2.lastLookupScan === Some((2, 2)))
    assert(legacy.count() === log2.read("t").get
      .filter($"subject_uuid" === "b-s3" || $"object_uuid" === "b-s3").count())
  }

  test("keyed segments carry parquet column bloom filters on key + aux columns") {
    // the pruning level BELOW the segment blooms: inside a surviving
    // segment, the parquet reader's row-group filter uses these column
    // blooms to skip row groups that can't hold a pushed key literal
    // (uuid columns are unsorted, so min/max stats never prune them)
    val dir = Files.createTempDirectory("graft-pqbloom").toString
    val log = new SnapshotLog(spark, dir)
    // fact_uuid: unique 36-char strings at a volume that overflows the 1 MB
    // dictionary page (the real uuid regime — plain-encoded, NEEDS a bloom).
    // subject/object: low-cardinality, fully dictionary-encoded — parquet-mr
    // intentionally drops the bloom there (PARQUET-2069) because the
    // dictionary already row-group-filters exactly.
    val df = (1 to 40000).map(i =>
        (f"$i%08d-aaaa-5bbb-8ccc-dddddddd$i%04d", s"s${i % 50}", s"o${i % 50}", i))
      .toDF("fact_uuid", "subject_uuid", "object_uuid", "n")
      .coalesce(1)
    log.commit("t", df, bloomKeys = Seq("fact_uuid"),
      auxBloomKeys = Seq(Seq("subject_uuid"), Seq("object_uuid")))

    val files = Files.walk(Paths.get(log.snapshotPath("t", 1)))
      .filter(p => p.toString.endsWith(".parquet")).iterator()
    var bloomChecked = 0
    val conf = spark.sparkContext.hadoopConfiguration
    while (files.hasNext) {
      val f = files.next()
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
      try {
        reader.getFooter.getBlocks.forEach { block =>
          if (block.getRowCount > 0) {
            val byCol = block.getColumns.asScala
              .map(c => c.getPath.toDotString -> c).toMap
            // the high-cardinality key column MUST carry a readable bloom
            val fu = byCol("fact_uuid")
            assert(fu.getBloomFilterOffset >= 0,
              s"$f: fact_uuid has no parquet bloom filter")
            assert(reader.readBloomFilter(fu) != null)
            bloomChecked += 1
            // every bloom-requested column is row-group-filterable: a bloom,
            // or full dictionary encoding (which filters exactly)
            for (colName <- Seq("subject_uuid", "object_uuid")) {
              val cc = byCol(colName)
              val dictOnly = !cc.getEncodingStats.hasNonDictionaryEncodedPages
              assert(cc.getBloomFilterOffset >= 0 || dictOnly,
                s"$f: $colName has neither bloom nor full dictionary encoding")
            }
            // non-key columns carry no bloom (no wasted footer bytes)
            assert(byCol("n").getBloomFilterOffset < 0)
          }
        }
      } finally reader.close()
    }
    assert(bloomChecked > 0, "no parquet files with rows found")

    // and the pushed point-lookup still answers exactly
    val hit = log.readForAnyKeys("t", Seq(
      Seq("subject_uuid") -> Seq(Seq("s7")),
      Seq("object_uuid") -> Seq(Seq("s7")))).get
    assert(hit.count() === df.filter(
      $"subject_uuid" === "s7" || $"object_uuid" === "s7").count())

    // DELTA segments stay bloom-free by design (adaptive's 64 KB/chunk
    // floor would break append-cost ∝ new rows; the segment-level key
    // bloom already prunes small deltas wholesale)
    val incr = Seq(("zz-new-fact", "s1", "o1", 99999))
      .toDF("fact_uuid", "subject_uuid", "object_uuid", "n")
    log.mergeAppend("t", incr, Seq("fact_uuid"),
      auxBloomKeys = Seq(Seq("subject_uuid"), Seq("object_uuid")))
    val deltaFiles = Files.walk(Paths.get(log.snapshotPath("t", 2)))
      .filter(p => p.toString.endsWith(".parquet")).iterator()
    while (deltaFiles.hasNext) {
      val f = deltaFiles.next()
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
      try reader.getFooter.getBlocks.forEach { block =>
        block.getColumns.asScala.foreach(cc =>
          assert(cc.getBloomFilterOffset < 0,
            s"$f: delta segment must not carry parquet column blooms"))
      } finally reader.close()
    }
  }

  test("point lookup on upsert tables: merge-key probes prune and resolve LWW; others scan all") {
    val dir = Files.createTempDirectory("graft-lookupup").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeUpsert("t", (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    log.mergeUpsert("t", (501L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    log.mergeUpsert("t", Seq((42L, "CHANGED")).toDF("id", "v"), Seq("id"))
    assert(log.snapshots("t") === Seq(1L, 2L, 3L))

    // key 42 lives in segments 1 (original) and 3 (updated): both open,
    // last-writer-wins resolves to the update — never the stale row
    val r = log.readForKey("t", "id", Seq(42L)).get.collect()
    assert(log.lastLookupScan === Some((2, 3)), s"${log.lastLookupScan}")
    assert(r.map(x => (x.getLong(0), x.getString(1))).toSeq === Seq((42L, "CHANGED")))

    // a non-merge-key probe on an upsert table must NOT prune: a newer
    // version of a key can change any non-key column, so bloom-pruning by
    // value could resurface a stale row — the guard scans every segment
    val byV = log.readForKey("t", "v", Seq("v43")).get.collect()
    assert(log.lastLookupScan === Some((3, 3)),
      s"non-key probe on an upsert table must scan all: ${log.lastLookupScan}")
    assert(byV.map(_.getLong(0)).toSeq === Seq(43L))
    // and the updated key's OLD value finds nothing (the stale row resolved away)
    assert(log.readForKey("t", "v", Seq("v42")).get.count() === 0L)
  }

  test("point lookup probes legacy v1 segments with v1 literal hashes (mixed versions)") {
    val dir = Files.createTempDirectory("graft-lookupv1").toString
    val log = new SnapshotLog(spark, dir)
    // map-typed column forces hash v1 (see writableHashV)
    val v1seg = (1L to 300L).map(i => (i, Map("k" -> s"v$i"))).toDF("id", "attrs")
    log.mergeAppend("t", v1seg, Seq("id"))
    log.mergeAppend("t", (1001L to 1300L).map(i => (i, Map("k" -> s"v$i")))
      .toDF("id", "attrs"), Seq("id"))
    assert(Files.readString(Paths.get(dir, "t", "_snapshots.json")).contains("\"hash_v\": 1"))
    val hit = log.readForKey("t", "id", Seq(1100L)).get.collect()
    assert(log.lastLookupScan === Some((1, 2)),
      s"v1 blooms must prune v1-hashed literals: ${log.lastLookupScan}")
    assert(hit.map(_.getLong(0)).toSeq === Seq(1100L))
    assert(log.readForKey("t", "id", Seq(9999L)).get.count() === 0L)
    assert(log.lastLookupScan === Some((0, 2)))
  }

  test("time travel: readAt reconstructs each committed state, incl. pre-upsert values") {
    val dir = Files.createTempDirectory("graft-tt").toString
    val log = new SnapshotLog(spark, dir)
    log.mergeUpsert("t", Seq((1L, "a1"), (2L, "b1")).toDF("id", "v"), Seq("id"))
    log.mergeAppend("t", Seq((3L, "c1")).toDF("id", "v"), Seq("id"))
    log.mergeUpsert("t", Seq((1L, "a2")).toDF("id", "v"), Seq("id"))
    assert(log.snapshots("t") === Seq(1L, 2L, 3L))

    def state(asOf: Long) = log.readAt("t", asOf).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state(1L) === Map(1L -> "a1", 2L -> "b1"))
    assert(state(2L) === Map(1L -> "a1", 2L -> "b1", 3L -> "c1"))
    assert(state(3L) === Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
    // as-of semantics: an id between commits resolves to the floor commit
    assert(state(99L) === state(3L))
    assert(log.readAt("t", 0L).isEmpty)

    val hist = log.history("t").orderBy($"snapshot_id").collect()
    assert(hist.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(hist.map(_.getString(1)).toSeq === Seq("full", "delta", "delta"))
    assert(hist.forall(_.getBoolean(5)), "all three segments are live (no compaction yet)")

    // timestamp travel: the floor commit at each snapshot's recorded time,
    // nothing before the first commit, the latest state afterwards
    val times = hist.map(_.getTimestamp(4))
    assert(log.readAtTime("t", times(1)).get.count() === 3L)
    assert(log.readAtTime("t", new java.sql.Timestamp(times(0).getTime - 1)).isEmpty)
    assert(log.readAtTime("t", new java.sql.Timestamp(times(2).getTime + 60000)).get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap === state(3L))
  }

  test("time travel survives compaction; vacuum reclaims pre-compaction history only") {
    val dir = Files.createTempDirectory("graft-vac").toString
    val log = new SnapshotLog(spark, dir, autoCompactSegments = 2)
    log.mergeAppend("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    log.mergeAppend("t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    // third delta trips autoCompactSegments=2 → segment 3 then full snapshot 4
    log.mergeAppend("t", Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    assert(log.snapshots("t") === Seq(1L, 2L, 3L, 4L))
    assert(log.history("t").filter($"kind" === "full").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 4L))

    // compaction keeps the collapsed segments: pre-compaction reads still work
    assert(log.readAt("t", 2L).get.count() === 2L)

    val vacuumed = log.vacuum("t")
    assert(vacuumed === Seq(1L, 2L, 3L))
    assert(log.snapshots("t") === Seq(4L))
    assert(!Files.exists(Paths.get(log.snapshotPath("t", 1L))))
    assert(log.readAt("t", 2L).isEmpty, "vacuumed history must read as absent, not wrong")
    // the live view and post-vacuum merges are unaffected
    assert(log.read("t").get.count() === 3L)
    log.mergeAppend("t", Seq((4L, "d")).toDF("id", "v"), Seq("id"))
    assert(log.read("t").get.count() === 4L)
    // nothing older than the last full snapshot → vacuum is a no-op
    assert(log.vacuum("t") === Seq.empty)
  }

  test("a merge persists an unmaterialized input for its two jobs and a checkpointed one never") {
    val dir = Files.createTempDirectory("graft-persist").toString
    val log = new SnapshotLog(spark, dir)
    val schema = StructType.fromDDL("id BIGINT, v STRING")
    log.commit("t", Seq((0L, "v0")).toDF("id", "v"), bloomKeys = Seq("id"))

    // an RDD frame (the foreachBatch / createDataFrame shape) is not
    // materialized: the bloom probe and the write share one evaluation
    val evals = spark.sparkContext.longAccumulator("rdd-evals")
    val rdd = spark.sparkContext.parallelize(1L to 100L, 4).map { i =>
      evals.add(1L)
      Row(i, s"v$i")
    }
    log.mergeAppend("t", spark.createDataFrame(rdd, schema), Seq("id"))
    assert(evals.value === 100L, s"upstream evaluated ${evals.value} times per row set")

    // a checkpointed input is already materialized: both jobs re-read it
    // and the merge stores no RDD block of its own
    val checkpointed = (101L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4).localCheckpoint()
    val stored = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD && info.storageLevel.isValid) stored.incrementAndGet()
      }
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      log.mergeAppend("t", checkpointed, Seq("id"))
      ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(stored.get() === 0, s"the merge stored ${stored.get()} RDD blocks")
    assert(log.read("t").get.count() === 201L)
  }

  test("an increment publishes all three tables (triples last) or, when one merge throws, none") {
    val dir = Files.createTempDirectory("graft-staged").toString
    val base = TranscriptGen.Config(numConvs = 3, turnsPerConv = 20, skew = 1)
    Ingest.run(spark, TranscriptGen.transcripts(spark, base), dir)
    val log = new SnapshotLog(spark, dir)
    val tables = Seq("entities", "chunks", "triples")
    def snapshots = tables.map(log.snapshots(_))
    def listing = tables.map { t =>
      val st = Files.list(Paths.get(dir, t))
      try st.iterator().asScala.map(_.getFileName.toString).toSet finally st.close()
    }
    val turns = TranscriptGen.transcripts(spark, base.copy(seed = 5L))
      .withColumn("conv_id", concat(lit("inc-"), $"conv_id")).as[Turn]

    // the triples merge fails writing its key bloom: a directory sits
    // where its staged segment's bloom file goes
    val (snapshotsBefore, listingBefore) = (snapshots, listing)
    val blocker = Paths.get(dir, "triples",
      s"snapshot-${log.latestSnapshot("triples").get + 1}.bloom")
    Files.createDirectory(blocker)
    intercept[java.io.IOException](Ingest.runIncremental(spark, turns, dir))
    Files.deleteIfExists(blocker)
    assert(snapshots === snapshotsBefore, "a failed increment must publish no table")
    assert(listing === listingBefore, "staged segment, lineage or bloom files were left behind")

    // the same increment then commits one segment per table: entities,
    // then chunks, then triples
    Ingest.runIncremental(spark, turns, dir)
    assert(snapshots.map(_.size) === snapshotsBefore.map(_.size + 1))
    val committedAt = tables.map(t => log.history(t).orderBy($"snapshot_id".desc)
      .select($"committed_at").head().getTimestamp(0).getTime)
    assert(committedAt === committedAt.sorted, s"commit times ${tables.zip(committedAt)}")
  }

  test("a two-table write whose second staging throws commits neither table") {
    val dir = Files.createTempDirectory("graft-write-fail").toString
    val log = new SnapshotLog(spark, dir)
    val rows = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    def writes = Seq(Write("a", rows, Write.Full),
      Write("b", rows, Write.Full, keys = Seq("id"), auxKeys = Seq(Seq("v"))))
    // b's full snapshot fails writing its key bloom: a directory sits there
    Files.createDirectories(Paths.get(dir, "b", "snapshot-1.bloom"))
    intercept[java.io.IOException](log.write(writes))
    assert(log.snapshots("a").isEmpty && log.snapshots("b").isEmpty,
      "a failed write must commit no table")
    Seq("a", "b").foreach(t => assert(unlisted(log, dir, t).isEmpty, s"$t holds unlisted files"))

    assert(log.write(writes) === Seq(1L, 1L))
    assert(log.read("a").get.count() === 20L && log.read("b").get.count() === 20L)
  }

  private def partitionDirs(p: String): Seq[String] = {
    val st = Files.list(Paths.get(p))
    try st.iterator().asScala.map(_.getFileName.toString).filter(_.contains("=")).toSeq
    finally st.close()
  }

  test("auto-compaction keeps the base's layout when the merges that trip it pass none") {
    val dir = Files.createTempDirectory("graft-layout").toString
    val log = new SnapshotLog(spark, dir, autoCompactSegments = 2)
    log.commit("t", (1L to 40L).map(i => (i, s"v$i", s"g${i % 3}")).toDF("id", "v", "g"),
      partitionBy = Seq("g"), bloomKeys = Seq("id"), auxBloomKeys = Seq(Seq("v")))
    // three deltas without partition columns or aux keys: the second trips
    // compaction (3 live > 2), which must still write the base's layout
    (1 to 3).foreach(i =>
      log.mergeAppend("t", Seq((100L + i, s"w$i", "g0")).toDF("id", "v", "g"), Seq("id")))
    assert(log.history("t").filter($"kind" === "full").select($"snapshot_id").as[Long]
      .collect().toSeq === Seq(1L, 4L))
    assert(partitionDirs(log.snapshotPath("t", 4)).sorted === Seq("g=g0", "g=g1", "g=g2"),
      "the compacted snapshot lost the base's partition columns")
    assert(Files.exists(Paths.get(dir, "t", "snapshot-4.bloom")), "no key bloom")
    assert(Files.exists(Paths.get(dir, "t", "snapshot-4.bloom-v")), "no aux bloom on v")
    assert(log.read("t").get.count() === 43L)
    assert(log.readForKey("t", "v", Seq("w1")).get.select($"id").as[Long].collect().toSeq
      === Seq(101L))
  }

  test("a legacy line without partition_by has its partition columns recovered from its directories") {
    val dir = Files.createTempDirectory("graft-layout-legacy").toString
    val log = new SnapshotLog(spark, dir)
    log.commit("t", (1L to 30L).map(i => (i, s"g${i % 2}")).toDF("id", "g"),
      partitionBy = Seq("g"), bloomKeys = Seq("id"))
    log.mergeAppend("t", Seq((31L, "g2")).toDF("id", "g"), Seq("id"), partitionBy = Seq("g"))
    val m = Paths.get(dir, "t", "_snapshots.json")
    Files.write(m, Files.readAllLines(m).asScala
      .map(_.replaceAll(""""partition_by": \[[^\]]*\], """, "")).mkString("\n").getBytes)
    assert(!Files.readString(m).contains("partition_by"))

    assert(log.compactIfFragmented("t", 1) === Some(3L))
    assert(partitionDirs(log.snapshotPath("t", 3)).sorted === Seq("g=g0", "g=g1", "g=g2"))
    assert(Files.exists(Paths.get(dir, "t", "snapshot-3.bloom")))
    assert(log.history("t").orderBy($"snapshot_id").select($"partition_by").as[Seq[String]]
      .collect().toSeq === Seq(Seq("g"), Seq("g"), Seq("g")))
    assert(Files.readAllLines(m).asScala.last.contains(""""partition_by": ["g"]"""))
    assert(log.read("t").get.count() === 31L && log.verifyLineage("t", 3L))
  }

  test("a compaction that fails after an increment's lines land leaves all three tables published") {
    val dir = Files.createTempDirectory("graft-compact-fail").toString
    val base = TranscriptGen.Config(numConvs = 3, turnsPerConv = 20, skew = 1)
    Ingest.run(spark, TranscriptGen.transcripts(spark, base), dir)
    val log = new SnapshotLog(spark, dir)
    val tables = Seq("entities", "chunks", "triples")

    // pad entities to 32 live segments (the default autoCompactSegments) with
    // one-row upserts under fresh uuids; the increment's entities delta then
    // makes 33 and trips compaction
    val entities = log.read("entities").get
    val row = entities.limit(1).collect().toSeq.asJava
    val started = System.nanoTime()
    (2 to 32).foreach { i =>
      log.mergeUpsert("entities", spark.createDataFrame(row, entities.schema)
        .withColumn("entity_uuid", lit(s"pad-$i")), Seq("entity_uuid"), Seq("group_id"))
    }
    info(f"padding entities to 32 live segments took ${(System.nanoTime() - started) / 1e9}%.1f s")
    assert(log.snapshots("entities") === (1L to 32L))

    // the compaction (entities snapshot 34, after the increment's 33) fails
    // writing its key bloom: a directory sits where that file goes
    val before = tables.map(log.snapshots(_))
    val blocker = Paths.get(dir, "entities", "snapshot-34.bloom")
    Files.createDirectory(blocker)
    val turns = TranscriptGen.transcripts(spark, base.copy(seed = 5L))
      .withColumn("conv_id", concat(lit("inc-"), $"conv_id")).as[Turn]
    intercept[java.io.IOException](Ingest.runIncremental(spark, turns, dir))
    Files.deleteIfExists(blocker)

    assert(tables.map(log.snapshots(_)) === before.map(ids => ids :+ (ids.last + 1)),
      "every table must publish its increment segment, and entities must not compact")
    tables.foreach(t => assert(unlisted(log, dir, t).isEmpty, s"$t holds unlisted files"))
    assert(log.read("entities").get.count() > entities.count())
  }
}
