package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.canon.EntityDedup
import graft.functions.Norm
import graft.pipeline.Ingest
import graft.query.GraphLookup
import graft.synth.TranscriptGen
import graft.tables.SnapshotLog

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("mergeAppend is idempotent and keeps MERGE semantics (S6)") {
    val dir = Files.createTempDirectory("graft-merge").toString
    val log = new SnapshotLog(spark, dir)
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    log.mergeAppend("t", a, Seq("id"))
    assert(log.read("t").get.count() === 2)
    // same rows again → no new snapshot content
    log.mergeAppend("t", a, Seq("id"))
    assert(log.read("t").get.count() === 2)
    // overlap + one new key → only the new key appends
    val b = Seq((2L, "y2"), (3L, "z")).toDF("id", "v")
    log.mergeAppend("t", b, Seq("id"))
    val rows = log.read("t").get.orderBy($"id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq((1L, "x"), (2L, "y"), (3L, "z"))) // existing wins
  }

  test("incremental ingest links alias-only corpus to existing entity uuids (J4)") {
    val dir = Files.createTempDirectory("graft-incr").toString
    val cfgA = TranscriptGen.Config(numConvs = 4, turnsPerConv = 20, skew = 2, seed = 42)
    Ingest.run(spark, TranscriptGen.transcripts(spark, cfgA), dir)
    val log = new SnapshotLog(spark, dir)
    val entitiesBefore = log.read("entities").get.count()
    val triplesBefore = log.read("triples").get.count()

    // corpus B: different conversations (different seed) — overlapping world
    val cfgB = TranscriptGen.Config(numConvs = 4, turnsPerConv = 20, skew = 2, seed = 1042)
    val r = Ingest.runIncremental(spark, TranscriptGen.transcripts(spark, cfgB), dir)

    val after = log.read("entities").get
    assert(log.read("triples").get.count() > triplesBefore)
    assert(after.count() >= entitiesBefore)
    // entity uuids are unique post-merge and shared names kept their uuid
    assert(after.select($"entity_uuid").distinct().count() === after.count())
    // rerunning corpus B is a no-op on triples (fact_uuid MERGE)
    val triplesAfter = log.read("triples").get.count()
    Ingest.runIncremental(spark, TranscriptGen.transcripts(spark, cfgB), dir)
    assert(log.read("triples").get.count() === triplesAfter)
  }

  test("linking gates properly: alias-key merges; near-name needs cosine >= threshold (J4)") {
    import graft.link.EntityLinker
    def ent(uuid: String, name: String) =
      (uuid, name, "Organization", graft.functions.Embed.embed(name).toSeq, "default")
    val existing = Seq(ent("ex1", "Quantum Dynamics Inc."), ent("ex2", "Granite Foods LLC"))
      .toDF("entity_uuid", "name", "entity_type", "embedding", "group_id")
    val incoming = Seq(
      ent("n1", "Quantum Dynamics"), // alias key equal → merge unconditionally
      ent("n2", "Granite Food LLC"), // near-name: firstToken ≠, cosine decides... (granite block)
      ent("n3", "Quantum Leap Partners")) // shares firstToken, cosine below threshold → new
      .toDF("entity_uuid", "name", "entity_type", "embedding", "group_id")
    // explicit threshold between the two fixtures' cosines, so BOTH gate
    // branches are exercised (near-name ≈ 0.82 merges, unrelated ≈ 0.4 stays)
    val linked = EntityLinker.link(spark, incoming, existing,
        EntityLinker.Config(scoreThreshold = 0.8))
      .select($"entity_uuid", $"resolved_uuid", $"is_new").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(linked("n1") === ("ex1", false), "alias-key equality must merge")
    assert(linked("n3")._1 === "n3", "sub-threshold near-name must stay new")
    // n2 "Granite Food" vs "Granite Foods": firstToken block 'granite',
    // char-trigram cosine ≥ threshold → merges via the similarity gate
    val cos = graft.functions.Embed.cosine(
      graft.functions.Embed.embed("Granite Food LLC"),
      graft.functions.Embed.embed("Granite Foods LLC"))
    assert(cos >= 0.8 && cos < 0.85, s"fixture assumption (cos=$cos)")
    assert(linked("n2") === ("ex2", false), s"cosine gate must merge (cos=$cos)")
  }

  test("link starts no job against a committed registry; an empty one marks every row new") {
    import graft.link.EntityLinker
    def ent(uuid: String, name: String) =
      (uuid, name, "Organization", graft.functions.Embed.embed(name).toSeq, "default")
    val cols = Seq("entity_uuid", "name", "entity_type", "embedding", "group_id")
    val log = new SnapshotLog(spark, Files.createTempDirectory("graft-link").toString)
    log.mergeUpsert("entities", Seq(ent("ex1", "Quantum Dynamics Inc.")).toDF(cols: _*),
      Seq("entity_uuid"), Seq("group_id"))
    log.mergeUpsert("entities", Seq(ent("ex1", "Quantum Dynamics Inc."),
      ent("ex2", "Granite Foods LLC")).toDF(cols: _*), Seq("entity_uuid"), Seq("group_id"))
    val committed = log.read("entities").get
    val incoming = Seq(ent("n1", "Quantum Dynamics"), ent("n2", "Harbor Logistics"))
      .toDF(cols: _*)
    // the merge-on-read registry is only scanned when the result runs
    val jobs = jobsOf(EntityLinker.link(spark, incoming, committed))
    assert(jobs === 0, s"link started $jobs jobs at call time")

    val fresh = EntityLinker.link(spark, incoming, committed.limit(0))
      .select($"entity_uuid", $"name", $"embedding", $"resolved_uuid", $"resolved_name",
        $"resolved_embedding", $"is_new")
      .as[(String, String, Seq[Double], String, String, Seq[Double], Boolean)].collect()
    assert(fresh.map(_._1).sorted.toSeq === Seq("n1", "n2"))
    fresh.foreach { case (uuid, name, emb, rUuid, rName, rEmb, isNew) =>
      assert(isNew && rUuid === uuid && rName === name && rEmb === emb, uuid)
    }
  }

  test("split-corpus parity: A then incremental-B matches one batch run (J4 invariant)") {
    val cfg = TranscriptGen.Config(numConvs = 8, turnsPerConv = 25, skew = 2)
    val all = TranscriptGen.transcripts(spark, cfg).cache()
    val partA = all.filter($"conv_id" < "conv00004")
    val partB = all.filter($"conv_id" >= "conv00004")

    val batch = Ingest.runInMemory(spark, all)
    val batchKeys = batch.entities.select($"canonical_name").collect()
      .map(r => graft.canon.EntityDedup.aliasKey(r.getString(0))).toSet

    val dir = Files.createTempDirectory("graft-split").toString
    Ingest.run(spark, partA, dir)
    Ingest.runIncremental(spark, partB, dir)
    val log = new SnapshotLog(spark, dir)
    val incr = log.read("entities").get
    val incrKeys = incr.select($"canonical_name").collect()
      .map(r => graft.canon.EntityDedup.aliasKey(r.getString(0))).toSet

    // same entity graph at the alias-key level (canonical FORM may differ when
    // the longer alias only appears in corpus B — batch re-picks, incremental
    // keeps A's committed canonical)
    assert(incrKeys === batchKeys,
      s"only-in-batch=${batchKeys -- incrKeys} only-in-incr=${incrKeys -- batchKeys}")
    // and B's alias-equal entities adopted A's committed uuids (no dup rows)
    assert(incr.select($"entity_uuid").distinct().count() === incr.count())
  }

  test("incremental link merges summaries + appends aliases (entity_registry.py:252-333)") {
    import java.sql.Timestamp
    def t(conv: String, idx: Int, text: String) =
      graft.model.Turn(conv, idx, "user", text, "", new Timestamp(1704067200000L + idx * 60000L))
    val filler = " extra filler text so the chunk clears the minimum length filter."
    val dir = Files.createTempDirectory("graft-linkmerge").toString
    // corpus A: full name → entity "Apex Systems Inc"
    Ingest.run(spark, Seq(
      t("a1", 0, "Apex Systems Inc acquired Nova Robotics Ltd in 2019." + filler)).toDS(), dir)
    val log = new SnapshotLog(spark, dir)
    val before = log.read("entities").get
      .filter(lower($"canonical_name").contains("apex")).collect().head
    val apexUuid = before.getAs[String]("entity_uuid")

    // corpus B: suffix-stripped alias "Apex Systems" in a NEW fact
    Ingest.runIncremental(spark, Seq(
      t("b1", 0, "Apex Systems partnered with Granite Foods LLC." + filler)).toDS(), dir)

    val after = log.read("entities").get
      .filter(lower($"canonical_name").contains("apex")).collect()
    assert(after.length === 1, "still exactly one Apex entity row")
    val row = after.head
    assert(row.getAs[String]("entity_uuid") === apexUuid, "uuid/name kept from A")
    assert(row.getAs[String]("canonical_name") === "Apex Systems Inc")
    assert(row.getAs[scala.collection.Seq[String]]("aliases").contains("Apex Systems"),
      s"B's surface form must be appended to aliases: ${row.getAs[scala.collection.Seq[String]]("aliases")}")
    val summary = row.getAs[String]("summary")
    assert(summary.contains("Apex Systems Inc is an entity") &&
      summary.contains("Apex Systems is an entity"),
      s"summaries must merge (got: $summary)")
    // the linked fact resolved to A's uuid
    val fact = log.read("triples").get.filter($"predicate" === "PARTNERED_WITH").collect()
    assert(fact.nonEmpty && fact.head.getAs[String]("subject_uuid") === apexUuid)
    // idempotent: rerunning B changes nothing (containment short-circuit)
    val segsBefore = log.snapshots("entities")
    Ingest.runIncremental(spark, Seq(
      t("b1", 0, "Apex Systems partnered with Granite Foods LLC." + filler)).toDS(), dir)
    assert(log.snapshots("entities") === segsBefore, "no-op rerun must write no segment")
  }

  test("incremental into a PRE-dual-embedding warehouse keeps its committed schema") {
    import java.sql.Timestamp
    import graft.functions.Embed
    def t(conv: String, idx: Int, text: String) =
      graft.model.Turn(conv, idx, "user", text, "", new Timestamp(1704067200000L + idx * 60000L))
    val filler = " extra filler text so the chunk clears the minimum length filter."
    val dir = Files.createTempDirectory("graft-legacy-ent").toString
    val log = new SnapshotLog(spark, dir)
    // a warehouse committed by the pre-r5 engine: entities WITHOUT the
    // name_embedding column (foldLinkedEntities pins the upsert schema to
    // the COMMITTED columns, so an r5 increment must neither fail the
    // merge's EXCEPT nor silently widen the table's schema)
    val legacy = Seq(("u-apex", "Apex Systems", "Apex Systems", "Organization",
        "Apex Systems is an entity observed in transcripts.",
        Seq("Apex Systems"), Seq("c-legacy"),
        Embed.embed("Apex Systems").toSeq, "default"))
      .toDF("entity_uuid", "name", "canonical_name", "entity_type", "summary",
        "aliases", "source_chunks", "embedding", "group_id")
    log.commit("entities", legacy, Seq("group_id"), bloomKeys = Seq("entity_uuid"))

    Ingest.runIncremental(spark, Seq(
      t("l1", 0, "Apex Systems partnered with Granite Foods LLC." + filler)).toDS(), dir)
    val after = log.read("entities").get
    assert(!after.columns.contains("name_embedding"),
      "legacy schema must stay pinned — no silent column widening")
    val apex = after.filter(lower($"canonical_name").contains("apex")).collect()
    assert(apex.length === 1 && apex.head.getAs[String]("entity_uuid") === "u-apex",
      "the increment must link against the legacy row")
    assert(after.filter(lower($"canonical_name").contains("granite")).count() === 1,
      "the new entity appends on the legacy schema")
  }

  test("fold of several linked rows merges the existing summary exactly ONCE") {
    import graft.link.EntityLinker
    import graft.model.Entity
    // existing entity U with summary S; two NEW canonical entities A and B
    // both link to U (one via alias, one via cosine). The upsert row's
    // summary must contain S once — folding the per-row pre-merged
    // summaries would repeat it per linked row.
    def nameEmb(n: String, s: String) = graft.functions.Embed.semantic(n, s).toSeq
    val ex = Seq(Entity("U", "Quantum Dynamics", "Quantum Dynamics", "Organization",
      "S existing summary", Seq("Quantum Dynamics"), Seq("c0"),
      graft.functions.Embed.embed("Quantum Dynamics").toSeq,
      nameEmb("Quantum Dynamics", "S existing summary"), "default")).toDF()
    def linkedRow(uuid: String, name: String, own: String) =
      Entity(uuid, name, name, "Organization", own, Seq(name), Seq(s"c-$uuid"),
        graft.functions.Embed.embed(name).toSeq, nameEmb(name, own), "default")
    val linked = Seq(linkedRow("A", "Quantum Dynamics Inc", "A summary"),
        linkedRow("B", "Quantum Dynamics Corp", "B summary")).toDF()
      .withColumn("resolved_uuid", lit("U"))
      .withColumn("resolved_name", lit("Quantum Dynamics"))
      .withColumn("resolved_ex_summary", lit("S existing summary"))
      .withColumn("resolved_summary",
        concat(lit("S existing summary"), lit("\n"), $"summary"))
      .withColumn("resolved_aliases", array_union($"aliases", array(lit("Quantum Dynamics"))))
      .withColumn("resolved_embedding", $"embedding")
      .withColumn("is_new", lit(false))
    val folded = Ingest.foldLinkedEntities(spark, linked, ex.columns.toSeq).collect()
    assert(folded.length === 1)
    val summary = folded.head.getAs[String]("summary")
    assert("S existing summary".r.findAllIn(summary).length === 1, summary)
    assert(summary.contains("A summary") && summary.contains("B summary"), summary)
    val aliases = folded.head.getSeq[String](folded.head.fieldIndex("aliases"))
    assert(aliases.contains("Quantum Dynamics Inc") && aliases.contains("Quantum Dynamics Corp"))
  }

  test("dedup stats (A5)") {
    val ms = Seq(
      graft.model.Mention("Quantum Dynamics Inc", "Organization", "Quantum Dynamics Inc is an entity observed in transcripts.", "c1", "conv1", 0, "default"),
      graft.model.Mention("Quantum Dynamics", "Organization", "Quantum Dynamics is an entity observed in transcripts.", "c2", "conv1", 1, "default"),
      graft.model.Mention("Granite Foods LLC", "Organization", "Granite Foods LLC is an entity observed in transcripts.", "c3", "conv1", 2, "default")).toDS()
    val (_, remap) = EntityDedup.dedup(spark, ms)
    val st = EntityDedup.stats(spark, remap).collect().head
    assert(st.getAs[Long]("components_found") === 1L)
    assert(st.getAs[Long]("distinct_entities") === 2L)
    assert(st.getAs[Long]("duplicates_merged") === 1L)
  }

  test("summary merge heuristic (F10) and lenient date parse (F7)") {
    assert(Norm.mergeSummaries("", "new") === "new")
    assert(Norm.mergeSummaries("old", "") === "old")
    assert(Norm.mergeSummaries("Apple makes phones and laptops", "phones") ===
      "Apple makes phones and laptops") // containment short-circuit
    assert(Norm.mergeSummaries("a", "b") === "a\nb")
    assert(Norm.parseDateLenient("2024-03-15") === Some(java.time.LocalDate.of(2024, 3, 15)))
    assert(Norm.parseDateLenient("2024-03-15T10:00:00Z") === Some(java.time.LocalDate.of(2024, 3, 15)))
    assert(Norm.parseDateLenient("2024-03") === Some(java.time.LocalDate.of(2024, 3, 1)))
    assert(Norm.parseDateLenient("2024") === Some(java.time.LocalDate.of(2024, 1, 1)))
    assert(Norm.parseDateLenient("2024-02-30") === None) // invalid like reference
    assert(Norm.parseDateLenient("soon") === None)
    assert(Norm.parseDateLenient(null) === None)
  }

  test("graph lookups: resolve, neighbors, chunks-between, topic-scoped (J9/J12, MCP surface)") {
    val cfg = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 3)
    val res = Ingest.runInMemory(spark, TranscriptGen.transcripts(spark, cfg))
    val triples = res.triples.cache()
    val entities = res.entities.cache()

    val anyEntity = entities.select($"canonical_name").first().getString(0)
    val resolved = GraphLookup.resolveEntity(entities, anyEntity.toLowerCase)
    assert(resolved.count() === 1)

    val e = triples.select($"subject_uuid").first().getString(0)
    val nb = GraphLookup.exploreNeighbors(triples, e).collect()
    assert(nb.nonEmpty && nb.forall(_.getAs[Long]("n_facts") > 0))

    val t0 = triples.select($"subject_uuid", $"object_uuid", $"predicate", $"chunk_uuid").first()
    val between = GraphLookup.chunksBetween(triples, res.chunks, t0.getString(0), t0.getString(1),
      Some(t0.getString(2)))
    assert(between.count() >= 1)
    assert(between.filter($"text".isNotNull).count() >= 1) // provenance joined

    val byEdge = GraphLookup.chunksByEdge(triples, t0.getString(0), t0.getString(2), "outgoing")
    assert(byEdge.count() >= 1)

    val fetched = GraphLookup.fetchChunks(res.chunks, Seq(t0.getString(3)))
    assert(fetched.count() === 1)

    val withTopic = triples.filter(size($"topics") > 0).limit(1).collect()
    if (withTopic.nonEmpty) {
      val label = withTopic.head.getAs[Seq[String]]("topics").head
      val facts = graft.query.Retriever.withFactEmbeddings(triples)
      val scoped = GraphLookup.topicScoped(facts, label, withTopic.head.getAs[String]("fact"),
        floor = 0.1)
      assert(scoped.count() >= 1)
    }

    val found = GraphLookup.searchRelationships(triples, "acquired")
    assert(found.count() > 0)
  }

  test("get_entity_info: exact-name metadata with summary fallback; miss = empty (mcp_server.py:475-510)") {
    val cfg = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 3)
    val res = Ingest.runInMemory(spark, TranscriptGen.transcripts(spark, cfg))
    val entities = res.entities.cache()
    val name = entities.select($"canonical_name").first().getString(0)

    val hit = GraphLookup.getEntityInfo(entities, name).collect()
    assert(hit.length === 1)
    assert(hit.head.getAs[String]("name") === name)
    assert(hit.head.getAs[String]("node_type") === "Entity")
    assert(hit.head.getAs[String]("summary").nonEmpty) // fallback text if blank

    // exact-name contract: a case-mangled or unknown name is NOT found
    // (the reference tells the caller to resolve_entity_or_topic first)
    assert(GraphLookup.getEntityInfo(entities, name.toUpperCase + "X").count() === 0)
    // blank summary gets the reference's fallback sentence
    val blanked = entities.withColumn("summary", lit(""))
    assert(GraphLookup.getEntityInfo(blanked, name).first().getAs[String]("summary")
      === "No summary available for this entity.")
  }

  test("explore_neighbors_semantic: hint-ranked incident edges, deduped, dated (mcp_server.py:605-698)") {
    val cfg = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 3)
    val res = Ingest.runInMemory(spark, TranscriptGen.transcripts(spark, cfg))
    val facts = graft.query.Retriever.withFactEmbeddings(res.triples).cache()

    val f0 = facts.select($"subject_uuid", $"fact").first()
    val rows = GraphLookup.exploreNeighborsSemantic(facts, f0.getString(0), f0.getString(1))
      .collect()
    assert(rows.nonEmpty && rows.length <= 15)
    // scores sorted descending, edges unique per (predicate, neighbor, direction)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    val keys = rows.map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(keys.distinct.length === keys.length)
    // the hint IS one incident fact's text → its edge must rank first with
    // self-similarity 1.0
    assert(math.abs(scores.head - 1.0) < 1e-9)

    // no incident facts → empty (the reference's found:false)
    assert(GraphLookup.exploreNeighborsSemantic(facts, "no-such-uuid", "anything").count() === 0)
  }

  test("explore_neighbors_semantic: a self-loop fact appears ONCE, not once per direction") {
    import graft.functions.Embed
    val selfLoop = "Acme Corp restructured Acme Corp."
    val other = "Acme Corp acquired Beta LLC."
    val facts = Seq(
      ("fs", selfLoop, "eA", "eA", "restructured", "Acme Corp", "Acme Corp",
        "in 2020", Embed.embed(selfLoop).toSeq),
      ("f2", other, "eA", "eB", "acquired", "Acme Corp", "Beta LLC",
        "in 2021", Embed.embed(other).toSeq))
      .toDF("fact_uuid", "fact", "subject_uuid", "object_uuid", "predicate",
        "subject", "object", "date_context", "embedding")
    val rows = GraphLookup.exploreNeighborsSemantic(facts, "eA", selfLoop, topK = 2)
      .collect()
    // without the self-loop filter the loop fact enters the pool once per
    // orientation, survives the (predicate, neighbor, direction) dedup as
    // two rows, and burns BOTH topK slots — f2's edge would vanish
    assert(rows.count(_.getString(0) === "restructured") === 1,
      s"self-loop must appear once: ${rows.mkString(";")}")
    assert(rows.map(_.getString(0)).sorted.toSeq === Seq("acquired", "restructured"))
  }

  test("get_chunks batch: one equi-join resolves all triplets; misses absent (mcp_server.py:308-361)") {
    val cfg = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 3)
    val res = Ingest.runInMemory(spark, TranscriptGen.transcripts(spark, cfg))
    val t0 = res.triples.select($"subject", $"predicate", $"object", $"fact_uuid").first()
    val rows = GraphLookup.chunksForRelationships(res.triples, res.chunks, Seq(
      (t0.getString(0), t0.getString(1), t0.getString(2)),        // as stored
      (t0.getString(2).toUpperCase, t0.getString(1), t0.getString(0)), // flipped + case-mangled
      ("no such entity", "ACQUIRED", "nobody else")))              // miss
      .collect()
    // both orientations of the real triplet land (rel_idx 0 and 1), each
    // with its provenance chunk joined; the miss contributes no row
    val byIdx = rows.groupBy(_.getAs[Int]("rel_idx"))
    assert(byIdx.contains(0) && byIdx.contains(1) && !byIdx.contains(2))
    assert(byIdx(0).exists(_.getAs[String]("fact_uuid") == t0.getString(3)))
    assert(rows.forall(r => r.getAs[String]("text") != null))
    // found_count semantics: distinct rel_idx present
    assert(byIdx.keySet === Set(0, 1))
  }

  test("search_relationships semantic: expansion, first-variant score, date filters (mcp_server.py:700-846)") {
    val cfg = TranscriptGen.Config(numConvs = 5, turnsPerConv = 25, skew = 3)
    val res = Ingest.runInMemory(spark, TranscriptGen.transcripts(spark, cfg))
    val facts = graft.query.Retriever.withFactEmbeddings(res.triples).cache()
    val f0 = facts.select($"fact", $"fact_uuid").first()

    // deterministic expansion: original first, distinct, ≤4
    val vs = GraphLookup.expandQuery("Who acquired DataCore Systems in 2023?")
    assert(vs.head === "Who acquired DataCore Systems in 2023?")
    assert(vs.distinct.length === vs.length && vs.length >= 2 && vs.length <= 4)

    // querying with an existing fact's text ranks that fact first at ~1.0
    val rows = GraphLookup.searchRelationshipsSemantic(facts, res.chunks,
      f0.getString(0), topK = 5).collect()
    assert(rows.nonEmpty && rows.length <= 5)
    assert(rows.head.getAs[String]("fact_uuid") === f0.getString(1))
    assert(math.abs(rows.head.getAs[Double]("score") - 1.0) < 1e-6)
    // provenance joined: chunk id + yyyy-MM-dd date string present
    assert(rows.forall(_.getAs[String]("chunk_id") != null))
    assert(rows.forall(r => r.getAs[String]("document_date") == null ||
      r.getAs[String]("document_date").matches("\\d{4}-\\d{2}-\\d{2}")))
    // date-range filters: a window excluding every document date empties the
    // result (synthetic corpus dates are all post-1990); dated rows pass an
    // inclusive window around them
    assert(GraphLookup.searchRelationshipsSemantic(facts, res.chunks,
      f0.getString(0), topK = 5, dateTo = Some("1990-01-01")).count() === 0)
    assert(GraphLookup.searchRelationshipsSemantic(facts, res.chunks,
      f0.getString(0), topK = 5,
      dateFrom = Some("1990-01-01"), dateTo = Some("2099-12-31")).count() > 0)
  }

  test("runIncremental ships and writes bloom bytes in proportion to the rows it commits") {
    // one increment writes five keyed blooms (entities, chunks, and the
    // triples key plus its two lookup indexes); each must be sized to its
    // own segment's rows, not to a fixed floor, or it is written, shipped
    // to the driver and broadcast at full size on every commit
    val dir = Files.createTempDirectory("graft-incr-bloom").toString
    val base = TranscriptGen.Config(numConvs = 3, turnsPerConv = 20, skew = 1)
    Ingest.run(spark, TranscriptGen.transcripts(spark, base), dir)
    val log = new SnapshotLog(spark, dir)
    val tables = Seq("entities", "triples", "chunks")
    def listed(keep: String => Boolean): Set[java.nio.file.Path] =
      tables.flatMap { t =>
        val s = Files.list(Paths.get(dir, t))
        try s.iterator().asScala.filter(p => keep(p.getFileName.toString)).toList
        finally s.close()
      }.toSet
    def blooms = listed(n => n.startsWith("snapshot-") && n.contains(".bloom"))
    val (bloomsBefore, idsBefore) = (blooms, tables.map(log.snapshots(_).toSet))
    val turns = TranscriptGen.transcripts(spark, base.copy(seed = 11L))
      .withColumn("conv_id", concat(lit("inc-"), $"conv_id")).as[graft.model.Turn]
    val resultBytes = taskResultBytesOf(Ingest.runIncremental(spark, turns, dir))

    val newBlooms = blooms -- bloomsBefore
    assert(newBlooms.size === 5, s"new blooms: $newBlooms")
    val committedRows = tables.zip(idsBefore).map { case (t, before) =>
      log.lineage(t).get.filter(!$"snapshot_id".isin(before.toSeq: _*))
        .agg(coalesce(sum($"output_rows"), lit(0L))).head().getLong(0)
    }.sum
    val bloomBytes = newBlooms.toSeq.map(Files.size).sum
    assert(committedRows > 0L)
    assert(bloomBytes < 64L * committedRows,
      s"$bloomBytes bloom bytes for $committedRows committed rows")
    assert(resultBytes <= (8L << 20), s"increment shipped $resultBytes task-result bytes")
  }

  test("runIncremental releases the relations it caches") {
    val dir = Files.createTempDirectory("graft-incr-cache").toString
    val base = TranscriptGen.Config(numConvs = 3, turnsPerConv = 20, skew = 1)
    Ingest.run(spark, TranscriptGen.transcripts(spark, base), dir)
    spark.catalog.clearCache()
    Seq("inc1-", "inc2-").foreach { prefix =>
      val turns = TranscriptGen.transcripts(spark, base.copy(seed = 7L))
        .withColumn("conv_id", concat(lit(prefix), $"conv_id")).as[graft.model.Turn]
      Ingest.runIncremental(spark, turns, dir)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "runIncremental must unpersist its chunks and raw triples")
  }
}
