package graft

import org.apache.spark.sql.types.LongType

import graft.canon.{ConnectedComponents, EntityDedup}
import graft.model.Mention

class DedupSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.functions.{udaf => mkUdaf}

  test("bounded first-occurrence sample == slice(sort_array(collect_set)) incl. a hot group") {
    import spark.implicits._
    // 200k mentions, one pathological hot name owning 10% of them — the
    // bounded Aggregator must match the unbounded formulation exactly while
    // keeping O(k) state per group
    val rows = spark.range(0, 200000).select(
        when($"id" % 10 === 0, lit("Hot Entity"))
          .otherwise(concat(lit("e"), ($"id" % 500))).as("name"),
        concat(lit("chunk-"),
          format_string("%08d", pmod($"id" * 2654435761L, lit(1000000L)))).as("chunk_uuid"))
      .cache()
    val fast = rows.groupBy($"name")
      .agg(mkUdaf(new graft.canon.EntityDedup.BoundedSortedSet(20)).apply($"chunk_uuid").as("s"))
    val ref = rows.groupBy($"name")
      .agg(slice(sort_array(collect_set($"chunk_uuid")), 1, 20).as("s"))
    val joined = fast.join(ref.withColumnRenamed("s", "s_ref"), Seq("name"))
    assert(joined.count() === 451L)
    assert(joined.filter(not($"s" <=> $"s_ref")).count() === 0L)
    rows.unpersist()
  }
  import spark.implicits._

  test("connected components: transitivity over chained edges") {
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val cc = ConnectedComponents.run(spark, edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc("a") === "a" && cc("b") === "a" && cc("c") === "a")
    assert(cc("x") === "x" && cc("y") === "x")
  }

  test("connected components: idempotent on a long chain") {
    val chain = (0 until 30).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("src", "dst")
    val cc = ConnectedComponents.run(spark, chain).collect()
    assert(cc.map(_.getString(1)).distinct.toSeq === Seq("n00"))
  }

  test("alias keys: suffix strip + curated table (entity_dedup merge rules)") {
    assert(EntityDedup.stripSuffix("Quantum Dynamics Inc.") === "quantum dynamics")
    assert(EntityDedup.stripSuffix("Quantum Dynamics") === "quantum dynamics")
    assert(EntityDedup.aliasKey("AAPL") === "apple inc.")
    assert(EntityDedup.aliasKey("Apple Inc.") === "apple inc.")
    assert(EntityDedup.aliasKey("The Fed") === "federal reserve")
    assert(EntityDedup.aliasKey("AWS") === "amazon web services")
    // DO-NOT-MERGE pairs stay apart
    assert(EntityDedup.aliasKey("Goldman Sachs") !== EntityDedup.aliasKey("Morgan Stanley"))
    assert(EntityDedup.aliasKey("iPhone") !== EntityDedup.aliasKey("Apple"))
  }

  private def mention(name: String, typ: String = "Organization", conv: String = "c1",
      idx: Int = 0): Mention =
    Mention(name, typ, s"$name is an entity observed in transcripts.",
      s"chunk-$conv-$idx", conv, idx, "default")

  test("dedup merges alias forms, canonical = longest summary (entity_dedup.py:606-609)") {
    val ms = Seq(
      mention("Quantum Dynamics Inc.", idx = 0),
      mention("Quantum Dynamics", idx = 3),
      mention("quantum dynamics inc.", idx = 5), // case variant normalizes away
      mention("Granite Foods LLC", idx = 1),
      mention("AAPL", idx = 2),
      mention("Apple Inc.", idx = 4)).toDS()
    val (entities, remap) = EntityDedup.dedup(spark, ms)
    val es = entities.collect()
    assert(es.map(_.canonical_name).sorted.toSeq ===
      Seq("Apple Inc.", "Granite Foods Llc", "Quantum Dynamics Inc."))
    val qd = es.find(_.canonical_name == "Quantum Dynamics Inc.").get
    assert(qd.aliases.toSet === Set("Quantum Dynamics Inc.", "Quantum Dynamics"))
    val r = remap.collect().map(x => x.getString(3) -> x.getString(2)).toMap
    assert(r("Quantum Dynamics") === "Quantum Dynamics Inc.")
    assert(r("Aapl") === "Apple Inc.")
  }

  test("driver-local dedup fast path == forced distributed edges+CC path") {
    // alias merge (suffix strip), curated-alias merge, similarity candidates
    // sharing a firstToken, and a type guardrail — every edge rule exercised
    val ms = Seq(
      mention("Quantum Dynamics Inc.", idx = 0),
      mention("Quantum Dynamics", idx = 3),
      mention("Quantum Dynamics Corporation", idx = 7),
      mention("Granite Foods LLC", idx = 1),
      mention("Granite Foods Limited", idx = 6),
      mention("AAPL", idx = 2),
      mention("Apple Inc.", idx = 4),
      mention("Tim Cook", typ = "Person", idx = 5),
      mention("Tim Cook Inc.", idx = 8)).toDS()
    val (eLocal, rLocal) = EntityDedup.dedup(spark, ms)
    val (eDist, rDist) = EntityDedup.dedup(spark, ms,
      EntityDedup.Config(maxLocalPending = 0L))
    def ekey(e: graft.model.Entity) =
      (e.entity_uuid, e.canonical_name, e.entity_type, e.summary,
        e.aliases.sorted.mkString("|"), e.source_chunks.sorted.mkString("|"))
    assert(eLocal.collect().map(ekey).toSet === eDist.collect().map(ekey).toSet)
    assert(rLocal.collect().map(_.toSeq).toSet === rDist.collect().map(_.toSeq).toSet)
  }

  test("guardrail: Person never merges with Organization (entity_registry.py:50-62)") {
    val ms = Seq(
      mention("Tim Cook", typ = "Person"),
      mention("Tim Cook Inc.", typ = "Organization")).toDS()
    val (entities, _) = EntityDedup.dedup(spark, ms)
    assert(entities.count() === 2)
  }

  test("distributed CC path (forced) produces the same labels as the driver fallback") {
    // chain + separate clique + isolated pair, big enough to iterate
    val edges = ((0 until 300).map(i => (f"v$i%04d", f"v${i + 1}%04d")) ++
      Seq(("w1", "w2"), ("w2", "w3"), ("w1", "w3"), ("z8", "z9"))).toDF("src", "dst")
    val local = ConnectedComponents.run(spark, edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = ConnectedComponents.run(spark, edges, smallGraphEdges = 0L).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === local)
    assert(dist("v0300") === "v0000" && dist("w3") === "w1" && dist("z9") === "z8")

    // bigint ids: both routes keep the id type and order labels numerically
    // ({9, 10} is labelled 9, not "10" as a string order would pick)
    val longs = Seq((1L, 2L), (2L, 3L), (9L, 10L)).toDF("src", "dst")
    val localL = ConnectedComponents.run(spark, longs)
    val distL = ConnectedComponents.run(spark, longs, smallGraphEdges = 0L)
    Seq(localL, distL).foreach(df =>
      assert(df.schema.map(f => f.name -> f.dataType) === Seq("id" -> LongType,
        "component" -> LongType)))
    val labelsL = localL.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsL === distL.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(labelsL === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L, 10L -> 9L))
  }

  test("distributed CC raises when labels are still changing at its round cap") {
    // a 200-edge chain needs several pointer-jumping rounds; one round
    // leaves a partial labeling that would merge too little, silently
    val chain = (0 until 200).map(i => (f"c$i%04d", f"c${i + 1}%04d")).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](
      ConnectedComponents.run(spark, chain, maxIter = 1, smallGraphEdges = 0L))
    assert(e.getMessage.contains("did not converge in 1 rounds"), e.getMessage)
  }

  test("hot firstToken blocks are capped: 10k same-first-token entities, no quadratic pairs") {
    val pending = (0 until 10000).map { i =>
      (f"e$i%05d", s"Hot Token Entity $i", "Organization",
        graft.functions.Embed.embed(s"Hot Token Entity $i").toSeq)
    }.toDF("entity_uuid", "name", "entity_type", "embedding")
    val t0 = System.nanoTime()
    val edges = EntityDedup.candidateEdges(spark, pending,
      EntityDedup.Config(maxBlockSize = 1000))
    val n = edges.count()
    val secs = (System.nanoTime() - t0) / 1e9
    // all 10k share firstToken "hot" (> cap → no similarity pairs) and have
    // distinct alias keys (no star edges) → zero candidate edges, fast
    assert(n === 0L, s"capped hot block must yield no pair edges, got $n")
    assert(secs < 60.0, f"hot block must not go quadratic ($secs%.1f s)")
  }

  test("alias-star edges still merge suffix variants inside over-cap blocks") {
    val base = (0 until 50).map(i =>
      (f"e$i%03d", s"Hot Name $i", "Organization",
        graft.functions.Embed.embed(s"Hot Name $i").toSeq))
    val pair = Seq(
      ("x001", "Hot Stuff Inc.", "Organization", graft.functions.Embed.embed("Hot Stuff Inc.").toSeq),
      ("x002", "Hot Stuff", "Organization", graft.functions.Embed.embed("Hot Stuff").toSeq))
    val pending = (base ++ pair).toDF("entity_uuid", "name", "entity_type", "embedding")
    // cap of 10 excludes the 52-member "hot" block from pair generation,
    // but the aliasKey star must still connect the Inc./bare pair
    val edges = EntityDedup.candidateEdges(spark, pending,
        EntityDedup.Config(maxBlockSize = 10))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges.contains(("x001", "x002")))
  }

  test("plural grouping: INCLUDES edges, homogeneous type, flat (design doc 2026-01-22)") {
    import graft.canon.PluralGrouping
    assert(PluralGrouping.singularize("Districts") === "district")
    assert(PluralGrouping.singularize("Industries") === "industry")
    assert(PluralGrouping.singularize("Swiss") === null) // -ss is not plural
    assert(PluralGrouping.singularize("Bus") === null) // too short
    val ents = Seq(
      ("p1", "Districts", "Organization"),
      ("m1", "Boston District", "Organization"),
      ("m2", "New York District", "Organization"),
      ("x1", "Gary District", "Person"), // heterogeneous type → excluded
      ("x2", "Quantum Dynamics", "Organization"))
      .toDF("entity_uuid", "canonical_name", "entity_type")
    val edges = PluralGrouping.includesEdges(ents).collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(3))).toSet
    assert(edges === Set(("p1", "INCLUDES", "m1"), ("p1", "INCLUDES", "m2")))

    // query-time expansion reaches member facts through the plural
    val triples = Seq(
      ("f1", "m1", "o9", "Boston District reported growth."),
      ("f2", "x2", "o9", "unrelated")).toDF("fact_uuid", "subject_uuid", "object_uuid", "fact")
    val inc = PluralGrouping.includesEdges(ents)
    val facts = PluralGrouping.memberFacts(triples, inc, "p1").collect()
    assert(facts.map(_.getString(0)).toSeq === Seq("f1"))
  }

  test("dedup idempotency: canonicalizing canonical entities is a no-op") {
    val ms = Seq(
      mention("Quantum Dynamics Inc."),
      mention("Quantum Dynamics"),
      mention("Granite Foods LLC")).toDS()
    val (e1, _) = EntityDedup.dedup(spark, ms)
    val again = e1.collect().toSeq.map(e =>
      mention(e.canonical_name, e.entity_type)).toDS()
    val (e2, _) = EntityDedup.dedup(spark, again)
    assert(e2.collect().map(_.canonical_name).sorted.toSeq ===
      e1.collect().map(_.canonical_name).sorted.toSeq)
  }
}
