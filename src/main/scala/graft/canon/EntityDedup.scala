package graft.canon

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Embed, Ids, Norm}
import graft.model.{Entity, Mention}

/** Entity deduplication / canonicalization (SURVEY.md §2.3 J1-J3, §2.4 A1/A3).
  *
  * Reference flow (/root/reference/src/util/entity_dedup.py):
  *  - register entities with `name.strip().title()` normalization (:186-187);
  *  - all-pairs cosine over name embeddings, edge when sim > threshold
  *    (:215-256, threshold 0.85 lib default / 0.70 pipeline default);
  *  - Union-Find connected components (:68-97);
  *  - per-component LLM verification of which members are truly the same
  *    (:258-534) — replaced here by deterministic merge rules: corporate-
  *    suffix-stripped name equality, a curated alias table (the reference
  *    prompt's own examples, entity_dedup.py:321-335), and a type guardrail
  *    (Person never merges with Organization);
  *  - canonical member = argmax summary length (:606-609); all other uuids
  *    remap to it (:628-632).
  *
  * Spark shape: the quadratic all-pairs cosine is replaced by blocking-key
  * candidate generation (each entity emits a handful of keys; equi-join on
  * key), so candidate count stays near-linear at scale. Exact cosine then
  * filters candidates — same edges as the reference on anything the blocks
  * recall, without the O(n²) shuffle.
  */
object EntityDedup {

  /** Corporate suffixes stripped for alias keys (merge rule). */
  private val corpSuffixes = Set("inc", "inc.", "corp", "corp.", "ltd", "ltd.",
    "llc", "co.", "plc", "incorporated", "corporation", "limited")

  /** Curated alias table — the reference LLM-prompt's own merge examples
    * (entity_dedup.py:321-335; entity_registry.py:50-62).
    */
  private val knownAliases = Map(
    "aapl" -> "apple inc.",
    "apple" -> "apple inc.",
    "fed" -> "federal reserve",
    "the fed" -> "federal reserve",
    "nyc" -> "new york city",
    "aws" -> "amazon web services",
    "tim cook" -> "timothy d. cook")

  private[graft] def stripSuffix(name: String): String = {
    var toks = name.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").toList
    while (toks.length > 1 && corpSuffixes.contains(toks.last)) toks = toks.init
    toks.mkString(" ")
  }

  /** Blocking/merge key: curated alias → suffix-stripped lowercase name. */
  private[graft] def aliasKey(name: String): String = {
    val stripped = stripSuffix(name)
    knownAliases.getOrElse(name.trim.toLowerCase(java.util.Locale.ROOT),
      knownAliases.getOrElse(stripped, stripped))
  }

  /** First-token block key — cheap candidate recall for near-name variants. */
  private[graft] def firstTokenKey(name: String): String =
    name.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").headOption.getOrElse("")

  /** Bounded first-k-distinct accumulator: keeps the k lexicographically
    * smallest distinct strings — the same result as
    * `slice(sort_array(collect_set(x)), 1, k)` but with O(k) state per group
    * instead of the full set. A hot entity at corpus scale has millions of
    * mention chunks; collect_set would accumulate them all before the slice.
    * Buffer stays a ≤k sorted Vector; the common hot-group case (full buffer,
    * value ≥ last) is O(1).
    */
  private[graft] class BoundedSortedSet(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[String, Seq[String], Seq[String]] {
    override def zero: Seq[String] = Vector.empty
    override def reduce(b: Seq[String], a: String): Seq[String] =
      if (a == null || (b.length == k && b.last <= a) || b.contains(a)) b
      else {
        val merged = (b :+ a).sorted
        if (merged.length > k) merged.take(k) else merged
      }
    override def merge(x: Seq[String], y: Seq[String]): Seq[String] = {
      val m = (x ++ y).distinct.sorted
      if (m.length > k) m.take(k) else m
    }
    override def finish(r: Seq[String]): Seq[String] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
  }

  case class Config(
      similarityThreshold: Double = 0.85, // entity_dedup.py:536 default
      // first-token blocks larger than this skip pair generation (the alias
      // key still merges their suffix/alias variants): pair count within a
      // block is O(n²), and one hot token ("The", "Global"...) would
      // otherwise own the stage at corpus scale
      maxBlockSize: Int = 1000,
      // pending tables at or under this row count take the driver-local
      // edges+components fast path (same bounded-collect discipline as
      // ConnectedComponents.SmallGraphEdges; ≤ ~75 MB transient at the cap).
      // 0 forces the distributed path (tests / memory-tight drivers).
      maxLocalPending: Long = 50000L)

  /** Collect distinct pending entities from mentions (phase 2a/2b analogue:
    * pipeline.py:1392-1459). First-occurrence summary wins, deterministically:
    * min by (conv_id, turn_idx, chunk_uuid) — the reference's
    * `entities_by_name[name][0]` insertion-order rule made order-free
    * (SURVEY.md §7.4 risk 2).
    */
  def pendingEntities(spark: SparkSession, mentions: Dataset[Mention], cfg: Config): DataFrame = {
    import spark.implicits._
    // This aggregation is an ObjectHashAggregate (the bounded-top-k UDAF and
    // the struct-min are object-based), and Spark's sort-based fallback
    // kicks in at a DEFAULT of 128 distinct keys per task — any real corpus
    // exceeds that instantly, silently converting the one-pass hash
    // aggregation into sort-based aggregation of the mention stream. The
    // group buffers here are bounded (≤20 chunk-uuid strings + one struct ≈
    // a few KB), so 64k in-memory groups per task is at most a few hundred
    // MB — raise the threshold once, session-wide (performance-only conf,
    // no semantic effect; at local-bench group counts the win is small, but
    // at corpus-scale name cardinality the fallback sort is O(mentions log
    // mentions) per task where the hash path is O(mentions)).
    // Raised only when the conf still sits at Spark's default (128): a user
    // who tuned it deliberately (e.g. memory-tight executors) keeps their
    // value — silently overriding a session-wide conf someone set on purpose
    // reintroduces exactly the OOM they tuned against.
    val fallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val cur = spark.conf.getOption(fallbackKey).map(_.toLong)
    if (cur.isEmpty || cur.contains(128L)) spark.conf.set(fallbackKey, 65536L)
    val normName = udf((s: String) => Norm.normalizeEntityName(s))
    val embedUdf = udf((s: String) => Embed.embed(s))
    val uuidUdf = udf((g: String, n: String) =>
      Ids.stableUuid(g, "entity", n.toLowerCase(java.util.Locale.ROOT)))
    mentions
      .withColumn("name", normName($"name"))
      .groupBy($"group_id", $"name")
      .agg(
        min(struct($"conv_id", $"turn_idx", $"chunk_uuid", $"summary", $"entity_type"))
          .as("first"),
        // bounded provenance sample: a hot entity at corpus scale has millions
        // of chunks — full per-chunk provenance lives on the triples table,
        // the entity row carries a deterministic sample. BoundedSortedSet
        // keeps O(k) state per group (collect_set would buffer the full
        // distinct set before slicing).
        udaf(new BoundedSortedSet(20)).apply($"chunk_uuid").as("source_chunks"))
      .select(
        uuidUdf($"group_id", $"name").as("entity_uuid"),
        $"name",
        $"first.entity_type".as("entity_type"),
        $"first.summary".as("summary"),
        $"source_chunks",
        embedUdf($"name").as("embedding"),
        $"group_id")
  }

  /** Both candidate-edge routes' skip-log: `count` over-cap blocks, ≤ 10 examples. */
  private def warnHotBlocks(count: Int, maxBlockSize: Int,
      examples: Seq[(String, String, Long)]): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"candidateEdges: $count firstToken block(s) exceed " +
        s"maxBlockSize=$maxBlockSize; similarity pairs skipped for them " +
        s"(alias-rule merges still apply): " +
        examples.map { case (k, t, n) => s"$k/$t=$n" }.mkString(", "))

  /** Similarity + rule edges over blocked candidates (J1 + J3 rules).
    *
    * Two edge sources, both linear-ish at corpus scale:
    *  1. alias-rule edges: entities sharing an aliasKey (suffix strip /
    *     curated table) merge unconditionally — emitted as a STAR to the min
    *     member per (aliasKey, type), i.e. |block| - 1 edges instead of the
    *     O(|block|²) all-pairs that a self-join would produce. Connected
    *     components are identical either way.
    *  2. similarity edges: exact cosine > threshold over pairs within a
    *     firstToken block, pairs generated ONLY for blocks ≤ maxBlockSize.
    *     Over-cap blocks (hot name tokens) are counted + logged, never
    *     silently dropped — their members still merge through rule 1.
    *     (Two entities sharing an aliasKey block are aliasKey-EQUAL, so rule
    *     1 subsumes every pair the old aliasKey-block join contributed.)
    */
  def candidateEdges(spark: SparkSession, pending: DataFrame, cfg: Config): DataFrame = {
    import spark.implicits._
    val aliasKeyUdf = udf((name: String) => aliasKey(name))
    val firstTokUdf = udf((name: String) => firstTokenKey(name))

    val base = pending.select($"entity_uuid", $"entity_type", $"embedding",
      aliasKeyUdf($"name").as("akey"), firstTokUdf($"name").as("fkey"))

    // (1) alias-rule star edges — one shuffle on (akey, type), no pairs
    val aliasEdges = base
      .withColumn("hub", min($"entity_uuid")
        .over(org.apache.spark.sql.expressions.Window.partitionBy($"akey", $"entity_type")))
      .filter($"entity_uuid" =!= $"hub")
      .select($"hub".as("src"), $"entity_uuid".as("dst"))

    // (2) similarity pairs within capped firstToken blocks. Hot blocks are
    // FEW by construction (a handful of stop-word-ish name tokens), so one
    // bounded collect fetches exactly the over-cap keys — no persist (round-2
    // leaked the cached blockSizes across runs), no join against the full
    // block-size table, and the log can name the hot tokens. `pending` is
    // checkpointed by dedup(), so this action scans a tiny materialized table.
    val hotKeys = base.groupBy($"fkey", $"entity_type").agg(count(lit(1)).as("bsz"))
      .filter($"bsz" > cfg.maxBlockSize)
      .collect()
    if (hotKeys.nonEmpty) warnHotBlocks(hotKeys.length, cfg.maxBlockSize,
      hotKeys.take(10).map(r => (r.getString(0), r.getString(1), r.getLong(2))))
    val capped =
      if (hotKeys.isEmpty) base
      else {
        val hotDf = spark.createDataFrame(
          spark.sparkContext.parallelize(hotKeys.toSeq.map(r =>
            org.apache.spark.sql.Row(r.getString(0), r.getString(1))), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("fkey",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("entity_type",
              org.apache.spark.sql.types.StringType))))
        base.join(broadcast(hotDf), Seq("fkey", "entity_type"), "left_anti")
      }
    val a = capped.select($"fkey", $"entity_type", $"entity_uuid".as("src"),
      $"embedding".as("src_emb"))
    val b = capped.select($"fkey", $"entity_type", $"entity_uuid".as("dst"),
      $"embedding".as("dst_emb"))
    val simEdges = a.join(b, Seq("fkey", "entity_type"))
      .filter($"src" < $"dst") // guardrail: same entity_type enforced by the key
      // codegen cosine (bit-identical to Embed.cosine on these fixed-dim
      // vectors) — the pair filter stays in whole-stage codegen
      .filter(graft.functions.expr.CosineSimilarity($"src_emb", $"dst_emb") >
        lit(cfg.similarityThreshold))
      .select($"src", $"dst")

    // NOTE: may contain duplicate pairs (a pair can satisfy both rules);
    // ConnectedComponents distincts after symmetrizing anyway, so a distinct
    // here would only add a shuffle to every dedup run.
    aliasEdges.union(simEdges)
  }

  /** Driver-local edges + connected components for bounded pending tables
    * (same bounded-collect discipline as ConnectedComponents.SmallGraphEdges):
    * ONE narrow probe collect of (uuid, name, type, embedding) replaces the
    * hot-block count job, the alias-window + blocked-self-join edge
    * exchanges, AND ConnectedComponents' symmetrize/distinct + probe job —
    * on the in-memory pipeline those sequential fixed job rounds were most
    * of the dedup stage's wall clock while the edge data itself is only
    * ~|distinct names| rows. The edge SET (and so the components) is
    * identical to the distributed path by construction: same
    * aliasKey/firstTokenKey functions, same min-uuid star hubs, same
    * maxBlockSize capping with the same skip-log, and `Embed.cosine` is
    * bit-identical to the codegen `CosineSimilarity` the distributed pair
    * filter uses (CosineExprSpec pins the parity; uuid `<` is an ASCII
    * compare in both). Returns None when pending exceeds the cap — the
    * caller then takes the distributed edges+CC path (the 10^12 shape).
    */
  private[graft] def localComponents(spark: SparkSession, pending: DataFrame,
      cfg: Config): Option[DataFrame] = {
    if (cfg.maxLocalPending <= 0) return None
    val probe = graft.tables.Checkpoints.collectUpTo(
        pending.select("entity_uuid", "name", "entity_type", "embedding"),
        cfg.maxLocalPending) match {
      case Some(rows) => rows
      case None => return None
    }
    // (uuid, akey, fkey, type, embedding) — same derivations as candidateEdges
    val rows = probe.map { r =>
      (r.getString(0), aliasKey(r.getString(1)), firstTokenKey(r.getString(1)),
        r.getString(2), r.getSeq[Double](3).toArray)
    }
    val edges = Array.newBuilder[(String, String)]
    // (1) alias-rule star edges: hub = min uuid per (akey, type)
    rows.groupBy(r => (r._2, r._4)).valuesIterator.foreach { ms =>
      if (ms.length > 1) {
        val hub = ms.iterator.map(_._1).min
        ms.foreach(m => if (m._1 != hub) edges += ((hub, m._1)))
      }
    }
    // (2) similarity pairs within capped firstToken blocks
    val blocks = rows.groupBy(r => (r._3, r._4))
    val hot = blocks.filter(_._2.length > cfg.maxBlockSize)
    if (hot.nonEmpty) warnHotBlocks(hot.size, cfg.maxBlockSize,
      hot.take(10).map { case ((k, t), ms) => (k, t, ms.length.toLong) }.toSeq)
    blocks.valuesIterator.foreach { ms =>
      if (ms.length > 1 && ms.length <= cfg.maxBlockSize) {
        var i = 0
        while (i < ms.length) {
          var j = i + 1
          while (j < ms.length) {
            val (a, b) = if (ms(i)._1 < ms(j)._1) (ms(i), ms(j)) else (ms(j), ms(i))
            if (graft.functions.Embed.cosine(a._5, b._5) > cfg.similarityThreshold)
              edges += ((a._1, b._1))
            j += 1
          }
          i += 1
        }
      }
    }
    Some(ConnectedComponents.runLocal(spark, org.apache.spark.sql.types.StringType,
      ConnectedComponents.driverOrdering(org.apache.spark.sql.types.StringType).get,
      edges.result().toSeq))
  }

  /** Full dedup: mentions → canonical entity table + uuid remap.
    *
    * @return (entities, remap) — remap has columns
    *         (entity_uuid, canonical_uuid, canonical_name, name).
    */
  def dedup(spark: SparkSession, mentions: Dataset[Mention],
      cfg: Config = Config()): (Dataset[Entity], DataFrame) = {
    import spark.implicits._
    // pending is tiny (one row per distinct normalized name); an EAGER
    // lineage truncation beats cache(): every downstream query (hot-block
    // count, edge gen, CC, canonical pick, remap) becomes independent of the
    // mention/extraction subtree instead of trusting cache-plan matching
    // inside broadcast subqueries. Reliable checkpoint when configured
    // (cluster failure model), localCheckpoint otherwise.
    val pending = graft.tables.Checkpoints.truncate(pendingEntities(spark, mentions, cfg))
    val components = localComponents(spark, pending, cfg).getOrElse {
      val edges = candidateEdges(spark, pending, cfg)
      ConnectedComponents.run(spark, edges)
    } // (id, component)

    val labeled = pending
      .join(components.withColumnRenamed("id", "entity_uuid"), Seq("entity_uuid"), "left")
      .withColumn("component", coalesce($"component", $"entity_uuid"))

    // canonical member = argmax (summary length, name length, name, uuid):
    // the reference's longest-summary rule (entity_dedup.py:606-609) with a
    // deterministic total-order tie-break.
    val canon = labeled
      .groupBy($"component")
      .agg(
        max_by(
          struct($"entity_uuid", $"name", $"entity_type", $"summary", $"embedding", $"group_id"),
          struct(length($"summary"), length($"name"), $"name", $"entity_uuid")).as("c"),
        collect_set($"name").as("aliases"),
        flatten(collect_list($"source_chunks")).as("all_chunks"))

    // dual embeddings (reference nodes.py:44-49): `embedding` stays the
    // NAME-ONLY vector (name_only_embedding analogue — it is what the
    // blocking/linking cosine and direct name lookup use); `name_embedding`
    // is the semantic "{name}: {summary}" vector (pipeline.py:952-965),
    // computed at CANONICAL cardinality so it always reflects the picked
    // member's final (name, summary) pair
    val nameEmbUdf = udf((n: String, s: String) => Embed.semantic(n, s))
    val entities = canon.select(
      $"c.entity_uuid".as("entity_uuid"),
      $"c.name".as("name"),
      $"c.name".as("canonical_name"),
      $"c.entity_type".as("entity_type"),
      $"c.summary".as("summary"),
      $"aliases",
      array_distinct($"all_chunks").as("source_chunks"),
      $"c.embedding".as("embedding"),
      nameEmbUdf($"c.name", $"c.summary").as("name_embedding"),
      $"c.group_id".as("group_id")).as[Entity]

    val remap = labeled
      .join(canon.select($"component", $"c.entity_uuid".as("canonical_uuid"),
        $"c.name".as("canonical_name")), Seq("component"))
      .select($"entity_uuid", $"canonical_uuid", $"canonical_name", $"name")

    (entities, remap)
  }

  /** Dedup run statistics (A5, reference entity_dedup.py:558-600):
    * components_found (multi-member merge groups), distinct_entities,
    * duplicates_merged.
    */
  def stats(spark: SparkSession, remap: DataFrame): DataFrame = {
    import spark.implicits._
    remap.groupBy($"canonical_uuid").agg(count(lit(1)).as("sz"))
      .agg(
        sum(when($"sz" > 1, 1L).otherwise(0L)).as("components_found"),
        count(lit(1)).as("distinct_entities"),
        sum($"sz" - 1).as("duplicates_merged"))
  }
}
