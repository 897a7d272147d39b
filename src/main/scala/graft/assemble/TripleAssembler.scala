package graft.assemble

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Ids, Norm}
import graft.model.{RawTriple, Triple}
import graft.tables.Checkpoints

/** Fact assembly: resolve subjects/objects, mint stable fact ids (SURVEY.md
  * §2.3 J7, §2.7 F1/F2).
  *
  * Reference: /root/reference/src/pipeline.py:831-906 —
  *  - subject/object looked up case-insensitively in the entity lookup
  *    (topic-typed ones in the topic lookup);
  *  - facts with an unresolved subject or object are DROPPED (:845-853),
  *    encoded here as inner joins;
  *  - rel_type = _normalize_rel_type(relationship) (:364-371);
  *  - fact_uuid = _stable_uuid(group_id, chunk_uuid, subject_canonical,
  *    rel_type, object_canonical, fact_text, date_context) (:856-864).
  *
  * Spark shape: two equi-joins on lower(name). The resolution table (entity
  * remap + topics) is far smaller than the triple stream, so it is always
  * broadcast: in the in-memory sink its inputs are checkpointed relations
  * with no size statistics Catalyst could decide from. Topics resolve through a broadcast ontology
  * map, capped by `derivedTopicCap`; unresolved topics are dropped from the
  * array (pipeline.py:1694-1696), not the fact.
  */
object TripleAssembler {

  /** Assembly has no settings; the config stays so `Ingest.Config` keeps one
    * per stage.
    */
  case class Config()

  /** ~bytes per broadcast map entry (short lowercase key + label + overhead). */
  private val BytesPerTopicEntry = 50L

  /** Cap on the driver-collected resolved-topic map of the broadcast fast
    * path, derived from the session's own `spark.sql.autoBroadcastJoinThreshold`
    * at ~50 B per (key, label) entry — the same budget Catalyst itself would
    * apply to a broadcast join of that table — so a session tuned for
    * bigger/smaller broadcasts moves this cap with it. Overflow falls back to
    * the explode+regroup shuffle path.
    */
  private[graft] def derivedTopicCap(spark: SparkSession): Int = {
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val bytes =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
      catch { case _: Exception => 10L * 1024 * 1024 }
    if (bytes <= 0) 200000 // broadcasts disabled session-wide: keep the old fixed cap
    // hard ceiling 500k regardless of threshold: the COLLECT that builds the
    // map materializes driver Row objects at ~250-300 B each (object headers,
    // not the 50 B/entry the broadcast map itself costs), so a session tuned
    // to a 100 MB autoBroadcastJoinThreshold must not trigger a multi-GB
    // driver collect — 500k ≈ 150 MB transient, safe on any driver
    else math.min(bytes / BytesPerTopicEntry, 500000L).toInt
  }

  private val relTypeUdf = udf((s: String) => Norm.normalizeRelType(s))
  private val factUuidUdf = udf {
    (g: String, chunk: String, s: String, rel: String, o: String, fact: String, date: String) =>
      Ids.stableUuid(g, chunk, s, rel, o, fact, date)
  }

  /** @param remap   name → canonical entity map; reads only (name,
    *                canonical_uuid, canonical_name) — `name` is the normalized
    *                surface form, lookup key is lower(name).
    * @param topics  TopicResolver output (name, group_id, topic_uuid,
    *                canonical_label, definition).
    */
  def assemble(spark: SparkSession, rawTriples: Dataset[RawTriple], remap: DataFrame,
      topics: DataFrame, cfg: Config = Config()): Dataset[Triple] = {
    import spark.implicits._

    val res0 = remap.select(
      lower($"name").as("key"),
      $"canonical_uuid".as("r_uuid"),
      $"canonical_name".as("r_name"))
    val topic0 = topics.select(
      lower($"name").as("key"),
      $"topic_uuid".as("r_uuid"),
      $"canonical_label".as("r_name"))
    // a subject/object of type "topic" resolves through the topic lookup,
    // everything else through the entity lookup (pipeline.py:833-842).
    // NOTE: the union must happen BEFORE the broadcast hint — union of two
    // broadcast-hinted frames silently drops the hint and the lookup join
    // degrades to a full shuffle of the fact stream.
    val lookup0 = res0.select($"key", $"r_uuid", $"r_name", lit(false).as("is_topic"))
      .union(topic0.select($"key", $"r_uuid", $"r_name", lit(true).as("is_topic")))
    val lookup = broadcast(lookup0)

    val t = rawTriples.toDF()
      .withColumn("subject_key", lower(trim($"subject")))
      .withColumn("object_key", lower(trim($"object")))

    val withSubj = joinLookup(t, lookup, side = "subject")
    val withObj = joinLookup(withSubj, lookup, side = "object")

    // Resolve topic arrays to ontology labels (unresolved entries drop,
    // pipeline.py:1694-1696). Fast path: the resolved-topic map is bounded by
    // the distinct surface forms that matched the ontology — broadcast it and
    // rewrite the array in place (no explode, no fact-stream regroup shuffle).
    // Falls back to explode + regroup when the map exceeds derivedTopicCap;
    // one bounded collect both decides and fetches.
    val resolved = Checkpoints.collectUpTo(topic0.select($"key", $"r_name"),
        derivedTopicCap(spark)) match {
      case Some(capped) =>
        val entries = capped.map(r => r.getString(0) -> r.getString(1)).toMap
        val bc = spark.sparkContext.broadcast(entries)
        val resolveTopics = udf { (ts: Seq[String]) =>
          if (ts == null) Seq.empty[String]
          else ts.flatMap(x => bc.value.get(x.trim.toLowerCase(java.util.Locale.ROOT))).distinct.sorted
        }
        withObj.withColumn("topics", resolveTopics($"topics"))
      case None =>
        val exploded = withObj
          .withColumn("topic_raw", explode_outer($"topics"))
          .withColumn("topic_key", lower(trim($"topic_raw")))
          .join(broadcast(topic0).select($"key".as("topic_key"), $"r_name".as("topic_label")),
            Seq("topic_key"), "left")
        exploded
          .groupBy($"chunk_uuid", $"conv_id", $"group_id", $"fact", $"subject",
            $"subject_type", $"relationship", $"object", $"object_type", $"date_context",
            $"subject_uuid", $"subject_canonical", $"object_uuid", $"object_canonical")
          .agg(array_sort(array_distinct(collect_list($"topic_label"))).as("topics"))
    }

    resolved
      .withColumn("predicate", relTypeUdf($"relationship"))
      .withColumn("fact_uuid", factUuidUdf($"group_id", $"chunk_uuid",
        $"subject_canonical", $"predicate", $"object_canonical", $"fact",
        coalesce($"date_context", lit(""))))
      // identical re-extractions collapse on the deterministic identity
      // (MERGE-on-fact_id semantics, pipeline.py:620-634)
      .dropDuplicates("fact_uuid")
      .select(
        $"fact_uuid",
        $"fact",
        $"subject_uuid",
        $"subject_canonical".as("subject"),
        $"subject_type",
        $"object_uuid",
        $"object_canonical".as("object"),
        $"object_type",
        $"predicate",
        $"relationship".as("relationship_raw"),
        $"date_context",
        $"topics",
        $"chunk_uuid",
        $"conv_id",
        $"group_id")
      .as[Triple]
  }

  /** Inner-join one side (subject|object) against the combined entity/topic
    * lookup; a side of type "topic" resolves through topic rows only —
    * unresolved rows drop (inner-join-as-semi-join, pipeline.py:845-853).
    */
  private def joinLookup(df: DataFrame, lookup: DataFrame, side: String): DataFrame = {
    import df.sparkSession.implicits._
    val key = col(s"${side}_key")
    val typ = lower(col(s"${side}_type"))
    df.join(lookup,
        key === lookup("key") && (typ === "topic") === lookup("is_topic"),
        "inner")
      .withColumn(s"${side}_uuid", $"r_uuid")
      .withColumn(s"${side}_canonical", $"r_name")
      .drop("key", "r_uuid", "r_name", "is_topic")
  }
}
