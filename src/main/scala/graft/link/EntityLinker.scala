package graft.link

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.canon.EntityDedup
import graft.functions.{Embed, Norm}

/** Entity linking against an existing entity graph (SURVEY.md §2.3 J4).
  *
  * Reference: /root/reference/src/agents/entity_registry.py:134-218 — each new
  * canonical entity runs a vector kNN (top 25, group_id-scoped) against
  * existing EntityNodes, then an LLM picks the match or declares it new. On a
  * match, the registry MERGES the summaries (containment short-circuit at
  * :330-333) and APPENDS the new surface form to the existing node's aliases
  * (:252-333) — reproduced here deterministically via Norm.mergeSummaries.
  *
  * Spark shape (the north star's "broadcast-joined entity-link scorer"):
  * candidates come from an equi-join on blocking key against the existing
  * entity table. Catalyst picks the join from the table's size estimate
  * (`spark.sql.autoBroadcastJoinThreshold`): broadcast in the common case,
  * where the entity catalog is orders of magnitude smaller than the triple
  * stream, a shuffle join once it outgrows the threshold — the table holds
  * embeddings and grows with the warehouse. Scoring is exact cosine
  * + alias-key equality; top-1 per new entity via a window; match accepted
  * above threshold. The LLM decision is replaced by the deterministic
  * rules of EntityDedup (alias table, suffix strip, type guardrail).
  *
  * `link` is lazy: it starts no job. An empty registry needs no branch of
  * its own — the left join matches nothing, so every row is new.
  *
  * @return input `newEntities` columns (`group_id` first; select by name) +
  *         (resolved_uuid, resolved_name, resolved_ex_summary,
  *         resolved_summary, resolved_aliases, resolved_embedding, is_new) —
  *         matched rows adopt the existing uuid/name/embedding, merge
  *         summaries, and append their surface form to the alias set.
  */
object EntityLinker {

  case class Config(scoreThreshold: Double = 0.85)

  /** Column if present, else a typed null/default — keeps link() usable on
    * minimal entity schemas (tests, external tables without summaries).
    */
  private def colOr(df: DataFrame, name: String, default: Column): Column =
    if (df.columns.contains(name)) col(name) else default

  private val nullStr = lit(null).cast("string")
  private val emptyStrArr = lit(Array.empty[String])

  def link(spark: SparkSession, newEntities: DataFrame, existing: DataFrame,
      cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    // SAME key set as batch EntityDedup.candidateEdges (aliasKey + firstToken)
    // so incremental ingest recalls every near-name merge a batch run makes —
    // splitting a corpus into two increments must not change the entity graph.
    val keysUdf = udf((n: String) =>
      Seq(EntityDedup.aliasKey(n), EntityDedup.firstTokenKey(n)).distinct)
    val aliasKeyUdf = udf((n: String) => EntityDedup.aliasKey(n))
    val mergeSummariesUdf = udf((old: String, nw: String) => Norm.mergeSummaries(old, nw))

    val newSummary = colOr(newEntities, "summary", nullStr)
    val newAliases = colOr(newEntities, "aliases", emptyStrArr)

    val exKeyed = existing.select(
      explode(keysUdf($"name")).as("block_key"),
      aliasKeyUdf($"name").as("ex_akey"),
      $"entity_uuid".as("ex_uuid"),
      $"name".as("ex_name"),
      $"entity_type".as("ex_type"),
      $"embedding".as("ex_emb"),
      colOr(existing, "summary", nullStr).as("ex_summary"),
      colOr(existing, "aliases", emptyStrArr).as("ex_aliases"),
      $"group_id")

    val newKeyed = newEntities
      .withColumn("akey", aliasKeyUdf($"name"))
      .withColumn("block_key", explode(keysUdf($"name")))

    // tenant isolation: group_id is part of the join key (graph_store.py:217-223)
    // match rules, mirroring batch dedup (J3): same aliasKey → merge
    // unconditionally; otherwise exact cosine >= threshold. Type guardrail on
    // both paths (Person never merges with Organization).
    val scored = newKeyed.join(exKeyed, Seq("block_key", "group_id"), "left")
      .withColumn("type_ok", $"ex_type".isNotNull && $"ex_type" === $"entity_type")
      .withColumn("alias_match", $"type_ok" && $"akey" === $"ex_akey")
      // codegen cosine expression, not a Scala UDF: both sides are fixed-dim
      // Embed.embed vectors, for which the expression is bit-identical to
      // Embed.cosine (same accumulation order/formula; tail handling only
      // differs for unequal lengths) — keeps link scoring in whole-stage
      // codegen, evaluated once per blocked candidate pair
      .withColumn("cos",
        when(!$"type_ok", lit(-1.0)).otherwise(
          graft.functions.expr.CosineSimilarity($"embedding", $"ex_emb")))
      .withColumn("score", when($"alias_match", lit(2.0)).otherwise($"cos"))

    val top1 = Window.partitionBy($"entity_uuid")
      .orderBy($"score".desc, $"ex_uuid".asc_nulls_last)

    scored
      .withColumn("rn", row_number().over(top1))
      .filter($"rn" === 1)
      .withColumn("matched", $"alias_match" || $"cos" >= lit(cfg.scoreThreshold))
      .withColumn("resolved_uuid", when($"matched", $"ex_uuid").otherwise($"entity_uuid"))
      .withColumn("resolved_name", when($"matched", $"ex_name").otherwise($"name"))
      // reference merge-on-match (entity_registry.py:252-333): keep the
      // existing node but fold in the new summary and surface form. The
      // matched EXISTING summary is also exposed unmerged
      // (resolved_ex_summary) so a caller folding SEVERAL linked rows into
      // one uuid can merge it exactly once — folding the per-row merged
      // summaries would repeat the existing text per row.
      .withColumn("resolved_ex_summary", when($"matched", $"ex_summary"))
      .withColumn("resolved_summary",
        when($"matched", mergeSummariesUdf($"ex_summary", newSummary))
          .otherwise(newSummary))
      .withColumn("resolved_aliases",
        when($"matched", array_distinct(concat(
            coalesce($"ex_aliases", emptyStrArr),
            coalesce(newAliases, emptyStrArr),
            array($"name"))))
          .otherwise(coalesce(newAliases, emptyStrArr)))
      .withColumn("resolved_embedding", when($"matched", $"ex_emb").otherwise($"embedding"))
      .withColumn("is_new", !$"matched")
      .drop("rn", "ex_uuid", "ex_name", "ex_type", "ex_emb", "ex_summary", "ex_aliases",
        "ex_akey", "score", "cos", "alias_match", "type_ok", "matched", "block_key", "akey")
  }
}
