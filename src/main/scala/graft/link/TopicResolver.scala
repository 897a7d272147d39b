package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Embed, Ids}
import graft.model.OntologyTopic

/** Topic → ontology resolution (SURVEY.md §2.3 J5/J6).
  *
  * Reference: /root/reference/src/agents/topic_librarian.py:121-230 — topic
  * names are matched against a 232-term curated ontology via vector kNN
  * (top 10, candidate floor 0.40, pipeline.py:1611-1622) and an LLM accepts
  * exactly one candidate or rejects.
  *
  * Spark shape: the ontology is a broadcast dimension table (a few hundred
  * rows). Synonyms explode into match keys; exact case-insensitive
  * label/synonym equality wins outright (score 1.0) via a broadcast
  * EQUI-join — names with an exact hit never touch the similarity scan;
  * the remainder is scored against the broadcast term list with the
  * codegen'd DotProduct (embeddings are L2-normalized, so cosine = dot; no
  * interpreted per-pair UDF) under the reference's 0.40 floor; top-1 per
  * topic name via window; below-floor topics are rejected (dropped —
  * pipeline.py:1624-1627 skips unmatched topics).
  *
  * @param topicNames DataFrame with columns (name, group_id), distinct.
  * @return (name, group_id, topic_uuid, canonical_label, definition)
  */
object TopicResolver {

  case class Config(candidateFloor: Double = 0.40)

  def resolve(spark: SparkSession, topicNames: DataFrame,
      ontology: Seq[OntologyTopic], cfg: Config = Config()): DataFrame = {
    import spark.implicits._

    val terms = ontology.flatMap { t =>
      (t.label +: t.synonyms).map(term => (t.uri, t.label, t.definition, term,
        Embed.embed(term)))
    }.toDF("uri", "label", "definition", "term", "term_emb")
      .withColumn("term_key", lower(trim($"term")))

    val embedUdf = udf((s: String) => Embed.embed(s))
    val uuidUdf = udf((g: String, label: String) => Ids.stableUuid(g, "topic", label))

    val named = topicNames.select($"name", $"group_id")
      .distinct()
      .withColumn("name_key", lower(trim($"name")))
      .withColumn("name_emb", embedUdf($"name"))

    // exact path: a broadcast HASH join on the lowered key (an OR-predicate
    // with the similarity test would plan the whole thing as a nested-loop
    // join evaluating an interpreted UDF per (name, term) pair)
    val exact = named.join(broadcast(terms), $"term_key" === $"name_key")
      .withColumn("score", lit(1.0))
    // similarity path: only names with NO exact hit anywhere scan the term
    // list, scored by the codegen'd dot product (L2-normalized embeddings)
    val fuzzy = named
      .join(broadcast(terms.select($"term_key")), $"term_key" === $"name_key", "left_anti")
      .crossJoin(broadcast(terms))
      .withColumn("score",
        graft.functions.expr.DotProduct($"name_emb", $"term_emb"))
      .filter($"score" >= lit(cfg.candidateFloor))
    val scored = exact.unionByName(fuzzy)

    val top1 = Window.partitionBy($"name", $"group_id")
      .orderBy($"score".desc, $"label".asc)

    scored
      .withColumn("rn", row_number().over(top1))
      .filter($"rn" === 1 && $"score" >= lit(cfg.candidateFloor))
      .select(
        $"name",
        $"group_id",
        uuidUdf($"group_id", $"label").as("topic_uuid"),
        $"label".as("canonical_label"),
        $"definition")
  }
}
