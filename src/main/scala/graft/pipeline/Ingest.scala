package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.assemble.TripleAssembler
import graft.canon.EntityDedup
import graft.chunk.TurnChunker
import graft.extract.TripleExtractor
import graft.link.{EntityLinker, TopicResolver}
import graft.model._
import graft.synth.TranscriptGen
import graft.tables.{Checkpoints, SnapshotLog}
import graft.tables.SnapshotLog.Write

/** End-to-end knowledge-graph construction over a transcripts table
  * (SURVEY.md §3.1): chunk → extract → collect/dedup/canonicalize → link →
  * topic-resolve → assemble → commit partitioned tables with per-stage
  * snapshots and per-partition lineage.
  *
  * Stage boundaries mirror the reference's phase barriers (asyncio.gather
  * fan-ins at /root/reference/src/pipeline.py:1378,1548,1688): each stage is
  * one committed table; a relaunched run resumes from the last committed
  * snapshot (`SnapshotLog.computeIfAbsent`).
  */
object Ingest {

  /** Aux lookup blooms committed with every triples segment: the 1-hop
    * adjacency surface (explore_neighbors, get_chunks_by_edge, entity
    * provenance) is point lookups by subject/object uuid, which are NOT the
    * table's merge key — these let `SnapshotLog.readForAnyKeys` open only
    * the segments incident to the requested entity. Built in the same
    * single key-column read-back pass as the fact_uuid merge bloom.
    */
  val TripleLookupBlooms: Seq[Seq[String]] =
    Seq(Seq("subject_uuid"), Seq("object_uuid"))

  case class Result(
      chunks: DataFrame,
      rawTriples: DataFrame,
      entities: DataFrame,
      triples: DataFrame)

  case class Config(
      chunker: TurnChunker.Config = TurnChunker.Config(),
      dedup: EntityDedup.Config = EntityDedup.Config(),
      linker: EntityLinker.Config = EntityLinker.Config(),
      topics: TopicResolver.Config = TopicResolver.Config(),
      assembler: TripleAssembler.Config = TripleAssembler.Config(),
      ontology: Seq[OntologyTopic] = TranscriptGen.ontology,
      // persist fact vectors in the committed triples table (the reference
      // ingests fact embeddings into its vector store, pipeline.py:974-1005
      // + the fact_embeddings index) — retrieval then reads the committed
      // column instead of re-deriving per read. Default off: the embedder
      // is deterministic, so derive-at-read is value-identical and the
      // table stays 64 doubles/row slimmer.
      factEmbeddings: Boolean = false)

  /** Where the stage chain keeps each stage's output. Each hook receives the
    * stage's plan by name, so a sink that already holds a stage (a committed
    * table on resume) never builds it; the defaults leave a stage a lazy
    * plan.
    */
  private abstract class Sink {
    /** The sink keeps the chunks table, so raw triples are extracted from it
      * rather than fused straight off the turns.
      */
    def writesChunks: Boolean
    def chunks(c: => DataFrame): DataFrame = c
    def raw(r: => DataFrame): DataFrame = r
    /** (entities, [[aliasRemap]] of them, topics) from dedup's canonical
      * entities and the resolved topics.
      */
    def canon(entities: => DataFrame,
        topics: => DataFrame): (DataFrame, DataFrame, DataFrame)
    def triples(t: => DataFrame): DataFrame = t
  }

  /** The one stage chain behind every sink: chunk → extract → mentions →
    * dedup (→ link, incremental sink) → topic resolve → assemble.
    *
    * Raw-triple extraction takes the FUSED single-pass extractor when the
    * sink keeps no chunks table and the chunker config satisfies its
    * identity precondition (windowSize == 1, no markdown header stacks — the
    * defaults; spec-asserted row-identical to extract(chunk(turns))): an
    * action that materializes only `.triples` then pays ONE corpus pass
    * instead of the chunker's stats + zip passes. `Result.chunks` stays
    * lazily available either way.
    */
  private def chain(spark: SparkSession, turns: Dataset[Turn], cfg: Config,
      sink: Sink): Result = {
    import spark.implicits._
    val c = cfg.chunker
    val chunks = sink.chunks(TurnChunker.chunk(spark, turns, c).toDF())
    val fused = !sink.writesChunks && c.windowSize == 1 && !c.markdownHeaders
    val rawDf = sink.raw(
      if (fused) TripleExtractor.extractFused(spark, turns, c.minChars, c.groupId).toDF()
      else TripleExtractor.extract(spark, chunks.as[Chunk]).toDF())
    val raw = rawDf.as[RawTriple]
    val (entities, remap, topics) = sink.canon(
      EntityDedup.dedup(spark, TripleExtractor.mentions(spark, raw), cfg.dedup)._1.toDF(),
      {
        // one pass over raw (not a 3-way union = 3 scans): topics array ∪
        // topic-typed subjects ∪ topic-typed objects
        val names = rawDf.select(explode(concat($"topics",
            when(lower($"subject_type") === "topic", array($"subject")).otherwise(array()),
            when(lower($"object_type") === "topic", array($"object")).otherwise(array())))
            .as("name"), $"group_id")
          .distinct()
        TopicResolver.resolve(spark, names, cfg.ontology, cfg.topics)
      })
    val triples = sink.triples(
      TripleAssembler.assemble(spark, raw, remap, topics, cfg.assembler).toDF())
    Result(chunks, rawDf, entities, triples)
  }

  /** Assembly's remap: (name, canonical_uuid, canonical_name) per alias of
    * each entity row. An entity's `aliases` are every name dedup folded into
    * it, so this maps the same names to the same entities as dedup's remap.
    */
  private def aliasRemap(entities: DataFrame, uuid: String = "entity_uuid",
      canonicalName: String = "canonical_name"): DataFrame =
    entities.select(explode(col("aliases")).as("name"), col(uuid).as("canonical_uuid"),
      col(canonicalName).as("canonical_name"))

  /** Run without the table layer (used by tests/bench); keeps no chunks
    * table, so the default chunker config takes the fused extractor.
    *
    * Only the raw-triple stage is persisted, and it stays persisted on
    * purpose: its consumers (mentions, topic names, and the assembly that the
    * lazy `Result.triples` runs whenever the caller materializes it) would
    * otherwise re-run extraction each. Chunks have a single consumer
    * (extraction) — a cache there would be a pure write-read overhead.
    *
    * entities and topics are tiny (≈ distinct names); eagerly truncating
    * their lineage (the in-memory analogue of the committed path's stage
    * tables) stops downstream broadcast subqueries from re-running the whole
    * chunk+extract subtree — measured as a repeated multi-second broadcast
    * build in the assembly phase. Both materialize in one
    * `Checkpoints.truncateAll`, and the remap is derived from the truncated
    * entities. Checkpoints prefers a reliable checkpoint when a dir is
    * configured (cluster failure model).
    */
  def runInMemory(spark: SparkSession, turns: Dataset[Turn],
      cfg: Config = Config()): Result =
    chain(spark, turns, cfg, new Sink {
      val writesChunks = false
      override def raw(r: => DataFrame) = r.persist(StorageLevel.MEMORY_AND_DISK)
      def canon(entities: => DataFrame, topics: => DataFrame) = {
        val Seq(e, t) = Checkpoints.truncateAll(entities, topics)
        (e, aliasRemap(e), t)
      }
    })

  /** Full run with committed snapshots + lineage + resume.
    * Tables: chunks, raw_triples, entities, topics, triples — partitioned by
    * group_id (tenant pruning, SURVEY.md §1.1) except the tiny topics. Each
    * stage commits once; a relaunch reads it back instead. Mentions and the
    * remap are re-derived from `raw_triples` and `entities`, so a fresh and
    * a resumed run take one path.
    */
  def run(spark: SparkSession, turns: Dataset[Turn], warehouseDir: String,
      cfg: Config = Config()): Result = {
    val log = new SnapshotLog(spark, warehouseDir)
    chain(spark, turns, cfg, new Sink {
      val writesChunks = true
      override def chunks(c: => DataFrame) =
        log.computeIfAbsent("chunks", Seq("group_id"), bloomKeys = Seq("chunk_uuid"))(c)
      override def raw(r: => DataFrame) = log.computeIfAbsent("raw_triples", Seq("group_id"))(r)
      def canon(entities: => DataFrame, topics: => DataFrame) = {
        val e = log.computeIfAbsent("entities", Seq("group_id"),
          bloomKeys = Seq("entity_uuid"))(entities)
        (e, aliasRemap(e), log.computeIfAbsent("topics")(topics))
      }
      override def triples(t: => DataFrame) = log.computeIfAbsent("triples", Seq("group_id"),
          bloomKeys = Seq("fact_uuid"), auxBloomKeys = TripleLookupBlooms) {
        if (cfg.factEmbeddings) graft.query.Retriever.withFactEmbeddings(t) else t
      }
    })
  }

  /** Incremental ingest of an additional corpus into an EXISTING warehouse
    * (J4 entity linking, reference entity_registry.py:134-218): the new
    * corpus is chunked/extracted/deduped on its own, then its canonical
    * entities are linked against the committed entity table — matches adopt
    * the existing uuid/name, new ones append (MERGE semantics). New triples
    * append idempotently on fact_uuid.
    *
    * `conv_id` is the store-wide conversation key (chunk/fact uuids derive
    * from it): the additional corpus must carry fresh conv ids for
    * genuinely new conversations — a re-submitted conv_id deduplicates by
    * uuid (idempotent re-ingest) rather than storing divergent content.
    *
    * Link once: the link result (narrowed to the columns the entity fold
    * and the remap read) and the resolved topics materialize together in
    * one `Checkpoints.truncateAll`, and every consumer — the entity fold,
    * the topic-map probe, the triples assembly and the merges' bloom probes
    * and writes — reads those tables instead of re-deriving the link. The
    * link keeps one row per new entity, so the remap maps each of its
    * `aliases` to its resolved uuid and name. Chunks and raw triples are
    * persisted for the run (each feeds several consumers) and released once
    * the merges are committed; the returned `Result.chunks` and `rawTriples`
    * remain valid as lazy plans.
    *
    * Commit: one `SnapshotLog.write` of the entities upsert and the chunks
    * and triples appends. It stages the three merges side by side and lists
    * them in that order once all three are written. Triples go last, so a
    * reader never sees a fact whose entity or source chunk is not yet
    * visible. If any merge fails, no table gains a snapshot: the staged
    * files are deleted and the failure rethrown. A fragmented table
    * compacts only after all three lines have landed.
    */
  def runIncremental(spark: SparkSession, turns: Dataset[Turn], warehouseDir: String,
      cfg: Config = Config()): Result = {
    val log = new SnapshotLog(spark, warehouseDir)
    val existing = log.read("entities").getOrElse(
      throw new IllegalStateException("runIncremental needs a committed entities table"))
    // segment schemas must agree across increments: follow the COMMITTED
    // table's layout (persisted vectors iff the base run persisted them),
    // regardless of this run's flag
    val withVectors = log.read("triples").exists(_.columns.contains("embedding"))
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame) = { cached += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    try {
      // the linked rows stand in for this run's entities: the commit below
      // folds them into upserts of the committed entity table
      val r = chain(spark, turns, cfg, new Sink {
        val writesChunks = true
        override def chunks(c: => DataFrame) = cache(c)
        override def raw(r: => DataFrame) = cache(r)
        def canon(entities: => DataFrame, topics: => DataFrame) = {
          val Seq(linked, resolvedTopics) = Checkpoints.truncateAll(
            EntityLinker.link(spark, entities, existing, cfg.linker).drop(LinkUnread: _*),
            topics)
          (linked, aliasRemap(linked, "resolved_uuid", "resolved_name"), resolvedTopics)
        }
        override def triples(t: => DataFrame) =
          if (withVectors) graft.query.Retriever.withFactEmbeddings(t) else t
      })
      log.write(Seq(
        Write("entities", foldLinkedEntities(spark, r.entities, existing.columns), Write.Upsert,
          Seq("entity_uuid"), Seq("group_id")),
        Write("chunks", r.chunks, Write.Append, Seq("chunk_uuid"), Seq("group_id")),
        Write("triples", r.triples, Write.Append, Seq("fact_uuid"), Seq("group_id"),
          TripleLookupBlooms)))
      r.copy(entities = log.read("entities").get, triples = log.read("triples").get)
    } finally cached.foreach(_.unpersist())
  }

  /** Columns of `EntityLinker.link`'s output that [[foldLinkedEntities]]
    * replaces or recomputes (and the remap never reads):
    * `runIncremental` drops them before it materializes the link result.
    */
  private val LinkUnread =
    Seq("name", "canonical_name", "embedding", "name_embedding", "is_new")

  /** Fold EntityLinker output into one upsert row per resolved uuid
    * (entity_registry.py:252-333 merge-on-match): matched rows REPLACE the
    * committed entity (same uuid/name/embedding, merged summary, appended
    * aliases); new rows append. Several new entities can link to ONE
    * existing uuid, so the fold is deterministic per uuid: the EXISTING
    * summary merges exactly ONCE, then each linked row's OWN summary in
    * sorted order — folding the per-row pre-merged `resolved_summary`s
    * would repeat the existing text once per linked row. Alias/chunk sets
    * union; scalar columns take the max_by(name, summary) row's values.
    * `name_embedding` is not carried: it is recomputed from the folded
    * (name, summary), so `linked` needs no vector but `resolved_embedding`.
    */
  private[graft] def foldLinkedEntities(spark: SparkSession, linked: DataFrame,
      entityCols: Seq[String]): DataFrame = {
    import spark.implicits._
    val mergeAllUdf = udf((ex: String, ss: Seq[String]) =>
      ss.sorted.foldLeft(Option(ex).getOrElse(""))((acc, s) =>
        graft.functions.Norm.mergeSummaries(acc, s)))
    val carried = entityCols.filterNot(_ == "name_embedding")
    val entityRows0 = linked
      .withColumn("own_summary", $"summary")
      .withColumn("ex_summary", $"resolved_ex_summary")
      .withColumn("entity_uuid", $"resolved_uuid")
      .withColumn("canonical_name", $"resolved_name")
      .withColumn("name", $"resolved_name")
      .withColumn("summary", $"resolved_summary")
      .withColumn("aliases", $"resolved_aliases")
      .withColumn("embedding", $"resolved_embedding")
      .select((carried.map(col) :+ $"own_summary" :+ $"ex_summary"): _*)
    val scalarCols = carried.filterNot(c =>
      Set("entity_uuid", "summary", "aliases", "source_chunks").contains(c))
    val folded = entityRows0.groupBy($"entity_uuid")
      .agg(
        max_by(struct(scalarCols.map(col): _*), struct($"name", $"summary")).as("c"),
        // all rows of a matched uuid carry the SAME committed ex summary
        // (max = that value; null for brand-new uuids)
        mergeAllUdf(max($"ex_summary"), collect_set($"own_summary")).as("summary"),
        array_distinct(flatten(collect_list($"aliases"))).as("aliases"),
        slice(array_distinct(flatten(collect_list($"source_chunks"))), 1, 20)
          .as("source_chunks"))
    // the semantic vector tracks the MERGED (name, summary) pair — computed
    // after the fold (the name-only `embedding` is unchanged by a summary
    // merge and stays as committed). Guarded: linking against a legacy
    // warehouse committed before the dual-embedding column keeps its schema.
    val nameEmbUdf = udf((n: String, s: String) => graft.functions.Embed.semantic(n, s))
    folded.select(entityCols.map {
      case "name_embedding" => nameEmbUdf($"c.name", $"summary").as("name_embedding")
      case c if scalarCols.contains(c) => col(s"c.$c").as(c)
      case c => col(c)
    }: _*)
  }
}
