package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.app.TableApp
import graft.model.Turn
import graft.pipeline.Ingest
import graft.synth.TranscriptGen
import graft.tables.SnapshotLog

class ExportSpec extends SparkSpec {

  private lazy val wh = {
    val dir = Files.createTempDirectory("graft-export").toString
    val turns = TranscriptGen.transcripts(spark, TranscriptGen.Config(4, 20, 2))
    Ingest.run(spark, turns, dir)
    dir
  }

  test("csv export: headerless parts + one _header.csv matching the schema") {
    val out = Files.createTempDirectory("graft-export-csv").toString
    val written = TableApp.exportGraph(new SnapshotLog(spark, wh), out, csv = true)
    val names = written.map(_._1).toSet
    assert(names === Set("nodes_entity", "nodes_topic", "nodes_chunk",
      "rels_fact", "rels_mentioned_in"))
    assert(written.forall(_._2 > 0))
    for (name <- names) {
      val dir = Paths.get(out, name)
      val header = Files.readString(dir.resolve("_header.csv")).trim
      // bulk-import id/edge markers present where they belong
      if (name.startsWith("nodes_")) {
        assert(header.contains("uuid:ID") && header.endsWith(":LABEL"), header)
      } else {
        assert(header.startsWith(":START_ID,:END_ID,:TYPE"), header)
      }
      // no part file carries an inline header line
      val parts = Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .filter(_.getFileName.toString.endsWith(".csv")).toSeq
      assert(parts.nonEmpty)
      val firstCol = header.split(",").head
      parts.foreach { p =>
        val lines = Files.readAllLines(p).asScala
        assert(!lines.exists(_.startsWith(firstCol + ",")),
          s"$p contains an inline header")
      }
    }
    // referential integrity: every fact endpoint is an exported entity node
    val entHdr = Files.readString(Paths.get(out, "nodes_entity/_header.csv"))
      .trim.split(",")
    val relHdr = Files.readString(Paths.get(out, "rels_fact/_header.csv"))
      .trim.split(",")
    val ents = spark.read.option("header", false).option("escape", "\"")
      .csv(s"$out/nodes_entity/part-*.csv").toDF(entHdr: _*)
    val rels = spark.read.option("header", false).option("escape", "\"")
      .csv(s"$out/rels_fact/part-*.csv").toDF(relHdr: _*)
    val orphans = rels.select(col(":START_ID").as("id"))
      .union(rels.select(col(":END_ID").as("id")))
      .join(ents.select(col("uuid:ID").as("id")), Seq("id"), "left_anti")
    assert(orphans.isEmpty, "fact edges reference unexported entity nodes")
  }

  test("jsonl export: plain column names, native arrays, same row counts") {
    val out = Files.createTempDirectory("graft-export-json").toString
    val log = new SnapshotLog(spark, wh)
    val written = TableApp.exportGraph(log, out, csv = false).toMap
    val ents = spark.read.json(s"$out/nodes_entity")
    assert(ents.columns.toSet ===
      Set("entity_uuid", "name", "entity_type", "summary", "aliases", "label"))
    assert(ents.schema("aliases").dataType.typeName === "array")
    assert(ents.count() === written("nodes_entity"))
    assert(ents.count() === log.read("entities").get.count())
  }

  test("every nodes_* export has unique ids: a topic's synonyms export one node") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-export-syn").toString
    val turns = Seq(
      "Summit Ventures partnered with Apex Holdings regarding CPI.",
      "Northwind Traders partnered with Blue Harbor Group regarding Inflation.")
      .zipWithIndex.map { case (text, i) =>
        Turn("syn", i, "user", text, "", new java.sql.Timestamp(1704067200000L + i * 60000L))
      }.toDS()
    Ingest.run(spark, turns, dir)
    val log = new SnapshotLog(spark, dir)
    // precondition: the topics table holds two names for one topic
    val perTopic = log.read("topics").get.groupBy($"topic_uuid").count().collect()
    assert(perTopic.length === 1 && perTopic.head.getLong(1) === 2L)
    for (csv <- Seq(true, false)) {
      val out = Files.createTempDirectory("graft-export-ids").toString
      val nodes = TableApp.exportGraph(log, out, csv).map(_._1).filter(_.startsWith("nodes_"))
      assert(nodes.toSet === Set("nodes_entity", "nodes_topic", "nodes_chunk"))
      nodes.foreach { name =>
        val ids =
          if (csv) spark.read.option("header", false).option("escape", "\"")
            .csv(s"$out/$name/part-*.csv").select(col("_c0"))
          else spark.read.json(s"$out/$name").select(col(name.stripPrefix("nodes_") + "_uuid"))
        assert(ids.count() > 0 && ids.distinct().count() === ids.count(), s"$name csv=$csv")
      }
    }
  }
}
