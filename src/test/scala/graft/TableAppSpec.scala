package graft

import java.nio.file.{Files, Paths}

import graft.app.TableApp
import graft.tables.SnapshotLog

/** TableApp's two-table commands: each commits its pair of tables in one
  * write, so a failure while staging the second table changes neither.
  */
class TableAppSpec extends SparkSpec {
  import spark.implicits._

  private def warehouse(name: String): (String, SnapshotLog) = {
    val dir = Files.createTempDirectory(name).toString
    (dir, new SnapshotLog(spark, dir))
  }

  test("ann-index: a rebuild whose assignments fail to stage keeps the previous index paired") {
    val (dir, log) = warehouse("graft-ann-fail")
    log.commit("docs", (1 to 120).map(i =>
      (s"d$i", Array.tabulate(8)(j => math.sin(i * (j + 1.0))))).toDF("doc_id", "embedding"))
    def build() = TableApp.annIndex(log, "docs", log.read("docs").get, 4, "embedding", "doc_id")
    assert(build() === 120L)
    val tables = Seq("docs_ann_centroids", "docs_ann_assignments")
    val before = tables.map(log.snapshots(_))

    // the rebuild's assignments snapshot fails writing its key bloom: a
    // directory sits where that file goes
    Files.createDirectory(Paths.get(dir, "docs_ann_assignments", "snapshot-2.bloom"))
    intercept[java.io.IOException](build())
    assert(tables.map(log.snapshots(_)) === before,
      "the rebuild's centroids went live over the previous assignments")
    tables.foreach(t => assert(unlisted(log, dir, t).isEmpty, s"$t holds unlisted files"))
  }

  test("sketch: a build whose hll fails to stage stamps neither sketch, and a rerun builds both") {
    val (dir, log) = warehouse("graft-sketch-fail")
    log.commit("events", (1 to 200).map(i => (i, s"k${i % 37}")).toDF("id", "k"))
    def sketch() = TableApp.sketch(log, "events", log.read("events").get, "k", 64, 3, 8)
    val (cms, hll) = ("events_sketch_k_cms", "events_sketch_k_hll")

    // a file sits where the hll table's directory goes (a file at its
    // snapshot path would not do: the overwriting parquet write deletes it)
    val blocker = Paths.get(dir, hll)
    Files.createFile(blocker)
    intercept[java.io.IOException](sketch())
    assert(log.snapshots(cms).isEmpty, "the cms was stamped without its hll")
    assert(unlisted(log, dir, cms).isEmpty, s"$cms holds unlisted files")

    Files.delete(blocker)
    assert(sketch().map(_._1) === Some("full"), "the rerun did not build the sketches")
    assert(Seq(cms, hll).map(log.snapshots(_)) === Seq(Seq(1L), Seq(1L)))
  }
}
