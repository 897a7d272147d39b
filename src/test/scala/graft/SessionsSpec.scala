package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

import graft.app.Sessions

/** The session factory: the CLI apps' master / shuffle precedence (a pure
  * function, since one JVM holds one SparkContext) and a source scan that
  * keeps every other session builder and the deleted env knobs out.
  */
class SessionsSpec extends AnyFunSuite {

  private def cli(flag: Option[String], launch: (String, String)*): Map[String, String] =
    Sessions.cliConf(flag, new SparkConf(false).setAll(launch)).toMap

  private val Master = "spark.master"
  private val Shuffle = "spark.sql.shuffle.partitions"

  test("CLI session: --master flag, then the launch conf, then local[8] / 32") {
    assert(cli(None) === Map(Master -> "local[8]", Shuffle -> "32"))
    assert(cli(Some("local[3]")) === Map(Master -> "local[3]", Shuffle -> "32"))
    assert(cli(None, Master -> "local[2]", Shuffle -> "5") ===
      Map(Master -> "local[2]", Shuffle -> "5"))
    assert(cli(Some("local[3]"), Master -> "local[2]", Shuffle -> "5") ===
      Map(Master -> "local[3]", Shuffle -> "5"))
  }

  private def sources: Seq[(Path, String)] =
    Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }.map(p => p -> Files.readString(p))

  test("only the factory, Bench and Verify build a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val allowed = Set("Sessions.scala", "Bench.scala", "Verify.scala")
    val offenders = sources.collect {
      case (p, text) if builder.findFirstIn(text).isDefined &&
        !allowed(p.getFileName.toString) => p.toString
    }
    assert(sources.nonEmpty)
    assert(offenders.isEmpty, s"build the session through graft.app.Sessions: $offenders")
  }

  test("only SnapshotLog and Verify create a thread pool under src/main") {
    val pool = """Executors\.""".r
    val allowed = Set("SnapshotLog.scala", "Verify.scala")
    val offenders = sources.collect {
      case (p, text) if p.startsWith(Paths.get("src/main")) &&
        pool.findFirstIn(text).isDefined && !allowed(p.getFileName.toString) => p.toString
    }
    assert(sources.exists { case (p, text) =>
      p.endsWith("SnapshotLog.scala") && pool.findFirstIn(text).isDefined })
    assert(offenders.isEmpty, s"stage multi-table commits through SnapshotLog.write: $offenders")
  }

  test("no source reads the deleted session env knobs") {
    val knob = "\"SPARK_(MASTER|GRAFT_SHUFFLE|GRAFT_AQE)\"".r
    val offenders = sources.collect {
      case (p, text) if knob.findFirstIn(text).isDefined => p.toString
    }
    assert(offenders.isEmpty, s"spark-submit's --master / --conf replace these: $offenders")
  }
}
