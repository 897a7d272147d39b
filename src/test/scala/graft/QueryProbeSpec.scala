package graft

import java.nio.file.{Files, Paths}

import graft.app.QueryProbe

/** QueryProbe's two modes on the shared session (never stopped here). */
class QueryProbeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val names = Seq("q1_agg", "text_stats")

  test("plan mode writes one formatted physical plan per query") {
    val dir = Files.createTempDirectory("graft-probe-plan").toString
    val files = QueryProbe.plan(spark, sfDir, dir, "t", names)
    assert(files === names.map(n => Paths.get(dir, s"${n}_t.txt")))
    assert(Files.list(Paths.get(dir)).count() === names.size)
    files.foreach(f => assert(Files.readString(f).contains("Physical Plan"), f))
  }

  test("time mode returns reps samples per query") {
    val samples = QueryProbe.time(spark, sfDir, reps = 2, names)
    assert(samples.map(_._1) === names)
    samples.foreach { case (n, s) => assert(s.size === 2 && s.forall(_ > 0), n) }
  }

  test("an unknown query name is rejected before any query runs") {
    val dir = Files.createTempDirectory("graft-probe-bad").resolve("plans")
    val e = intercept[IllegalArgumentException](
      QueryProbe.plan(spark, sfDir, dir.toString, "t", names :+ "no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
    assert(!Files.exists(dir), "no plan may be written once a name is unknown")
    val jobs = jobsOf(intercept[IllegalArgumentException](
      QueryProbe.time(spark, sfDir, reps = 1, names :+ "no_such_query")))
    assert(jobs === 0, "time mode ran a job before rejecting the name")
  }
}
