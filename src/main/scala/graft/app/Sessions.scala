package graft.app

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a graft main or spec builds its SparkSession. Every session
  * gets a UTC session time zone, no UI and ERROR logging; AQE and its skew
  * join are left at Spark's defaults (both on). Callers pick only the master,
  * the shuffle partitions and any extra conf.
  */
object Sessions {

  /** A session with a fixed shape, for harnesses whose measurements depend
    * on it: `local[cores]` and `shufflePartitions`, whatever the launch conf
    * says.
    */
  def local(appName: String, cores: Int, shufflePartitions: Int,
      extra: (String, String)*): SparkSession =
    build(appName, Seq("spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString) ++ extra)

  /** A session for the spark-submit CLI apps; see [[cliConf]]. */
  def cli(appName: String, masterFlag: Option[String]): SparkSession =
    build(appName, cliConf(masterFlag, new SparkConf()))

  /** Master and shuffle partitions of a CLI app: the app's `--master` flag
    * first, then the launch conf (spark-submit's `--master` / `--conf`, or
    * `-Dspark.*`), then `local[8]` with 32 shuffle partitions.
    */
  def cliConf(masterFlag: Option[String], launch: SparkConf): Seq[(String, String)] = Seq(
    "spark.master" -> masterFlag.orElse(launch.getOption("spark.master")).getOrElse("local[8]"),
    "spark.sql.shuffle.partitions" ->
      launch.getOption("spark.sql.shuffle.partitions").getOrElse("32"))

  private def build(appName: String, conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
