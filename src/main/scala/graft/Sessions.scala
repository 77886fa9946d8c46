package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft process builds its SparkSession. Every main
  * and the test session go through [[local]], so they agree on the
  * confs a query's answer or plan can depend on. */
object Sessions {

  /** Local cores to use: `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, AQE on, UTC
    * session time, no UI, ERROR logging, and graft's SQL functions
    * installed. `extra` confs apply before the session starts (static
    * confs such as `spark.sql.warehouse.dir` need that). No plan
    * extension is installed: `GraftExtensions`' `RangeJoinRule` would
    * rewrite plans session-wide. */
  def local(extra: (String, String)*): SparkSession = {
    val n = cpus.toString
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    functions.Functions.install(s)
    s
  }
}
