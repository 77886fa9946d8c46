package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1, naming
  * every failed query, once the dump is written. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [nameSubstring …] — the optional filters are
    // a dev affordance (check one query locally); the driver passes two.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Sessions.local()
    val failed = dump(spark, sfDir, outDir, SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.exists(name.contains) })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    failLoud("verify", failed)
  }

  /** Write each query's result to `<outDir>/<name>` as parquet; returns
    * the names that threw (each logged), so one failure never hides the
    * rest of the dump. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
  }

  /** Exit contract shared by Verify and Bench: called after the artifact
    * is written, it exits 1 naming every failed query, so a failure can
    * never pass as a complete dump or a faster total. */
  def failLoud(tool: String, failed: Seq[String]): Unit =
    failureReport(tool, failed).foreach { m =>
      System.err.println(m)
      sys.exit(1)
    }

  private[graft] def failureReport(tool: String,
      failed: Seq[String]): Option[String] =
    if (failed.isEmpty) None
    else Some(s"[$tool] ${failed.size} queries failed: ${failed.mkString(", ")}")
}
