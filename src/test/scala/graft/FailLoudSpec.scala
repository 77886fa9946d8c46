package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify and Bench write their artifact, then exit nonzero naming every
  * failed query: an exception is never a skipped dump entry or a faster
  * total. The exits themselves live in `main`; these pin the extracted
  * run functions and the shared exit report. */
class FailLoudSpec extends SparkSpec {

  private val ok: (SparkSession, String) => DataFrame =
    (s, d) => Tables.t(s, d, "nation")
  private val boom: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("planted failure")

  test("Verify.dump writes the good queries and names the throwing one") {
    val out = tempDir("graft_verify").toString
    val failed = Verify.dump(spark, sf0001, out,
      Map("q_ok" -> ok, "q_boom" -> boom))
    assert(failed == Seq("q_boom"))
    assert(spark.read.parquet(s"$out/q_ok").count() ==
      Tables.t(spark, sf0001, "nation").count())
    assert(!new java.io.File(s"$out/q_boom").exists)
  }

  test("Bench.runOnce times a good query and returns a throwing one's error") {
    assert(Bench.runOnce(spark, sf0001, "q_ok", ok).exists(_ > 0))
    assert(Bench.runOnce(spark, sf0001, "q_boom", boom).left.exists(
      _.getMessage == "planted failure"))
  }

  test("the exit report names every failed query, and only on failure") {
    assert(Verify.failureReport("bench", Nil).isEmpty)
    val m = Verify.failureReport("bench", Seq("q_boom", "q_bust"))
    assert(m.exists(r => r.contains("q_boom") && r.contains("q_bust")), m)
  }
}
