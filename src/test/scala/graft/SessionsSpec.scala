package graft

import org.apache.spark.sql.SparkSession

/** Where graft's SQL functions come from when no factory built the
  * session, and what a session clone leaves behind. */
class SessionsSpec extends SparkSpec {

  test("a bare session runs function-using queries through SparkEntry.queries") {
    // newSession() starts with Spark's own registry only: the queries'
    // functions must come from SparkEntry's install (q283 archives, q206
    // video, q143 vectors) and, for q94's stream, from the install in
    // the Tables.sessionClone it runs on
    val bare = spark.newSession()
    assert(!bare.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("avi_hdr")))
    def rows(s: SparkSession, q: String) =
      SparkEntry.queries(q)(s, sf0001).collect().map(_.toString).sorted.toSeq
    for (q <- Seq("q283_tar_ingest", "q206_video_ingest", "q143_ivf_pq_rerank",
        "q94_stream_onebrc")) {
      val want = rows(spark, q)
      assert(want.nonEmpty, q)
      assert(rows(bare, q) == want, q)
    }
  }

  test("Tables.t keeps no session clone alive") {
    def loadOnClone(): java.lang.ref.WeakReference[SparkSession] = {
      val clone = Tables.sessionClone(spark)
      Tables.t(clone, sf0001, "region") // schema resolution; no action on the frame
      new java.lang.ref.WeakReference(clone)
    }
    val ref = loadOnClone()
    val cleared = (1 to 20).exists { _ =>
      System.gc(); Thread.sleep(100); ref.get == null
    }
    assert(cleared, "the clone is still reachable after Tables.t")
  }
}
