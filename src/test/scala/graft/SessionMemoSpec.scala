package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** The checkpointed kind of session intermediate: single-flight per
  * (session, family, corpus), a head(1) liveness probe that rebuilds a
  * frame whose checkpoint blocks are gone, and [[Staging.forget]]. */
class SessionMemoSpec extends SparkSpec {

  private def corpus(prefix: String): String = {
    val dir = tempDir(prefix)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf0001, "documents.parquet"),
      dir.resolve("documents.parquet"))
    dir.toString
  }

  private def docCount(d: String, builds: AtomicInteger) =
    SessionMemo.once(spark, "spec-docs", d) {
      builds.incrementAndGet()
      Thread.sleep(200) // widen the race window for the concurrent case
      Tables.t(spark, d, "documents").agg(count(lit(1)).as("n"))
    }

  test("two threads asking for one key get one build") {
    val d = corpus("graft_memo_race")
    val builds = new AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val got = (1 to 2).map(_ => Future { start.await(); docCount(d, builds) })
    start.countDown()
    val frames = got.map(Await.result(_, 2.minutes))
    assert(builds.get == 1, "concurrent callers must share one build")
    assert(frames(0) eq frames(1))
  }

  test("dropped checkpoint blocks make the probe rebuild, not throw") {
    val d = corpus("graft_memo_blocks")
    val builds = new AtomicInteger(0)
    val first = docCount(d, builds)
    val n = first.head().getLong(0)
    first.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = true))
    assert(scala.util.Try(first.head(1)).isFailure,
      "the memoized frame must be unreadable once its blocks are gone")
    val again = docCount(d, builds)
    assert(builds.get == 2, "a dead entry must be rebuilt")
    assert(again.head().getLong(0) == n)
  }

  test("after forget, a rewritten corpus is rebuilt") {
    val d = corpus("graft_memo_forget")
    val builds = new AtomicInteger(0)
    val n0 = docCount(d, builds).head().getLong(0)
    val tmp = tempDir("graft_memo_rewrite").resolve("out").toString
    Tables.t(spark, sf0001, "documents").filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.parquet(tmp)
    java.nio.file.Files.move(
      new java.io.File(tmp).listFiles.filter(_.getName.endsWith(".parquet"))
        .head.toPath,
      java.nio.file.Paths.get(d, "documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(docCount(d, builds).head().getLong(0) == n0,
      "without forget the memo serves its checkpoint")
    Staging.forget(d)
    val n1 = docCount(d, builds).head().getLong(0)
    assert(builds.get == 2)
    assert(n1 < n0 && n1 == Tables.t(spark, d, "documents").count())
  }
}
