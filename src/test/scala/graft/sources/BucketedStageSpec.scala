package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** q132: the bucketed join's entire point is the exchange it does NOT
  * have — both sides read pre-bucketed on the join key, so no shuffle
  * feeds the join; the only exchange in the whole plan is the final
  * tiny groupBy (and its distinct-count expansion).
  */
class BucketedStageSpec extends SparkSpec {

  /** The plan contract: the join inputs are bucketed scans, so the ONLY
    * hash exchanges allowed are the aggregation's (countDistinct plans
    * partial pairs over (mktsegment, custkey) then (mktsegment)) — both
    * AFTER the join. Structural form: no Exchange may appear between a
    * FileScan and the join node, which in toString terms means every
    * Exchange line sits above the SortMergeJoin line. */
  private def assertCoLocated(df: org.apache.spark.sql.DataFrame): Unit = {
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"co-located join expected:\n$p")
    val lines = p.linesIterator.toVector
    val joinLine = lines.indexWhere(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    val exchBelowJoin = lines.drop(joinLine + 1)
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchBelowJoin == 0,
      s"no exchange may feed the bucketed join:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"scan must report bucket pruning/selection metadata:\n$p")
  }

  test("q132: bucketed sides join with zero exchanges before the join") {
    val df = BucketedStage.queries("q132_bucketed_join")(spark, sf0001)
    assertCoLocated(df)
    assert(df.collect().length == 5, "five market segments")
  }

  test("q132 served from a stage marker re-registers its catalog tables") {
    val q132 = BucketedStage.queries("q132_bucketed_join")
    val want = q132(spark, sf0001).collect().toSeq
    val db = BucketedStage.stage(spark, sf0001)
    // the tables are unmanaged: dropping them keeps the staged files, as a
    // fresh JVM over a durable stage root finds them
    Seq("orders_b", "customer_b").foreach(t => spark.sql(s"DROP TABLE $db.$t"))
    val dir = BucketedStage.stageDir(sf0001)
    def files() = new java.io.File(dir, "orders_b").listFiles
      .map(f => f.getName -> f.lastModified).toMap
    val staged = files()
    assert(staged.nonEmpty)
    graft.Staging.dropMemoForTest(dir)
    val df = q132(spark, sf0001)
    assert(files() == staged, "the marker must serve the staged files as-is")
    assertCoLocated(df)
    assert(df.collect().toSeq == want)
    val truth = graft.Tables.t(spark, sf0001, "orders")
      .join(graft.Tables.t(spark, sf0001, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).count().orderBy("c_mktsegment")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(want.map(r => r.getString(0) -> r.getLong(1)) == truth,
      "the bucketed answer must match the parquet originals")
  }
}
