package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table co-located join — the OTHER half of the 100 TB layout
  * story next to q130's partition pruning: both join sides written
  * `bucketBy(custkey)` into catalog tables, so the big fact⋈dim join
  * plans with ZERO exchanges — each task reads bucket i of both tables
  * and joins locally. At 100 TB this converts the nightly fact-join's
  * full-network shuffle (the single most expensive stage in a warehouse)
  * into a pure scan problem, paid once at write time. The only exchange
  * left in q132 is the final tiny groupBy — spec-pinned to exactly one.
  *
  * Catalog mechanics: `bucketBy` requires `saveAsTable` (bucket metadata
  * lives in the catalog, not the files). The tables are UNMANAGED — their
  * files sit in the [[graft.Staging]] dir, so dropping a table keeps them
  * — and [[stage]] re-registers a missing one on every call, because
  * a stage served from a durable marker (or by a fresh SparkContext)
  * finds the files without the catalog entries. The ExternalCatalog is
  * shared across all sessions of a SparkContext, so the per-corpus stage
  * is session-safe.
  */
object BucketedStage {

  val Buckets = 8

  /** (table, bucket key, source table) of the two bucketed sides. */
  private val Sides = Seq(("orders_b", "o_custkey", "orders"),
    ("customer_b", "c_custkey", "customer"))

  /** Bucketed stage for corpus `d`: returns the database holding
    * `orders_b` and `customer_b`, both bucketed+sorted on custkey. */
  def stage(s: SparkSession, d: String): String = {
    val dir = stageDir(d)
    val db = "graft_" + new java.io.File(dir).getName.replace('-', '_')
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$dir'")
    graft.Staging.once(dir) {
      Sides.foreach { case (tbl, key, src) =>
        graft.Tables.t(s, d, src)
          .write.mode("overwrite").format("parquet")
          .bucketBy(Buckets, key).sortBy(key)
          .option("path", s"$dir/$tbl")
          .saveAsTable(s"$db.$tbl")
      }
    }
    // a stage served from its marker has the files, not the catalog entries
    for ((tbl, key, src) <- Sides if !s.catalog.tableExists(db, tbl)) {
      val cols = graft.Tables.t(s, d, src).schema.toDDL
      s.sql(s"CREATE TABLE IF NOT EXISTS $db.$tbl ($cols) USING parquet " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $Buckets BUCKETS " +
        s"LOCATION '$dir/$tbl'")
    }
    db
  }

  def stageDir(d: String): String = graft.Staging.dirFor("bkt", d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q132_bucketed_join" -> ((s, d) => {
      val db = stage(s, d)
      val o = s.table(s"$db.orders_b")
      val c = s.table(s"$db.customer_b")
      // merge hint: at the test SFs the dim fits a broadcast and Spark
      // would (correctly) prefer it — the hint pins the plan the bucketed
      // layout exists for, the one a 100 TB fact⋈dim would get anyway
      // once the dim outgrows the broadcast threshold
      o.hint("merge").join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_customers"),
          sum(graft.Tables.cents(col("o_totalprice"))).as("sum_cents"))
        .select(col("c_mktsegment"), col("n_orders"), col("n_customers"),
          graft.Tables.dollars(col("sum_cents")).as("total"))
        .orderBy("c_mktsegment")
    })
  )

  /** Oracle joins the parquet ORIGINALS — equality binds the bucketed
    * write, catalog metadata, and the exchange-free read+join. */
  val oracle: Map[String, String] = Map(
    "q132_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
        |    AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
