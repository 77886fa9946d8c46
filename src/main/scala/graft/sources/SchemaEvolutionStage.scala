package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q166: schema-evolution read — heterogeneous parquet batches under one
  * logical table, merged by NAME at read time with null-fill.
  *
  * Every long-lived ingest hits this: the pipeline that wrote January's
  * files carried (doc_id, text, lang); a later version adds columns and
  * retires one. At 100 TB nobody rewrites the old petabytes to the new
  * schema — the table is the UNION BY NAME of every batch generation, and
  * the reader supplies NULLs where a file predates a column. Spark's
  * `mergeSchema` parquet option is exactly that: footers are merged into
  * one superset schema, per-file missing columns read as NULL.
  *
  * Here batch v1 holds the even doc_ids as (doc_id, text, lang) and batch
  * v2 the odd ones as (doc_id, text, source, n_chars) — a column added
  * AND a column dropped between generations, both directions of drift.
  * The oracle recomputes the merged view from the ORIGINAL `documents`
  * table (CASE on the batch rule), so equality binds the whole
  * write-v1 → write-v2 → merge-read → null-fill chain; a 16-bit md5 text
  * signature makes any corrupted byte hash-visible (the q121 contract).
  *
  * Scale notes: schema merging reads every file FOOTER at planning time —
  * fine per partition, hostile across millions of files. Production pins
  * the merged schema once in a catalog (or passes `.schema(...)`
  * explicitly) and reads with merging OFF; `mergeSchema` is the
  * DISCOVERY-time tool that derives that schema. The data-plane cost
  * model is unchanged: column pruning and filter pushdown still reach
  * each file (a v1 file never materializes the columns it lacks), and
  * the null-fill is per-batch metadata, not a rewrite.
  */
object SchemaEvolutionStage {

  def evoDir(d: String): String = graft.Staging.dirFor("evo", d)

  private def stage(s: SparkSession, d: String): String = {
    val dir = evoDir(d)
    graft.Staging.once(dir) {
      val docs = graft.Tables.t(s, d, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").parquet(s"$dir/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/v2")
    }
    dir
  }

  /** The merged-by-name logical table over both batch generations —
    * exposed for the spec (schema-superset and null-fill laws). */
  def mergedRead(s: SparkSession, d: String): DataFrame = {
    val dir = stage(s, d)
    s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q166_schema_evolution" -> ((s, d) =>
      mergedRead(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long")
            .as("sig"))
        .orderBy("doc_id")))

  val oracle: Map[String, String] = Map(
    "q166_schema_evolution" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN lang END AS lang,
        |  CASE WHEN doc_id % 2 = 1 THEN source END AS source,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars,
        |  CAST(
        |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096 +
        |    (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256 +
        |    (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1)
        |  AS BIGINT) AS sig
        |FROM documents ORDER BY doc_id""".stripMargin)
}
