package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q158: small-file compaction — the nightly table-maintenance op every
  * large deployment runs (the OPTIMIZE/rewrite-data-files shape).
  *
  * Streaming ingest and per-batch writes leave a table as thousands of
  * KB-sized files; at 100 TB that means millions of scan tasks, each
  * paying open/footer/seek overhead, and a NameNode/listing bill that
  * dwarfs the data. Compaction rewrites the debris into size-targeted
  * files: list the fragment layout, compute ceil(bytes / target) output
  * files, and rewrite through one round-robin repartition — content
  * identical (proven by the oracle: a corpus-wide content-signature
  * aggregate over the COMPACTED read vs DuckDB over the originals),
  * layout bounded (proven in CompactionStageSpec by counting and sizing
  * the actual part- files).
  *
  * Scale notes: the listing is driver-side METADATA (file statuses, not
  * data — the same listing any table format's manifest holds); the
  * rewrite is one shuffle of the fragment bytes, which is the
  * unavoidable cost of re-clustering. A partitioned production table
  * compacts per partition (q130's layout + this op inside each
  * directory), so the unit of work stays bounded; row-group-sorted
  * tables re-sort within output files (the q141 z-order key) instead of
  * round-robin.
  */
object CompactionStage {

  /** Many tiny files (ingest debris stand-in). */
  val FragmentFiles = 64
  /** Compaction target bytes per output file, sized to the test corpus
    * (a production target is 128-1024 MB). */
  val TargetBytes: Long = 192 * 1024

  def fragDir(d: String): String = graft.Staging.dirFor("frag", d)
  def compactDir(d: String): String = graft.Staging.dirFor("compact", d)

  /** Bytes and expected output-file count for a staged fragment dir. */
  def plan(s: SparkSession, frag: String): (Long, Int) = {
    val p = new org.apache.hadoop.fs.Path(frag)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(p)
      .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
    (bytes, math.max(1, math.ceil(bytes.toDouble / TargetBytes).toInt))
  }

  private def stage(s: SparkSession, d: String): String = {
    val frag = fragDir(d)
    graft.Staging.once(frag) {
      graft.Tables.t(s, d, "documents").repartition(FragmentFiles)
        .write.mode("overwrite").parquet(frag)
    }
    val comp = compactDir(d)
    graft.Staging.once(comp) {
      val (_, n) = plan(s, frag)
      s.read.parquet(frag).repartition(n)
        .write.mode("overwrite").parquet(comp)
    }
    comp
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_compaction" -> ((s, d) => {
      val comp = stage(s, d)
      // read back through the COMPACTED layout; the signature sum binds
      // every text byte, so a row lost/duplicated/corrupted by the
      // rewrite flips a group hash (q121's roundtrip contract)
      s.read.parquet(comp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          sum(conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long"))
            .as("content_sig"))
        .orderBy("lang")
    }))

  val oracle: Map[String, String] = Map(
    "q158_compaction" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(
        |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096 +
        |    (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256 +
        |    (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1)
        |  ) AS BIGINT) AS content_sig
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)
}
