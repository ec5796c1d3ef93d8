package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Line-oriented byte/text sources with per-file lineage (reference S1/S2/S6).
  *
  * The reference reads files line-by-line and stamps every record with its
  * originating file (`DataSourceMessage::Data { source, .. }`,
  * `etl-core/src/datastore/mod.rs:52-64`; `LocalFs` `fs.rs:33-71`;
  * `S3Storage` `s3_datastore.rs:131-192`). Spark-native: `spark.read.text`
  * over any Hadoop-FS path (local, `s3a://`, hdfs) + `input_file_name()` —
  * same lineage, splittable and distributed, with the 64 MiB BufReader
  * replaced by the FS connector's own buffering.
  */
object TextSource {

  val SourceCol = "source"
  private val LineageKey = "graft.lineage"

  /** Stamps each row's input file as [[SourceCol]], flagged by [[LineageKey]]. */
  def withLineage(df: DataFrame): DataFrame = df.withColumn(SourceCol, input_file_name())
    .withMetadata(SourceCol, new MetadataBuilder().putBoolean(LineageKey, true).build())

  /** True for a [[withLineage]] column, not a data column named `source`. */
  def hasLineage(df: DataFrame): Boolean =
    df.schema.exists(f => f.name == SourceCol && f.metadata.contains(LineageKey))

  /** S1/S2: lines of one or more files/globs, with lineage column. */
  def lines(spark: SparkSession, paths: Seq[String]): DataFrame =
    withLineage(spark.read.text(paths: _*))

  /** S6: a string literal is a source — one record per line
    * (`etl-core/src/datastore/sources/string.rs:5-29`).
    */
  def fromString(spark: SparkSession, s: String): Dataset[String] = {
    import spark.implicits._
    spark.createDataset(s.split("\n", -1).toIndexedSeq)
  }

  /** Per-file line counts — the reference's per-source `lines_scanned`
    * accounting (`DataSourceStats`, `mod.rs:41-50`), computed distributed.
    */
  def perFileCounts(df: DataFrame): DataFrame =
    df.groupBy(element_at(split(col(SourceCol), "/"), -1).as("file"))
      .agg(count(lit(1)).as("n_lines"))
}
