package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Errors-as-data decoding (reference D1/D2).
  *
  * The reference treats a malformed record as a stream element: decode
  * failures travel the same channel as data and are counted, not fatal
  * (`etl-core/src/decoder/csv.rs:58-114`, `decoder/json.rs:44-71`,
  * `etl-core/src/datastore/error.rs:3-37`). Spark expresses the same
  * semantic natively: PERMISSIVE parse mode + a corrupt-record column. A
  * bad row becomes a row whose data columns are null and whose
  * `_corrupt_record` holds the offending text — filterable, countable,
  * dead-letter-able, and fully distributed (no driver-side loop).
  */
object ErrorTolerant {
  val CorruptCol = "_corrupt_record"

  /** A decoded stream split into good rows and corrupt raw records.
    * `parsed` is false when the corrupt column is a null literal over a
    * source that parses nothing (parquet, orc, tables, SQL, text lines).
    */
  final case class Decoded(all: DataFrame, parsed: Boolean = true) {
    /** Rows that parsed cleanly (corrupt column dropped). */
    def good: DataFrame = all.filter(col(CorruptCol).isNull).drop(CorruptCol)
    /** The raw text of records that failed to parse.
      *
      * NOTE for file-backed reads (`csvFiles`/`jsonFiles`): Spark refuses a
      * projection that references only the corrupt-record column over an
      * uncached file scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache `all`
      * first, or keep at least one data column in the consuming query.
      */
    def corrupt: DataFrame = all.filter(col(CorruptCol).isNotNull)
      .select(col(CorruptCol).as("raw"))
    /** (ok, err) counts in one distributed pass. Self-caches briefly so the
      * corrupt-only projection is legal for file-backed reads too.
      */
    def counts: (Long, Long) = {
      // never unpersist a cache the caller created
      val wasCached = all.storageLevel != org.apache.spark.storage.StorageLevel.NONE
      val cached = if (wasCached) all else all.cache()
      try {
        val r = cached.agg(
          sum(when(col(CorruptCol).isNull, 1L).otherwise(0L)),
          sum(when(col(CorruptCol).isNotNull, 1L).otherwise(0L))).head()
        (Option(r.get(0)).fold(0L)(_.asInstanceOf[Long]),
          Option(r.get(1)).fold(0L)(_.asInstanceOf[Long]))
      } finally if (!wasCached) cached.unpersist()
    }
  }

  /** A frame from a source that parses nothing: no row is corrupt. */
  def unparsed(df: DataFrame): Decoded =
    Decoded(df.withColumn(CorruptCol, lit(null).cast(StringType)), parsed = false)

  /** Append the corrupt-record column unless the schema already has it. */
  def withCorrupt(schema: StructType): StructType =
    if (schema.fieldNames.contains(CorruptCol)) schema
    else schema.add(CorruptCol, StringType, nullable = true)

  /** Decode CSV lines (in-memory or from `spark.read.textFile`) — D1. */
  def csv(spark: SparkSession, lines: Dataset[String], schema: StructType,
      opts: CsvReadOptions = CsvReadOptions()): Decoded =
    Decoded(spark.read.options(opts.toSpark).schema(withCorrupt(schema)).csv(lines))

  /** Decode CSV files by path — D1 over S1-style file sources. */
  def csvFiles(spark: SparkSession, paths: Seq[String], schema: StructType,
      opts: CsvReadOptions = CsvReadOptions()): Decoded =
    Decoded(spark.read.options(opts.toSpark).schema(withCorrupt(schema)).csv(paths: _*))

  /** Decode NDJSON lines — D2. */
  def json(spark: SparkSession, lines: Dataset[String], schema: StructType): Decoded =
    Decoded(spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorrupt(schema)).json(lines))

  /** Decode NDJSON files by path — D2 over S1/S2-style sources. */
  def jsonFiles(spark: SparkSession, paths: Seq[String], schema: StructType): Decoded =
    Decoded(spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorrupt(schema)).json(paths: _*))

  /** Decode XML files with the same errors-as-data contract (Spark 4
    * native XML source; `rowTag` names the repeated record element). A
    * malformed record lands in `_corrupt_record` like the CSV/JSON paths.
    */
  def xmlFiles(spark: SparkSession, paths: Seq[String], schema: StructType,
      rowTag: String): Decoded =
    Decoded(spark.read.format("xml")
      .option("rowTag", rowTag)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorrupt(schema))
      .load(paths: _*))
}
