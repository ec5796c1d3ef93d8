package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
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

    /** The decode metrics over `all`, as aggregate columns: `ok` and `err`
      * row counts, and `per_file` (source URI → (ok, err)) when the frame
      * carries [[TextSource]] lineage (basenames collide across
      * directories). Over a parsed source, `_schema_pin` (an
      * xxhash64-over-all-columns max; `count(struct(..))` would be folded
      * away) pins every column into the scan's required schema:
      * corrupt-record detection is only defined over a full-row parse — a
      * pruned parse marks fewer rows corrupt — and the metrics stay legal
      * over uncached permissive file reads
      * (QUERY_ONLY_CORRUPT_RECORD_COLUMN). A source that parses nothing has
      * a literal corrupt column, so its scan stays pruned.
      */
    def metrics: Seq[Column] = {
      val corrupt = col(CorruptCol)
      Seq(sum(when(corrupt.isNull, 1L).otherwise(0L)).as("ok"),
        sum(when(corrupt.isNotNull, 1L).otherwise(0L)).as("err")) ++
        (if (parsed) Seq(max(xxhash64(all.columns.map(col): _*)).as("_schema_pin")) else Nil) ++
        (if (TextSource.hasLineage(all))
          Seq(udaf(new PerFileCounter).apply(col(TextSource.SourceCol), corrupt.isNotNull)
            .as("per_file"))
        else Nil)
    }

    /** [[metrics]] in one aggregation over `all`, as the map an observed
      * write of them reads.
      */
    def measure(): Map[String, Any] = {
      val ms = metrics
      val row = all.agg(ms.head, ms.tail: _*).head()
      row.getValuesMap(row.schema.fieldNames.toSeq)
    }

    /** (ok, err, per-file (ok, err)) from a row of [[metrics]]. */
    def tally(m: Map[String, Any]): (Long, Long, Map[String, (Long, Long)]) = {
      def long(k: String) = Option(m(k)).fold(0L)(_.asInstanceOf[Long])
      val perFile = m.get("per_file").fold(Map.empty[String, (Long, Long)])(
        _.asInstanceOf[scala.collection.Map[String, Row]].iterator
          .map { case (f, c) => f -> ((c.getLong(0), c.getLong(1))) }.toMap)
      (long("ok"), long("err"), perFile)
    }

    /** (ok, err) counts in one distributed pass, caching nothing. */
    def counts: (Long, Long) = {
      val (ok, err, _) = tally(measure())
      (ok, err)
    }
  }

  /** Per-file (ok, err) counting as an aggregate function, so it can ride
    * a sink write inside `Dataset.observe` (observed metrics ignore retried
    * tasks). The map is bounded by the number of distinct input files.
    */
  private class PerFileCounter extends Aggregator[(String, Boolean),
      Map[String, (Long, Long)], Map[String, (Long, Long)]] {
    def zero: Map[String, (Long, Long)] = Map.empty
    def reduce(m: Map[String, (Long, Long)], row: (String, Boolean)): Map[String, (Long, Long)] = {
      val (ok, err) = m.getOrElse(row._1, (0L, 0L))
      m.updated(row._1, if (row._2) (ok, err + 1) else (ok + 1, err))
    }
    def merge(a: Map[String, (Long, Long)], b: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
      b.foldLeft(a) { case (m, (f, (ok, err))) =>
        val (o, e) = m.getOrElse(f, (0L, 0L))
        m.updated(f, (o + ok, e + err))
      }
    def finish(r: Map[String, (Long, Long)]): Map[String, (Long, Long)] = r
    def bufferEncoder: Encoder[Map[String, (Long, Long)]] = ExpressionEncoder()
    def outputEncoder: Encoder[Map[String, (Long, Long)]] = ExpressionEncoder()
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
