package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * One place to encode the execution-model decisions that matter at scale:
  * AQE on (runtime re-plan: skew joins, partition coalescing), shuffle
  * partitions sized to the local core count (the driver harness runs
  * `local[32]`; on a real cluster this would be `spark.sql.shuffle.partitions`
  * tuned to executor count × cores), UTC session time zone so results are
  * byte-comparable with the DuckDB oracle, and TIMESTAMP_MICROS parquet
  * output so written results round-trip identically across engines.
  *
  * Two fixed per-job costs are taken out of every session:
  *   - `file:` paths go through [[GraftLocalFileSystem]], which sets the
  *     permissions of written files and directories in-process instead of
  *     forking `chmod` for each. Hadoop caches one filesystem per scheme
  *     and user for the whole JVM, so this holds when the session's
  *     configuration creates the first `file:` filesystem of the process;
  *   - SQL path reads (`parquet.`p``, `orc.`p``) resolve through
  *     [[Tables.read]] ([[PathReadParser]]), so a path read again, or one
  *     that a declared `parquet` sink just overwrote, launches no
  *     schema-inference job.
  */
object GraftSession {

  /** Apply graft's standard configuration to an arbitrary builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // zstd over default snappy: ~30% smaller files at comparable CPU — at
    // 100 TB that is tens of TB less storage and scan IO
    .config("spark.sql.parquet.compression.codec", "zstd")
    // events.parquet carries TIMESTAMP(NANOS) which Spark has no native type
    // for; read as long and convert in Tables.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
    .withExtensions(_.injectParser((session, parser) => new PathReadParser(session, parser)))

  /** Local session with `cores` executor threads (driver harness contract). */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
