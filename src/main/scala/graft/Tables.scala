package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every query receives `(spark, sfDir)` and resolves tables through here so
  * the same code runs at any scale factor — and, on a real cluster, against
  * any warehouse path. Reads go through [[Tables.read]]: the first read of a
  * table infers its schema as a plain `spark.read.parquet` does, and later
  * reads of the unchanged files reuse that schema instead of launching
  * another inference job. The same cache serves SQL path reads
  * (`parquet.`p``, via [[PathReadParser]]) and is seeded by declared
  * `parquet` sinks in `Overwrite` mode ([[Tables.written]]), so a job's
  * later steps read its earlier outputs without inferring. Either way the
  * result is an ordinary file-source
  * scan, which keeps column pruning and predicate pushdown available to
  * Catalyst (verified via `.explain`: `PushedFilters` / `ReadSchema` reach
  * the scan).
  */
final case class Tables(spark: SparkSession, dir: String) {
  def apply(name: String): DataFrame =
    Tables.read(spark, "parquet", Map.empty, Seq(s"$dir/$name.parquet"))

  def region: DataFrame     = apply("region")
  def nation: DataFrame     = apply("nation")
  def customer: DataFrame   = apply("customer")
  def supplier: DataFrame   = apply("supplier")
  def part: DataFrame       = apply("part")
  def orders: DataFrame     = apply("orders")
  def lineitem: DataFrame   = apply("lineitem")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across test-data generations, so dispatch on the type
    * actually read instead of assuming one:
    *   - LongType: the NANOS form surfaced by
    *     `spark.sql.legacy.parquet.nanosAsLong` — truncate to micros with
    *     integral `div` (ns-since-2024 exceeds double's 2^53 exact range).
    *   - TIMESTAMP_NTZ / TIMESTAMP: the MICROS form — cast to session-TZ
    *     TimestampType (identity on wall-clock under the UTC session) so every
    *     consumer sees the same type either way.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = apply("events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents: DataFrame  = apply("documents")
  def embeddings: DataFrame = apply("embeddings")
}

object Tables {

  /** A file-source read whose schema is resolved once per session and reused
    * while the files under `paths` stay the same.
    *
    * A read without a schema makes Spark infer one, and for parquet that is
    * a Spark job reading footers — on the serving path it costs more than
    * planning the query itself. Here the first read is exactly the plain
    * `spark.read.options(options).format(format).load(paths)`, and the schema
    * it resolved is kept. Later reads with the same key pass that schema
    * (`.schema(cached)`), so Spark only lists files and plans the scan.
    *
    * The key is the session (held weakly), the format, the options, the
    * paths, and the session's current values of [[SchemaConfs]]. An entry is
    * used only while a driver-side listing of the paths — every leaf file's
    * path, size and modification time — equals the listing taken before the
    * read that stored it. A write that adds, removes or replaces a file
    * therefore re-infers on the next read. Only successful reads are stored:
    * a missing path, an empty directory or an unreadable footer raises the
    * plain read's own error, every time. Concurrent misses may infer twice;
    * the later store wins and both are correct.
    */
  def read(spark: SparkSession, format: String, options: Map[String, String],
      paths: Seq[String]): DataFrame = {
    val reader = spark.read.options(options).format(format)
    val key = schemaKey(spark, format, options, paths)
    val files = listing(spark, options, paths)
    Option(cache(spark).get(key)).filter(r => files.contains(r.files)) match {
      case Some(hit) => reader.schema(hit.schema).load(paths: _*)
      case None =>
        val df = reader.load(paths: _*)
        files.foreach(f => cache(spark).put(key, Resolved(f, df.schema)))
        df
    }
  }

  /** Records what a write just committed under `path`, so the next
    * option-free [[read]] of it (`parquet.`path`` in SQL, a `parquet`
    * source) launches no inference job. `dataSchema` is the schema of the
    * written data files: the written frame's columns minus its
    * `partitionBy` columns, whose types a read infers from the directory
    * names as a plain read does. The entry holds the listing taken now,
    * after the commit, so any later change to the files re-infers. A path
    * without a data file is not recorded: a plain read of it fails.
    */
  def written(spark: SparkSession, format: String, path: String, dataSchema: StructType): Unit =
    listing(spark, Map.empty, Seq(path))
      .filter(_.exists { case (f, _, _) =>
        val name = new Path(f).getName
        !name.startsWith("_") && !name.startsWith(".")
      })
      .foreach(f => cache(spark).put(schemaKey(spark, format, Map.empty, Seq(path)),
        Resolved(f, dataSchema)))

  /** SQL confs that change what schema a parquet or orc read resolves to. */
  val SchemaConfs: Seq[String] = Seq(
    "spark.sql.caseSensitive",
    "spark.sql.timestampType",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.orc.mergeSchema",
    "spark.sql.orc.impl")

  private final case class SchemaKey(format: String, options: Map[String, String],
      paths: Seq[String], confs: Seq[Option[String]])
  private final case class Resolved(files: Seq[(String, Long, Long)], schema: StructType)

  private val resolvedSchemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[SchemaKey, Resolved]]()

  private def cache(spark: SparkSession): ConcurrentHashMap[SchemaKey, Resolved] =
    resolvedSchemas.synchronized(resolvedSchemas.computeIfAbsent(spark,
      _ => new ConcurrentHashMap[SchemaKey, Resolved]()))

  private def schemaKey(spark: SparkSession, format: String, options: Map[String, String],
      paths: Seq[String]): SchemaKey =
    SchemaKey(format, options, paths, SchemaConfs.map(spark.conf.getOption))

  /** Every leaf file under `paths` (globs expanded, directories walked) as
    * sorted (path, size, modification time); None when a path matches
    * nothing or cannot be listed, so the read is not cached. Walks with
    * `listStatus`, not `listFiles`: the latter's `LocatedFileStatus` loads
    * permissions, which the local filesystem does by running a shell
    * command per file (about 25 ms for a 4-file table instead of 1 ms).
    */
  private def listing(spark: SparkSession, options: Map[String, String],
      paths: Seq[String]): Option[Seq[(String, Long, Long)]] = scala.util.Try {
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    val perPath = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
      Option(fs.globStatus(path)).toSeq.flatten.flatMap(leaves)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    }
    if (perPath.exists(_.isEmpty)) None else Some(perPath.flatten.sorted)
  }.toOption.flatten

  /** Pinned column→type contract for every driver-provided table.
    *
    * Each column lists the set of acceptable Spark read types
    * (`DataType.simpleString`). Timestamp columns accept all encodings the
    * driver has shipped across test-data generations: parquet TIMESTAMP
    * (MICROS) surfaces as `timestamp` or `timestamp_ntz` depending on the
    * writer's isAdjustedToUTC flag, and TIMESTAMP(NANOS) surfaces as `bigint`
    * under `spark.sql.legacy.parquet.nanosAsLong` — `Tables.events` normalizes
    * all three. Anything outside these sets is a regeneration drift that
    * [[schemaDrift]] reports by table/column/type, so the failure reads
    * "events.ts changed type", not an opaque oracle-hash mismatch.
    */
  private val Ts: Set[String] = Set("timestamp", "timestamp_ntz", "bigint")

  val ExpectedSchemas: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Seq("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Seq("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Seq("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Seq("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> Ts, "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> Ts),
    "events" -> Seq("event_id" -> Set("bigint"), "ts" -> Ts,
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq("doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Seq("vec_id" -> Set("bigint"),
      "embedding" -> Set("array<float>"), "label" -> Set("int"))
  )

  /** Compare every driver table's read schema against [[ExpectedSchemas]] and
    * return one human-readable line per drift (missing table, missing column,
    * changed type, or unexpected new column). Empty result = contract holds.
    * Resolves each table's schema through [[read]] — at most one footer-only
    * inference per table, none for unchanged tables — and scans no data.
    */
  def schemaDrift(spark: SparkSession, dir: String): Seq[String] = {
    val t = Tables(spark, dir)
    ExpectedSchemas.toSeq.sortBy(_._1).flatMap { case (table, expected) =>
      val schema =
        try Some(t(table).schema)
        catch { case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" => None }
      schema.fold(Seq(s"$table: table missing"))(s => columnDrift(table, expected, s))
    }
  }

  private def columnDrift(table: String, expected: Seq[(String, Set[String])],
      schema: StructType): Seq[String] = {
    val actual = schema.map(f => f.name -> f.dataType.simpleString).toMap
    val missing = expected.collect {
      case (col, types) if !actual.contains(col) =>
        s"$table.$col: column missing (expected one of ${types.mkString("/")})"
    }
    val drifted = expected.collect {
      case (col, types) if actual.contains(col) && !types(actual(col)) =>
        s"$table.$col: read type ${actual(col)}, expected one of ${types.mkString("/")}"
    }
    val extra = (actual.keySet -- expected.map(_._1)).toSeq.sorted.map { col =>
      s"$table.$col: unexpected new column of type ${actual(col)}"
    }
    missing ++ drifted ++ extra
  }
}
