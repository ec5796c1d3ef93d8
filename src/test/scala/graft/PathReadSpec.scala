package graft

import graft.config.PipelineConfig.{SinkConf, buildSink}
import graft.etl.TextSource
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SQL path reads (`parquet.`p``, `orc.`p``) resolve through
  * [[Tables.read]], and a declared `parquet` sink in `Overwrite` mode
  * leaves the schema it wrote for them: every read gives what a plain
  * `spark.read` gives, and a read of a seeded path launches no Spark job.
  */
class PathReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmpPath(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("out").toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The SQL read and the Tables read of `path` equal the plain read. */
  private def assertReadsAsPlain(path: String, format: String = "parquet"): Unit = {
    val plain = spark.read.format(format).load(path)
    val reads = Seq(
      "sql" -> spark.sql(s"SELECT * FROM $format.`$path`"),
      "tables" -> Tables.read(spark, format, Map.empty, Seq(path)))
    reads.foreach { case (how, df) =>
      assert(df.schema === plain.schema, how)
      assert(df.schema.map(_.metadata) === plain.schema.map(_.metadata), how)
      assert(rows(df) === rows(plain), how)
    }
  }

  private def sink(path: String, partitionBy: String*): DataFrame => Long =
    buildSink(SinkConf("parquet", Some(path), partitionBy = partitionBy))

  private val lineage: () => DataFrame = () => {
    val dir = java.nio.file.Files.createTempDirectory("graft-lines")
    java.nio.file.Files.write(dir.resolve("a.txt"), "x\ny\n".getBytes)
    TextSource.withLineage(spark.read.text(dir.resolve("a.txt").toString))
  }

  test("a sink-written path reads as the plain read, launching no Spark job") {
    val cases: Seq[(String, () => DataFrame, Seq[String])] = Seq(
      ("non-partitioned", () => Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "amount"),
        Nil),
      ("partitioned by string, numeric-looking string and date values",
        () => Seq((1L, "AFRICA", "01", "2024-01-02"), (2L, "ASIA", "02", "2024-01-03"),
          (3L, "ASIA", "01", "2024-01-02")).toDF("id", "region", "code", "day"),
        Seq("region", "code", "day")),
      ("nested, array and non-null columns",
        () => spark.range(3).select(col("id"), lit(7).as("seven"),
          struct(col("id").as("a"), lit("n").as("b"),
            array(lit(1), lit(2)).as("xs")).as("nested"),
          array(struct(col("id").as("k"))).as("items"),
          map(lit("m"), col("id")).as("kv")),
        Nil),
      ("a lineage-flagged column", lineage, Nil))
    cases.foreach { case (name, frame, partitionBy) =>
      val path = tmpPath("graft-pathread")
      val df = frame()
      assert(sink(path, partitionBy: _*)(df) === df.count(), name)
      assert(jobsLaunchedBy(spark.sql(s"SELECT * FROM parquet.`$path`")) === 0, name)
      assert(jobsLaunchedBy(Tables.read(spark, "parquet", Map.empty, Seq(path))) === 0, name)
      assertReadsAsPlain(path)
    }
    // the plain read types the partition values; a seed holding the written
    // (string) types would read them as strings
    val partitioned = tmpPath("graft-pathread-types")
    sink(partitioned, "code", "day")(Seq((1L, "01", "2024-01-02")).toDF("id", "code", "day"))
    val schema = spark.sql(s"SELECT * FROM parquet.`$partitioned`").schema
    assert(schema.map(f => f.name -> f.dataType) ===
      Seq("id" -> LongType, "code" -> IntegerType, "day" -> DateType))
  }

  test("an overwrite with a re-typed column reads the new type") {
    val path = tmpPath("graft-retype")
    def read() = spark.sql(s"SELECT * FROM parquet.`$path`")
    sink(path)(Seq((1, "a")).toDF("id", "name"))
    assert(read().schema("id").dataType === IntegerType)
    sink(path)(Seq((2L, "b")).toDF("id", "name"))
    assert(read().schema("id").dataType === LongType)
    assertReadsAsPlain(path)
    // an overwrite outside the sink seeds nothing; the changed files re-infer
    Seq(("c", 3.0)).toDF("id", "name").write.mode("overwrite").parquet(path)
    assert(read().schema("id").dataType === StringType)
    assert(rows(read()) === Seq("[c,3.0]"))
  }

  test("append, ignore and failed writes seed nothing") {
    val path = tmpPath("graft-append")
    sink(path)(Seq((1L, "a")).toDF("id", "name"))
    val append = buildSink(SinkConf("parquet", Some(path), mode = "append"))
    append(Seq((2L, "b", 3.0)).toDF("id", "name", "extra"))
    assertReadsAsPlain(path)

    val fresh = tmpPath("graft-fresh")
    buildSink(SinkConf("parquet", Some(fresh), mode = "append"))(Seq(1L).toDF("id"))
    assert(jobsLaunchedBy(spark.sql(s"SELECT * FROM parquet.`$fresh`")) >= 1)
    val ignored = tmpPath("graft-ignore")
    buildSink(SinkConf("parquet", Some(ignored), mode = "ignore"))(Seq(1L).toDF("id"))
    assert(jobsLaunchedBy(spark.sql(s"SELECT * FROM parquet.`$ignored`")) >= 1)
    // an overwrite that fails in its tasks commits nothing and seeds
    // nothing: the read fails as the plain read does
    val failed = tmpPath("graft-failed")
    sink(failed)(Seq(1L).toDF("id"))
    intercept[Exception](sink(failed)(spark.range(3).select(
      col("id"), assert_true(col("id") < 1).as("ok"))))
    def condition(read: => Unit): String = intercept[AnalysisException](read).getCondition
    assert(condition(spark.sql(s"SELECT * FROM parquet.`$failed`")) ===
      condition(spark.read.parquet(failed)))
  }

  test("a missing path raises Spark's PATH_NOT_FOUND") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val missing = tmpPath("graft-missing")
    def condition(read: => Unit): String = intercept[AnalysisException](read).getCondition
    // Spark's file source warns once each time it looks up a missing path
    val lookups = new java.util.concurrent.atomic.AtomicInteger
    val counter = new AbstractAppender("graft-missing-lookups", null, null, true,
        Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("Assume no metadata directory") && msg.contains(missing))
          lookups.incrementAndGet()
      }
    }
    val name = "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext].getLogger(name)
    val level = logger.getLevel
    Configurator.setLevel(name, Level.WARN)
    counter.start()
    logger.addAppender(counter)
    try Seq("parquet", "orc").foreach { format =>
      lookups.set(0)
      assert(condition(spark.sql(s"SELECT * FROM $format.`$missing`")) === "PATH_NOT_FOUND")
      assert(lookups.get === 1, format)
    } finally {
      logger.removeAppender(counter)
      Configurator.setLevel(name, level)
    }
  }

  test("orc paths, subqueries and CTE bodies read through the cache") {
    val orc = tmpPath("graft-orc")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.orc(orc)
    spark.sql(s"SELECT * FROM orc.`$orc`")
    assert(jobsLaunchedBy(spark.sql(s"SELECT * FROM orc.`$orc`")) === 0)
    assertReadsAsPlain(orc, "orc")

    val path = tmpPath("graft-sub")
    sink(path)(Seq(1L, 3L).toDF("id"))
    val queries = Seq(
      s"SELECT id FROM range(5) WHERE id IN (SELECT id FROM parquet.`$path`)",
      s"SELECT id FROM range(5) r WHERE EXISTS " +
        s"(SELECT 1 FROM parquet.`$path` p WHERE p.id = r.id)",
      s"WITH t AS (SELECT id FROM parquet.`$path`) SELECT id FROM t",
      s"SELECT o.id FROM parquet.`$path` o JOIN orc.`$orc` c ON o.id = c.id")
    val expected = Seq(Seq("[1]", "[3]"), Seq("[1]", "[3]"), Seq("[1]", "[3]"), Seq("[1]"))
    spark.sql(s"CREATE OR REPLACE TEMP VIEW graft_path_view AS SELECT id FROM parquet.`$path`")
    assert(rows(spark.sql("SELECT * FROM graft_path_view")) === Seq("[1]", "[3]"))
    queries.zip(expected).foreach { case (q, want) =>
      var df: DataFrame = null
      assert(jobsLaunchedBy { df = spark.sql(q) } === 0, q)
      assert(rows(df) === want, q)
    }
  }

  test("with runSQLOnFiles off a path relation stays Spark's to reject") {
    val path = tmpPath("graft-off")
    sink(path)(Seq(1L).toDF("id"))
    val key = "spark.sql.runSQLOnFiles"
    spark.conf.set(key, "false")
    try intercept[AnalysisException](spark.sql(s"SELECT * FROM parquet.`$path`"))
    finally spark.conf.unset(key)
    assert(spark.sql(s"SELECT * FROM parquet.`$path`").count() === 1)
  }
}
