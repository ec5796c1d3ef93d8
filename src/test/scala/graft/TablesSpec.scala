package graft

import org.apache.spark.sql.functions._

/** Locks the driver-testdata contract (VERDICT r6 #2/#8, carried to r7 #1):
  *
  *  1. a per-table schema tripwire that fails with the drifted column/type by
  *     name — the next testdata regeneration surfaces as "events.ts changed
  *     type", not as an opaque oracle-hash mismatch three suites away;
  *  2. a dual-encoding golden for `Tables.events`: the same wall-clock rows
  *     written as parquet TIMESTAMP(MICROS) and as int64 nanoseconds (the
  *     shape TIMESTAMP(NANOS) takes under
  *     `spark.sql.legacy.parquet.nanosAsLong`) must load identically.
  */
class TablesSpec extends SparkSpec {

  test("driver table schemas match the pinned contract (tripwire names the column)") {
    val drift = Tables.schemaDrift(spark, sf0001)
    assert(drift.isEmpty, "testdata schema drift detected:\n" + drift.mkString("\n"))
  }

  test("events loader: MICROS and NANOS parquet encodings load identically") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-events-golden").toString
    val base = Seq(
      (1L, "2024-01-01 00:00:00.123456", 10L, "click", 1.5, "{}"),
      (2L, "2024-06-15 23:59:59.999999", 11L, "view", 2.0, """{"k":1}"""),
      (3L, "2025-02-28 12:00:00.000001", 12L, "click", 0.0, "{}")
    ).toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp($"ts_s"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    base.write.mode("overwrite").parquet(s"$tmp/micros/events.parquet")
    // NANOS form: int64 ns-since-epoch, plus a 999 ns sub-microsecond remainder
    // the loader must TRUNCATE (integral div), not round up to the next micro.
    base.withColumn("ts", expr("unix_micros(ts) * 1000L + 999"))
      .write.mode("overwrite").parquet(s"$tmp/nanos/events.parquet")

    val micros = Tables(spark, s"$tmp/micros").events
    val nanos  = Tables(spark, s"$tmp/nanos").events
    assert(micros.schema("ts").dataType === nanos.schema("ts").dataType,
      "normalized ts type differs between encodings")
    val a = micros.orderBy("event_id").collect().toSeq
    val b = nanos.orderBy("event_id").collect().toSeq
    assert(a === b, s"row drift between encodings:\nmicros=$a\nnanos =$b")
  }

  test("schemaDrift names a drifted column in its message") {
    import spark.implicits._
    val tmp = tmpDir("graft-drift")
    // region with r_name re-typed to bigint: the tripwire must call it out.
    // Every other table is absent, and each must be named, not thrown.
    Seq((0, 1L), (1, 2L)).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$tmp/region.parquet")
    val drift = Tables.schemaDrift(spark, tmp)
    assert(drift.contains("region.r_name: read type bigint, expected one of string"),
      drift.mkString("\n"))
    assert(drift.contains("nation: table missing"), drift.mkString("\n"))
    assert(drift.count(_.endsWith(": table missing")) === Tables.ExpectedSchemas.size - 1)
  }

  // ---------------------------------------------------- schema reuse

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs launched by `body` on this thread, counted by a listener.
    * Jobs carry the launching thread's local properties, so a tag set here
    * tells them apart from any other thread's; a marker job launched after
    * `body` reaches the listener after every job `body` launched.
    */
  private def jobsLaunchedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("graft.test.tag")))
          .filter(_.startsWith(tag)).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.tag", tag)
      body
      sc.setLocalProperty("graft.test.tag", tag + "/marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(tag + "/marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(tag + "/marker"), "marker job never reached the listener")
      seen.size - 1
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  test("a second build of a table launches no Spark job") {
    import spark.implicits._
    val tmp = tmpDir("graft-reuse")
    Seq((1L, 2L, "O", 3.0, "1996-01-02", "1-URGENT")).toDF("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp($"o_orderdate"))
      .write.parquet(s"$tmp/orders.parquet")
    val first = jobsLaunchedBy(Tables(spark, tmp).orders)
    assert(first >= 1, "the first build should infer the schema with a Spark job")
    var second: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunchedBy { second = Tables(spark, tmp).orders } === 0)
    assert(second.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("a table overwritten between reads returns its new rows and its new type") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val tmp = tmpDir("graft-overwrite")
    val path = s"$tmp/region.parquet"
    def names() = Tables(spark, tmp).region.collect().map(_.getString(1)).toSet
    Seq((0, "AFRICA"), (1, "AMERICA")).toDF("r_regionkey", "r_name").write.parquet(path)
    assert(names() === Set("AFRICA", "AMERICA"))
    Seq((2, "ASIA")).toDF("r_regionkey", "r_name").write.mode("overwrite").parquet(path)
    assert(names() === Set("ASIA"))
    // same column names, r_regionkey re-typed: the cached int must not survive
    Seq((3L, "EUROPE")).toDF("r_regionkey", "r_name").write.mode("overwrite").parquet(path)
    val region = Tables(spark, tmp).region
    assert(region.schema("r_regionkey").dataType === LongType)
    assert(region.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((3L, "EUROPE")))
    assert(Tables.schemaDrift(spark, tmp)
      .contains("region.r_regionkey: read type bigint, expected one of int"))
  }

  test("a changed schema-conversion conf re-infers instead of reusing the schema") {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val tmp = tmpDir("graft-confs")
    // events.ts as parquet TIMESTAMP(NANOS) — Spark cannot write it, so the
    // file comes from parquet's example writer. A second table holds a
    // TIMESTAMP(MICROS) without UTC adjustment.
    def write(table: String, unit: String, value: Long): Unit = {
      val schema = MessageTypeParser.parseMessageType(
        s"message events { required int64 event_id; " +
          s"required int64 ts (TIMESTAMP($unit,false)); }")
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$tmp/$table/events.parquet/part-0.parquet"))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", value))
      finally w.close()
    }
    write("nanos", "NANOS", 1704067200123456789L)
    write("micros", "MICROS", 1704067200123456L)
    def tsType(table: String) = Tables(spark, s"$tmp/$table")("events").schema("ts").dataType
    val conf = spark.conf
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = Seq(nanosAsLong, ntz).map(k => k -> conf.getOption(k))
    try {
      conf.set(nanosAsLong, "true")
      assert(tsType("nanos") === LongType)
      // without the legacy flag Spark has no type for TIMESTAMP(NANOS): the
      // read must raise the plain read's error, not serve the cached bigint
      conf.set(nanosAsLong, "false")
      val plain = intercept[org.apache.spark.sql.AnalysisException](
        spark.read.parquet(s"$tmp/nanos/events.parquet"))
      val cached = intercept[org.apache.spark.sql.AnalysisException](tsType("nanos"))
      assert(cached.getCondition === plain.getCondition)
      conf.set(nanosAsLong, "true")
      assert(tsType("nanos") === LongType)
      conf.set(ntz, "true")
      assert(tsType("micros") === TimestampNTZType)
      conf.set(ntz, "false")
      assert(tsType("micros") === TimestampType)
      conf.set(ntz, "true")
      assert(tsType("micros") === TimestampNTZType)
      // Tables.events normalizes every form to the same instant
      val instants = Seq("nanos", "micros").map(t =>
        Tables(spark, s"$tmp/$t").events.select("ts").head().getTimestamp(0))
      assert(instants.distinct.size === 1, instants)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("a missing or emptied table fails with the plain read's error") {
    import spark.implicits._
    import org.apache.spark.sql.AnalysisException
    val tmp = tmpDir("graft-missing")
    def condition(read: => Unit): String = intercept[AnalysisException](read).getCondition
    val path = s"$tmp/orders.parquet"
    val missing = condition(spark.read.parquet(path))
    assert(condition(Tables(spark, tmp).orders) === missing)
    // a table read once (and so cached), then deleted, fails the same way
    Seq((1L, "x")).toDF("o_orderkey", "o_orderstatus").write.parquet(path)
    assert(Tables(spark, tmp).orders.count() === 1)
    val dir = new java.io.File(path)
    dir.listFiles().foreach(_.delete())
    val empty = condition(spark.read.parquet(path))
    assert(condition(Tables(spark, tmp).orders) === empty)
    dir.delete()
    assert(condition(Tables(spark, tmp).orders) === missing)
  }

  test("two threads reading one table at once see equal schemas and rows") {
    import spark.implicits._
    val tmp = tmpDir("graft-concurrent")
    (1L to 50L).map(i => (i, s"c$i")).toDF("c_custkey", "c_name")
      .write.parquet(s"$tmp/customer.parquet")
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map(_ => pool.submit(new java.util.concurrent.Callable[
          (org.apache.spark.sql.types.StructType, Set[(Long, String)])] {
        def call() = {
          start.await()
          val df = Tables(spark, tmp).customer
          (df.schema, df.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
        }
      }))
      start.countDown()
      val got = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.map(_._1).distinct.size === 1)
      assert(got.map(_._2).distinct === Seq((1L to 50L).map(i => (i, s"c$i")).toSet))
    } finally pool.shutdown()
  }
}
