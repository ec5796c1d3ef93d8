package graft

import graft.etl._
import org.apache.spark.sql.types._

/** Dataflow-parity tests mirroring the reference's integration assertions
  * (SURVEY.md §5): exact ok/err counts on the fixture streams, batcher
  * boundary semantics, splitter fan-out, tolerant transforms.
  */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  val iw = StructType(Seq(StructField("index", StringType), StructField("words", StringType)))

  test("D2: malformed json stream counts 3 ok / 2 err (simple-pipeline.rs:61-63)") {
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("todo", ArrayType(StringType)),
      StructField("id", StringType)))
    val dec = ErrorTolerant.json(spark,
      spark.createDataset(Fixtures.malformedJsonStream), schema)
    assert(dec.counts === ((3L, 2L)))
    assert(dec.corrupt.as[String].collect().forall(_.contains("malformed")))
  }

  test("Decoded.counts over a file-backed permissive read caches nothing") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val file = java.nio.file.Files.createTempDirectory("graft_counts").resolve("in.ndjson")
    java.nio.file.Files.write(file, Fixtures.malformedJsonStream.mkString("\n").getBytes)
    val dec = ErrorTolerant.jsonFiles(spark, Seq(file.toString),
      StructType.fromDDL("name STRING, todo ARRAY<STRING>, id STRING"))
    // every query run until a marker query's callback arrives
    val marker = "graft_marker_" + java.util.UUID.randomUUID().toString.take(8)
    def isMarker(qe: QueryExecution) = qe.analyzed.output.exists(_.name == marker)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    val counts = try {
      val c = dec.counts
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(isMarker), "marker query never reached the listener")
      c
    } finally spark.listenerManager.unregister(listener)
    assert(counts === ((3L, 2L)))
    val queries = seen.asScala.filterNot(isMarker).toSeq
    assert(queries.nonEmpty)
    assert(queries.forall(_.withCachedData.collectFirst { case r: InMemoryRelation => r }.isEmpty))
    assert(dec.all.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("D2: ndjson10 strict-field parity 9 ok / 1 err (decoder_fs.rs:70-72)") {
    val dec = ErrorTolerant.json(spark, spark.createDataset(Fixtures.ndjson10), iw)
    // the renamed-key line parses as JSON but misses the required field
    val strictBad = dec.all.filter($"index".isNull ||
      org.apache.spark.sql.functions.col(ErrorTolerant.CorruptCol).isNotNull).count()
    assert(dec.all.count() === 10)
    assert(strictBad === 1)
  }

  test("D1: csv14 decodes 14 ok / 0 err (decoder_fs.rs:130-132)") {
    val dec = ErrorTolerant.csv(spark, spark.createDataset(Fixtures.csv14), iw)
    assert(dec.counts === ((14L, 0L)))
  }

  test("D1: quoted-comma CSV parses embedded commas (run-stream-handler.rs:80-95)") {
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("name", StringType), StructField("notes", StringType)))
    val dec = ErrorTolerant.csv(spark, spark.createDataset(Fixtures.quotedCsv), schema)
    val rows = dec.good.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(rows("4f") === "McDondald, John")
    assert(dec.counts._1 === 3)
  }

  test("XML decode: errors-as-data over malformed records (Spark 4 native XML)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xml")
    java.nio.file.Files.write(dir.resolve("recs.xml"),
      """<root>
        |  <rec><id>1</id><name>alpha</name></rec>
        |  <rec><id>not a number</id><name>beta</name></rec>
        |  <rec><id>3</id><name>gamma</name></rec>
        |</root>""".stripMargin.getBytes)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id LONG, name STRING")
    val d = graft.etl.ErrorTolerant.xmlFiles(spark,
      Seq(dir.toString + "/recs.xml"), schema, rowTag = "rec")
    val (ok, err) = d.counts
    assert(ok === 2 && err === 1, s"got ok=$ok err=$err")
    // project the FULL schema: corrupt-record detection happens at parse
    // time over the required columns, so pruning `id` away would let the
    // malformed row parse clean (same pruned-schema caveat as CSV/JSON)
    assert(d.good.select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "alpha"), (3L, "gamma")))
  }

  test("T3: batchBySize groups with tail flush (batch.rs:61-65)") {
    val ds = spark.createDataset(1 to 10).repartition(1)
    val batches = Transforms.batchBySize(ds, 3).collect()
    assert(batches.map(_.size).sorted.toSeq === Seq(1, 3, 3, 3))
    assert(batches.flatten.sorted.toSeq === (1 to 10))
  }

  test("T3: batchBy key-change predicate bounds batches") {
    val ds = spark.createDataset(Seq("a1", "a2", "b1", "b2", "b3", "c1")).repartition(1)
    val batches = Transforms.batchBy(ds)((next, cur) => next.head != cur.head.head)
      .collect()
    assert(batches.map(_.mkString(",")).toSet ===
      Set("a1,a2", "b1,b2,b3", "c1"))
  }

  test("T1: transformerTolerant captures throwing records as error elements") {
    val ds = spark.createDataset(Seq("1", "2", "boom", "4"))
    val (good, errs) = Transforms.transformerTolerant(ds) { s =>
      val n = s.toInt; if (n % 2 == 0) Some(n) else None
    }
    assert(good.collect().sorted.toSeq === Seq(2, 4))
    assert(errs.count() === 1)
    assert(errs.collect().head.contains("boom"))
  }

  test("T1: transformerTolerantScoped releases the shared cache on release()") {
    val cm = spark.sharedState.cacheManager
    val wasEmpty = cm.isEmpty
    val ds = spark.createDataset(Seq("1", "2", "3"))
    val ((good, errs), release) =
      Transforms.transformerTolerantScoped(ds)(s => Some(s.toInt))
    assert(good.count() === 3 && errs.count() === 0)
    assert(!cm.isEmpty, "the attempted intermediate must be cached while in scope")
    release()
    assert(cm.isEmpty || !wasEmpty, "no lingering cache entry after release")
  }

  test("E3: generic unpivot flattens any width (5 columns) to (id, col, val)") {
    val df = Seq((1L, "a", 2, 3.5, true)).toDF("id", "s", "i", "d", "b")
    val out = Transforms.unpivot(df, Seq("id"))
    assert(out.columns.toSeq === Seq("id", "col", "val"))
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows === Set((1L, "s", "a"), (1L, "i", "2"),
      (1L, "d", "3.5"), (1L, "b", "true")))
  }

  test("T2: expand 1→N (the reference's unimplemented List arm)") {
    val out = Transforms.expand(spark.createDataset(Seq("a b", "c")))(_.split(" ").toSeq)
    assert(out.collect().sorted.toSeq === Seq("a", "b", "c"))
  }

  test("T4: applyForeach counts applied records (apply.rs:7-56)") {
    val n = Transforms.applyForeach(spark.createDataset(1 to 4))(_ => ())
    assert(n === 4)
  }

  test("J2: fanOut delivers every record to every sink (splitter.rs:71-139)") {
    val df = spark.range(100).toDF("id")
    val c1 = new java.util.concurrent.atomic.AtomicLong()
    val c2 = new java.util.concurrent.atomic.AtomicLong()
    Transforms.fanOut(df, Seq(d => c1.set(d.count()), d => c2.set(d.count())))
    assert(c1.get() === 100 && c2.get() === 100)
  }

  test("S7: enumerateThrottled paces records per partition (enumerate.rs pause)") {
    val t0 = System.nanoTime()
    val out = Generators.enumerateThrottled(spark, 20, maxPerSecPerPartition = 50.0)(identity)
      .collect().sorted
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(out.toSeq === (0L until 20L))
    // 4 partitions × 5 records at 50/s → each partition needs ≥ ~80 ms of
    // slot time; a lower bound only (slow machines just take longer)
    assert(elapsedMs >= 60, f"throttle not applied: $elapsedMs%.0f ms")
  }

  test("S7/S8: enumerate and enumerateWithClient generate the index space") {
    val plain = Generators.enumerate(spark, 50)(i => i * 2).collect().sorted
    assert(plain.toSeq === (0 until 50).map(_ * 2L))
    val opened = spark.sparkContext.longAccumulator("opened")
    val withClient = Generators.enumerateWithClient(spark, 50)(() => {
      opened.add(1); "client"
    })((c, i) => s"$c-$i")(_ => ()).count()
    assert(withClient === 50)
    assert(opened.value > 0)
  }

  test("S6: a string literal is a source, one record per line (string.rs:5-29)") {
    assert(TextSource.fromString(spark, "a\nb\nc").count() === 3)
  }

  test("O3: mapQuery rewrites the INSERT before execution (map_query parity)") {
    sys.props.getOrElseUpdate("derby.system.home", sys.props("java.io.tmpdir"))
    val db = sys.props("java.io.tmpdir") + "/graft_derby_mq_" +
      java.util.UUID.randomUUID().toString.take(8)
    val url = s"jdbc:derby:$db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute("CREATE TABLE main_t (id INT, v VARCHAR(20))")
      conn.createStatement().execute("CREATE TABLE redirected (id INT, v VARCHAR(20))")
    } finally conn.close()
    val dead = Jdbc.writeBatchedWithDeadLetter(
      Seq((1, "a"), (2, "b")).toDF("id", "v"), url, "main_t", 10,
      mapQuery = _.replace("INSERT INTO main_t", "INSERT INTO redirected"))
    assert(dead.count() === 0)
    dead.unpersist()
    def n(t: String) = Jdbc.read(spark, url, s"SELECT COUNT(*) AS n FROM $t")
      .collect().head.get(0).toString.toLong
    assert(n("redirected") === 2 && n("main_t") === 0)
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
    catch { case _: java.sql.SQLException => () }
  }

  test("Scd.scd2Merge: all four row fates in one merge") {
    val d = java.sql.Date.valueOf(_: String)
    // key 1: unchanged; key 2: changed (has closed history too);
    // key 3: no update row; key 4: brand-new in the snapshot
    val current = Seq(
      (1L, "a", d("2020-01-01"), null.asInstanceOf[java.sql.Date]),
      (2L, "b", d("2020-01-01"), null.asInstanceOf[java.sql.Date]),
      (2L, "old", d("2018-01-01"), d("2020-01-01")),
      (3L, "c", d("2020-01-01"), null.asInstanceOf[java.sql.Date])
    ).toDF("k", "seg", "valid_from", "valid_to")
    val updates = Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("k", "seg")
    val got = Scd.scd2Merge(current, updates, Seq("k"), Seq("seg"),
      org.apache.spark.sql.functions.lit(d("2024-06-01")))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), String.valueOf(r.getDate(2)),
        String.valueOf(r.getDate(3))))
      .sortBy(t => (t._1, t._3))
    assert(got.toSeq === Seq(
      (1L, "a", "2020-01-01", "null"),
      (2L, "old", "2018-01-01", "2020-01-01"),
      (2L, "b", "2020-01-01", "2024-06-01"),
      (2L, "B2", "2024-06-01", "null"),
      (3L, "c", "2020-01-01", "null"),
      (4L, "d", "2024-06-01", "null")))
  }

  test("Scd.scd2Merge: a NULL key value is a real key, not a missing side") {
    val d = java.sql.Date.valueOf(_: String)
    val current = Seq(
      (Option.empty[Long], "x", d("2020-01-01"), null.asInstanceOf[java.sql.Date]),
      (Some(1L), "a", d("2020-01-01"), null.asInstanceOf[java.sql.Date])
    ).toDF("k", "seg", "valid_from", "valid_to")
    val updates = Seq((Option.empty[Long], "x2")).toDF("k", "seg")
    val got = Scd.scd2Merge(current, updates, Seq("k"), Seq("seg"),
      org.apache.spark.sql.functions.lit(d("2024-06-01")))
      .collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1),
        String.valueOf(r.getDate(3))))
      .sortBy(t => (t._1, t._2))
    // the null-key row is closed and re-versioned like any changed key;
    // nothing is silently dropped
    assert(got.toSeq === Seq(
      (-1L, "x", "2024-06-01"),
      (-1L, "x2", "null"),
      (1L, "a", "null")))
  }
}
