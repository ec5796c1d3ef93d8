package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import graft.config.PipelineConfig
import graft.etl.{ErrorTolerant, Writers}
import graft.jobs.{JobRunner, JobRunnerConfig, JobState, LocalFsStore, SimpleStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The reference's stated use case: a drop of NDJSON files merged onto a
  * schema. Each job is a 3-step declared pipeline — `decode` (json_files →
  * transforms → parquet), `merge` (SQL join against a staged dimension →
  * parquet partitioned by region) and `publish` (an SQL command) — run
  * under a fresh job id, then run again under the same id, when every step
  * must skip.
  */
final class EtlMerge(seed: Long, size: EtlMerge.Size) extends Workload {
  import EtlMerge._
  import Workload._

  val name = "etl_merge"

  private var dir: Path = _
  private var files: Seq[Path] = Nil
  private var okPerFile: Map[String, Long] = Map.empty
  private var errPerFile: Map[String, Long] = Map.empty
  private var jobSeq = 0
  private var store: CountingStore = _
  private var lastState: JobState = _
  private var writesPerJob = Seq.empty[Double]
  private var writeMsPerJob = Seq.empty[Double]

  private def lines = okPerFile.values.sum + errPerFile.values.sum
  private def okLines = okPerFile.values.sum
  private def errLines = errPerFile.values.sum

  def generate(spark: SparkSession, d: Path): Unit = {
    dir = d
    val in = Files.createDirectories(d.resolve("in"))
    val rnd = new SplittableRandom(seed)
    val gen = (0 until size.files).map { f =>
      val name = f"part-$f%03d.ndjson"
      val b = new StringBuilder
      var ok, err = 0L
      (0 until size.linesPerFile).foreach { i =>
        val line = record(rnd, f.toLong * size.linesPerFile + i)
        // ~1% planted malformed lines: truncated records and plain garbage
        if (rnd.nextInt(100) == 0) {
          err += 1
          b ++= (if (rnd.nextBoolean()) line.take(line.length / 2) else s"not json $i")
        } else {
          ok += 1
          b ++= line
        }
        b += '\n'
      }
      val p = in.resolve(name)
      Files.write(p, b.toString.getBytes(UTF_8))
      (p, name, ok, err)
    }
    files = gen.map(_._1)
    okPerFile = gen.map(g => g._2 -> g._3).toMap
    errPerFile = gen.map(g => g._2 -> g._4).toMap
    // the staged dimension every job joins against
    import spark.implicits._
    (0 until Customers).map { c =>
      (c.toLong, Regions(c % Regions.length), Segments(rnd.nextInt(Segments.length)))
    }.toDF("customer_id", "region", "segment")
      .coalesce(1).write.mode("overwrite").parquet(d.resolve("dim").toString)
    store = new CountingStore(new LocalFsStore(d.resolve("state").toString))
    jobSeq = 0
  }

  private def record(rnd: SplittableRandom, orderId: Long): String = {
    val qty = 1 + rnd.nextInt(20)
    val price = (100 + rnd.nextInt(99900)) / 100.0
    val day = 1 + rnd.nextInt(28)
    val tags = (0 until rnd.nextInt(4)).map(_ => Tags(rnd.nextInt(Tags.length)))
    s"""{"order_id":$orderId,"customer_id":${rnd.nextInt(Customers)},""" +
      s""""product":"p-${rnd.nextInt(500)}","qty":$qty,"price":$price,""" +
      f""""ts":"2024-03-$day%02dT${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00Z",""" +
      s""""tags":[${tags.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""note":"order $orderId of ${rnd.nextInt(1000)} in batch ${orderId / 97}"}"""
  }

  private def out(s: String) = dir.resolve("out").resolve(s).toString

  private def confJson(id: String): String =
    s"""{"id": "$id", "name": "merge", "maxErrors": 1000, "steps": [
       |  {"step": "decode", "kind": "stream",
       |   "source": {"type": "json_files", "paths": [${files.map(p => Json.str(p.toString)).mkString(", ")}],
       |              "schema": "$Schema"},
       |   "transforms": [
       |     {"op": "withColumn", "name": "amount", "expr": "round(qty * price, 2)"},
       |     {"op": "withColumn", "name": "day", "expr": "substr(ts, 1, 10)"},
       |     {"op": "withColumn", "name": "source_file", "expr": "input_file_name()"}],
       |   "sink": {"type": "parquet", "path": ${Json.str(out("decoded"))}}},
       |  {"step": "merge", "kind": "stream",
       |   "source": {"type": "sql", "query": ${Json.str(mergeSql)}},
       |   "sink": {"type": "parquet", "path": ${Json.str(out("merged"))}, "partitionBy": ["region"]}},
       |  {"step": "publish", "kind": "command",
       |   "sql": ${Json.str(s"SELECT region, count(*) AS n, sum(amount) AS amount FROM parquet.`${out("merged")}` GROUP BY region")}}
       |]}""".stripMargin

  private def mergeSql: String =
    s"SELECT o.order_id, o.customer_id, o.product, o.qty, o.amount, o.day, " +
      s"c.region, c.segment FROM parquet.`${out("decoded")}` o " +
      s"JOIN parquet.`${dir.resolve("dim")}` c ON o.customer_id = c.customer_id"

  /** The traced form of `PipelineConfig.run` for stream and command steps:
    * the same calls, with a span around each layer boundary.
    */
  private def runTraced(spark: SparkSession, conf: PipelineConfig.PipelineConf): JobState = {
    val runner = new JobRunner(conf.id, conf.name, store,
      JobRunnerConfig(maxErrors = conf.maxErrors))
    conf.steps.foreach { s =>
      s.kind match {
        case "stream" =>
          val sink = s.sink.get
          Trace.span("jobs.run_stream") {
            runner.runDecodedStreamLazy(s.step,
              Trace.span("etl.source")(PipelineConfig.buildSource(spark, s.source.get)),
              sink.`type` + sink.path.fold("")(":" + _),
              df => Trace.span(s"etl.write.${s.step}") {
                PipelineConfig.buildSink(sink)(PipelineConfig.applyTransforms(df, s.transforms))
              },
              s.stopOnError)
          }
        case "command" =>
          Trace.span("jobs.run_cmd") {
            runner.runCmd(s.step, s.stopOnError) {
              Trace.span("etl.publish")(spark.sql(s.sql.get).collect())
              ()
            }
          }
      }
    }
    Trace.span("jobs.complete")(runner.complete())
  }

  private def runJob(spark: SparkSession, id: String): JobState = {
    val conf = Trace.span("config.parse")(PipelineConfig.parse(confJson(id)))
    if (Trace.enabled) runTraced(spark, conf) else PipelineConfig.run(spark, conf, store)
  }

  private def nextId(): String = { jobSeq += 1; f"etl-$seed-$jobSeq%04d" }

  /** `size.warmupJobs` jobs and their re-runs: after one, the first
    * measured jobs still ran up to 1.5× slower while the JIT caught up.
    */
  def warmup(spark: SparkSession): Unit = (0 until size.warmupJobs).foreach { _ =>
    val id = nextId()
    runJob(spark, id)
    PipelineConfig.run(spark, PipelineConfig.parse(confJson(id)), store)
  }

  /** Checks one job's state and outputs against the planted drop. */
  private def checkJob(spark: SparkSession, st: JobState, rerun: JobState,
      rerunWrites: Long): Seq[String] = {
    val dec = st.streams.get("decode")
    val mer = st.streams.get("merge")
    val perFile = spark.read.parquet(out("decoded")).groupBy("source_file").count()
      .collect().map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    check(dec.exists(d => d.status == JobState.Complete && d.totalLinesScanned == lines &&
      d.numErrors == errLines && d.outputs.map(_.linesWritten) == List(okLines)),
      s"${st.id}: decode step state $dec, planted $lines lines / $errLines errors") ++
    check(mer.exists(m => m.status == JobState.Complete &&
      m.outputs.map(_.linesWritten) == List(okLines)),
      s"${st.id}: merge step wrote ${mer.map(_.outputs)}, expected $okLines rows") ++
    check(st.commands.get("publish").exists(_.status == JobState.Complete),
      s"${st.id}: publish step not complete") ++
    check(perFile == okPerFile, s"${st.id}: per-file ok rows $perFile != planted $okPerFile") ++
    check(rerun.streams == st.streams && rerun.commands == st.commands && rerunWrites <= 1,
      s"${st.id}: re-run did not skip every step ($rerunWrites state writes)")
  }

  def measure(spark: SparkSession, traced: Int => Boolean): Measured = {
    val lat = Seq.newBuilder[Double]
    val ids = Seq.newBuilder[String]
    val failures = Seq.newBuilder[String]
    var workNs = 0L
    writesPerJob = Nil; writeMsPerJob = Nil
    (0 until size.jobs).foreach { i =>
      val id = nextId()
      ids += id
      val w0 = store.snapshot
      val (st, ns) = Trace.op(i, traced(i))(nanos(
        scala.util.Try(runJob(spark, id))))
      val w1 = store.snapshot
      writesPerJob :+= (w1._1 - w0._1).toDouble
      writeMsPerJob :+= (w1._2 - w0._2) / 1e6
      lat += ns / 1e6
      workNs += ns
      failures ++= attempt(id) {
        val (rerun, rerunNs) = Trace.op(i, traced(i))(nanos(Trace.span("jobs.resume")(
          PipelineConfig.run(spark, PipelineConfig.parse(confJson(id)), store))))
        workNs += rerunNs
        lastState = st.get
        checkJob(spark, st.get, rerun, store.snapshot._1 - w1._1)
      }
    }
    val l = lat.result()
    Measured(ids.result(), l, l.indices.map(traced), (lines * size.jobs).toDouble, workNs / 1e9,
      size.jobs, failures.result())
  }

  def layerMetrics(spark: SparkSession): Seq[(String, Double, String)] = {
    val schema = StructType.fromDDL(Schema)
    val paths = files.map(_.toString)
    val decodeS = (0 until 3).map(_ => Trace.span("etl.decode_probe")(nanos(
      Writers.noop(ErrorTolerant.jsonFiles(spark, paths, schema).all))._2 / 1e9))
    val joinS = (0 until 3).map(_ => Trace.span("etl.merge_join_probe")(nanos(
      Writers.noop(spark.sql(mergeSql)))._2 / 1e9))
    val (outFiles, outBytes) = {
      val (f1, b1) = dataFiles(dir.resolve("out").resolve("decoded"))
      val (f2, b2) = dataFiles(dir.resolve("out").resolve("merged"))
      (f1 + f2, b1 + b2)
    }
    val inBytes = files.map(Files.size).sum
    val stepOverhead = Trace.all.filter(_.name == "jobs.run_stream").groupBy(_.op)
      .values.map(ss => ss.map(Trace.selfTime).sum).toSeq
    Seq(
      ("config.parse_ms", Stats.medianOr0(Trace.durations("config.parse")), "ms"),
      ("jobs.state_writes", Stats.medianOr0(writesPerJob), "count"),
      ("jobs.state_write_ms", Stats.medianOr0(writeMsPerJob), "ms"),
      ("jobs.step_overhead_ms", Stats.medianOr0(stepOverhead), "ms"),
      ("jobs.resume_ms", Stats.medianOr0(Trace.durations("jobs.resume")), "ms"),
      ("etl.decode_rows_per_s", lines / Stats.median(decodeS), "1/s"),
      ("etl.rows_err", lastState.streams("decode").numErrors.toDouble, "count"),
      ("etl.write_parquet_s", Stats.medianOr0(Trace.durations("etl.write.decode")) / 1e3, "s"),
      ("etl.merge_join_s", Stats.median(joinS), "s"),
      ("etl.write_partitioned_s", Stats.medianOr0(Trace.durations("etl.write.merge")) / 1e3, "s"),
      ("etl.output_files", outFiles.toDouble, "count"),
      ("etl.bytes_out_per_byte_in", outBytes.toDouble / inBytes, "ratio"))
  }
}

object EtlMerge {
  final case class Size(files: Int, linesPerFile: Int, warmupJobs: Int, jobs: Int)
  val Full = Size(files = 16, linesPerFile = 3750, warmupJobs = 2, jobs = 12)
  val Cross = Size(files = 16, linesPerFile = 3750, warmupJobs = 1, jobs = 2)

  val Schema = "order_id BIGINT, customer_id BIGINT, product STRING, qty INT, " +
    "price DOUBLE, ts STRING, tags ARRAY<STRING>, note STRING"
  val Customers = 5000
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Tags = Seq("gift", "priority", "bulk", "return", "promo", "repeat")
}

/** A state store that counts and times every write the job runner makes. */
final class CountingStore(inner: SimpleStore) extends SimpleStore {
  private var writes = 0L
  private var writeNs = 0L
  def snapshot: (Long, Long) = synchronized((writes, writeNs))
  override def load(path: String): Option[String] = inner.load(path)
  override def write(path: String, doc: String): Unit = {
    val t0 = System.nanoTime()
    inner.write(path, doc)
    val ns = System.nanoTime() - t0
    synchronized { writes += 1; writeNs += ns }
  }
}
