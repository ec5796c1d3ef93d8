package graft

import graft.etl.{ErrorTolerant, Fixtures, TextSource}
import graft.jobs._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Control-plane tests mirroring the reference's state-assertion suites
  * (SURVEY.md §5): exact ok/err counts in durable JobState, skip-on-rerun,
  * error budgets, stop_on_error, settings round-trip.
  */
class JobSpec extends SparkSpec {
  import spark.implicits._

  private val tsd = StructType(Seq(
    StructField("name", StringType), StructField("todo", ArrayType(StringType)),
    StructField("id", StringType)))

  private def malformedDecoded() =
    ErrorTolerant.json(spark, spark.createDataset(Fixtures.malformedJsonStream), tsd)

  test("run_stream: 3 ok / 2 err recorded, rerun skips (simple-pipeline.rs:61-63)") {
    val store = new InMemoryStore
    val r1 = new JobRunner("j1", "simple", store)
    val ran = r1.runDecodedStream("xform", malformedDecoded(), "mock", _.count())
    assert(ran)
    val st = r1.currentState.streams("xform")
    assert(st.totalLinesScanned === 5 && st.numErrors === 2)
    assert(st.outputs === List(OutputStats("mock", 3)))
    assert(st.status === JobState.Complete && st.stepIndex === 0)
    // a fresh runner over the same store must skip the completed step
    val r2 = new JobRunner("j1", "simple", store)
    assert(!r2.runDecodedStream("xform", malformedDecoded(), "mock",
      _ => fail("step must not re-run")))
  }

  test("max_errors budget aborts the step and latches fatal (simple-pipeline.rs:108)") {
    val store = new InMemoryStore
    val r = new JobRunner("j2", "budget", store, JobRunnerConfig(maxErrors = 2))
    val manyBad = Fixtures.malformedJsonStream ++
      (1 to 14).map(i => s"$i this is a malformed json")
    val dec = ErrorTolerant.json(spark, spark.createDataset(manyBad), tsd)
    intercept[TooManyErrors] {
      r.runDecodedStream("xform", dec, "mock", _.count())
    }
    assert(r.currentState.streams("xform").status === JobState.Error)
    assert(r.currentState.fatalError.isDefined)
  }

  test("per-file ok/err counters via lineage (decoder_fs.rs:70-72 analog)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job_files")
    java.nio.file.Files.write(dir.resolve("bad.ndjson"),
      Fixtures.malformedJsonStream.mkString("\n").getBytes)
    java.nio.file.Files.write(dir.resolve("good.ndjson"),
      Seq("""{"name":"x","todo":[],"id":"a"}""",
        """{"name":"y","todo":[],"id":"b"}""").mkString("\n").getBytes)
    val dec = ErrorTolerant.Decoded(TextSource.withLineage(
      ErrorTolerant.jsonFiles(spark,
        Seq(s"$dir/bad.ndjson", s"$dir/good.ndjson"), tsd).all))
    val r = new JobRunner("j3", "files", new InMemoryStore)
    r.runDecodedStream("decode", dec, "noop", _.count())
    val files = r.currentState.streams("decode").files
    def byName(n: String) = files.collectFirst {
      case (k, v) if k.endsWith(n) => v
    }.get
    assert(byName("bad.ndjson") === FileStatus(3, 2))
    assert(byName("good.ndjson") === FileStatus(2, 0))
  }

  test("config-form curation pipeline: kill between steps, durable resume " +
      "skips the completed step and reproduces the uninterrupted result") {
    // The analytics surface running UNDER the control plane (r10 ask #8):
    // pipeline_curate2's shape as a declared two-step pipeline — classifier
    // gate + keep-central near-dedup into an intermediate, then temperature
    // mixture + balanced sharding into the final corpus. A "kill" between
    // the steps is the 1-step prefix committing to a durable LocalFsStore;
    // the restart must skip step 1 (state doc, not memory) and produce a
    // byte-equal final corpus to an uninterrupted run.
    import graft.config.PipelineConfig
    val root = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val tokExpr = "CAST(size(split(text, ' ')) AS BIGINT)"
    def conf(midDir: String, outDir: String, nSteps: Int) = {
      val step1 =
        s"""{ "step": "curate", "kind": "stream",
           |  "source": { "type": "parquet",
           |              "paths": ["$sf0001/documents.parquet"] },
           |  "transforms": [
           |    { "op": "nb_filter", "cols": ["doc_id", "text"],
           |      "expr": "n_chars > 400" },
           |    { "op": "dedup_keep_central", "cols": ["doc_id", "text"] } ],
           |  "sink": { "type": "parquet", "path": "$midDir",
           |            "mode": "overwrite" } }""".stripMargin
      val step2 =
        s"""{ "step": "pack", "kind": "stream",
           |  "source": { "type": "parquet", "paths": ["$midDir"] },
           |  "transforms": [
           |    { "op": "mixture_alpha", "cols": ["source", "doc_id"],
           |      "expr": "$tokExpr", "name": "1/2" },
           |    { "op": "shard_balanced", "cols": ["doc_id"],
           |      "expr": "$tokExpr", "name": "4" } ],
           |  "sink": { "type": "parquet", "path": "$outDir",
           |            "mode": "overwrite" } }""".stripMargin
      PipelineConfig.parse(s"""{ "id": "cur2", "name": "curate2",
        | "steps": [${Seq(step1, step2).take(nSteps).mkString(",")}] }"""
        .stripMargin)
    }
    // phase 1: the job dies AFTER step 1 commits
    val st1 = PipelineConfig.run(spark, conf(s"$root/mid", s"$root/out", 1),
      new LocalFsStore(s"$root/store"))
    assert(st1.streams("curate").status === JobState.Complete)
    // phase 2: restart on the SAME durable root — step 1 must skip (same
    // startedMs proves the durable doc, not runner memory, carried it)
    val st2 = PipelineConfig.run(spark, conf(s"$root/mid", s"$root/out", 2),
      new LocalFsStore(s"$root/store"))
    assert(st2.streams("curate").startedMs === st1.streams("curate").startedMs)
    assert(st2.streams("pack").status === JobState.Complete)
    // uninterrupted reference run → identical final corpus
    PipelineConfig.run(spark, conf(s"$root/midC", s"$root/outC", 2),
      new LocalFsStore(s"$root/storeC"))
    def img(p: String) = spark.read.parquet(p).collect().map(_.toSeq).toSet
    assert(img(s"$root/out") === img(s"$root/outC"))
    assert(img(s"$root/out").nonEmpty)
  }

  test("a crash at any state save resumes and skips exactly the committed steps") {
    import java.nio.file.{Files, Path}
    import scala.collection.mutable.ArrayBuffer
    import scala.jdk.CollectionConverters._
    val steps = Seq("decode", "ddl", "load")
    val doc = JobState.docName("crash", "three")
    def runJob(store: SimpleStore, ran: ArrayBuffer[String]): JobState = {
      val r = new JobRunner("crash", "three", store)
      r.runDecodedStream("decode", malformedDecoded(), "mock", { df => ran += "decode"; df.count() })
      r.runCmd("ddl") { ran += "ddl" }
      r.runDecodedStream("load", malformedDecoded(), "mock", { df => ran += "load"; df.count() })
      r.complete()
    }
    def completed(s: JobState) = steps.filter(st => s.isStreamComplete(st) || s.isCommandComplete(st))
    // the document every save of an uninterrupted run writes, in order
    val saved = ArrayBuffer.empty[JobState]
    runJob(new SimpleStore {
      private val inner = new InMemoryStore
      def load(path: String) = inner.load(path)
      def write(path: String, d: String): Unit = { saved += JobState.fromJson(d); inner.write(path, d) }
    }, ArrayBuffer.empty)
    assert(completed(saved.last) === steps)
    /** The process dies at save `crashAt`: that save leaves a half-written
      * temp file beside the document, as a kill mid-write would, and it and
      * every later save throw.
      */
    final class CrashingStore(root: Path, crashAt: Int) extends SimpleStore {
      private val inner = new LocalFsStore(root.toString)
      private var saves = 0
      def load(path: String) = inner.load(path)
      def write(path: String, d: String): Unit = {
        saves += 1
        if (saves == crashAt)
          Files.write(root.resolve(s".$path.crash.tmp"), d.take(d.length / 2).getBytes("UTF-8"))
        if (saves >= crashAt) throw new java.io.IOException(s"killed at save $saves")
        inner.write(path, d)
      }
    }
    for (k <- 1 to saved.size) {
      val root = Files.createTempDirectory(s"graft_crash_$k")
      intercept[java.io.IOException](runJob(new CrashingStore(root, k), ArrayBuffer.empty))
      val committed = if (k == 1) Nil else completed(saved(k - 2))
      val store = new LocalFsStore(root.toString)
      // the leftover temp file does not break load: it returns the last
      // document committed before the crash
      assert(store.load(doc).map(d => completed(JobState.fromJson(d))).getOrElse(Nil) === committed,
        s"crash at save $k")
      val ran = ArrayBuffer.empty[String]
      assert(completed(runJob(store, ran)) === steps, s"crash at save $k")
      assert(ran === steps.filterNot(committed.contains), s"crash at save $k")
      // the store's own saves leave no temp file behind
      val names = Files.list(root).iterator().asScala.map(_.getFileName.toString).toSet
      assert(names === Set(doc, s".$doc.crash.tmp"), s"crash at save $k")
    }
  }

  test("a transient failure of a step's Complete save propagates without latching a fatal error") {
    /** Fails its `failAt`-th write once, as a transient store error would. */
    final class FlakyStore(failAt: Int) extends SimpleStore {
      private val inner = new InMemoryStore
      private var writes = 0
      def load(path: String) = inner.load(path)
      def write(path: String, d: String): Unit = {
        writes += 1
        if (writes == failAt) throw new java.io.IOException(s"transient failure of write $writes")
        inner.write(path, d)
      }
    }
    // a command step saves once, on completion
    val cmdStore = new FlakyStore(1)
    var ran = 0
    intercept[java.io.IOException](new JobRunner("flaky", "cmd", cmdStore).runCmd("a") { ran += 1 })
    val r1 = new JobRunner("flaky", "cmd", cmdStore)
    assert(r1.runCmd("a") { ran += 1 })
    assert(ran === 2)
    assert(r1.currentState.commands("a").status === JobState.Complete)
    assert(r1.currentState.fatalError.isEmpty)
    // a stream step saves InProgress, then Complete
    val streamStore = new FlakyStore(2)
    intercept[java.io.IOException](new JobRunner("flaky", "stream", streamStore)
      .runDecodedStream("s", malformedDecoded(), "mock", _.count()))
    val r2 = new JobRunner("flaky", "stream", streamStore)
    assert(r2.runDecodedStream("s", malformedDecoded(), "mock", _.count()))
    val st = r2.currentState.streams("s")
    assert(st.status === JobState.Complete && st.totalLinesScanned === 5 && st.numErrors === 2)
    assert(r2.currentState.fatalError.isEmpty)
    assert(JobState.fromJson(streamStore.load(JobState.docName("flaky", "stream")).get)
      .fatalError.isEmpty)
  }

  test("run_cmd: stop_on_error=false continues, fatal latch stops next strict step (job-command.rs)") {
    val store = new InMemoryStore
    val r = new JobRunner("j4", "cmds", store)
    assert(r.runCmd("ddl")(()))
    assert(!r.runCmd("boom", stopOnError = false) { sys.error("cmd failed") })
    assert(r.currentState.commands("boom").status === JobState.Error)
    assert(r.currentState.fatalError.isDefined)
    // next strict step refuses to run (state.rs:190-206 semantics)
    intercept[IllegalStateException] { r.runCmd("next", stopOnError = true)(()) }
    // completed commands skip on rerun
    val r2 = new JobRunner("j4", "cmds", store)
    assert(!r2.runCmd("ddl")(fail("must not re-run")))
  }

  test("settings round-trip + default (job-state.rs:85-91, job-state-custom.rs)") {
    val store = new InMemoryStore
    val r = new JobRunner("j5", "state", store)
    assert(r.getSettingOrDefault("offset", "1000") === "1000")
    r.setSetting("offset", "2500")
    val r2 = new JobRunner("j5", "state", store)
    assert(r2.getSetting("offset") === Some("2500"))
    assert(r2.getSettingOrDefault("offset", "1000") === "2500")
  }

  test("global manager budget trips across jobs (run-stream-handler-parallel.rs:47)") {
    val mgr = new JobManager(globalMaxErrors = 3)
    val store = new InMemoryStore
    val r1 = new JobRunner("jA", "p", store, JobRunnerConfig(10), Some(mgr))
    val r2 = new JobRunner("jB", "p", store, JobRunnerConfig(10), Some(mgr))
    r1.runDecodedStream("s", malformedDecoded(), "mock", _.count()) // +2 errors
    assert(mgr.errorCount === 2)
    intercept[TooManyErrors] { // +2 more crosses the global budget of 3
      r2.runDecodedStream("s", malformedDecoded(), "mock", _.count())
    }
    assert(r1.currentState.streams("s").status === JobState.Complete)
    assert(r2.currentState.streams("s").status === JobState.Error)
  }

  test("resume-at-index skips the processed prefix (job.rs:484-511)") {
    val df = spark.range(10).toDF("idx")
    assert(Resume.atIndex(df, "idx", 7).as[Long].collect().sorted.toSeq === Seq(7L, 8L, 9L))
  }

  test("detached output tasks join at complete() (job.rs:433-451)") {
    val r = new JobRunner("j6", "detached", new InMemoryStore)
    r.runOutputTask("side")(() => spark.range(42).count())
    val st = r.complete()
    assert(st.streams("__detached__").outputs === List(OutputStats("side", 42)))
    // a runner stays usable after complete(): the detached pool is recreated
    r.runOutputTask("again")(() => 7L)
    val st2 = r.complete()
    assert(st2.streams("__detached__").outputs === List(OutputStats("again", 7)))
  }

  test("run report exposes step history as a queryable DataFrame (O8 parity)") {
    val r = new JobRunner("j7", "report", new InMemoryStore)
    r.runCmd("ddl")(())
    r.runDecodedStream("decode", malformedDecoded(), "mock", _.count())
    val report = r.runReport(spark)
    assert(report.count() === 2)
    val decode = report.filter(org.apache.spark.sql.functions.col("step") === "decode").head()
    assert(decode.getAs[String]("status") === JobState.Complete)
    assert(decode.getAs[Long]("lines_scanned") === 5L)
    assert(decode.getAs[Long]("num_errors") === 2L)
    assert(decode.getAs[Long]("lines_written") === 3L)
  }

  test("JobState JSON round-trips through the store doc format") {
    val s = JobState("a", "b", 2,
      Map("x" -> StepStreamStatus("x", 0, "Complete", 1L, Some(2L), 10, 1,
        Map("f" -> FileStatus(9, 1)), List(OutputStats("o", 9)), None)),
      Map("c" -> StepCommandStatus("c", 1, "Complete", 1L, Some(2L), None)),
      Map("k" -> "v"), None)
    assert(JobState.fromJson(JobState.toJson(s)) === s)
    assert(JobState.docName("a", "b") === "a.b.job.json")
  }
}
