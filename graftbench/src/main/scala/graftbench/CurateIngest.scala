package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import graft.config.PipelineConfig
import graft.etl.Writers
import graft.jobs.{JobRunner, JobRunnerConfig, JobState, LocalFsStore}
import graft.llm.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incremental curation of generated documents. Each drop is one declared
  * job: a stream step (`normalize` → `quality_gate` scored by
  * `graft_quality`) and the `near_dup_ingest` step against the persisted
  * MinHash band index. Closed loop: drop i is written only after drop i−1
  * is committed.
  *
  * Planted structure, known to the checks: every group of a drop holds
  * exactly `junk` short low-quality documents, which the 19/20 quality gate
  * must drop; exact copies and near copies (a few substituted words) of
  * earlier documents, which the ingest step must drop; everything else must
  * survive.
  */
final class CurateIngest(seed: Long, size: CurateIngest.Size) extends Workload {
  import CurateIngest._
  import Workload._

  val name = "curate_ingest"

  private final case class Doc(id: Long, source: String, text: String, kind: Kind)

  private var dir: Path = _
  private var drops: IndexedSeq[IndexedSeq[Doc]] = IndexedSeq.empty
  private var warmKept: Set[Long] = Set.empty
  private var batchMark = 0

  private def docsPerDrop = size.groups * size.perGroup

  def generate(spark: SparkSession, d: Path): Unit = {
    dir = d
    val rnd = new SplittableRandom(seed)
    val vocab = IndexedSeq.fill(4000) {
      (0 until 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    def word() = vocab(rnd.nextInt(vocab.length))
    def normalText(): IndexedSeq[String] = IndexedSeq.fill(100 + rnd.nextInt(60)) {
      if (rnd.nextInt(20) == 0) Stopwords(rnd.nextInt(Stopwords.length)) else word()
    }
    val kept = size.perGroup - size.junk
    val nExact = size.groups * kept * 2 / 100
    val nNear = size.groups * kept * 4 / 100
    val nNormal = size.groups * kept - nExact - nNear
    val normals = scala.collection.mutable.ArrayBuffer.empty[(Long, IndexedSeq[String])]
    drops = (0 until size.drops).map { di =>
      val base = (di + 1).toLong * 1000000L
      val fresh = (0 until nNormal).map(i => (base + i, normalText()))
      val firstOfRecent = normals.indexWhere(_._1 >= math.max(1, di) * 1000000L) max 0
      normals ++= fresh
      // copies of documents from this drop or the one before it, with ids
      // above their originals
      def root() = normals(firstOfRecent + rnd.nextInt(normals.length - firstOfRecent))
      val exact = (0 until nExact).map(i => (base + nNormal + i, root()._2, Exact))
      val near = (0 until nNear).map { i =>
        val t = root()._2.toArray
        (0 until 5).foreach(_ => t(rnd.nextInt(t.length)) = word())
        (base + nNormal + nExact + i, t.toIndexedSeq, Near)
      }
      val body = fresh.map { case (id, t) => (id, t, Normal) } ++ exact ++ near
      val docs = body.zipWithIndex.map { case ((id, t, k), p) =>
        Doc(id, s"src${p % size.groups}", t.mkString(" "), k)
      }
      val junk = (0 until size.groups * size.junk).map { j =>
        val t = IndexedSeq.fill(8)(word()).mkString("", " !! ", " ??")
        Doc(base + body.length + j, s"src${j % size.groups}", t, Junk)
      }
      docs ++ junk
    }
    Files.createDirectories(d.resolve("incoming"))
  }

  private def dropFile(state: Path, i: Int) = state.resolve("incoming").resolve(f"drop-$i%03d.ndjson")

  private def writeDrop(state: Path, i: Int): Unit = {
    val b = new StringBuilder
    drops(i).foreach { doc =>
      b ++= s"""{"doc_id":${doc.id},"source":"${doc.source}","text":${Json.str(doc.text)}}\n"""
    }
    Files.createDirectories(state.resolve("incoming"))
    Files.write(dropFile(state, i), b.toString.getBytes(UTF_8))
  }

  private def confJson(state: Path, i: Int): String = {
    def p(s: String) = Json.str(state.resolve(s).toString)
    s"""{"id": "drop-$i", "name": "curate", "steps": [
       |  {"step": "quality", "kind": "stream",
       |   "source": {"type": "json_files", "paths": [${Json.str(dropFile(state, i).toString)}],
       |              "schema": "$Schema"},
       |   "transforms": [
       |     {"op": "normalize", "cols": ["text"]},
       |     {"op": "quality_gate", "cols": ["source", "doc_id"], "expr": "graft_quality(text)",
       |      "name": "$Keep"}],
       |   "sink": {"type": "parquet", "path": ${Json.str(state.resolve("staged").resolve(f"drop-$i%03d").toString)}}},
       |  {"step": "near_dup", "kind": "ingest",
       |   "source": {"type": "parquet", "paths": [${p("staged/*/*.parquet")}], "schema": "$Schema"},
       |   "transforms": [{"op": "near_dup_ingest", "cols": ["doc_id", "text"]}],
       |   "sink": {"type": "parquet", "path": ${p("corpus")},
       |            "options": {"index": ${p("index")}, "checkpoint": ${p("checkpoint")}}}}
       |]}""".stripMargin
  }

  /** The traced form of `PipelineConfig.run` for this job's two steps. */
  private def runTraced(spark: SparkSession, conf: PipelineConfig.PipelineConf,
      store: LocalFsStore): JobState = {
    val runner = new JobRunner(conf.id, conf.name, store,
      JobRunnerConfig(maxErrors = conf.maxErrors))
    val Seq(q, ing) = conf.steps
    val sink = q.sink.get
    Trace.span("jobs.run_stream") {
      runner.runDecodedStreamLazy(q.step, PipelineConfig.buildSource(spark, q.source.get),
        sink.`type` + sink.path.fold("")(":" + _),
        df => Trace.span("functions.quality_gate_write") {
          PipelineConfig.buildSink(sink)(PipelineConfig.applyTransforms(df, q.transforms))
        })
    }
    val out = ing.sink.get
    Trace.span("jobs.run_cmd") {
      runner.runCmd(ing.step) {
        val sdf = PipelineConfig.buildStreamSource(spark, ing.source.get)
        val query = Trace.span("streaming.start")(graft.streaming.Pipelines.nearDupIngest(
          sdf, "doc_id", "text", out.path.get, out.options("index"), out.options("checkpoint")))
        try Trace.span("streaming.drain")(query.processAllAvailable()) finally query.stop()
      }
    }
    runner.complete()
  }

  /** Runs drop `i` through the job; returns its state. */
  private def runDrop(spark: SparkSession, state: Path, store: LocalFsStore, i: Int): JobState = {
    val conf = Trace.span("config.parse")(PipelineConfig.parse(confJson(state, i)))
    if (Trace.enabled) runTraced(spark, conf, store) else PipelineConfig.run(spark, conf, store)
  }

  private def keptIds(spark: SparkSession, state: Path): Set[Long] =
    spark.read.parquet(state.resolve("corpus").toString).select("doc_id")
      .collect().map(_.getLong(0)).toSet

  def warmup(spark: SparkSession): Unit = if (size.replay) {
    // drop 0 through its own state; measure() replays it and must agree
    val state = dir.resolve("warm")
    writeDrop(state, 0)
    runDrop(spark, state, new LocalFsStore(state.resolve("jobs").toString), 0)
    warmKept = keptIds(spark, state)
  }

  private def checkDrop(st: JobState, i: Int): Seq[String] = {
    val q = st.streams.get("quality")
    val expectWritten = drops(i).count(_.kind != Junk)
    check(q.exists(s => s.status == JobState.Complete && s.totalLinesScanned == drops(i).length &&
      s.numErrors == 0 && s.outputs.map(_.linesWritten) == List(expectWritten)),
      s"drop $i: quality step state $q, expected ${drops(i).length} scanned / $expectWritten kept") ++
    check(st.commands.get("near_dup").exists(_.status == JobState.Complete),
      s"drop $i: ingest step not complete")
  }

  /** Checks the final corpus against the planted structure. */
  private def checkCorpus(spark: SparkSession, state: Path): Seq[String] = {
    val kept = keptIds(spark, state)
    val all = drops.flatten
    def dropped(k: Kind) = {
      val ds = all.filter(_.kind == k)
      (ds.count(d => !kept(d.id)), ds.length)
    }
    val (exactD, exactN) = dropped(Exact)
    val (nearD, nearN) = dropped(Near)
    val (normD, normN) = dropped(Normal)
    val (junkD, junkN) = dropped(Junk)
    val drop0 = drops(0).map(_.id).toSet
    val batches = spark.read.parquet(state.resolve("corpus").toString)
      .select("batch").distinct().collect().map(_.getInt(0)).toSet
    check(batches == drops.indices.toSet, s"one micro-batch per drop expected, got $batches") ++
    check(exactD == exactN, s"exact copies dropped $exactD of $exactN") ++
    check(nearD >= 0.9 * nearN, s"near copies dropped $nearD of $nearN (< 90%)") ++
    check(normD < 0.01 * normN, s"unplanted documents dropped $normD of $normN (>= 1%)") ++
    check(junkD == junkN, s"low-quality documents dropped $junkD of $junkN") ++
    check(!size.replay || kept.filter(drop0) == warmKept,
      s"drop 0 kept ${kept.count(drop0)} ids, its warm-up replay kept ${warmKept.size}")
  }

  def measure(spark: SparkSession, traced: Int => Boolean): Measured = {
    val state = dir.resolve("live")
    val store = new LocalFsStore(state.resolve("jobs").toString)
    val lat = Seq.newBuilder[Double]
    val failures = Seq.newBuilder[String]
    var workNs = 0L
    batchMark = Counters.current.batches.size
    drops.indices.foreach { i =>
      writeDrop(state, i)
      val (st, ns) = Trace.op(i, traced(i))(nanos(scala.util.Try(runDrop(spark, state, store, i))))
      lat += ns / 1e6
      workNs += ns
      failures ++= attempt(s"drop $i")(checkDrop(st.get, i))
    }
    failures ++= attempt("corpus")(checkCorpus(spark, state))
    val l = lat.result()
    Measured(l.indices.map(i => s"drop-$i"), l, l.indices.map(traced), (docsPerDrop * drops.length).toDouble, workNs / 1e9,
      drops.length + 1, failures.result())
  }

  /** Re-runs the near-dup kernel of each drop against the state the ingest
    * step saw (the corpus and index of the earlier batches), timing the
    * `Dedup` calls and counting candidate and verified pairs.
    */
  private def probeDedup(spark: SparkSession, state: Path, i: Int): (Double, Double, Long, Long) = {
    val corpus = spark.read.parquet(state.resolve("corpus").toString)
    val index = spark.read.parquet(state.resolve("index").toString)
    val fresh = spark.read.parquet(state.resolve("staged").resolve(f"drop-$i%03d").toString)
      .select("doc_id", "text")
    val ((pairs, bands), mhNs) = nanos(Trace.span("llm.minhash")(
      Dedup.minhashNearDupsIncrementalWithBands(
        corpus.where(col("batch") < i).select("doc_id", "text"),
        index.where(col("batch") < i).select("id", "band", "bucket"),
        fresh, "doc_id", "text", 3, 96, 48, 0.5)))
    val (_, svNs) = nanos(Trace.span("llm.survivor")(Dedup.survivorAssignment(pairs).count()))
    // candidate pairs: distinct pairs sharing a (band, bucket) with at
    // least one side in the fresh batch — what the kernel had to verify
    val old = index.where(col("batch") < i).select(col("id").cast("long").as("id"), col("band"), col("bucket"))
    val both = bands.select(col("id").cast("long").as("id"), col("band"), col("bucket")).unionByName(old)
    val cands = bands.select(col("id").as("a"), col("band"), col("bucket"))
      .join(both.withColumnRenamed("id", "b"), Seq("band", "bucket"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("x"), greatest(col("a"), col("b")).as("y"))
      .distinct().count()
    (mhNs / 1e9, svNs / 1e9, cands, pairs.count())
  }

  def layerMetrics(spark: SparkSession): Seq[(String, Double, String)] = {
    val state = dir.resolve("live")
    val probes = drops.indices.map(i => probeDedup(spark, state, i))
    val cands = probes.map(_._3).sum
    val verified = probes.map(_._4).sum
    val dropPaths = drops.indices.map(i => dropFile(state, i).toString)
    val qualityS = (0 until 3).map(_ => Trace.span("functions.quality")(nanos(Writers.noop(
      spark.read.schema(Schema).json(dropPaths: _*)
        .selectExpr("graft_quality(text) AS q", "graft_token_count(text) AS n")))._2 / 1e9))
    val batches = Counters.current.batches.toArray(Array.empty[(Long, Long)]).toSeq
      .slice(batchMark, batchMark + drops.length)
    val (idxFiles, idxBytes) = dataFiles(state.resolve("index"))
    Seq(
      ("functions.quality_s", Stats.median(qualityS), "s"),
      ("llm.minhash_s", Stats.median(probes.map(_._1)), "s"),
      ("llm.survivor_s", Stats.median(probes.map(_._2)), "s"),
      ("llm.candidate_pairs", cands.toDouble, "count"),
      ("llm.verified_pairs", verified.toDouble, "count"),
      ("llm.useful_ratio", if (cands == 0) 0.0 else verified.toDouble / cands, "ratio"),
      ("streaming.batch_ms_p50", Stats.medianOr0(batches.map(_._1.toDouble)), "ms"),
      ("streaming.add_batch_ms_p50", Stats.medianOr0(batches.map(_._2.toDouble)), "ms"),
      ("streaming.overhead_ms_p50", Stats.medianOr0(batches.map(b => (b._1 - b._2).toDouble)), "ms"),
      ("streaming.index_rows", spark.read.parquet(state.resolve("index").toString).count().toDouble, "count"),
      ("streaming.index_files", idxFiles.toDouble, "count"),
      ("streaming.index_bytes", idxBytes.toDouble, "bytes"))
  }
}

object CurateIngest {
  /** `replay`: the warm-up replays drop 0 through its own state, and the
    * measured drop 0 must keep the same documents.
    */
  final case class Size(drops: Int, groups: Int, perGroup: Int, junk: Int, replay: Boolean)
  val Full = Size(drops = 6, groups = 4, perGroup = 100, junk = 5, replay = true)
  val Cross = Size(drops = 1, groups = 4, perGroup = 100, junk = 5, replay = false)

  sealed trait Kind
  case object Normal extends Kind
  case object Exact extends Kind
  case object Near extends Kind
  case object Junk extends Kind

  val Schema = "doc_id BIGINT, source STRING, text STRING"
  /** Keeps 380 of each group's 400 documents: exactly the 20 planted
    * low-quality ones go.
    */
  val Keep = "19/20"
  val Stopwords = Seq("the", "a", "and")
}
