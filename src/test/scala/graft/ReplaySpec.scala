package graft

import graft.llm.{AudioHash, ImageHash, VideoHash}
import graft.streaming.Pipelines
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Replay safety of the ingest engines. When a process dies after a
  * micro-batch's writes but before Spark records `commits/<n>`, the
  * restarted query re-runs batch n, and the re-run must see exactly the
  * state its first attempt saw. Each row runs two batches from a file
  * source, deletes the checkpoint's last commit, restarts, and requires
  * the output and the index to equal the uninterrupted run, with every id
  * written to one batch partition only.
  */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  /** One ingest loop: its two batches, how to start it over a stream with
    * its state under `base`, its output dir (holding `idCol`) and its
    * index as a reader resolves it. */
  private case class Loop(name: String, batches: () => (DataFrame, DataFrame),
      start: (DataFrame, String) => StreamingQuery, output: String,
      idCol: String, index: String => DataFrame)

  private def raw(dir: String): String => DataFrame =
    base => spark.read.parquet(s"$base/$dir")

  private val docA = (1 to 40).map(i => s"alpha$i").mkString(" ")
  private val docB = (1 to 40).map(i => s"beta$i").mkString(" ")
  private val docATrunc = (1 to 32).map(i => s"alpha$i").mkString(" ")
  private val docD = (1 to 40).map(i => s"delta$i").mkString(" ")

  private def texts() = (
    Seq((1L, docA), (2L, docB), (5L, docATrunc)).toDF("doc_id", "text"),
    Seq((7L, docATrunc), (8L, docD)).toDF("doc_id", "text"))

  private def survivor(name: String, batches: () => (DataFrame, DataFrame),
      idCol: String)(
      run: (DataFrame, String, String, String, String) => StreamingQuery) =
    Loop(name, batches,
      (s, b) => run(s, idCol, s"$b/corpus", s"$b/index", s"$b/ckpt"),
      "corpus", idCol, raw("index"))

  private val loops = Seq(
    survivor("nearDupIngest", texts, "doc_id")(
      Pipelines.nearDupIngest(_, _, "text", _, _, _)),
    survivor("winnowIngest", texts, "doc_id")(
      Pipelines.winnowIngest(_, _, "text", _, _, _)),
    survivor("fuzzyDedupIngest", () => (
      Seq((1L, "the quick brown fox jumps"),
        (2L, "an entirely different key!!"),
        (5L, "the quick briwn fox jumps")).toDF("rec_id", "key"),
      Seq((7L, "the quick brown fox jumpz"),
        (8L, "another novel key entirely")).toDF("rec_id", "key")),
      "rec_id")(Pipelines.fuzzyDedupIngest(_, _, "key", _, _, _)),
    survivor("imageDedupIngest", () => (
      Seq((1L, ImageHash.synthPng(100L, 64, 48)),
        (2L, ImageHash.synthPng(200L, 64, 48)),
        (5L, ImageHash.synthJpeg(100L, 96, 72))).toDF("media_id", "media"),
      Seq((7L, ImageHash.synthJpeg(200L, 96, 72)),
        (8L, ImageHash.synthPng(300L, 64, 48)),
        (9L, Array[Byte](1, 2, 3))).toDF("media_id", "media")),
      "media_id")(Pipelines.imageDedupIngest(_, _, "media", _, _, _)),
    survivor("audioDedupIngest", () => (
      Seq((1L, AudioHash.synthWav(100L, 44100)),
        (2L, AudioHash.synthWav(200L, 44100)),
        (5L, AudioHash.synthWav(100L, 22050, volumeMilli = 700)))
        .toDF("media_id", "media"),
      Seq((7L, AudioHash.synthWav(200L, 22050, channels = 2)),
        (8L, AudioHash.synthWav(300L, 44100))).toDF("media_id", "media")),
      "media_id")(Pipelines.audioDedupIngest(_, _, "media", _, _, _)),
    survivor("videoDedupIngest", () => (
      Seq((1L, VideoHash.synthGif(5L, 64, 48, 4)),
        (2L, VideoHash.synthGifSlice(5L, 96, 72, 1, 4)),
        (9L, "junk".getBytes)).toDF("media_id", "media"),
      Seq((3L, VideoHash.synthGifSlice(5L, 96, 72, 0, 3)),
        (4L, VideoHash.synthGif(6L, 64, 48, 4))).toDF("media_id", "media")),
      "media_id")(Pipelines.videoDedupIngest(_, _, "media", _, _, _)),
    // the delta engine: two outputs per batch, nothing read back
    Loop("suppressIngest", () => (
      Seq((1L, "z1", "a"), (2L, "z9", "c"), (3L, null: String, "a"))
        .toDF("id", "zip", "age"),
      Seq((4L, "z1", "a"), (5L, null: String, "a")).toDF("id", "zip", "age")),
      (s, b) => Pipelines.suppressIngest(s, Seq("zip", "age"), s"$b/rows",
        s"$b/counts", s"$b/ckpt"),
      "rows", "id", raw("counts")),
    // the indexed engine: batch 1 compacts batch 0's delta into a base
    Loop("tfidfIngest (compaction batch)", () => (
      Seq((1L, "alpha beta shared shared"), (2L, "gamma delta shared"),
        (3L, "alpha epsilon zeta")).toDF("doc_id", "text"),
      Seq((4L, "alpha beta gamma"), (5L, "shared shared theta"))
        .toDF("doc_id", "text")),
      (s, b) => Pipelines.tfidfIngest(s, "doc_id", "text", s"$b/kw",
        s"$b/index", s"$b/ckpt", k = 3, compactEvery = 2),
      "kw", "doc_id", b => Pipelines.readTermDfIndex(spark, s"$b/index")))

  /** Rows as comparable values, sorted (binary cells by content). */
  private def image(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v })
      .sortBy(_.mkString("\u0001"))

  loops.foreach { loop =>
    test(s"a replayed batch rewrites what its first attempt wrote: ${loop.name}") {
      val base = Files.createTempDirectory("graft_replay").toString
      val (b1, b2) = loop.batches()
      def drop(i: Int, df: DataFrame): Unit = {
        val staged = s"$base/staged$i"
        df.coalesce(1).write.parquet(staged)
        val part = new java.io.File(staged).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.createDirectories(Paths.get(s"$base/in"))
        Files.move(part.toPath, Paths.get(s"$base/in/b$i.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
      }
      def start(): StreamingQuery = loop.start(
        spark.readStream.schema(b1.schema).parquet(s"$base/in/*.parquet"), base)
      def state() = (image(spark.read.parquet(s"$base/${loop.output}")),
        image(loop.index(base)))

      drop(1, b1)
      val q = start()
      try {
        q.processAllAvailable()
        drop(2, b2)
        q.processAllAvailable()
      } finally q.stop()
      val uninterrupted = state()

      // the process died after batch 1's writes, before its commit
      val commit = Paths.get(s"$base/ckpt/commits/1")
      assert(Files.deleteIfExists(commit), "batch 1 never committed")
      Files.deleteIfExists(Paths.get(s"$base/ckpt/commits/.1.crc"))
      val replay = start()
      try replay.processAllAvailable() finally replay.stop()
      assert(Files.exists(commit), "the restart did not replay batch 1")

      assert(state() === uninterrupted)
      val perId = spark.read.parquet(s"$base/${loop.output}")
        .groupBy(col(loop.idCol)).agg(countDistinct(col("batch")).as("n"))
      assert(perId.filter($"n" =!= 1).count() === 0,
        "an id was written by more than one batch")
    }
  }
}
