package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** What one measured phase produced. `work` counts the workload's unit of
  * throughput (input lines, documents, calls) over `elapsedS` seconds.
  */
final case class Measured(labels: Seq[String], latenciesMs: Seq[Double],
    traced: Seq[Boolean], work: Double, elapsedS: Double, attempted: Int,
    failures: Seq[String])

/** One benchmark workload: seed-derived inputs, a fixed-work warm-up, a
  * fixed-work measured phase with its correctness checks, and the layer
  * metrics its traced operations yield.
  */
trait Workload {
  def name: String

  /** Write the run's inputs under `dir`; the same seed gives the same
    * inputs.
    */
  def generate(spark: SparkSession, dir: Path): Unit

  def warmup(spark: SparkSession): Unit

  /** Run the fixed work; operation `i` records spans when `traced(i)`. */
  def measure(spark: SparkSession, traced: Int => Boolean): Measured

  /** Layer metrics of this workload's traced operations, after running any
    * extra layer calls it needs (outside the end-to-end timing).
    */
  def layerMetrics(spark: SparkSession): Seq[(String, Double, String)]
}

object Workload {
  /** `full`: the workload's own run; otherwise the shorter pass a traced
    * run of another workload makes to measure this one's layers.
    */
  def apply(name: String, seed: Long, full: Boolean): Workload = name match {
    case "etl_merge" => new EtlMerge(seed, if (full) EtlMerge.Full else EtlMerge.Cross)
    case "curate_ingest" =>
      new CurateIngest(seed, if (full) CurateIngest.Full else CurateIngest.Cross)
    case "serve_queries" =>
      new ServeQueries(seed, if (full) ServeQueries.Full else ServeQueries.Cross)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val names: Seq[String] = Seq("etl_merge", "curate_ingest", "serve_queries")

  def nanos[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  /** Runs one operation's checks: None if they pass, else one message for
    * the failed operation. An exception counts as a failed check.
    */
  def attempt(what: String)(body: => Seq[String]): Option[String] =
    (try body
    catch { case e: Throwable => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}") }) match {
      case Nil => None
      case msgs => Some(s"$what: ${msgs.mkString("; ")}")
    }

  def check(ok: Boolean, msg: => String): Seq[String] = if (ok) Nil else Seq(msg)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }

  /** (files, bytes) of the data files below `p`, skipping Spark's hidden
    * marker and checksum files.
    */
  def dataFiles(p: Path): (Int, Long) = {
    if (!Files.exists(p)) (0, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot { f =>
          val n = f.getFileName.toString
          n.startsWith(".") || n.startsWith("_")
        }.toSeq
      (fs.size, fs.map(Files.size).sum)
    }
  }
}
