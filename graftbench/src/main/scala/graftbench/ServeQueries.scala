package graftbench

import java.nio.file.Path
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import graft.Tables
import graft.queries.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Interactive queries against the warehouse: closed-loop clients, each
  * sending a seeded, fixed-length sequence of [[ServeQueries.Mix]] queries
  * from `Relational` over read-only tables generated from the seed. Nothing
  * is written while the clients run.
  */
final class ServeQueries(seed: Long, size: ServeQueries.Size) extends Workload {
  import ServeQueries._
  import Workload._

  val name = "serve_queries"

  private val names = {
    val missing = Mix.filterNot(Relational.queries.contains)
    require(missing.isEmpty, s"queries missing from Relational: ${missing.mkString(", ")}")
    Mix.sorted
  }
  private var dir: String = _
  private var digests: Map[String, String] = Map.empty
  private var window: Option[(Counters.Snap, Int)] = None

  def generate(spark: SparkSession, d: Path): Unit = {
    dir = d.resolve("warehouse").toString
    Warehouse.write(spark, dir, size.scale, seed)
  }

  /** One call: build the query, plan it, run it, digest the rows. */
  private def call(spark: SparkSession, q: String): String = {
    val df: DataFrame = Trace.span("queries.plan") {
      val df = Relational.queries(q)(spark, dir)
      df.queryExecution.executedPlan
      df
    }
    val rows = Trace.span("queries.exec")(df.collect())
    digest(rows.map(_.toString))
  }

  /** Each client's call sequence: seeded permutations of the pack, cut to
    * `calls` entries.
    */
  private def sequence(client: Int, calls: Int): Seq[String] = {
    val rnd = new SplittableRandom(seed * 31 + client)
    Iterator.continually(shuffle(names, rnd)).flatten.take(calls).toSeq
  }

  /** Runs `body(client)` on `size.clients` threads at once. */
  private def clients[T](body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(size.clients)
    try pool.invokeAll((0 until size.clients).map { c =>
      new Callable[T] { def call(): T = body(c) }
    }.asJava).asScala.map(_.get()).toSeq
    finally pool.shutdown()
  }

  def warmup(spark: SparkSession): Unit = {
    val drift = Tables.schemaDrift(spark, dir)
    require(drift.isEmpty, s"generated tables drift from Tables.ExpectedSchemas: $drift")
    // one call of every query per client; both clients must agree
    val seen = clients(c => shuffle(names, new SplittableRandom(seed + c)).map(q => q -> call(spark, q)))
    val byQuery = seen.flatten.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val split = byQuery.filter(_._2.size != 1).keys
    require(split.isEmpty, s"warm-up clients disagree on ${split.mkString(", ")}")
    digests = byQuery.view.mapValues(_.head).toMap
  }

  def measure(spark: SparkSession, traced: Int => Boolean): Measured = {
    val drift = Tables.schemaDrift(spark, dir)
    val s0 = Counters.current.snapshot()
    val t0 = System.nanoTime()
    val perClient = clients { c =>
      sequence(c, size.callsPerClient).zipWithIndex.map { case (q, i) =>
        val (d, ns) = Trace.op(c * 100000 + i, traced(i))(nanos(scala.util.Try(call(spark, q))))
        (q, d, ns, traced(i))
      }
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val all = perClient.flatten
    window = Some((Counters.current.snapshot() - s0, all.length))
    val failures = all.flatMap { case (q, d, _, _) =>
      attempt(q) {
        val x = d.get
        check(x == digests(q), s"result digest $x differs from its warm-up digest ${digests(q)}")
      }
    } ++ attempt("tables")(check(drift.isEmpty, s"schema drift: ${drift.mkString("; ")}"))
    Measured(all.map(_._1), all.map(_._3 / 1e6), all.map(_._4), all.length.toDouble, elapsedS,
      all.length + 1, failures)
  }

  def layerMetrics(spark: SparkSession): Seq[(String, Double, String)] = {
    val (w, calls) = window.get
    Seq(
      ("queries.plan_ms_p50", Stats.medianOr0(Trace.durations("queries.plan")), "ms"),
      ("queries.exec_ms_p50", Stats.medianOr0(Trace.durations("queries.exec")), "ms"),
      ("queries.jobs_per_call", w.jobs.toDouble / calls, "count"),
      ("queries.tasks_per_call", w.tasks.toDouble / calls, "count"),
      ("queries.shuffle_bytes_per_call", w.shufW.toDouble / calls, "bytes"))
  }
}

object ServeQueries {
  final case class Size(scale: Double, clients: Int, callsPerClient: Int)
  /** Five passes over the mix per client, 100 timed calls: every run calls
    * each query equally often, and a seed only changes the order.
    */
  val Full = Size(scale = 0.1, clients = 2, callsPerClient = 50)
  val Cross = Size(scale = 0.1, clients = 2, callsPerClient = 10)

  /** The serving mix: the 10 `Relational` queries with the shortest warm
    * service time over the scale-0.1 warehouse, two clients at once on 4
    * cores (median 0.25–0.52 s per call, a 2× band; the rest of the pack
    * takes 0.55–3.6 s, and `q36_profile` 49 s), none of which reads a
    * session memo. Slower pack members would lengthen the run's warm-up
    * and make its length hinge on a few calls.
    */
  val Mix: Seq[String] = Seq(
    "q10_topk", "q17_string_funcs", "q11_distinct", "q2_filter_project", "q40_saltplan",
    "q22_percentiles", "q6_anti_join", "q31_range_join", "q27_union", "q24_pivot")

  def shuffle[T](xs: Seq[T], rnd: SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  def digest(rows: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
