package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import graft.GraftSession
import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession

/** Benchmark runner: one workload per process on one local Spark session.
  *
  * Set-up creates the session, runs a first job, generates the seed-derived
  * inputs and runs the workload's fixed-work warm-up; `setup_s` is the time
  * from JVM start to the end of the warm-up, the first timed operation
  * following it. The measured phase then does the workload's fixed work.
  * With `--trace 1` the measured operations alternate traced and untraced,
  * and the other workloads run a shorter traced pass after it, so every
  * layer metric is measured in every traced run.
  *
  * Usage: Main --workload <name> --seed <n> --trace <0|1> --work <dir>
  *             --out <result.json> [--cores <n>]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val cores = opts.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    require(Workload.names.contains(workload), s"unknown workload: $workload")
    val result =
      try run(workload, seed, trace, work, cores)
      finally SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    Files.write(out, result.getBytes(UTF_8))
    if (trace) Files.write(out.resolveSibling(out.getFileName.toString + ".spans.json"),
      Trace.toJson.getBytes(UTF_8))
  }

  private def secs(ns: Long) = ns / 1e9

  private def run(workload: String, seed: Long, trace: Boolean, work: Path,
      cores: Int): String = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = Workload(workload, seed, full = true)
    Trace.phase = workload
    val (spark, createNs) = Workload.nanos {
      val s = GraftSession.local(cores, "graftbench")
      GraftFunctions.register(s)
      s
    }
    val (_, firstNs) = Workload.nanos(spark.range(0, 1000, 1, cores).selectExpr("sum(id)").collect())
    val dir = work.resolve(workload)
    Workload.deleteTree(dir)
    val (_, genNs) = Workload.nanos(wl.generate(spark, Files.createDirectories(dir)))
    val (_, warmNs) = Workload.nanos(wl.warmup(spark))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setup = Map("setup_s" -> setupS, "create_s" -> secs(createNs),
      "first_job_s" -> secs(firstNs), "gen_s" -> secs(genNs), "warmup_s" -> secs(warmNs))

    val counters = new Counters(spark)
    val sampler = new java.util.Timer("heap-sampler", true)
    sampler.schedule(new java.util.TimerTask { def run(): Unit = counters.sampleHeap() }, 0L, 200L)
    val s0 = counters.snapshot()
    val m = wl.measure(spark, i => trace && i % 2 == 0)
    val window = counters.snapshot() - s0

    val lat = m.latenciesMs
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", m.work / m.elapsedS, "1/s"),
      ("latency_p50_ms", Stats.quantile(lat, 0.5), "ms"),
      ("latency_p90_ms", Stats.quantile(lat, 0.9), "ms"))

    var attempted = m.attempted
    var failures = m.failures
    val layers = if (!trace) Nil else {
      val own = wl.layerMetrics(spark)
      val tracedLat = lat.zip(m.traced).collect { case (l, true) => l }
      val plainLat = lat.zip(m.traced).collect { case (l, false) => l }
      val session = Seq(
        ("session.create_s", secs(createNs), "s"),
        ("session.first_job_s", secs(firstNs), "s"),
        ("bench.gen_s", secs(genNs), "s"),
        ("bench.warmup_s", secs(warmNs), "s"),
        ("trace.overhead_share", Stats.median(tracedLat) / Stats.median(plainLat) - 1, "ratio"))
      // the other workloads' layers, from a shorter all-traced pass each
      val others = Workload.names.filterNot(_ == workload).flatMap { name =>
        val o = Workload(name, seed, full = false)
        Trace.phase = name
        val dir = work.resolve(s"$name-cross")
        Workload.deleteTree(dir)
        o.generate(spark, Files.createDirectories(dir))
        o.warmup(spark)
        val om = o.measure(spark, _ => true)
        attempted += om.attempted
        failures ++= om.failures.map(f => s"[$name] $f")
        val metrics = o.layerMetrics(spark)
        Workload.deleteTree(dir)
        metrics
      }
      Trace.phase = workload
      session ++ own ++ counters.layerMetrics(window, cores) ++ others
    }
    counters.close()
    sampler.cancel()

    def metricMap(ms: Seq[(String, Double, String)]) =
      scala.collection.immutable.ListMap(ms.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u)
      }: _*)
    Json.obj(
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> trace,
      "cores" -> cores,
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.take(50),
      "metrics" -> metricMap(endToEnd ++ layers),
      "samples" -> Map("latency" -> lat.size, "traced" -> m.traced.count(identity),
        "work" -> m.work, "elapsed_s" -> m.elapsedS),
      "setup" -> setup,
      "ops" -> m.labels.zip(lat).map { case (l, ms) => Seq(l, ms) })
  }
}
