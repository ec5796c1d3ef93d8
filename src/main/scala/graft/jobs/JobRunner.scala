package graft.jobs

import graft.etl.{ErrorTolerant, TextSource}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Per-file ok/err counting as an aggregate function, so it can ride a sink
  * write inside `Dataset.observe` — one pass, no cache, exactly-once metric
  * semantics (observed metrics ignore retried tasks). Output map is bounded
  * by the number of distinct input files, keyed "O|uri" / "E|uri".
  */
private[jobs] class PerFileCounter
    extends Aggregator[(String, Boolean), Map[String, Long], Map[String, Long]] {
  def zero: Map[String, Long] = Map.empty
  def reduce(m: Map[String, Long], row: (String, Boolean)): Map[String, Long] = {
    val k = (if (row._2) "E|" else "O|") + row._1
    m.updated(k, m.getOrElse(k, 0L) + 1L)
  }
  def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) }
  def finish(r: Map[String, Long]): Map[String, Long] = r
  def bufferEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  def outputEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
}

/** Error raised when a job's (or the manager's) error budget is exceeded —
  * the reference's `TooManyErrors` broadcast
  * (`etl-job/src/job_manager.rs:216-228`).
  */
final case class TooManyErrors(job: String, count: Long, budget: Long)
  extends RuntimeException(s"job $job: $count errors > budget $budget")

final case class JobRunnerConfig(maxErrors: Long = 1000)

/** Step-by-step pipeline runner over Spark actions — the reference
  * `JobRunner` (`etl-job/src/job.rs:318-643`): durable per-step state,
  * skip-if-complete, per-source ok/err counters, local + global error
  * budgets, fatal-error latch honored by `stopOnError` on later steps.
  *
  * The data plane stays 100% Spark (lazy DataFrames, distributed actions);
  * this class only decides *whether* to trigger an action and records what
  * happened — a thin driver-side state machine, exactly the role the
  * reference's tokio event loop played, minus the per-record pumping.
  */
final class JobRunner(
    val id: String,
    val name: String,
    store: SimpleStore,
    config: JobRunnerConfig = JobRunnerConfig(),
    manager: Option[JobManager] = None) {

  private val doc = JobState.docName(id, name)
  private var state: JobState =
    store.load(doc).map(JobState.fromJson).getOrElse(JobState.empty(id, name))
  private var errorsSoFar: Long = 0
  manager.foreach(_.register(this))

  def currentState: JobState = state
  private def save(): Unit = store.write(doc, JobState.toJson(state))
  private def now(): Long = System.currentTimeMillis()

  /** settings KV (`state.rs:40`, set_state/get_state semantics). */
  def setSetting(key: String, value: String): Unit = {
    state = state.copy(settings = state.settings + (key -> value)); save()
  }
  def getSetting(key: String): Option[String] = state.settings.get(key)
  def getSettingOrDefault(key: String, default: String): String = {
    state.settings.get(key) match {
      case Some(v) => v
      case None => setSetting(key, default); default
    }
  }

  private def checkBudgets(step: String, newErrors: Long): Unit = {
    errorsSoFar += newErrors
    manager.foreach(_.addErrors(newErrors))
    if (errorsSoFar > config.maxErrors)
      throw TooManyErrors(s"$id.$name", errorsSoFar, config.maxErrors)
    manager.foreach(_.checkGlobalBudget())
  }

  private def abortIfFatal(stopOnError: Boolean): Unit =
    if (stopOnError) state.fatalError.foreach { e =>
      throw new IllegalStateException(s"previous step failed fatally: $e")
    }

  /** Stream step over an error-tolerant decoded source: counts ok/err rows
    * (distributed, incl. per-input-file counts via lineage when present),
    * enforces the error budget, runs `write` over the good rows, records
    * output stats — `run_stream` (`job.rs:318-412`). Re-running a Complete
    * step skips the whole action (`job.rs:331-338`).
    *
    * Returns true if the step ran, false if skipped.
    */
  def runDecodedStream(step: String, decoded: ErrorTolerant.Decoded,
      sinkName: String, write: DataFrame => Long,
      stopOnError: Boolean = true): Boolean =
    runDecodedStreamLazy(step, decoded, sinkName, write, stopOnError)

  /** Same, with a by-name decoded source: nothing is forced (no schema
    * inference, no file listing) when the step skips as already Complete.
    */
  def runDecodedStreamLazy(step: String, decoded: => ErrorTolerant.Decoded,
      sinkName: String, write: DataFrame => Long,
      stopOnError: Boolean = true): Boolean = {
    if (state.isStreamComplete(step)) return false
    abortIfFatal(stopOnError)
    val started = now()
    // a retry of a previously Errored step must not re-charge the errors it
    // already charged to the budgets
    val previouslyCharged =
      state.streams.get(step).map(_.numErrors).getOrElse(0L)
    state = state.copy(streams = state.streams + (step ->
      StepStreamStatus(step, state.curStepIndex, JobState.InProgress, started,
        None, 0, 0, Map.empty, Nil, None)))
    save()
    var stepErrors = 0L
    val (total, written, perFile) = try {
      // Single pass, no cache: ok/err totals (and per-file counts when the
      // frame carries TextSource lineage) ride the sink write itself
      // as observed metrics — the pattern Transforms.copyPipeline uses. At
      // warehouse scale this is one scan of the input and zero cluster-wide
      // caching; the corrupt-record column is never projected on its own,
      // so file-backed permissive reads stay legal uncached.
      val dec = decoded
      val all = dec.all
      val hasLineage = TextSource.hasLineage(all)
      val corrupt = col(ErrorTolerant.CorruptCol)
      val obs = Observation(s"graft.$id.$name.$step")
      // over a parsed source, the xxhash64-over-all-columns metric pins
      // every column into the scan's required schema (count(struct(..))
      // would be folded away): corrupt-record detection is only defined
      // over a full-row parse — a pruned parse marks fewer rows corrupt —
      // and it keeps count()-style sinks legal over uncached permissive
      // reads (QUERY_ONLY_CORRUPT_RECORD_COLUMN). A source that parses
      // nothing has a literal corrupt column, so its scan stays pruned.
      val pin =
        if (dec.parsed) Seq(max(xxhash64(all.columns.map(col): _*)).as("_schema_pin"))
        else Nil
      val baseMetrics = Seq(
        sum(when(corrupt.isNull, 1L).otherwise(0L)).as("ok"),
        sum(when(corrupt.isNotNull, 1L).otherwise(0L)).as("err")) ++ pin
      val perFileUdaf = udaf(new PerFileCounter)
      val metrics =
        if (hasLineage)
          // key = full source URI: basenames collide across directories
          baseMetrics :+ perFileUdaf(col(TextSource.SourceCol), corrupt.isNotNull).as("per_file")
        else baseMetrics
      val observed = all.observe(obs, metrics.head, metrics.tail: _*)
      val written = write(ErrorTolerant.Decoded(observed).good)
      // `write` is contractually a Spark action over the frame; metrics are
      // published by an async listener just after the action completes, so
      // wait briefly rather than block forever if the contract was broken
      val m: Map[String, Any] =
        scala.util.Try(scala.concurrent.Await.result(
          obs.future, scala.concurrent.duration.Duration(30, "s")))
          .map(row => row.schema.fieldNames.zip(row.toSeq).toMap)
          .getOrElse(Map.empty)
      val (ok, err, perFile) =
        if (m.nonEmpty) {
          val pf = if (hasLineage)
            m("per_file").asInstanceOf[Map[String, Long]]
              .groupBy { case (k, _) => k.drop(2) }
              .map { case (f, kv) => f -> FileStatus(
                kv.collect { case (k, v) if k.startsWith("O|") => v }.sum,
                kv.collect { case (k, v) if k.startsWith("E|") => v }.sum) }
          else Map.empty[String, FileStatus]
          (Option(m("ok")).fold(0L)(_.asInstanceOf[Long]),
            Option(m("err")).fold(0L)(_.asInstanceOf[Long]), pf)
        } else {
          // fallback: `write` ran no action on the frame (nothing was
          // observed) — count in a separate pass
          val c = dec.counts
          (c._1, c._2, Map.empty[String, FileStatus])
        }
      stepErrors = err
      // budget check happens after the write's action completes (counts are
      // discovered *while* writing — same as the reference's incremental
      // stream, where output produced before the budget trips exists)
      checkBudgets(step, math.max(0L, err - previouslyCharged))
      (ok + err, written, perFile)
    } catch {
      case e: Throwable =>
        state = state.copy(
          fatalError = Some(e.getMessage),
          streams = state.streams + (step -> state.streams(step).copy(
            status = JobState.Error, finishedMs = Some(now()),
            numErrors = stepErrors, error = Some(e.getMessage))))
        save()
        throw e
    }
    // outside the try: a failed save of the Complete state propagates
    // without latching a fatal error, so a re-run simply redoes the step
    state = state.copy(
      curStepIndex = state.curStepIndex + 1,
      streams = state.streams + (step -> StepStreamStatus(step,
        state.curStepIndex, JobState.Complete, started, Some(now()),
        total, stepErrors, perFile, List(OutputStats(sinkName, written)), None)))
    save()
    true
  }

  /** Plain stream step: any DataFrame, no decode-error accounting. The
    * by-name parameter is only forced if the step actually runs.
    */
  def runStream(step: String, df: => DataFrame, sinkName: String,
      write: DataFrame => Long): Boolean =
    runDecodedStreamLazy(step, ErrorTolerant.unparsed(df), sinkName, write)

  /** Durable side-effect command step — `run_cmd` (`job.rs:606-643`) with
    * `stop_on_error` semantics (`state.rs:190-206`): a failing command marks
    * the job fatally errored; if `stopOnError` the *next* steps refuse to
    * run; otherwise execution continues.
    */
  def runCmd(step: String, stopOnError: Boolean = true)(cmd: => Unit): Boolean = {
    if (state.isCommandComplete(step)) return false
    abortIfFatal(stopOnError)
    val started = now()
    try cmd catch {
      case e: Throwable =>
        state = state.copy(
          fatalError = Some(e.getMessage),
          commands = state.commands + (step -> StepCommandStatus(step,
            state.curStepIndex, JobState.Error, started, Some(now()),
            Some(e.getMessage))))
        save()
        if (stopOnError) throw e
        return false
    }
    // outside the try, as in runDecodedStreamLazy
    state = state.copy(
      curStepIndex = state.curStepIndex + 1,
      commands = state.commands + (step -> StepCommandStatus(step,
        state.curStepIndex, JobState.Complete, started, Some(now()), None)))
    save()
    true
  }

  /** Detached concurrent output (`OutputTask`, `job.rs:433-451`): the action
    * runs on another driver thread while later steps proceed; `complete()`
    * joins all of them.
    */
  private val detached = scala.collection.mutable.ArrayBuffer
    .empty[(String, java.util.concurrent.Future[Long])]
  // recreated after complete() shuts it down, so a runner can keep
  // scheduling detached outputs across complete() cycles
  private var pool: java.util.concurrent.ExecutorService = null
  private def livePool(): java.util.concurrent.ExecutorService = {
    if (pool == null || pool.isShutdown)
      pool = java.util.concurrent.Executors.newCachedThreadPool()
    pool
  }

  def runOutputTask(taskName: String)(action: () => Long): Unit =
    detached += taskName -> livePool().submit(
      new java.util.concurrent.Callable[Long] { def call(): Long = action() })

  /** Structured run report as a DataFrame — the reference's CSV log sink
    * (`etl-core/src/utils/log.rs:82-136`, O8) reimagined as data: one row
    * per step with status/counters/timing, writable to any format and
    * queryable like everything else.
    */
  def runReport(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val streamRows = state.streams.values.map(s => (s.name, "stream", s.stepIndex,
      s.status, s.startedMs, s.finishedMs.getOrElse(-1L), s.totalLinesScanned,
      s.numErrors, s.outputs.map(_.linesWritten).sum))
    val cmdRows = state.commands.values.map(c => (c.name, "command", c.stepIndex,
      c.status, c.startedMs, c.finishedMs.getOrElse(-1L), 0L, 0L, 0L))
    (streamRows ++ cmdRows).toSeq.toDF("step", "kind", "step_index", "status",
      "started_ms", "finished_ms", "lines_scanned", "num_errors", "lines_written")
  }

  /** Join detached outputs, mark job completed — `complete()`
    * (`job.rs:280-314`). EVERY detached task is joined (a failure in one
    * does not leave later ones running unobserved); the first failure is
    * rethrown after all joins, state save, and pool shutdown.
    */
  def complete(): JobState = {
    val joined = detached.map { case (n, f) =>
      n -> scala.util.Try(f.get())
    }.toList
    detached.clear()
    if (joined.nonEmpty && pool != null) pool.shutdown()
    val outs = joined.collect { case (n, scala.util.Success(written)) =>
      OutputStats(n, written)
    }
    val failures = joined.collect { case (n, scala.util.Failure(e)) => n -> e }
    if (joined.nonEmpty) {
      state = state.copy(streams = state.streams + ("__detached__" ->
        StepStreamStatus("__detached__", state.curStepIndex,
          if (failures.isEmpty) JobState.Complete else JobState.Error,
          now(), Some(now()), outs.map(_.linesWritten).sum, failures.size,
          Map.empty, outs,
          failures.headOption.map { case (n, e) => s"$n: ${e.getMessage}" })))
    }
    save()
    manager.foreach(_.jobCompleted(this))
    failures.headOption.foreach { case (n, e) =>
      throw new IllegalStateException(s"detached output '$n' failed", e)
    }
    state
  }
}

/** Cross-job coordinator — the reference `JobManager`
  * (`etl-job/src/job_manager.rs:102-337`): aggregates error counts across
  * all registered runners and trips a global `TooManyErrors` once the shared
  * budget is exceeded.
  */
final class JobManager(globalMaxErrors: Long = 1000) {
  private val totalErrors = new java.util.concurrent.atomic.AtomicLong()
  private val jobs = scala.collection.mutable.ArrayBuffer.empty[JobRunner]

  def register(j: JobRunner): Unit = synchronized { jobs += j }
  def addErrors(n: Long): Unit = totalErrors.addAndGet(n)
  def errorCount: Long = totalErrors.get()
  def checkGlobalBudget(): Unit =
    if (totalErrors.get() > globalMaxErrors)
      throw TooManyErrors("GLOBAL", totalErrors.get(), globalMaxErrors)
  def jobCompleted(j: JobRunner): Unit = ()
}

/** Resume-at-index (`job.rs:484-511`): skip records already processed by a
  * prior partial run. Batch analog of the reference's fast-forward replay —
  * requires an explicit deterministic order column (at scale, "the Nth
  * record" only means something relative to a declared ordering; streaming
  * checkpoints are the preferred incremental path, see graft.streaming).
  */
object Resume {
  def atIndex(df: DataFrame, orderCol: String, index: Long): DataFrame =
    df.filter(col(orderCol) >= index)
}
