package graft.jobs

import graft.etl.{ErrorTolerant, Transforms}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
    * step skips the whole action (`job.rs:331-338`), and the by-name
    * `decoded` is then never forced (no schema inference, no file listing).
    *
    * Returns true if the step ran, false if skipped.
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
      // Single pass, no cache: the decode metrics (ok/err totals, per-file
      // counts under lineage) ride the sink write itself as observed
      // metrics, one scan of the input.
      val dec = decoded
      val (written, observed) = Transforms.observed(dec.all, dec.metrics)(
        df => write(dec.copy(all = df).good))
      // The observation completes empty only when the write never read the
      // source (its transforms filter everything, e.g. `1 = 0`, or replace
      // the frame): count the source apart.
      val (ok, err, perFile) = dec.tally(if (observed.nonEmpty) observed else dec.measure())
      stepErrors = err
      // budget check happens after the write's action completes (counts are
      // discovered *while* writing — same as the reference's incremental
      // stream, where output produced before the budget trips exists)
      checkBudgets(step, math.max(0L, err - previouslyCharged))
      (ok + err, written, perFile.map { case (f, (o, e)) => f -> FileStatus(o, e) })
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
    failures.headOption.foreach { case (n, e) =>
      throw new IllegalStateException(s"detached output '$n' failed", e)
    }
    state
  }
}

/** Cross-job coordinator — the reference `JobManager`
  * (`etl-job/src/job_manager.rs:102-337`): aggregates error counts across
  * the runners that share it and trips a global `TooManyErrors` once the
  * shared budget is exceeded.
  */
final class JobManager(globalMaxErrors: Long = 1000) {
  private val totalErrors = new java.util.concurrent.atomic.AtomicLong()

  def addErrors(n: Long): Unit = totalErrors.addAndGet(n)
  def errorCount: Long = totalErrors.get()
  def checkGlobalBudget(): Unit =
    if (totalErrors.get() > globalMaxErrors)
      throw TooManyErrors("GLOBAL", totalErrors.get(), globalMaxErrors)
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
