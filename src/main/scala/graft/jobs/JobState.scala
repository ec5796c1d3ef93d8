package graft.jobs

import org.json4s._
import org.json4s.jackson.Serialization

/** Durable job state — the reference's control-plane document
  * (`etl-job/src/job/state.rs:39-408`, `stream.rs:8-308`,
  * `command.rs:130-155`), mirrored field-for-field where meaningful:
  * per-step status with timestamps, per-source ok/err counts, output stats,
  * free-form settings, fatal-error latch. Persisted as
  * `{id}.{name}.job.json` (`state.rs:399-407`).
  */
final case class FileStatus(numOk: Long, numErr: Long)

final case class OutputStats(name: String, linesWritten: Long)

final case class StepStreamStatus(
    name: String,
    stepIndex: Int,
    status: String, // New | InProgress | Complete | Error
    startedMs: Long,
    finishedMs: Option[Long],
    totalLinesScanned: Long,
    numErrors: Long,
    files: Map[String, FileStatus],
    outputs: List[OutputStats],
    error: Option[String])

final case class StepCommandStatus(
    name: String,
    stepIndex: Int,
    status: String,
    startedMs: Long,
    finishedMs: Option[Long],
    error: Option[String])

final case class JobState(
    id: String,
    name: String,
    curStepIndex: Int,
    streams: Map[String, StepStreamStatus],
    commands: Map[String, StepCommandStatus],
    settings: Map[String, String],
    fatalError: Option[String]) {

  def isStreamComplete(step: String): Boolean =
    streams.get(step).exists(_.status == JobState.Complete)
  def isCommandComplete(step: String): Boolean =
    commands.get(step).exists(_.status == JobState.Complete)
}

object JobState {
  val New = "New"; val InProgress = "InProgress"
  val Complete = "Complete"; val Error = "Error"

  implicit val formats: Formats = Serialization.formats(NoTypeHints)

  def empty(id: String, name: String): JobState =
    JobState(id, name, 0, Map.empty, Map.empty, Map.empty, None)

  /** `gen_name` parity: `{id}.{name}.job.json` (`state.rs:399-407`). */
  def docName(id: String, name: String): String = s"$id.$name.job.json"

  def toJson(s: JobState): String = Serialization.writePretty(s)
  def fromJson(j: String): JobState = Serialization.read[JobState](j)
}

/** Whole-document KV store — the reference `SimpleStore<T>` trait
  * (`etl-core/src/datastore/simple.rs:3-19`): load / write small JSON docs
  * (job state, run artifacts). Driver-side, any Hadoop-visible FS.
  */
trait SimpleStore {
  def load(path: String): Option[String]
  def write(path: String, doc: String): Unit
}

/** Local/posix impl (`LocalFs` SimpleStore, `fs.rs:103-129`).
  *
  * A write goes to a temporary file beside the document and is then renamed
  * over it atomically, so a process killed mid-save leaves either the old
  * document or the new one, never a truncated one. A temporary file left by
  * such a kill never shadows the document `load` reads.
  */
final class LocalFsStore(root: String) extends SimpleStore {
  import java.nio.file.{Files, StandardCopyOption}
  private val dir = java.nio.file.Paths.get(root)
  Files.createDirectories(dir)
  override def load(path: String): Option[String] = {
    val p = dir.resolve(path)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8"))
    else None
  }
  override def write(path: String, doc: String): Unit = {
    val target = dir.resolve(path)
    val tmp = Files.createTempFile(target.getParent, s".${target.getFileName}.", ".tmp")
    try {
      Files.write(tmp, doc.getBytes("UTF-8"))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}

/** In-memory impl (the reference's Mock SimpleStore, `mock.rs:185-205`). */
final class InMemoryStore extends SimpleStore {
  private val m = scala.collection.concurrent.TrieMap.empty[String, String]
  override def load(path: String): Option[String] = m.get(path)
  override def write(path: String, doc: String): Unit = m.put(path, doc)
}
