package graft.config

import graft.etl.{ErrorTolerant, TextSource, Writers}
import graft.jobs.{JobManager, JobRunner, JobRunnerConfig, JobState, SimpleStore}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import scala.util.control.NonFatal

/** Declarative pipeline construction — the reference's config-driven surface
  * (`CreateDataSource`/`CreateDataOutput`, `etl-core/src/datastore/
  * mod.rs:146-164`; `load_toml` with autocreate, `fs.rs:150-181`, C10)
  * re-expressed as a JSON document that compiles onto the existing
  * constructors: a `source` builds an error-tolerant `Decoded`, `transforms`
  * are Spark SQL expressions and named curation ops (Catalyst-optimizable —
  * never opaque lambdas), and a `sink` is one of the `Writers`. Steps execute
  * through `JobRunner`, so declared pipelines get durable state,
  * skip-if-complete, and error budgets for free.
  *
  * ```json
  * { "id": "j1", "name": "ingest", "maxErrors": 100,
  *   "steps": [
  *     { "step": "decode", "kind": "stream",
  *       "source": { "type": "json_files", "paths": ["in/drop-0.ndjson"],
  *                   "schema": "name STRING, id STRING" },
  *       "transforms": [ { "op": "filter", "expr": "id IS NOT NULL" },
  *                       { "op": "withColumn", "name": "k",
  *                         "expr": "upper(name)" } ],
  *       "sink": { "type": "parquet", "path": "out/decoded" } },
  *     { "step": "publish", "kind": "command", "sql": "SELECT 1" } ] }
  * ```
  *
  * A third kind, `"ingest"`, declares a STREAMING loop: the step starts the
  * named pipeline over a file-watching readStream, drains every available
  * micro-batch, and stops — loop memory lives in the sink's
  * `options.checkpoint`/`options.index` dirs, so re-running the config
  * resumes mid-stream without replay.
  *
  * The contract: transform ops live in one registry (`transforms`), ingest
  * loops in another (`ingestLoops`). Each entry reads and checks everything
  * it takes from its conf, then returns the function that does the Spark
  * work. [[parse]] binds every step with the same binders [[run]] executes,
  * so a bad config fails at parse time, naming the step and the op or type,
  * before any step has committed state.
  */
object PipelineConfig {

  final case class SourceConf(
      `type`: String,
      paths: Seq[String] = Nil,
      schema: Option[String] = None,
      options: Map[String, String] = Map.empty,
      lines: Seq[String] = Nil,
      query: Option[String] = None,
      table: Option[String] = None)

  final case class TransformConf(
      op: String,
      expr: Option[String] = None,
      name: Option[String] = None,
      cols: Seq[String] = Nil)

  final case class SinkConf(
      `type`: String,
      path: Option[String] = None,
      mode: String = "overwrite",
      options: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil)

  final case class StepConf(
      step: String,
      kind: String = "stream",
      source: Option[SourceConf] = None,
      transforms: Seq[TransformConf] = Nil,
      sink: Option[SinkConf] = None,
      sql: Option[String] = None,
      stopOnError: Boolean = true)

  final case class PipelineConf(
      id: String,
      name: String,
      maxErrors: Long = 1000,
      steps: Seq[StepConf] = Nil)

  private implicit val formats: Formats = DefaultFormats

  /** Extract a conf and bind every step: a config that cannot run fails
    * here, with a message naming the step and the op or type.
    */
  def parse(json: String): PipelineConf = {
    val conf = JsonMethods.parse(json).extract[PipelineConf]
    compile(conf)
    conf
  }

  def toJson(conf: PipelineConf): String = Serialization.writePretty(conf)

  /** `load_toml` parity (`fs.rs:150-181`): read a config file; when missing
    * and `autocreate`, write a default skeleton and return it.
    */
  def load(path: String, autocreate: Boolean = false): PipelineConf = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    else if (autocreate) {
      val cfg = PipelineConf(id = "job-id", name = "job-name")
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, toJson(cfg).getBytes("UTF-8"))
      cfg
    } else sys.error(s"Error opening configuration file: $path")
  }

  // ---- binding helpers: every config error is raised through these ----

  private def bad(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** The op's `cols`, which must match `names` one to one. */
  private def cols(t: TransformConf, names: String*): Seq[String] =
    if (t.cols.length == names.length) t.cols
    else bad(s"${t.op} needs cols = [${names.mkString(", ")}], " +
      s"got ${t.cols.mkString("[", ", ", "]")}")

  /** The op's `cols`, at least `n` of them (`what` describes the list). */
  private def colsAtLeast(t: TransformConf, n: Int, what: String): Seq[String] =
    if (t.cols.length >= n) t.cols
    else bad(s"${t.op} needs cols = $what, got ${t.cols.mkString("[", ", ", "]")}")

  private def exprOf(t: TransformConf, what: String): String =
    t.expr.getOrElse(bad(s"${t.op} needs expr = $what"))

  private def nameOf(t: TransformConf, what: String): String =
    t.name.getOrElse(bad(s"${t.op} needs name = $what"))

  /** One numeric (or boolean) param, parsed by `f`; `what` names it. */
  private def numeric[A](t: TransformConf, what: String, s: String)(f: String => A): A =
    try f(s.trim) catch {
      case _: IllegalArgumentException =>
        bad(s"${t.op}: $what must be a number, got '$s'")
    }

  /** A `name` mode chosen from `allowed`; absent → `allowed.head`. */
  private def mode(t: TransformConf, allowed: String*): String = {
    val m = t.name.getOrElse(allowed.head)
    if (allowed.contains(m)) m
    else bad(s"${t.op} name must be ${allowed.mkString("|")}, got '$m'")
  }

  /** "key:weight" items → ordered (key, weight) pairs. */
  private def weights[A](t: TransformConf, items: Seq[String])(f: String => A): Seq[(String, A)] =
    items.map(_.trim).map { p =>
      p.split(":") match {
        case Array(k, w) => k.trim -> numeric(t, s"weight of '${k.trim}'", w)(f)
        case _ => bad(s"${t.op}: '$p' is not key:weight")
      }
    }

  /** "num/den" → (num, den). */
  private def fraction(t: TransformConf, what: String, s: String): (Long, Long) =
    s.split("/") match {
      case Array(n, d) => (numeric(t, what, n)(_.toLong), numeric(t, what, d)(_.toLong))
      case _ => bad(s"${t.op} needs $what = num/den, got '$s'")
    }

  /** A comma list; blank or absent → Nil. */
  private def tokens(s: Option[String]): Seq[String] =
    s.map(_.trim).filter(_.nonEmpty).toSeq.flatMap(_.split(",")).map(_.trim)

  /** An op's positional comma-list params (`expr = "20,3,16"`), named by
    * `spec` ("spanTokens,maxDf,compactEvery") in errors. A missing param
    * takes its default; more values than names, or a value that does not
    * parse, fails the bind.
    */
  private final class Params(t: TransformConf, field: String, spec: String,
      ps: Seq[String], usage: String) {
    private val names = spec.split(",").filter(_.nonEmpty)
    if (ps.length > names.length)
      bad(s"${t.op} takes $field = $usage, got '${ps.mkString(",")}'")
    private def at[A](i: Int, default: => A)(f: String => A): A =
      ps.lift(i).fold(default)(p => numeric(t, names(i), p)(f))
    private def missing(i: Int): Nothing =
      bad(s"${t.op} needs ${names(i)} in $field = $usage")
    def int(i: Int, default: => Int): Int = at(i, default)(_.toInt)
    def int(i: Int): Int = int(i, missing(i))
    def long(i: Int, default: => Long): Long = at(i, default)(_.toLong)
    def double(i: Int, default: => Double): Double = at(i, default)(_.toDouble)
    def double(i: Int): Double = double(i, missing(i))
    def bool(i: Int, default: => Boolean): Boolean = at(i, default)(_.toBoolean)
    def str(i: Int, default: String): String = ps.lift(i).getOrElse(default)
  }

  private def exprParams(t: TransformConf, spec: String) =
    new Params(t, "expr", spec, tokens(t.expr), spec)
  private def nameParams(t: TransformConf, spec: String) =
    new Params(t, "name", spec, tokens(t.name), spec)

  /** The forget/recompute ops' shared conf: `name` = the loop's index dir;
    * `expr` = the op's params plus an optional `persist` token, which folds
    * the corrected state durably (the loop must be stopped) instead of only
    * returning it.
    */
  private final class Forget(t: TransformConf, spec: String) {
    val indexDir: String = nameOf(t, "indexDir")
    private val toks = tokens(t.expr)
    val persist: Boolean = toks.contains("persist")
    val params = new Params(t, "expr", spec, toks.filterNot(_ == "persist"),
      (spec.split(",").filter(_.nonEmpty) :+ "persist").mkString(","))
  }

  /** In-plan id-uniqueness tripwire for ops that rejoin derived columns by
    * id (`span_removal`, `para_dedup`): a duplicate id would silently
    * multiply rows through the join, so fold a per-id window count into the
    * id column itself — `raise_error` names the offending id at execution.
    * Riding inside the retained id column keeps Catalyst from pruning the
    * check, and the window's hash partitioning is the same key the rejoin
    * shuffles on, so the marginal cost is a per-partition sort, not an
    * extra shuffle of the wide side.
    */
  private def assertUniqueIds(d: DataFrame, idc: String, op: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idc))
    d.withColumn(idc,
      when(count(lit(1)).over(w) > 1,
        raise_error(concat(lit(s"$op: duplicate values in id column '$idc'" +
          " (the rejoin requires unique ids); e.g. id = "),
          col(idc).cast("string"))))
        .otherwise(col(idc)))
  }

  /** The in-place cleaners' rejoin: `cleaned` (id, clean_text, stats…)
    * replaces the text column of `d` by id. idCol must uniquely identify
    * rows (enforced in-plan); a stat named like an existing column gets
    * `suffix`, e.g. when the op is applied twice.
    */
  private def rejoinCleaned(op: String, d: DataFrame, cleaned: DataFrame,
      idc: String, c: String, stats: Seq[String], suffix: String): DataFrame = {
    val rest = assertUniqueIds(d.drop(c), idc, op)
    stats.foldLeft(cleaned.withColumnRenamed("clean_text", c)) { (acc, n) =>
      if (rest.columns.contains(n)) acc.withColumnRenamed(n, n + suffix)
      else acc
    }.join(rest, Seq(idc))
  }

  /** The filter|annotate ops' two forms: join every signal column of
    * `signals` (keyed by `idc`) onto `d`, or keep only `d`'s rows whose
    * signals satisfy `keep`.
    */
  private def gate(m: String, d: DataFrame, idc: String, signals: DataFrame,
      keep: org.apache.spark.sql.Column): DataFrame =
    if (m == "annotate") d.join(signals, Seq(idc))
    else d.join(signals.filter(keep).select(col(idc)), Seq(idc), "left_semi")

  /** Keep only `d`'s rows whose binary column decodes (`ids` = the
    * decoder's (id, decoded, …) frame).
    */
  private def decodedOnly(d: DataFrame, idc: String, ids: DataFrame): DataFrame = {
    val ok = ids.filter(col("decoded")).select(col("id"))
    d.join(ok, d(idc).cast("long") === ok("id"), "left_semi")
  }

  private type Bind = TransformConf => DataFrame => DataFrame
  private def op(name: String)(bind: Bind): (String, Bind) = name -> bind

  /** The transform registry: op name → binder. */
  private val transforms: Map[String, Bind] = Map(
    op("filter") { t => val e = exprOf(t, "predicate"); _.filter(e) },
    op("withColumn") { t =>
      val (n, e) = (nameOf(t, "output column"), exprOf(t, "SQL expression"))
      _.withColumn(n, expr(e))
    },
    op("select") { t =>
      if (t.cols.nonEmpty) _.select(t.cols.map(col): _*)
      else { val e = t.expr.getOrElse(bad("select needs cols or expr")); _.selectExpr(e) }
    },
    op("drop") { t => _.drop(t.cols: _*) },
    // schema-generic key_values flatten (E3): cols = the id columns kept
    op("unpivot") { t => graft.etl.Transforms.unpivot(_, t.cols) },
    op("repartition") { t =>
      val n = t.expr.map(s => numeric(t, "partitions", s)(_.toInt))
      d => d.repartition(n.getOrElse(d.sparkSession.sparkContext.defaultParallelism))
    },

    // ---- curation vocabulary: the LLM-data operators, declarable ----
    // exact dedup keeping min-id survivor ROWS: cols = [idCol, contentCol]
    op("dedup_exact") { t =>
      val Seq(idc, cc) = cols(t, "idCol", "contentCol")
      d =>
        // a NULL id cannot name a survivor — min() over an all-NULL
        // group is NULL and the null-safe join would then keep EVERY
        // row of that group. Fail loudly at evaluation, zero extra jobs.
        val dd = d.withColumn(idc, when(col(idc).isNull,
          raise_error(lit(s"dedup_exact: NULL value in id column '$idc'")))
          .otherwise(col(idc)))
        val surv = dd.groupBy(md5(col(cc)).as("__k"))
          .agg(min(col(idc)).as("__sid"))
        // null-safe on the CONTENT side: NULL content is a legitimate
        // dedup group (its min-id row must survive), and === would
        // silently drop every such row
        dd.join(surv,
          md5(col(cc)) <=> col("__k") && col(idc) === col("__sid"),
          "left_semi")
    },
    // per-group quality gate: cols = [groupCol, idCol],
    // expr = score SQL expression, name = "keepNum/keepDen"
    op("quality_gate") { t =>
      val Seq(g, idc) = cols(t, "groupCol", "idCol")
      val (num, den) = fraction(t, "name", t.name.getOrElse("3/4"))
      val score = exprOf(t, "score SQL expression")
      graft.llm.Selection.topFractionByScore(_, g, expr(score), idc, num, den)
    },
    // per-group cap (domain balancing): keep the top-n of each group
    // by (score desc, id asc), rank attached: cols = [groupCol, idCol],
    // expr = score SQL expression, name = n (default 10)
    op("cap_per_group") { t =>
      val Seq(g, idc) = cols(t, "groupCol", "idCol")
      val score = exprOf(t, "score SQL expression")
      val n = nameParams(t, "n").int(0, 10)
      graft.llm.Selection.capPerGroup(_, g, expr(score), idc, n)
    },
    // winnow-based near-dedup (guaranteed recall for shared runs of
    // ≥ w+k−1 tokens): min-id survivor per fingerprint component.
    // cols = [idCol, textCol], expr = "k,w,minShared" (default "5,4,2")
    op("dedup_winnow") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "k,w,minShared")
      val (k, w, ms) = (p.int(0, 5), p.int(1, 4), p.int(2, 2))
      graft.llm.Dedup.dropWinnowDuplicates(_, idc, c, k, w, ms)
    },
    // quality-aware near-dedup: keep each near-dup family's
    // highest-score member: cols = [idCol, textCol],
    // expr = score SQL expression
    op("dedup_keep_best") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val score = exprOf(t, "score SQL expression")
      graft.llm.Dedup.dropNearDuplicatesKeepBest(_, idc, c, expr(score))
    },
    // perceptual-hash image near-dedup over a BINARY column (JDK
    // codec, ImageHash aHash/dHash/pHash): min-id survivor per hash
    // component; undecodable rows always survive.
    // cols = [idCol, binaryCol], expr = maxHamming (default 3),
    // name = hash choice: dhash (default) | ahash | phash
    op("dedup_image") { t =>
      val Seq(idc, bc) = cols(t, "idCol", "binaryCol")
      val hash = mode(t, "dhash", "ahash", "phash")
      val maxH = exprParams(t, "maxHamming").int(0, 3)
      graft.llm.ImageHash.dropNearDuplicates(_, idc, bc, maxH, hash)
    },
    // decode gates: keep only rows whose binary column decodes (image
    // through the JDK codec; audio as WAV — the AudioHash corrupt-input
    // contract; video as at least one animated-GIF frame). Undecodable
    // bytes carry no perceptual hash, so every downstream media op would
    // silently pass them through — gate them out explicitly, the
    // pipeline_multimodal stance. cols = [idCol, binaryCol]
    op("image_gate") { t =>
      val Seq(idc, bc) = cols(t, "idCol", "binaryCol")
      d => decodedOnly(d, idc, graft.llm.ImageHash.imageHashes(d, idc, bc).toDF())
    },
    op("audio_gate") { t =>
      val Seq(idc, bc) = cols(t, "idCol", "binaryCol")
      d => decodedOnly(d, idc, graft.llm.AudioHash.audioHashes(d, idc, bc).toDF())
    },
    op("video_gate") { t =>
      val Seq(idc, bc) = cols(t, "idCol", "binaryCol")
      d => decodedOnly(d, idc, graft.llm.VideoHash.videoHashes(d, idc, bc).toDF())
    },
    // perceptual decontamination vs a reference image suite: drops
    // rows whose dhash sits within maxHamming of ANY decoded
    // reference image. cols = [idCol, binaryCol] (the ref parquet
    // carries the same two columns; ref ids must be disjoint from
    // corpus ids), name = ref parquet path, expr = maxHamming
    // (default 3)
    op("decontaminate_image") { t =>
      val Seq(idc, bc) = cols(t, "idCol", "binaryCol")
      val refPath = nameOf(t, "ref parquet path")
      val maxH = exprParams(t, "maxHamming").int(0, 3)
      d =>
        val ref = d.sparkSession.read.parquet(refPath)
        def fp(df: DataFrame) = graft.llm.ImageHash
          .imageHashes(df, idc, bc).toDF()
          .filter(col("decoded"))
          .select(col("id"), col("dhash").as("fp"))
        val refIds = fp(ref).select(col("id").as("__ref_id"))
        // the (small) reference suite is the FRESH side: the extra
        // self-pair term of the incremental kernel is then ref × ref,
        // not corpus × corpus — the wasted pair volume scales with the
        // benchmark suite's internal near-dups instead of the corpus's.
        // Assumes ref ids are disjoint from corpus ids (the
        // pipeline_multimodal convention), so self-pairs on either
        // side can never name a corpus row
        val pairs = graft.llm.Dedup
          .hamming64PairsIncremental(fp(ref), fp(d), maxH)
        // contaminated = the corpus side of every corpus-vs-ref hit
        // (pair ids are (least, greatest)-normalized, so the corpus id
        // can land on either side)
        val contaminated = pairs
          .join(refIds, pairs("id_b") === refIds("__ref_id"), "left_semi")
          .select(col("id_a").as("__cont"))
          .unionByName(pairs
            .join(refIds, pairs("id_a") === refIds("__ref_id"),
              "left_semi")
            .select(col("id_b").as("__cont")))
          .distinct()
        d.join(contaminated, d(idc).cast("long") === col("__cont"),
          "left_anti")
    },
    // frame-fingerprint video near-dedup over multi-frame binary
    // columns (animated GIF through the JDK codec; swap the decoder
    // for other containers): min-id survivor per shared-frame
    // component. cols = [idCol, binaryCol], expr = minShareMilli of
    // the smaller clip's distinct frames (default 500)
    op("dedup_video") { t =>
      val Seq(idc, bc) = cols(t, "idCol", "binaryCol")
      val share = exprParams(t, "minShareMilli").long(0, 500L)
      graft.llm.VideoHash.dropNearDuplicates(_, idc, bc, share)
    },
    // edit-distance fuzzy near-dedup over a short key column
    // (record-linkage shape; exact-recall PassJoin segment blocking +
    // threshold-Levenshtein confirm): min-id survivor per component.
    // cols = [idCol, keyCol], expr = maxDist (default 2)
    op("dedup_fuzzy") { t =>
      val Seq(idc, kc) = cols(t, "idCol", "keyCol")
      val maxDist = exprParams(t, "maxDist").int(0, 2)
      graft.llm.Dedup.dropFuzzyDuplicates(_, idc, kc, maxDist)
    },
    // SFT conversation QA gate: REPLACES the frame with the
    // per-conversation audit (n_turns, bad_first, n_role_repeats,
    // n_unknown_role, n_empty, n_dup_ord, valid).
    // cols = [convCol, orderCol, roleCol, contentCol],
    // name = expected first role (default "user"),
    // expr = comma-separated allowed roles (default "user,assistant")
    op("validate_chat") { t =>
      val Seq(cv, o, rl, ct) = cols(t, "convCol", "orderCol", "roleCol", "contentCol")
      val first = t.name.getOrElse("user")
      val roles = t.expr.getOrElse("user,assistant").split(",").map(_.trim).toSeq
      graft.llm.SftFormat.validateConversations(_, cv, o, rl, ct, first, roles)
    },
    // canonical-URL normalization: appends `name` (default
    // canonical_url) from the URL column in cols = [urlCol]
    op("canonicalize_url") { t =>
      val Seq(uc) = cols(t, "urlCol")
      val out = t.name.getOrElse("canonical_url")
      _.withColumn(out, graft.llm.TextOps.canonicalizeUrl(col(uc)))
    },
    // tokenizer-coverage audit: annotate with (n_tokens, n_oov,
    // oov_micro) against a vocab parquet (one `word` column).
    // cols = [idCol, textCol], name = vocab parquet path
    op("oov_rate") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val vocabPath = nameOf(t, "vocab parquet path")
      d => d.join(graft.llm.CorpusStats.oovRate(d, idc, c,
        d.sparkSession.read.parquet(vocabPath)), Seq(idc))
    },
    // Cohen's κ label agreement: REPLACES the frame with the 1-row
    // (n, agree, s_joint, kappa_micro) report. cols = [colA, colB]
    op("kappa") { t =>
      val Seq(a, b) = cols(t, "colA", "colB")
      graft.llm.Classifier.cohenKappaMicro(_, a, b)
    },
    // snapshot diff vs a prior-snapshot parquet: REPLACES the frame
    // with (key cols…, change added|removed|changed, old_hash,
    // new_hash). cols = key columns, name = old-snapshot parquet path
    op("snapshot_diff") { t =>
      val keys = colsAtLeast(t, 1, "key columns")
      val oldPath = nameOf(t, "old snapshot parquet path")
      d => graft.etl.Snapshot.diff(d.sparkSession.read.parquet(oldPath), d, keys)
    },
    // one data-quality row expectation: REPLACES the frame with the
    // 1-row (rule, checked, violations, pass) report.
    // name = rule name, expr = boolean SQL predicate
    op("expect") { t =>
      val rule = graft.etl.Expectations.Expectation(
        t.name.getOrElse("expect"), expr(exprOf(t, "predicate")))
      graft.etl.Expectations.rowReport(_, Seq(rule))
    },
    // uniqueness expectation over cols: same 1-row report shape
    op("expect_unique") { t =>
      val keys = colsAtLeast(t, 1, "key columns")
      graft.etl.Expectations.uniqueReport(_, t.name.getOrElse("unique"), keys)
    },
    // energy-envelope audio near-dedup over a BINARY WAV column
    // (AudioHash manual PCM-16 parse): min-id survivor per hash
    // component; undecodable rows always survive.
    // cols = [idCol, binaryCol], expr = maxHamming (default 3)
    op("dedup_audio") { t =>
      val Seq(idc, bc) = cols(t, "idCol", "binaryCol")
      val maxH = exprParams(t, "maxHamming").int(0, 3)
      graft.llm.AudioHash.dropNearDuplicates(_, idc, bc, maxH)
    },
    // NEAR-dup decontamination against a reference parquet (an eval
    // suite): drops every row whose shingle-set Jaccard against ANY
    // reference doc reaches the threshold. cols = [idCol, textCol],
    // name = reference parquet path (same id/text column names),
    // expr = "shingleN,threshold" (default "3,0.5"). The reference
    // broadcasts as an inverted index — the frame itself never
    // shuffles.
    op("decontaminate_near") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "shingleN,threshold")
      val (shn, thr) = (p.int(0, 3), p.double(1, 0.5))
      val refPath = nameOf(t, "reference parquet path")
      d => graft.llm.Dedup.dropNearDupsOfReference(d,
        d.sparkSession.read.parquet(refPath), idc, c,
        shingleN = shn, threshold = thr)
    },
    // DSIR top-k selection (Xie et al. 2023): cols = [idCol, textCol],
    // expr = target-predicate SQL defining the in-domain subset,
    // name = k (default 1000). Keeps the original columns of the k
    // most target-like rows via a semi join on the id.
    op("dsir_select") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val pred = exprOf(t, "target predicate")
      val k = nameParams(t, "k").int(0, 1000)
      d => d.join(graft.llm.Dsir.selectTopK(d, idc, c, expr(pred), k)
        .select(col(idc)), Seq(idc), "left_semi")
    },
    // blocklist filter: drop documents containing any banned phrase
    // (token-exact shingle matching). cols = [idCol, textCol,
    // phrase...]; name = "filter" (default) or "annotate" (join the
    // n_blocked/n_phrases/blocked signals onto the frame)
    op("blocklist") { t =>
      val cs = colsAtLeast(t, 3, "[idCol, textCol, phrase, ...]")
      val (idc, c, phrases) = (cs(0), cs(1), cs.drop(2))
      val m = mode(t, "filter", "annotate")
      d => gate(m, d, idc, graft.llm.TextOps.blocklistCounts(d, idc, c, phrases),
        !col("blocked"))
    },
    // BM25 relevance selection: keep only documents in the BM25 top-k
    // for a query string — targeted data selection ("docs about X").
    // cols = [idCol, textCol]; expr = the query text; name = k
    // (default 100)
    op("bm25_select") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val qtext = exprOf(t, "the query text")
      val k = nameParams(t, "k").int(0, 100)
      d => d.join(graft.llm.Retrieval.bm25TopK(d, idc, c, Seq("q" -> qtext), k)
        .select(col(idc)), Seq(idc), "left_semi")
    },
    // Gopher rule-suite gate (Rae et al. 2021 Table A1, default
    // thresholds): cols = [idCol, textCol]; name = "filter" (default —
    // keep only passing rows, original columns intact via a semi join)
    // or "annotate" (join every signal + gopher_keep onto the frame)
    op("gopher_gate") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val m = mode(t, "filter", "annotate")
      d => gate(m, d, idc, graft.llm.GopherRules.gate(d, idc, c), col("gopher_keep"))
    },
    // canonical text normalization in place: cols = [textCol]
    op("normalize") { t =>
      val Seq(c) = cols(t, "textCol")
      _.withColumn(c, graft.llm.TextOps.normalize(col(c)))
    },
    // C4-style HTML cleanup in place (tag strip + entity unescape +
    // whitespace collapse): cols = [textCol]
    op("html_clean") { t =>
      val Seq(c) = cols(t, "textCol")
      _.withColumn(c, graft.llm.TextOps.stripHtml(col(c)))
    },
    // stride-scheduling curriculum order: cols = [groupCol, idCol],
    // expr = "grpA:wA,grpB:wB,..." (positive integer weights); appends
    // ticket + schedule_pos to the frame via a join on the id
    op("curriculum") { t =>
      val Seq(g, idc) = cols(t, "groupCol", "idCol")
      val ws = weights(t, exprOf(t, "grp:weight pairs").split(",").toSeq)(_.toLong).toMap
      d => d.join(graft.llm.Curriculum.interleave(d, g, idc, ws).drop(g), Seq(idc))
    },
    // PII redaction in place with the shared detector regexes
    // (graft.llm.TextOps — same patterns text_pii counts): cols = [textCol]
    op("redact") { t =>
      val Seq(c) = cols(t, "textCol")
      _.withColumn(c, graft.llm.TextOps.redactPii(col(c)))
    },
    // sliding-window chunk explode: cols = [textCol], name = output col,
    // expr = "chunkTokens,strideTokens"
    op("chunk") { t =>
      val Seq(c) = cols(t, "textCol")
      val p = exprParams(t, "chunkTokens,strideTokens")
      val (ck, st) = (p.int(0, 32), p.int(1, 16))
      val out = t.name.getOrElse("chunk")
      d =>
        val chunked = d.withColumn(out,
          explode(graft.llm.TextOps.slidingChunks(col(c), ck, st)))
        // out == c means "replace the text column with its chunks" —
        // dropping would delete the freshly created column
        if (out == c) chunked else chunked.drop(c)
    },
    // exact repeated-span removal (corpus-level boilerplate cut):
    // cols = [idCol, textCol], expr = "spanTokens,maxDf". clean_text
    // replaces the text column; n_tokens/n_removed ride along
    // (suffixed "_span" on a name clash). The rejoin is by id —
    // idCol must uniquely identify rows (enforced in-plan: a duplicate
    // id fails the run loudly instead of silently multiplying rows).
    op("span_removal") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "spanTokens,maxDf")
      val (l, mdf) = (p.int(0, 20), p.int(1, 3))
      d => rejoinCleaned(t.op, d,
        graft.llm.CorpusStats.removeRepeatedSpans(d, idc, c, l, mdf),
        idc, c, Seq("n_tokens", "n_removed"), "_span")
    },
    // keep-one exact-substring dedup (Lee et al. 2022 ExactSubstr):
    // cut every token inside a >= minRunTokens substring shared with a
    // lower-id doc. cols = [idCol, textCol], expr = minRunTokens
    // (default 20). Same rejoin contract as span_removal.
    op("substring_dedup") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val minRun = exprParams(t, "minRunTokens").int(0, 20)
      d => rejoinCleaned(t.op, d,
        graft.llm.CorpusStats.removeDuplicateSubstrings(d, idc, c, minRun),
        idc, c, Seq("n_tokens", "n_removed"), "_substr")
    },
    // maximal shared runs (the exact-substring REPORT): replaces the
    // frame with (id_a, id_b, pos_a, pos_b, run_len) rows. cols =
    // [idCol, textCol], expr = "minRunTokens[,maxOccPerSpan]".
    op("substring_runs") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "minRunTokens,maxOccPerSpan")
      val (minRun, maxOcc) = (p.int(0, 20), p.int(1, 10000))
      graft.llm.CorpusStats.maximalSharedRuns(_, idc, c, minRun, maxOcc)
    },
    // paragraph-level exact dedup in place (cut corpus-frequent
    // paragraphs, rebuild text): cols = [idCol, textCol],
    // expr = maxDf (default 3). Same rejoin contract as span_removal.
    op("para_dedup") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val mdf = exprParams(t, "maxDf").int(0, 3)
      d => rejoinCleaned(t.op, d,
        graft.llm.CorpusStats.dropRepeatedParagraphs(d, idc, c, mdf),
        idc, c, Seq("n_paras", "n_removed"), "_para")
    },
    // trigram stupid-backoff LM score appended as columns
    // (n_trigrams, sb_nll_micro, avg_sb_nll_micro): cols = [idCol,
    // textCol]; name = reference-corpus parquet path (same columns) —
    // omitted, the frame scores against itself. Docs with < 3 tokens
    // get NULL scores.
    op("lm_backoff") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val refPath = t.name
      d =>
        val ref = refPath.map(d.sparkSession.read.parquet(_)).getOrElse(d)
        d.join(graft.llm.CorpusStats.stupidBackoffScore(ref, d, idc, c),
          Seq(idc), "left")
    },
    // CCNet head/middle/tail perplexity terciles appended as columns
    // (avg_nll_micro, tercile, bucket): cols = [idCol, textCol,
    // langCol]; docs with < 2 tokens get NULLs
    op("ppl_buckets") { t =>
      val Seq(idc, c, lg) = cols(t, "idCol", "textCol", "langCol")
      d => d.join(graft.llm.CorpusStats.perplexityBuckets(d, idc, c, lg)
        .drop(lg), Seq(idc), "left")
    },
    // corpus-fitted bigram LM score appended as columns:
    // cols = [idCol, textCol]; docs with < 2 tokens get NULL scores
    op("lm_score") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      d => d.join(graft.llm.CorpusStats.bigramLmScore(d, idc, c), Seq(idc), "left")
    },
    // per-group z-score feature: cols = [groupCol, valueCol],
    // name = output column
    op("standardize") { t =>
      val Seq(g, v) = cols(t, "groupCol", "valueCol")
      val out = t.name.getOrElse(v + "_z")
      graft.ml.Features.standardize(_, g, v, out)
    },
    // per-doc TF-IDF keyword extraction — REPLACES the frame with
    // (id, term, tf, df, tfidf_key, rank): cols = [idCol, textCol],
    // expr = k (top keywords per doc, default 5)
    op("tfidf_keywords") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val k = exprParams(t, "k").int(0, 5)
      graft.llm.CorpusStats.tfidfKeywords(_, idc, c, k)
    },
    // exact DSIR retro-score over dsir_self_ingest state: REPLACES
    // the frame with (idCol, n_feats, weight_micro) for every
    // ingested doc, weighted against the full accumulated
    // distributions; cols = [idCol] (default doc_id), name =
    // "featsDir;distDir", expr = optional forgotten-ids parquet path
    // (deletion propagation — tombstoned docs are excluded and their
    // contributions exactly subtracted)
    op("dsir_retro_score") { t =>
      val idc = t.cols match {
        case Seq(one) => one
        case Seq() => "doc_id"
        case _ => bad("dsir_retro_score takes cols = [idCol]")
      }
      val (fd, dd) = nameOf(t, "\"featsDir;distDir\"").split(";").map(_.trim) match {
        case Array(f, g) => (f, g)
        case _ => bad("dsir_retro_score needs name = \"featsDir;distDir\"")
      }
      val forgottenPath = t.expr.map(_.trim)
      d => graft.streaming.Pipelines.dsirRetroScore(d.sparkSession, fd, dd, idc,
        forgottenPath.map(d.sparkSession.read.parquet(_).select(col(idc))))
    },
    // read-time bitext mining over two bitext_ingest states: REPLACES
    // the frame with the mined (src_id, tgt_id, sim_micro,
    // margin_micro) pairs over everything both loops have committed.
    // name = "srcVecs;srcIdx;tgtVecs;tgtIdx" plus optional 5th/6th
    // segments = forgotten-id parquet tombstones per side (empty
    // segment = none — exact deletion, the state is per-doc rows);
    // expr = k,thresholdMicro,bits[,maxBucketSize[,multiProbe]] — bits
    // MUST be the loops' frozen width
    op("bitext_retro_mine") { t =>
      val dirs = nameOf(t, "\"srcVecs;srcIdx;tgtVecs;tgtIdx\"")
        .split(";", -1).map(_.trim)
      if (dirs.length < 4 || dirs.take(4).exists(_.isEmpty))
        bad("bitext_retro_mine needs 4 state dirs in name")
      val p = exprParams(t, "k,marginThresholdMicro,bits,maxBucketSize,multiProbe")
      val (k, thr, bits, maxBucket, probe) = (p.int(0, 4), p.long(1, 1000000L),
        p.int(2, 8), p.int(3, 10000), p.bool(4, true))
      d =>
        def tomb(i: Int) = dirs.lift(i).filter(_.nonEmpty)
          .map(d.sparkSession.read.parquet(_))
        graft.streaming.Pipelines.bitextRetroMine(d.sparkSession,
          dirs(0), dirs(1), dirs(2), dirs(3), k = k,
          marginThresholdMicro = thr, bits = bits,
          maxBucketSize = maxBucket, multiProbe = probe,
          forgottenSrc = tomb(4), forgottenTgt = tomb(5))
    },
    // ---- deletion propagation: the input frame IS the forgotten docs'
    // original rows; name = the loop's indexDir; a "persist" token in
    // expr folds the corrected state durably (loop must be stopped),
    // otherwise the corrected index is only RETURNED (read-time form).
    // Output REPLACES the frame with the corrected index.
    // term-df (tfidf_ingest): cols = [idCol, textCol], expr = [persist]
    op("term_df_forget") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val f = new Forget(t, "")
      d => graft.streaming.Pipelines.forgetTermDf(d.sparkSession,
        f.indexDir, d, idc, c, f.persist)
    },
    // span-df (boilerplate_ingest): expr = spanTokens[,persist]
    op("span_df_forget") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val f = new Forget(t, "spanTokens")
      val l = f.params.int(0, 20)
      d => graft.streaming.Pipelines.forgetSpanDf(d.sparkSession,
        f.indexDir, d, idc, c, l, f.persist)
    },
    // paragraph-df (para_dedup_ingest): expr = [persist]
    op("para_df_forget") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val f = new Forget(t, "")
      d => graft.streaming.Pipelines.forgetParaDf(d.sparkSession,
        f.indexDir, d, idc, c, f.persist)
    },
    // BM25 (term, df) + sentinel-totals index (bm25_ingest): cols =
    // [idCol, textCol], expr = [persist] — the forgotten docs'
    // bm25Index carries its own sentinel rows, so one subtraction
    // corrects dfs AND the N/T totals
    op("bm25_df_forget") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val f = new Forget(t, "")
      d => graft.streaming.Pipelines.forgetBm25Df(d.sparkSession,
        f.indexDir, d, idc, c, f.persist)
    },
    // language-token-frequency (datacard_ingest): cols = [textCol,
    // langCol], expr = [persist]
    op("ltf_forget") { t =>
      val Seq(c, lc) = cols(t, "textCol", "langCol")
      val f = new Forget(t, "")
      d => graft.streaming.Pipelines.forgetLtf(d.sparkSession,
        f.indexDir, d, c, lc, f.persist)
    },
    // margin-based bitext mining (Artetxe & Schwenk 2019): the input
    // frame is the SOURCE-language side; name = parquet path of the
    // target side (same idCol/vecCol schema); expr =
    // k[,marginThresholdMicro[,candidateSource]]. REPLACES the frame
    // with the mined (src_id, tgt_id, sim_micro, margin_micro) pairs.
    // candidateSource picks the pair generator: absent/"allpairs" =
    // the bounded-sides cartesian (bitextMine); "ivf" or
    // "ivf:nCells:nProbe" = the candidate-fed path — per-side IVF
    // top-k lists feed bitextMineFromCandidates (0 = auto-size, the
    // ivfTopK √n rule); "lsh" or "lsh:tables:bits" = the same
    // candidate-fed path over hyperplane-LSH top-k lists (annTopK —
    // the better generator when sides are too churn-heavy to train an
    // IVF codebook per run); "pq" or "pq:m:codebookSize" = the same
    // path over product-quantized compressed-scan lists (pqTopK
    // unbounded mode)
    op("bitext_mine") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val tgtPath = nameOf(t, "target-side parquet path")
      val p = exprParams(t, "k,marginThresholdMicro,candidateSource")
      val (k, thr) = (p.int(0, 4), p.long(1, 1000000L))
      val source = p.str(2, "allpairs")
      val kind +: args = source.split(":").toSeq
      def sub(spec: String) =
        new Params(t, "candidateSource", spec, args,
          s"$kind:${spec.replace(",", ":")}")
      def fromLists(lists: (DataFrame, DataFrame) => DataFrame)
          : (DataFrame, DataFrame) => DataFrame = (d, tgt) =>
        graft.llm.Retrieval.bitextMineFromCandidates(d, tgt, idc, vc,
          lists(d, tgt), lists(tgt, d), k, thr)
      val mine: (DataFrame, DataFrame) => DataFrame = kind match {
        case "allpairs" if args.isEmpty => (d, tgt) =>
          graft.llm.Retrieval.bitextMine(d, tgt, idc, vc, k, thr)
        case "ivf" =>
          val s = sub("nCells,nProbe")
          val (cells, probe) = (s.int(0, 0), s.int(1, 0))
          fromLists(graft.llm.Similarity.ivfTopK(_, _, k, cells, probe,
            idCol = idc, vecCol = vc, boundedQueries = false,
            excludeSelf = false))
        case "lsh" =>
          val s = sub("tables,bits")
          val (tables, bits) = (s.int(0, 8), s.int(1, 8))
          // annTopKBitext hashes each side once and never
          // self-excludes (cross-corpus id collisions are
          // legitimate candidates)
          (d, tgt) =>
            val (srcLists, tgtLists) = graft.llm.Similarity
              .annTopKBitext(d, tgt, k, tables, bits, idCol = idc, vecCol = vc)
            graft.llm.Retrieval.bitextMineFromCandidates(d, tgt, idc, vc,
              srcLists, tgtLists, k, thr)
        // per-side product-quantized top-k lists in unbounded-queries
        // mode (the query side IS a corpus side — LUTs shuffle, no
        // driver collect) with excludeSelf = false (colliding id
        // spaces)
        case "pq" =>
          val s = sub("m,codebookSize")
          val (pm, pcb) = (s.int(0, 0), s.int(1, 32))
          fromLists(graft.llm.Similarity.pqTopK(_, _, k, m = pm,
            codebookSize = pcb, idCol = idc, vecCol = vc,
            boundedQueries = false, excludeSelf = false))
        case _ => bad(s"bitext_mine: unknown candidateSource '$source' " +
          "(allpairs | ivf[:nCells:nProbe] | lsh[:tables:bits] | " +
          "pq[:m:codebookSize])")
      }
      d => mine(d, d.sparkSession.read.parquet(tgtPath))
    },
    // keeper (min, sum) substring index — NON-invertible, so the
    // input frame is the SURVIVING corpus and the index is rebuilt:
    // expr = minRunTokens[,persist]
    op("substring_index_recompute") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val f = new Forget(t, "minRunTokens")
      val minRun = f.params.int(0, 20)
      d => graft.streaming.Pipelines.recomputeSubstrIndex(d.sparkSession,
        f.indexDir, d, idc, c, minRun, f.persist)
    },
    // near_dup band index — NON-invertible (greedy displacement
    // decisions are never revisited), so the input frame is the
    // SURVIVING corpus and the (id, band, bucket) index is rebuilt
    // with the loop's own parameters:
    // expr = shingleN,numHashes,bands[,persist] (defaults mirror
    // near_dup_ingest's 3,96,48)
    op("near_dup_recompute") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val f = new Forget(t, "shingleN,numHashes,bands")
      val (shn, nh, bands) = (f.params.int(0, 3), f.params.int(1, 96), f.params.int(2, 48))
      d => graft.streaming.Pipelines.recomputeNearDupIndex(d.sparkSession,
        f.indexDir, d, idc, c, shingleN = shn, numHashes = nh, bands = bands,
        persist = f.persist)
    },
    // incremental TF-IDF against a PERSISTED term-df index (read-only —
    // index persistence belongs to the ingest loop,
    // streaming.Pipelines.tfidfIngest, whose two-level layout
    // readTermDfIndex understands) — REPLACES the frame with
    // (id, term, tf, df, tfidf_key, rank): cols = [idCol, textCol],
    // expr = k (default 5), name = indexDir
    op("tfidf_indexed") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val k = exprParams(t, "k").int(0, 5)
      val indexDir = nameOf(t, "indexDir")
      d => graft.llm.CorpusStats.tfidfKeywordsIncremental(
        graft.streaming.Pipelines.readTermDfIndex(d.sparkSession, indexDir),
        d, idc, c, k)._1
    },
    // greedy per-group token-budget selection: cols = [groupCol, idCol],
    // name = budget (tokens), expr = "scoreExpr;tokenCountExpr"
    op("token_budget") { t =>
      val Seq(g, idc) = cols(t, "groupCol", "idCol")
      val (sc, tk) = exprOf(t, "\"scoreExpr;tokenExpr\"").split(";").map(_.trim) match {
        case Array(s, k) => (s, k)
        case _ => bad("token_budget needs expr = \"scoreExpr;tokenExpr\"")
      }
      val budget = numeric(t, "budget", nameOf(t, "budget"))(_.toLong)
      graft.llm.Selection.tokenBudgetByScore(_, g, expr(sc), expr(tk), idc, budget)
    },
    // mixture rebalance to target weights: cols = [groupCol, idCol],
    // expr = "group:weight, group:weight, ..."; name = optional
    // token-count SQL expr → token-weighted form
    op("mixture") { t =>
      val Seq(g, idc) = cols(t, "groupCol", "idCol")
      val ws = weights(t, exprOf(t, "\"group:weight, ...\"").split(",").toSeq)(_.toLong).toMap
      t.name match {
        case Some(tk) => graft.llm.Mixture.resampleToTokenMixture(_, g, expr(tk), ws, idc)
        case None => graft.llm.Mixture.resampleToMixture(_, g, ws, idc)
      }
    },
    // centrality-policy near-dedup: winnow pairs → components → keep
    // each family's most PageRank-central member (ties → min id).
    // cols = [idCol, textCol], expr = "k,w,minShared" (default "5,4,2")
    op("dedup_keep_central") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "k,w,minShared")
      val (k, w, ms) = (p.int(0, 5), p.int(1, 4), p.int(2, 2))
      d => graft.llm.Dedup.applySurvivorsKeepCentral(d, idc,
        graft.llm.Dedup.winnowNearDupPairs(d, idc, c, k, w, ms))
    },
    // α=1/2 temperature mixture (XLM): downsample each group to its
    // sqrt-proportional share of a token budget. cols = [groupCol,
    // idCol], expr = token-count SQL expr, name = budget expression
    // "N" (absolute tokens) or "1/2" | "3/4"-style fraction of the
    // corpus total
    op("mixture_alpha") { t =>
      val Seq(g, idc) = cols(t, "groupCol", "idCol")
      val tk = exprOf(t, "token-count expression")
      val budget = t.name.getOrElse("1/2").trim
      val budgetOf: Long => Long =
        if (budget.contains("/")) {
          val (num, den) = fraction(t, "name", budget)
          total => total * num / den
        } else {
          val abs = numeric(t, "budget", budget)(_.toLong)
          _ => abs
        }
      graft.llm.Mixture.temperatureSelect(_, g, expr(tk), budgetOf, idc)
    },
    // Naive Bayes proxy-label quality filter: self-train on a cheap
    // SQL label, keep rows the classifier calls positive (or annotate
    // the margin). cols = [idCol, textCol], expr = label SQL boolean,
    // name = "filter" (default) or "annotate"
    op("nb_filter") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val label = exprOf(t, "proxy-label SQL boolean")
      val m = mode(t, "filter", "annotate")
      d => gate(m, d, idc,
        graft.llm.Classifier.naiveBayesSelfScore(d, idc, c, expr(label)), col("nb_pos"))
    },
    // batch-perceptron quality gate (the trained-linear complement to
    // nb_filter): fit on a proxy label, then filter to predicted-
    // positive rows or annotate with (margin, pred).
    // cols = [idCol, textCol], expr = proxy-label SQL boolean,
    // name = filter (default) | annotate
    op("perceptron_filter") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val label = exprOf(t, "proxy-label SQL boolean")
      val m = mode(t, "filter", "annotate")
      d =>
        val model = graft.llm.Classifier.perceptronTrain(
          d.withColumn("__pf_y", expr(label)), idc, c, "__pf_y")
        gate(m, d, idc, graft.llm.Classifier.perceptronScore(d, model, idc, c)
          .withColumnRenamed("id", idc), col("pred"))
    },
    // token-balanced snake sharding: append (n_tokens, shard) via the
    // distributed rank. cols = [idCol], expr = token-count SQL expr,
    // name = shard count (default 8)
    op("shard_balanced") { t =>
      val Seq(idc) = cols(t, "idCol")
      val tk = exprOf(t, "token-count expression")
      val shards = nameParams(t, "shards").int(0, 8)
      d => d.join(graft.llm.Packing.shardBalanced(d, idc, expr(tk), shards), Seq(idc))
    },
    // length-bucketed batching: append (n_tokens, bucket, batch_idx).
    // cols = [idCol], expr = token-count SQL expr, name = batch size
    // (default 16)
    op("length_buckets") { t =>
      val Seq(idc) = cols(t, "idCol")
      val tk = exprOf(t, "token-count expression")
      val batch = nameParams(t, "batchSize").int(0, 16)
      d => d.join(graft.llm.Packing.lengthBucketBatches(d, idc, expr(tk), batch), Seq(idc))
    },
    // Fleiss' κ multi-rater agreement: REPLACES the frame (one row
    // per rating) with the 1-row (n_items, n_raters, sa, s2,
    // kappa_micro) report. cols = [itemCol, labelCol]
    op("fleiss") { t =>
      val Seq(ic, lc) = cols(t, "itemCol", "labelCol")
      graft.llm.Classifier.fleissKappaMicro(_, ic, lc)
    },
    // Kish effective-sample-size report: REPLACES the frame with one
    // (groups..., n, ess_micro) row per group. cols = group columns
    // (may be empty for one global row), expr = weight SQL expression
    op("ess") { t =>
      val w = exprOf(t, "weight SQL expression")
      graft.llm.Selection.essReport(_, expr(w), t.cols)
    },
    // vocabulary Zipf tail index: REPLACES the frame with the 1-row
    // (k_eff, f_k, sum_ln_micro, hill_alpha_micro) report.
    // cols = [textCol], name = k (default 64)
    op("zipf") { t =>
      val Seq(tc) = cols(t, "textCol")
      val k = nameParams(t, "k").int(0, 64)
      graft.llm.CorpusStats.zipfAlpha(_, tc, k)
    },
    // corpus-datacard health panel: REPLACES the frame with one
    // per-language row — base counts, exact mean quality, dup rate,
    // script mix, OOV vs the global top-20 vocab, per-language Zipf
    // tail, length Gini. cols = [idCol, textCol, langCol]; name
    // (optional) = path of a FROZEN (piece, lp_micro) tokenizer
    // table, which adds the mergeable fertility_micro column (the
    // streaming-safe fertility leg)
    op("datacard") { t =>
      val Seq(dcI, dcT, dcL) = cols(t, "idCol", "textCol", "langCol")
      val frozenPath = t.name.map(_.trim)
      d => graft.llm.CorpusStats.datacardPanel(
        graft.llm.CorpusStats.datacardDocStats(d, dcI, dcT, dcL,
          frozenPath.map(d.sparkSession.read.parquet(_))),
        graft.llm.CorpusStats.langTokenFreqs(d, dcT, dcL), dcL, dcI)
    },
    // per-group Zipf tail index (the datacard's per-language leg):
    // REPLACES the frame with one (groupCol, k_eff, sum_ln_micro,
    // hill_alpha_micro) row per group; thin/flat groups report 0.
    // cols = [groupCol, textCol], name = k (default 64)
    op("zipf_by_group") { t =>
      val Seq(zg, ztc) = cols(t, "groupCol", "textCol")
      val k = nameParams(t, "k").int(0, 64)
      graft.llm.CorpusStats.zipfAlphaByGroup(_, zg, ztc, k)
    },
    // per-group exact Gini of a non-negative value column (the
    // datacard's length-inequality leg): REPLACES the frame with one
    // (groupCol, n_vals, sum_vals, gini_micro) row per group.
    // cols = [groupCol, valueCol, tieCol]
    op("gini_by_group") { t =>
      val Seq(gg, gv, gt) = cols(t, "groupCol", "valueCol", "tieCol")
      graft.etl.Profile.giniByGroup(_, gg, gv, gt)
    },
    // Unicode-script audit: APPENDS per-script char counts and the
    // dominant writing script. cols = [textCol]
    op("scripts") { t =>
      val Seq(tc) = cols(t, "textCol")
      d => graft.llm.TextOps.scriptCounts(col(tc))
        .foldLeft(d) { case (acc, (n, c)) => acc.withColumn(n, c) }
        .withColumn("dominant", graft.llm.TextOps.dominantScript(col(tc)))
    },
    // shuffle-skew diagnostics: REPLACES the frame with the 1-row
    // (n_rows, n_keys, max_count, min_count, mean_count_micro,
    // top1_share_micro, gini_micro) report over the named key
    // columns. cols = key columns
    op("skew_report") { t =>
      val keys = colsAtLeast(t, 1, "key columns")
      graft.etl.Profile.skewReport(_, keys)
    },
    // Krippendorff's α (nominal): the ragged-table agreement report —
    // REPLACES the frame with the 1-row (n_items, n_ratings, m_kinds,
    // alpha_micro) panel. cols = [itemCol, labelCol]
    op("krippendorff") { t =>
      val Seq(ic, lc) = cols(t, "itemCol", "labelCol")
      graft.llm.Classifier.krippendorffAlphaMicro(_, ic, lc)
    },
    // semantic decontamination report: REPLACES the frame with
    // (vec_id, eval_id, sim, contaminated) vs a reference-embedding
    // parquet. cols = [idCol, vecCol], name = ref parquet path,
    // expr = cosine threshold (default 0.95)
    op("decontaminate_sem") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val refPath = nameOf(t, "ref parquet path")
      val thr = exprParams(t, "threshold").double(0, 0.95)
      d => graft.llm.Similarity.semanticContamination(d,
        d.sparkSession.read.parquet(refPath), thr, idc, vc)
    },
    // train + REPLACE the frame with the frozen int8 centroid table
    // (cid INT, q ARRAY<INT>) the `semdedup` op consumes — persist it
    // via the step's sink, then point later steps (or the
    // semDedupIngest loop) at that path. The frozen stance is the
    // mergeable one: every batch sees the SAME cells. cols =
    // [idCol, vecCol], expr = "k[,iters[,sampleSize]]"
    // (defaults 2 iters, 4096 md5-ordered sample)
    op("train_centroids") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val p = exprParams(t, "k,iters,sampleSize")
      val (k, iters, sample) = (p.int(0), p.int(1, 2), p.int(2, 4096))
      graft.llm.Similarity.intCentroidTable(_, k, iters, idc, vc, sample)
    },
    // SemDeDup under a FROZEN centroid table (Abbas et al. 2023):
    // drops rows whose embedding sits at exact quantized cosine >=
    // threshold of a LOWER-ID row in the same frozen cell (min-id
    // survivor). cols = [idCol, vecCol], name = centroid-table
    // parquet path (train via `train_centroids`),
    // expr = "threshold[,maxClusterSize]" (default 0.99,10000)
    op("semdedup") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val centsPath = nameOf(t, "centroid-table parquet path")
      val p = exprParams(t, "threshold,maxClusterSize")
      val (thr, maxCluster) = (p.double(0, 0.99), p.int(1, 10000))
      d => graft.llm.Similarity.semDedupFrozen(d,
        d.sparkSession.read.parquet(centsPath), thr, idc, vc, maxCluster)
    },
    // ANN top-k (md5-integer LSH + exact quantized-cosine re-rank —
    // the engine-exact annTopK): REPLACES the frame with (query_id,
    // neighbor_id, sim, rank) for every query vector in the `name`
    // parquet (same idCol/vecCol schema) against the frame as the
    // corpus. expr = "k[,tables[,bits]]" (defaults 8 tables, 8 bits)
    op("ann_topk") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val queriesPath = nameOf(t, "query-vectors parquet path")
      val p = exprParams(t, "k,tables,bits")
      val (k, tables, bits) = (p.int(0), p.int(1, 8), p.int(2, 8))
      d => graft.llm.Similarity.annTopK(d.sparkSession.read.parquet(queriesPath),
        d, k, tables = tables, bits = bits, idCol = idc, vecCol = vc)
    },
    // IVF-flat ANN (coarse-quantizer cells, √n auto-sizing): same
    // (query_id, neighbor_id, sim, rank) reshape as ann_topk, the
    // scale path for corpora where LSH tables over-generate. The
    // deterministic md5-sample training makes the declared op ≡ the
    // direct ivfTopK call at equal parameters (no hidden RNG state
    // to persist). expr = "k[,nCells[,nProbe]]" (0 = auto √n / √cells)
    op("ann_ivf") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val queriesPath = nameOf(t, "query-vectors parquet path")
      val p = exprParams(t, "k,nCells,nProbe")
      val (k, cells, probe) = (p.int(0), p.int(1, 0), p.int(2, 0))
      d => graft.llm.Similarity.ivfTopK(d.sparkSession.read.parquet(queriesPath),
        d, k, nCells = cells, nProbe = probe, idCol = idc, vecCol = vc)
    },
    // product-quantization ANN (compressed code scan + exact re-rank
    // of the top-`rerank` candidates): the 100 TB scan-cost path.
    // expr = "k[,m[,codebookSize[,rerank]]]" (m = 0 auto-divides dim)
    op("ann_pq") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val queriesPath = nameOf(t, "query-vectors parquet path")
      val p = exprParams(t, "k,m,codebookSize,rerank")
      val (k, m, cb, rerank) = (p.int(0), p.int(1, 0), p.int(2, 32), p.int(3, 64))
      d => graft.llm.Similarity.pqTopK(d.sparkSession.read.parquet(queriesPath),
        d, k, m = m, codebookSize = cb, rerank = rerank, idCol = idc, vecCol = vc)
    },
    // embedding near-dup pairs (md5-integer LSH buckets + exact
    // quantized cosine): REPLACES the frame with (id_a, id_b, sim)
    // for every bucket-colliding pair at sim >= threshold — the
    // pair-emitting form; chain a join/anti-join to drop one side.
    // expr = "threshold[,tables[,bits[,maxBucketSize]]]"
    op("cosine_neardup") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val p = exprParams(t, "threshold,tables,bits,maxBucketSize")
      val (thr, tables, bits, maxBucket) =
        (p.double(0), p.int(1, 8), p.int(2, 8), p.int(3, 10000))
      graft.llm.Similarity.cosineNearDups(_, thr, tables = tables, bits = bits,
        idCol = idc, vecCol = vc, maxBucketSize = maxBucket)
    },
    // deterministic integer k-means assignment: REPLACES the frame
    // with (idCol, cluster, dist) — exact BIGINT squared-L2 over
    // int8-quantized vectors, lowest-index tie-break, truncating
    // integer-mean updates (identical on any engine / parallelism).
    // cols = [idCol, vecCol], expr = "k[,iters]" (default 2 iters)
    op("kmeans") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val p = exprParams(t, "k,iters")
      val (k, iters) = (p.int(0), p.int(1, 2))
      graft.llm.Similarity.kmeansInt8(_, k, iters, idc, vc)
    },
    // ROUGE-L decontamination (the Self-Instruct SFT dedup gate):
    // drops rows whose ROUGE-L vs any reference doc clears the
    // threshold. cols = [idCol, textCol], name = ref parquet path
    // (same idCol/textCol schema), expr = threshold fraction
    // (default 0.7)
    op("decontaminate_rougel") { t =>
      val Seq(idc, tc) = cols(t, "idCol", "textCol")
      val refPath = nameOf(t, "ref parquet path")
      val thrMicro = math.round(exprParams(t, "threshold").double(0, 0.7) * 1000000L)
      d => graft.llm.Dedup.dropRougeLOfReference(d,
        d.sparkSession.read.parquet(refPath), idc, tc, thrMicro)
    },
    // shard reproducibility manifest: REPLACES the frame with
    // (shardCol, n_docs, n_tokens, content_xor).
    // cols = [shardCol, idCol, textCol]
    op("shard_manifest") { t =>
      val Seq(sc, idc, tc) = cols(t, "shardCol", "idCol", "textCol")
      graft.llm.CorpusStats.shardManifest(_, sc, idc, tc)
    },
    // Efraimidis–Spirakis weighted sample without replacement: keeps
    // k rows per group (probability ∝ weight), annotated with
    // (priority_micro, sel_rank). cols = [groupCol, idCol],
    // expr = weight SQL expression, name = "k" or "k,salt"
    op("weighted_sample") { t =>
      val Seq(g, idc) = cols(t, "groupCol", "idCol")
      val (kk, salt) = t.name.getOrElse("5").split(",", 2) match {
        case Array(a) => (a, "")
        case Array(a, s) => (a, s)
      }
      val k = numeric(t, "k", kk)(_.toInt)
      val w = exprOf(t, "weight SQL expression")
      graft.llm.Selection.weightedSampleK(_, g, idc, expr(w), k, salt)
    },
    // Count-Min estimates: REPLACES the frame with (token, freq,
    // freq_est) for the exact top-k tokens. cols = [textCol],
    // expr = "k,depth,width" (default "20,4,256")
    op("cms") { t =>
      val Seq(c) = cols(t, "textCol")
      val p = exprParams(t, "k,depth,width")
      val (k, dep, wid) = (p.int(0, 20), p.int(1, 4), p.int(2, 256))
      graft.llm.CorpusStats.cmsEstimates(_, c, k, dep, wid)
    },
    // deterministic HLL distinct estimate: REPLACES the frame with
    // (groupCol, n_hll). cols = [groupCol, valueCol]
    op("hll") { t =>
      val Seq(g, vcol) = cols(t, "groupCol", "valueCol")
      graft.llm.Sketches.hllEstimate(_, g, col(vcol))
    },
    // Bradley–Terry strength fit: REPLACES the frame (a comparison
    // log) with (id, strength_micro, n_wins, n_comparisons).
    // cols = [winnerCol, loserCol], name = iterations (default 5)
    op("bt_strength") { t =>
      val Seq(wc, lc) = cols(t, "winnerCol", "loserCol")
      val iters = nameParams(t, "iterations").int(0, 5)
      graft.llm.Ranking.btStrengths(_, wc, lc, iters)
    },
    // MMR diverse selection: keep the k rows maximizing relevance −
    // max-similarity-to-picked, annotated with (sel_rank,
    // mmr_score_micro). cols = [idCol, vecCol], expr = relevance SQL
    // expression, name = k (default 8). Bounded-k by contract
    // (Selection.mmrSelect broadcasts ≤ k vectors per round).
    op("mmr") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val rel = exprOf(t, "relevance SQL expression")
      val k = nameParams(t, "k").int(0, 8)
      d => d.join(graft.llm.Selection.mmrSelect(d, idc, expr(rel), vc, k), Seq(idc))
    },
    // WordPiece encode: build the vocab on THIS frame, greedy
    // longest-match encode each doc, annotate with (n_words, n_pieces,
    // n_unk). cols = [idCol, textCol],
    // expr = "vocabSize,subLen,minCount" (default "12,3,100")
    op("wordpiece_encode") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "vocabSize,subLen,minCount")
      val (v, sl, mc) = (p.int(0, 12), p.int(1, 3), p.long(2, 100L))
      d => d.join(graft.llm.Tokenizer.wordpieceEncodeCounts(d, idc, c,
        graft.llm.Tokenizer.wordpieceVocab(d, c, v, sl, mc)), Seq(idc))
    },
    // unigram-LM tokenizer encode: train seed-and-prune pieces on THIS
    // frame, Viterbi-encode each doc, annotate with (n_words,
    // n_pieces, nll_micro). cols = [idCol, textCol],
    // expr = "vocabSize,maxPieceLen" (default "64,4")
    op("unigram_encode") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "vocabSize,maxPieceLen")
      val (v, l) = (p.int(0, 64), p.int(1, 4))
      d => d.join(graft.llm.Tokenizer.unigramEncodeCounts(d, idc, c,
        graft.llm.Tokenizer.unigramPieces(d, c, v, l), l), Seq(idc))
    },
    // BPE encode through the production kernel: mine nMerges on THIS
    // frame, annotate per-doc token counts. cols = [idCol, textCol],
    // expr = nMerges (default 8). The merge TABLE is vocab-sized and
    // collected once (the trainer contract, CurationOps bpe_encode).
    op("bpe_encode") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val nMerges = exprParams(t, "nMerges").int(0, 8)
      d =>
        val merges = graft.llm.Tokenizer.bpeMerges(d, c, nMerges)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        d.join(graft.llm.Tokenizer.applyMergesTokenCountsKernel(
          d, idc, c, merges), Seq(idc))
    },
    // k-anonymity over quasi-identifier columns: annotate with
    // (qi_group_n, k_anon) or suppress small groups.
    // cols = quasi cols, expr = k (default 10),
    // name = annotate (default) | filter
    op("k_anonymize") { t =>
      val quasi = colsAtLeast(t, 1, "quasi columns")
      val k = exprParams(t, "k").long(0, 10L)
      if (mode(t, "annotate", "filter") == "annotate")
        graft.llm.Privacy.kAnonymity(_, quasi, k)
      else graft.llm.Privacy.suppressSmallGroups(_, quasi, k)
    },
    // l-diversity: distinct non-null sensitive values per QI group,
    // annotated as (l_div, l_ok). cols = quasi cols :+ sensitiveCol
    // (LAST), expr = l (default 2)
    op("l_diversity") { t =>
      val cs = colsAtLeast(t, 2, "quasi columns :+ sensitive column")
      val l = exprParams(t, "l").long(0, 2L)
      graft.llm.Privacy.lDiversity(_, cs.init, cs.last, l)
    },
    // SFT chat formatting: REPLACES the frame with one role-tagged
    // training text per conversation (conv_id, chat_text, n_turns).
    // cols = [convCol, orderCol, roleCol, contentCol]
    op("chat_format") { t =>
      val Seq(cv, o, rl, ct) = cols(t, "convCol", "orderCol", "roleCol", "contentCol")
      graft.llm.SftFormat.chatFormat(_, cv, o, rl, ct)
    },
    // loss-mask spans of the target role's content:
    // (conv_id, span_idx, span_start, span_end).
    // cols as chat_format, name = target role (default "assistant")
    op("loss_mask") { t =>
      val Seq(cv, o, rl, ct) = cols(t, "convCol", "orderCol", "roleCol", "contentCol")
      val role = t.name.getOrElse("assistant")
      graft.llm.SftFormat.lossMaskSpans(_, cv, o, rl, ct, role)
    },
    // preference pairs (RLHF/DPO shape): per group, best vs worst by
    // an integer score expr. cols = [groupCol, idCol], expr = score
    op("pref_pairs") { t =>
      val Seq(g, idc) = cols(t, "groupCol", "idCol")
      val score = exprOf(t, "score SQL expression")
      graft.llm.Selection.prefPairs(_, g, idc, expr(score))
    },
    // ε-DP noisy group counts: REPLACES the frame with
    // (group cols…, n, noisy_n); deterministic md5-keyed Laplace.
    // cols = group cols, expr = "epsilonMicro[,sensitivity]"
    // (default "1000000,1"), name = seed (default "graft")
    op("dp_counts") { t =>
      val groups = colsAtLeast(t, 1, "group columns")
      val p = exprParams(t, "epsilonMicro,sensitivity")
      val (eps, sens) = (p.long(0, 1000000L), p.long(1, 1L))
      val seed = t.name.getOrElse("graft")
      graft.llm.Privacy.dpNoisyCounts(_, groups, eps, seed, sens)
    },
    // generalize-to-k ladder: bucket the LAST col at the smallest
    // power-of-2 width making every (quasi, bucket) group reach k;
    // appends (qi_bucket, gen_width). cols = quasi cols :+ numCol,
    // expr = "k,maxExp" (default "10,24")
    op("generalize_k") { t =>
      val cs = colsAtLeast(t, 2, "quasi columns :+ numeric column")
      val p = exprParams(t, "k,maxExp")
      val (k, me) = (p.long(0, 10L), p.int(1, 24))
      graft.llm.Privacy.generalizeToK(_, cs.init, cs.last, k, me)
    },
    // PMI collocations: REPLACES the frame with the corpus-level
    // (w1, w2, c2, pmi_micro, rank) table — an aggregation op like
    // profile, not a per-row annotation. cols = [textCol],
    // expr = "minCount,k" (default "5,20")
    op("collocations") { t =>
      val Seq(c) = cols(t, "textCol")
      val p = exprParams(t, "minCount,k")
      val (mc, k) = (p.long(0, 5L), p.int(1, 20))
      graft.llm.CorpusStats.collocations(_, c, mc, k)
    },
    // incremental span removal against a PERSISTED span-df index
    // (read-only — index persistence belongs to the ingest loop,
    // streaming.Pipelines.boilerplateIngest, whose two-level layout
    // readSpanDfIndex understands): cols = [idCol, textCol],
    // expr = "spanTokens,maxDf", name = indexDir. Same rejoin
    // contract as span_removal.
    op("span_clean_indexed") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "spanTokens,maxDf")
      val (l, mdf) = (p.int(0, 20), p.int(1, 3))
      val indexDir = nameOf(t, "indexDir")
      d => rejoinCleaned(t.op, d, graft.llm.CorpusStats
        .removeRepeatedSpansIncremental(graft.streaming.Pipelines
          .readSpanDfIndex(d.sparkSession, indexDir), d, idc, c, l, mdf)._1,
        idc, c, Seq("n_tokens", "n_removed"), "_span")
    },
    // incremental keep-one exact-substring dedup against a PERSISTED
    // keeper index (read-only — index persistence belongs to the
    // ingest loop, streaming.Pipelines.substringDedupIngest, whose
    // two-level layout readSubstrIndex understands):
    // cols = [idCol, textCol], expr = minRunTokens (default 20) —
    // MUST equal the minRunTokens the index was built with (window
    // hashes don't encode L; a mismatch silently misses history,
    // the same caller contract as the span/para indexed family),
    // name = indexDir. Same rejoin contract as substring_dedup.
    op("substring_dedup_indexed") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val minRun = exprParams(t, "minRunTokens").int(0, 20)
      val indexDir = nameOf(t, "indexDir")
      d => rejoinCleaned(t.op, d, graft.llm.CorpusStats
        .removeDuplicateSubstringsIncremental(graft.streaming.Pipelines
          .readSubstrIndex(d.sparkSession, indexDir), d, idc, c, minRun)._1,
        idc, c, Seq("n_tokens", "n_removed"), "_substr")
    },
    // incremental paragraph dedup against a PERSISTED paragraph-df
    // index (read-only — index persistence belongs to the ingest loop,
    // streaming.Pipelines.paraDedupIngest, whose two-level layout
    // readParaDfIndex understands): cols = [idCol, textCol],
    // expr = maxDf (default 3), name = indexDir. Same rejoin contract
    // as para_dedup.
    op("para_clean_indexed") { t =>
      val Seq(idc, c) = cols(t, "idCol", "textCol")
      val mdf = exprParams(t, "maxDf").int(0, 3)
      val indexDir = nameOf(t, "indexDir")
      d => rejoinCleaned(t.op, d, graft.llm.CorpusStats
        .dropRepeatedParagraphsIncremental(graft.streaming.Pipelines
          .readParaDfIndex(d.sparkSession, indexDir), d, idc, c, mdf)._1,
        idc, c, Seq("n_paras", "n_removed"), "_para")
    },
    // one-pass table profile — REPLACES the frame with one row per
    // column (pos, column, n_rows, n_nulls, ndv, min_val, max_val):
    // cols = optional column subset (default all)
    op("profile") { t => graft.etl.Profile.profile(_, t.cols) },
    // drift gate vs a stored baseline profile — REPLACES the frame
    // with the flagged rows (empty = healthy): name = baseline
    // profile parquet path, expr = "nullFracTol,ndvRatioTol",
    // cols = optional subset to profile
    op("drift") { t =>
      val p = exprParams(t, "nullFracTol,ndvRatioTol")
      val (nf, dv) = (p.double(0, 0.05), p.double(1, 2.0))
      val baselinePath = nameOf(t, "baseline profile path")
      d => graft.etl.Profile.drift(graft.etl.Profile.profile(d, t.cols),
        d.sparkSession.read.parquet(baselinePath), nf, dv)
    },
    // fused linear scorer: name = output column,
    // expr = "bias, feature:weight, feature:weight, ..."
    op("score_linear") { t =>
      val bias +: terms = exprOf(t, "\"bias, col:w, ...\"").split(",").toSeq
      val b = numeric(t, "bias", bias)(_.toDouble)
      val ws = weights(t, terms)(_.toDouble)
      graft.ml.Scoring.scoreLinear(_, ws, b, t.name.getOrElse("score"))
    })

  /** The transform registry's op names. */
  private[graft] def transformOps: Set[String] = transforms.keySet

  /** Bind each transform's conf; the result folds the frame through them. */
  private def bindTransforms(ts: Seq[TransformConf]): DataFrame => DataFrame = {
    val fs = ts.map(t =>
      transforms.getOrElse(t.op, bad(s"unknown transform op '${t.op}'"))(t))
    df => fs.foldLeft(df)((d, f) => f(d))
  }

  def applyTransforms(df: DataFrame, ts: Seq[TransformConf]): DataFrame =
    bindTransforms(ts)(df)

  /** A declared ingest loop, bound: (readStream frame, clean dir, index
    * dir, checkpoint dir) → the started query.
    */
  private type Loop = (DataFrame, String, String, String) => StreamingQuery
  private def loop(name: String)(bind: TransformConf => Loop) = name -> bind

  /** The ingest-loop registry. Shared conventions: cols = [idCol,
    * textCol, ...], numeric params ride expr as a comma list (each loop
    * documents its order), extra model-table paths ride `name`.
    */
  private val ingestLoops: Map[String, TransformConf => Loop] = Map(
    // keep-one exact-substring dedup with a persisted base/delta keeper
    // index; expr = minRunTokens[,compactEvery]
    loop("substring_dedup_ingest") { t =>
      val Seq(idc, tc) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "minRunTokens,compactEvery")
      val (minRun, every) = (p.int(0, 20), p.int(1, 16))
      graft.streaming.Pipelines.substringDedupIngest(_, idc, tc, _, _, _, minRun, every)
    },
    // self-target DSIR feature ingestion with exact retro-scoring state
    // (path = per-doc features, options.index = the (bkt, cr, ct)
    // distributions); cols = [idCol, textCol, targetCol],
    // expr = compactEvery (default 16)
    loop("dsir_self_ingest") { t =>
      val Seq(idc, tc, tgt) = cols(t, "idCol", "textCol", "targetCol")
      val every = exprParams(t, "compactEvery").int(0, 16)
      graft.streaming.Pipelines.dsirSelfIngest(_, idc, tc, tgt, _, _, _, every)
    },
    // banded-MinHash near-dup dedup against the persisted band index;
    // expr = shingleN,numHashes,bands,threshold
    loop("near_dup_ingest") { t =>
      val Seq(idc, tc) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "shingleN,numHashes,bands,threshold")
      val (shn, nh, bands, thr) = (p.int(0, 3), p.int(1, 96), p.int(2, 48), p.double(3, 0.5))
      graft.streaming.Pipelines.nearDupIngest(_, idc, tc, _, _, _,
        shingleN = shn, numHashes = nh, bands = bands, threshold = thr)
    },
    // frozen-centroid SemDeDup over streamed embeddings; cols =
    // [idCol, vecCol], name = centroid-table parquet (frozen — the
    // mergeability stance every declared ANN path shares),
    // expr = threshold[,maxClusterSize[,compactEvery]]
    loop("semdedup_ingest") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val centsPath = nameOf(t, "frozen centroid table path")
      val p = exprParams(t, "threshold,maxClusterSize,compactEvery")
      val (thr, maxCluster, every) = (p.double(0), p.int(1, 10000), p.int(2, 16))
      (sdf, clean, index, ckpt) => graft.streaming.Pipelines.semDedupIngest(
        sdf, idc, vc, sdf.sparkSession.read.parquet(centsPath), thr,
        clean, index, ckpt, maxClusterSize = maxCluster, compactEvery = every)
    },
    // corpus-df TF-IDF keywords; expr = k[,compactEvery]
    loop("tfidf_ingest") { t =>
      val Seq(idc, tc) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "k,compactEvery")
      val (k, every) = (p.int(0, 5), p.int(1, 16))
      graft.streaming.Pipelines.tfidfIngest(_, idc, tc, _, _, _, k = k, compactEvery = every)
    },
    // repeated-span boilerplate removal; expr =
    // spanTokens[,maxDf[,compactEvery]]
    loop("boilerplate_ingest") { t =>
      val Seq(idc, tc) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "spanTokens,maxDf,compactEvery")
      val (l, mdf, every) = (p.int(0, 20), p.int(1, 3), p.int(2, 16))
      graft.streaming.Pipelines.boilerplateIngest(_, idc, tc, _, _, _,
        spanTokens = l, maxDf = mdf, compactEvery = every)
    },
    // paragraph-level exact dedup (the CCNet first pass);
    // expr = maxDf[,compactEvery]
    loop("para_dedup_ingest") { t =>
      val Seq(idc, tc) = cols(t, "idCol", "textCol")
      val p = exprParams(t, "maxDf,compactEvery")
      val (mdf, every) = (p.int(0, 3), p.int(1, 16))
      graft.streaming.Pipelines.paraDedupIngest(_, idc, tc, _, _, _,
        maxDf = mdf, compactEvery = every)
    },
    // continuous datacard facts + language-token-frequency index;
    // cols = [idCol, textCol, langCol], expr = compactEvery, name =
    // OPTIONAL frozen tokenizer-pieces parquet (adds the fertility
    // facts, schema-driven)
    loop("datacard_ingest") { t =>
      val Seq(idc, tc, lc) = cols(t, "idCol", "textCol", "langCol")
      val every = exprParams(t, "compactEvery").int(0, 16)
      val piecesPath = t.name
      (sdf, clean, index, ckpt) => graft.streaming.Pipelines.datacardIngest(
        sdf, idc, tc, lc, clean, index, ckpt, compactEvery = every,
        frozenPieces = piecesPath.map(sdf.sparkSession.read.parquet(_)))
    },
    // one BITEXT side's state ingestion: slim (id, q8) rows under path,
    // (id, table, bucket) hyperplane rows under options.index, at a
    // FROZEN tables×bits width; expr = tables,bits[,compactEvery]. Run
    // one loop per language side; mine at read time with the
    // bitext_retro_mine batch op.
    loop("bitext_ingest") { t =>
      val Seq(idc, vc) = cols(t, "idCol", "vecCol")
      val p = exprParams(t, "tables,bits,compactEvery")
      val (tables, bits, every) = (p.int(0, 8), p.int(1, 8), p.int(2, 16))
      graft.streaming.Pipelines.bitextIngest(_, idc, vc, _, _, _,
        tables = tables, bits = bits, compactEvery = every)
    })

  // ---- sources and sinks ----

  private def schemaOf(c: SourceConf): StructType = StructType.fromDDL(
    c.schema.getOrElse(bad(s"source type '${c.`type`}' requires a schema")))

  /** Bind a source conf: the type, schema, table or query are checked
    * here; the read itself waits for the session.
    */
  private def bindSource(c: SourceConf): SparkSession => ErrorTolerant.Decoded = {
    def inline(spark: SparkSession) = {
      import spark.implicits._
      spark.createDataset(c.lines)
    }
    def noCorrupt(df: DataFrame) = ErrorTolerant.Decoded(
      df.withColumn(ErrorTolerant.CorruptCol, lit(null).cast("string")))
    c.`type` match {
      case "csv_files" =>
        val ddl = ErrorTolerant.withCorrupt(schemaOf(c))
        spark => ErrorTolerant.Decoded(
          spark.read.options(c.options).schema(ddl).csv(c.paths: _*))
      case "json_files" =>
        val ddl = ErrorTolerant.withCorrupt(schemaOf(c))
        spark => ErrorTolerant.Decoded(spark.read.options(c.options)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", ErrorTolerant.CorruptCol)
          .schema(ddl).json(c.paths: _*))
      case "xml_files" =>
        val ddl = schemaOf(c)
        ErrorTolerant.xmlFiles(_, c.paths, ddl, c.options.getOrElse("rowTag", "row"))
      case "csv_lines" =>
        val ddl = schemaOf(c)
        spark => ErrorTolerant.csv(spark, inline(spark), ddl)
      case "json_lines" =>
        val ddl = schemaOf(c)
        spark => ErrorTolerant.json(spark, inline(spark), ddl)
      case "text" => spark => noCorrupt(TextSource.lines(spark, c.paths))
      case "parquet" | "orc" =>
        spark => noCorrupt(graft.Tables.read(spark, c.`type`, c.options, c.paths))
      case "table" =>
        val table = c.table.getOrElse(bad("source type 'table' requires a table name"))
        spark => noCorrupt(spark.table(table))
      case "sql" =>
        val query = c.query.getOrElse(bad("source type 'sql' requires a query"))
        spark => noCorrupt(spark.sql(query))
      case other => bad(s"unknown source type '$other'")
    }
  }

  /** Compile a source config to an error-tolerant Decoded frame. All file
    * forms stay distributed splittable scans; `*_lines` are the mock/inline
    * sources (reference S4/S5) for tests and small fixtures.
    */
  def buildSource(spark: SparkSession, c: SourceConf): ErrorTolerant.Decoded =
    bindSource(c)(spark)

  /** Streaming twin of [[bindSource]] for `kind = "ingest"` steps: a
    * file-watching readStream over the declared paths. Streaming file
    * sources require an explicit schema (no inference race with the
    * writer), and exactly one path glob — Spark's file stream tracks one
    * directory's progress per source in the checkpoint.
    */
  private def bindStreamSource(c: SourceConf): SparkSession => DataFrame = {
    val format = c.`type` match {
      case "json" | "json_files" => "json"
      case "csv" | "csv_files" => "csv"
      case "parquet" => "parquet"
      case other => bad(s"unknown ingest source type '$other'")
    }
    val ddl = schemaOf(c)
    val path = c.paths match {
      case Seq(one) => one
      case _ => bad(s"ingest source '${c.`type`}' declares exactly one path glob")
    }
    _.readStream.options(c.options).schema(ddl).format(format).load(path)
  }

  def buildStreamSource(spark: SparkSession, c: SourceConf): DataFrame =
    bindStreamSource(c)(spark)

  /** The save modes `DataFrameWriter.mode(String)` accepts, lower-cased. */
  private val SaveModes = Map(
    "overwrite" -> SaveMode.Overwrite, "append" -> SaveMode.Append,
    "ignore" -> SaveMode.Ignore, "error" -> SaveMode.ErrorIfExists,
    "errorifexists" -> SaveMode.ErrorIfExists,
    "default" -> SaveMode.ErrorIfExists)

  private val FileSinks = Set("parquet", "orc", "csv", "json")

  /** Bind a sink conf: the type, path and mode are checked here. */
  private def bindSink(c: SinkConf): DataFrame => Long = {
    val mode = SaveModes.getOrElse(c.mode.toLowerCase(java.util.Locale.ROOT),
      bad(s"sink '${c.`type`}': unknown mode '${c.mode}' " +
        s"(want ${SaveModes.keys.toSeq.sorted.mkString("|")})"))
    val write: DataFrame => Unit =
      if (FileSinks(c.`type`)) {
        val path = c.path.getOrElse(bad(s"sink '${c.`type`}' requires a path"))
        // writer options apply uniformly to every file sink
        df => {
          val w = df.write.mode(mode).options(c.options).format(c.`type`)
          (if (c.partitionBy.nonEmpty) w.partitionBy(c.partitionBy: _*) else w)
            .save(path)
        }
      } else if (c.`type` == "noop" || c.`type` == "null") Writers.noop
      else bad(s"unknown sink type '${c.`type`}'")
    df => {
      val obs = Observation()
      write(df.observe(obs, count(lit(1)).as("n")))
      scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(30, "s")).getLong(0)
    }
  }

  /** Compile a sink config to a write action returning rows written. The
    * count rides the write itself as an observed metric — one pass.
    */
  def buildSink(c: SinkConf): DataFrame => Long = bindSink(c)

  // ---- steps ----

  /** One bound step: given the session and the job's runner, run it. */
  private type Step = (SparkSession, JobRunner) => Unit

  /** Bind one step; any config error is rethrown naming the step. */
  private def bindStep(s: StepConf): Step =
    try s.kind match {
      case "stream" =>
        val src = bindSource(s.source.getOrElse(bad("stream needs a source")))
        val sinkConf = s.sink.getOrElse(SinkConf("noop"))
        val sink = bindSink(sinkConf)
        val ts = bindTransforms(s.transforms)
        val sinkName = sinkConf.`type` + sinkConf.path.fold("")(":" + _)
        // transforms run on the GOOD rows inside the write action: decode
        // ok/err accounting stays a property of the source, while a
        // filtering transform only affects rows written — the reference's
        // TransformHandler contract (errors counted at decode, transform
        // output measured at the sink)
        (spark, runner) => runner.runDecodedStreamLazy(s.step, src(spark),
          sinkName, df => sink(ts(df)), s.stopOnError)
      case "command" =>
        val sql = s.sql.getOrElse(bad("command needs sql"))
        (spark, runner) => runner.runCmd(s.step, s.stopOnError) {
          spark.sql(sql).collect()
          ()
        }
      // a declared INGEST LOOP: starts the named streaming pipeline,
      // drains every available micro-batch, and stops — one run() = one
      // session of the loop. The loop's memory lives in the sink's
      // checkpoint + index dirs, NOT this JVM, so re-running the same
      // config resumes mid-stream without replaying committed batches:
      // the declared form of the kill-and-resume capstone
      // (StreamingSpec), proven equivalent in ConfigSpec. Sink carries
      // the paths: `path` = clean output, options.index /
      // options.checkpoint = the durable state dirs.
      case "ingest" =>
        val src = bindStreamSource(s.source.getOrElse(bad("ingest needs a source")))
        val sink = s.sink.getOrElse(bad("ingest needs a sink"))
        val cleanDir = sink.path.getOrElse(bad("ingest sink needs path"))
        val indexDir = sink.options.getOrElse("index", bad("ingest sink needs options.index"))
        val ckptDir = sink.options.getOrElse("checkpoint",
          bad("ingest sink needs options.checkpoint"))
        val t = s.transforms match {
          case Seq(one) => one
          case _ => bad("ingest declares exactly one loop op")
        }
        val start = ingestLoops.getOrElse(t.op, bad(s"unknown ingest loop op '${t.op}'"))(t)
        (spark, runner) => runner.runCmd(s.step, s.stopOnError) {
          val q = start(src(spark), cleanDir, indexDir, ckptDir)
          try q.processAllAvailable() finally q.stop()
        }
      case other => bad(s"unknown step kind '$other'")
    } catch {
      case NonFatal(e) =>
        throw new IllegalArgumentException(s"step '${s.step}': ${e.getMessage}", e)
    }

  private def compile(conf: PipelineConf): Seq[Step] = conf.steps.map(bindStep)

  /** Run a declared pipeline through JobRunner: durable per-step state,
    * skip-if-complete on re-run, error budgets, fatal latch — the
    * `etl-job/tests/simple-pipeline.rs` contract, from a config file.
    * Every step is bound before the first one runs.
    */
  def run(spark: SparkSession, conf: PipelineConf, store: SimpleStore,
      manager: Option[JobManager] = None): JobState = {
    val steps = compile(conf)
    val runner = new JobRunner(conf.id, conf.name, store,
      JobRunnerConfig(maxErrors = conf.maxErrors), manager)
    steps.foreach(_(spark, runner))
    runner.complete()
  }

  /** Convenience: load from a file and run. */
  def runFile(spark: SparkSession, path: String, store: SimpleStore,
      manager: Option[JobManager] = None): JobState =
    run(spark, load(path), store, manager)
}
