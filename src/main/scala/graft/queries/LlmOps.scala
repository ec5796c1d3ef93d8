package graft.queries

import graft.Tables
import graft.llm._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM training-data pipeline operators over the documents / embeddings
  * tables: dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity
  * search (brute-force + LSH ANN), text analysis, multimodal binary
  * plumbing.
  *
  * Oracle strategy: LSH/minhash internals are hash-dependent and engine-
  * specific, but every *output* here is defined by exact verification
  * (exact Jaccard / exact cosine), so DuckDB oracles compute the same answer
  * by brute force. Near-dup pairs are synthesized deterministically inside
  * the query (truncated / scaled copies) because the test corpus has no
  * natural dups — LSH recall for those pairs is structurally 1 (subset
  * shingles ≥ threshold jaccard; scaled vectors share every hyperplane
  * sign).
  */
object LlmOps extends QueryPack {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** documents ∪ copy with ids shifted +100000 and text truncated to the
    * first 80% of tokens — deterministic near-dup corpus.
    */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents.select(col("doc_id"), col("text"))
    val toks = split(trim(col("text")), "\\s+")
    val truncated = d.select(
      (col("doc_id") + 100000).as("doc_id"),
      array_join(slice(toks, lit(1), floor(size(toks) * 0.8).cast("int")), " ").as("text"))
    d.unionByName(truncated)
  }

  /** Shared MinHash→components chain for the five dedup-family queries
    * (`dedup_minhash`, `dedup_components`, `dedup_apply`,
    * `dedup_keep_best`, `split_leakage_free`) — memoized per
    * (session, sf dir) and localCheckpoint'd, so a pack run pays the
    * corpus-sized MinHash pass ONCE and every consumer replays the
    * pairs-sized result. That is exactly how a production curation run
    * stages it (compute pairs once; apply min-id, keep-best, and split
    * policies from the same chain), and the memo changes no output: the
    * chain is deterministic, so each query's hash is identical to a
    * standalone recomputation (GoldenSpec + the driver oracle pin this).
    */
  private val nearDupChainCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (DataFrame, DataFrame)]()
  private def nearDupChain(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    nearDupChainCache.computeIfAbsent((s, dir), { key =>
      val pairs = Dedup.minhashNearDups(docsWithNearDups(key._1, key._2),
          "doc_id", "text", shingleN = 3, numHashes = 96, bands = 48,
          threshold = 0.5)
        .localCheckpoint()
      (pairs, Dedup.survivorAssignment(pairs))
    })

  /** Held-out suite for NEAR-dup decontamination: docs with id ≡ 3 mod 10,
    * ids +200000, text truncated to the first 80% of tokens — a truncated/
    * paraphrased eval item per sampled doc (SQL twin inside the
    * dedup_vs_ref_near oracle).
    */
  private def refNearSuite(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    t(s, dir).documents.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select((col("doc_id") + 200000).as("doc_id"),
        array_join(slice(toks, lit(1),
          floor(size(toks) * 0.8).cast("int")), " ").as("text"))
  }

  /** md5-prefix hash bucket in ['00','ff'] — the ONE deterministic
    * bucketing primitive behind splits and stratified sampling (SQL twin:
    * `DuckBucket`).
    */
  private def bucketHex(docId: Column): Column =
    substring(md5(docId.cast("string")), 1, 2)

  /** Deterministic ~80/10/10 split on [[bucketHex]] — shared by
    * sample_split and pipeline_curate (its SQL twin is `DuckSplit`).
    */
  private def splitCol(docId: Column): Column = {
    val h2 = bucketHex(docId)
    when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test")
  }

  /** documents with deterministic synthetic PII appended (the corpus has
    * none naturally): an email on doc_id % 7, a URL on % 11, a phone on
    * % 13 — the oracle builds the identical text, so the detector's counts
    * are cross-checked on docs with 0, 1, 2 and 3 hits.
    */
  private def docsWithPii(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    t(s, dir).documents.select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" user"), id, lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" https://example.com/d/"), id)).otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        concat(lit(" +1 "), lpad(id, 10, "0"))).otherwise(lit(""))).as("text"))
  }

  /** Planted boilerplate footers (the corpus has no natural repeated spans):
    * a 40-token nav footer on doc_id % 4, a 30-token legal footer on % 7 —
    * shared by text_boilerplate and dedup_span_removal (SQL twin:
    * [[duckFootered]]).
    */
  private val FooterA = (1 to 40).map(i => s"nav$i").mkString(" ")
  private val FooterB = (1 to 30).map(i => s"legal$i").mkString(" ")
  private def docsWithFooters(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documents.select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0, lit(" " + FooterA))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(" " + FooterB))
          .otherwise(lit(""))).as("text"))

  /** The deterministic synthetic image corpus shared by mm_neardup and
    * mm_image_meta: one 64×48 PNG scene per doc id (first 160), every 4th
    * replanted as a 96×72 JPEG rendition under id + 1000000 (the dims the
    * mm_image_meta oracle hard-codes — change them together).
    */
  private def syntheticImageCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir).documents.select(col("doc_id").cast("long"))
      .orderBy("doc_id").limit(160).as[Long]
    ids.flatMap { id =>
      val base = (id, ImageHash.synthPng(id, 64, 48))
      if (id % 4 == 0)
        Seq(base, (id + 1000000L, ImageHash.synthJpeg(id, 96, 72)))
      else Seq(base)
    }.toDF("media_id", "media")
  }

  /** The deterministic synthetic VIDEO corpus (animated GIFs through the
    * real JDK sequence codec) shared by mm_video_neardup and
    * mm_video_meta: one 64×48 clip of `3 + id % 4` frames per doc id
    * (first 120), every 4th replanted as a 96×72 rendition that DROPS the
    * first frame (resize + truncation, the transforms a frame-fingerprint
    * dedup must recall) under id + 1000000 — the frame arithmetic the
    * mm_video_meta oracle hard-codes; change them together.
    */
  private def syntheticVideoCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir).documents.select(col("doc_id").cast("long"))
      .orderBy("doc_id").limit(120).as[Long]
    ids.flatMap { id =>
      val n = 3 + (id % 4).toInt
      val base = (id, VideoHash.synthGif(id, 64, 48, n))
      if (id % 4 == 0)
        Seq(base, (id + 1000000L, VideoHash.synthGifSlice(id, 96, 72, 1, n)))
      else Seq(base)
    }.toDF("media_id", "media")
  }

  /** The deterministic synthetic AUDIO corpus shared by mm_audio_neardup
    * and mm_audio_meta: one 44.1 kHz tone clip per doc id (first 160),
    * every 4th replanted resampled to 22.05 kHz, stereo, at 0.6× volume
    * under id + 1000000 (the arithmetic the mm_audio_meta oracle
    * hard-codes — change them together).
    */
  private def syntheticAudioCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir).documents.select(col("doc_id").cast("long"))
      .orderBy("doc_id").limit(160).as[Long]
    ids.flatMap { id =>
      val base = (id, AudioHash.synthWav(id, 44100))
      if (id % 4 == 0)
        Seq(base, (id + 1000000L,
          AudioHash.synthWav(id, 22050, channels = 2, volumeMilli = 600)))
      else Seq(base)
    }.toDF("media_id", "media")
  }

  // ---- shared decode passes (StageMemo contract: deterministic, so
  //      every consumer's hash equals standalone recomputation — the
  //      heavy codec work runs once per (session, sf) instead of once
  //      per metadata/dedup/capstone consumer) ----

  private def imageHashedShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "image_hashes") {
      ImageHash.imageHashes(syntheticImageCorpus(s, dir), "media_id",
        "media").toDF()
    }

  /** DSIR importance weights over the documents (target = English) — the
    * weights query and the top-k selection ride ONE fit (two hashed-
    * feature corpus scans otherwise; the memoized frame is slim
    * (id, n_feats, weight) rows).
    */
  private def dsirWeightsShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "dsir_weights") {
      Dsir.importanceWeights(t(s, dir).documents, "doc_id", "text",
        col("lang") === "en")
    }

  /** Bigram-LM corpus fit — the per-doc score query and the perplexity
    * buckets ride ONE fit (slim per-doc score rows).
    */
  private def lmScoreShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "lm_score") {
      CorpusStats.bigramLmScore(t(s, dir).documents, "doc_id", "text")
    }

  /** Corpus (span, id) hashes at spanTokens=20 — the decontamination
    * drop screen and the audit report ride ONE corpus tokenize+shingle
    * pass (slim 16-byte rows; at 100 TB that pass IS the cost of
    * either op).
    */
  private def corpusSpansShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "corpus_spans20") {
      Dedup.corpusSpanHashes(t(s, dir).documents, "doc_id", "text", 20)
    }

  /** Fuzzy (edit-distance) near-dup pairs over the 24-char key prefix —
    * the pair report and the applied dedup ride ONE PassJoin stage
    * (slim (id_a, id_b, dist) rows).
    */
  private def fuzzyPairsShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "fuzzy_pairs") {
      Dedup.fuzzyNearDupPairs(
        t(s, dir).documents.select(col("doc_id"),
          substring(col("text"), 1, 24).as("key")),
        "doc_id", "key", maxDist = 2)
    }

  /** Per-(language, token) frequency table — ONE corpus tokenize +
    * shuffle feeding the datacard's Zipf, OOV, and vocabulary legs (and
    * the standalone vocab_zipf_lang). At 100 TB this is the difference
    * between one full-corpus explode and three.
    */
  private def langTokFreqShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "lang_tok_freq") {
      CorpusStats.langTokenFreqs(t(s, dir).documents, "text", "lang")
    }

  /** Per-language Zipf panel — vocab_zipf_lang and the datacard leg ride
    * one range-partitioned per-group Hill pass over the shared
    * frequency table.
    */
  private def zipfLangShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "zipf_lang") {
      CorpusStats.zipfAlphaByGroupFreqs(langTokFreqShared(s, dir),
        "lang", "word", "freq", k = 64)
    }

  private def videoHashedShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "video_hashes") {
      VideoHash.videoHashes(syntheticVideoCorpus(s, dir), "media_id",
        "media").toDF()
    }

  private def videoSurvivorsShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "video_survivors") {
      import s.implicits._
      Dedup.applySurvivors(syntheticVideoCorpus(s, dir), "media_id",
        Dedup.survivorAssignment(VideoHash.nearDupPairs(
            videoHashedShared(s, dir).as[VideoHashed],
            minShareMilli = 500L)
          .select(col("id_a"), col("id_b"))))
    }

  private def audioHashedShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "audio_hashes") {
      AudioHash.audioHashes(syntheticAudioCorpus(s, dir), "media_id",
        "media").toDF()
    }

  /** Paragraph-structured planted corpus: FooterA as a LEADING paragraph
    * on every 4th doc, FooterB as a TRAILING one on every 7th — position
    * matters (the rebuild must keep the body in place after cutting
    * either side).
    */
  private def docsWithParaFooters(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documents.select(col("doc_id"),
      concat(
        when(pmod(col("doc_id"), lit(4)) === 0, lit(FooterA + "\n"))
          .otherwise(lit("")),
        col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("\n" + FooterB))
          .otherwise(lit(""))).as("text"))

  /** One boilerplate footer line, repeated doc_id % 4 times per doc by
    * [[docsWithRepetition]] — 6 tokens, so k ≥ 2 copies also plant
    * within-doc repeated 5-grams.
    */
  private val RepLine = "call now to subscribe today friends"

  /** Repetition-planted corpus for the Gopher rule suite: `doc_id % 4`
    * copies of [[RepLine]] as trailing lines, two bullet lines on every
    * 5th doc, a trailing-ellipsis line on every 6th (SQL twin inside the
    * gopher_quality_gate oracle).
    */
  private def docsWithRepetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documents.select(col("doc_id"),
      concat(
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("- item one\n- item two\n")).otherwise(lit("")),
        col("text"),
        call_function("repeat", lit("\n" + RepLine),
          pmod(col("doc_id"), lit(4)).cast("int")),
        when(pmod(col("doc_id"), lit(6)) === 0,
          lit("\nto be continued...")).otherwise(lit(""))).as("text"))

  /** HTML-polluted corpus: every 3rd doc wrapped in tags, every 4th doc
    * with escaped entities appended (SQL twin inside the text_html_clean
    * oracle).
    */
  private def docsWithHtml(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documents.select(col("doc_id"),
      concat(
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("<div class=\"body\"><p>"), col("text"),
            lit("</p>\n<br/></div>")))
          .otherwise(col("text")),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit(" &lt;escaped&gt; &amp;amp; &quot;quoted&quot;"))
          .otherwise(lit(""))).as("text"))

  /** embeddings (as double vectors) ∪ scaled copies (ids +100000, ×1.1). */
  private def vecsWithDups(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    e.unionByName(e.select((col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), x => x * 1.1).as("embedding")))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- exact dedup: content-digest groupBy, min-id survivor ----
    "dedup_exact" -> ((s, dir) => {
      val d = t(s, dir).documents.select(col("doc_id"), col("text"))
      val dup = d.select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup.exact(d.unionByName(dup), "doc_id", "text")
    }),

    // ---- MinHash+LSH near-dup pairs, exact-Jaccard verified. 96 hashes /
    //      48 bands of 2 rows: detection probability at the 0.5 threshold is
    //      1-(1-0.25)^48 ≈ 1-1e-6 (vs 1-4e-9 at 128/64) — measured-equal
    //      recall on this corpus for 25% less kernel work. ----
    "dedup_minhash" -> ((s, dir) => nearDupChain(s, dir)._1),

    // ---- SimHash fingerprints (engine-neutral 32-bit variant) ----
    "dedup_simhash" -> ((s, dir) =>
      t(s, dir).documents.select(col("doc_id"),
        TextOps.simhash32(col("text")).as("simhash"))),

    // ---- blocked n-gram (token-set) Jaccard similarity join ----
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val d = t(s, dir).documents.select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("toks"))
      Dedup.jaccardJoinBlocked(d, "doc_id", "toks", Seq("lang"), 0.5)
    }),

    // ---- survivor assignment: near-dup pairs → connected components →
    //      min-id survivor per component (the "actually drop the dups"
    //      step). Fixpoint label propagation over the PAIRS graph only —
    //      tiny relative to the corpus. ----
    "dedup_components" -> ((s, dir) => nearDupChain(s, dir)._2),

    // ---- end-to-end near-dedup: the corpus AFTER dropping every
    //      non-survivor (one call: pairs → components → anti-join) ----
    "dedup_apply" -> ((s, dir) =>
      Dedup.applySurvivors(docsWithNearDups(s, dir), "doc_id",
        nearDupChain(s, dir)._2)
        .select(col("doc_id"))),

    // ---- exact common-span pairs (contamination / substring dedup):
    //      docs sharing any contiguous 20-token span. Span hashes shuffle
    //      as longs; pair generation is bucket-local and capped. ----
    "dedup_common_span" -> ((s, dir) =>
      Dedup.commonSpanPairs(docsWithNearDups(s, dir), "doc_id", "text",
        spanTokens = 20)),

    // ---- two-corpus benchmark decontamination: corpus minus every doc
    //      sharing a 20-token span with the held-out set (docs with
    //      id ≡ 3 mod 10 stand in for an eval suite). Held-out span
    //      hashes broadcast; no pair generation. ----
    // ---- NEAR-dup benchmark decontamination: exact-Jaccard pairs
    //      between the corpus and a small held-out suite (truncated
    //      copies of docs with id ≡ 3 mod 10 stand in for paraphrased
    //      eval items). The suite ships as ONE broadcast inverted index;
    //      the corpus pass is map-only — zero shuffle, exact output (no
    //      LSH recall bound when one side broadcasts). ----
    "dedup_vs_ref_near" -> ((s, dir) =>
      Dedup.nearDupsVsReference(
        t(s, dir).documents.select(col("doc_id"), col("text")),
        refNearSuite(s, dir), "doc_id", "text",
        shingleN = 3, threshold = 0.5)),

    // ---- ROUGE-L decontamination (the Self-Instruct/Alpaca SFT dedup
    //      gate): every doc scored against its closest reference item by
    //      exact LCS, flag at 0.7. Both sides truncate to the first
    //      $RougeK whitespace tokens so the oracle's unrolled
    //      prefix-max DP stays bounded — the operator itself takes any
    //      token arrays. Docs with id ≡ 0 mod 37 stand in for the
    //      instruction pool (they self-match at 10⁶, proving the flag). ----
    "dedup_rougel" -> ((s, dir) => {
      val tok = t(s, dir).documents.select(col("doc_id"),
        slice(TextOps.tokens(col("text")), 1, RougeK).as("toks"))
      val ref = tok.filter(pmod(col("doc_id"), lit(37)) === 0)
      Dedup.rougeLVsReference(tok, ref, "doc_id", "toks", "doc_id",
        "toks", thresholdMicro = 700000L)
    }),

    "decontaminate" -> ((s, dir) => {
      val corpus = t(s, dir).documents
      val heldout = corpus.filter(pmod(col("doc_id"), lit(10)) === 3)
      Dedup.decontaminate(corpus, heldout, "doc_id", "text",
          spanTokens = 20, corpusSpansShared(s, dir))
        .select(col("doc_id"))
    }),

    // ---- contamination AUDIT: per eval item, how many other docs share
    //      a 20-token span, how many of its spans are hit, and how many
    //      were excluded as boilerplate (span df > 50) ----
    "decontaminate_report" -> ((s, dir) => {
      val corpus = t(s, dir).documents
      val heldout = corpus.filter(pmod(col("doc_id"), lit(10)) === 3)
      Dedup.decontaminationReport(corpus, heldout, "doc_id", "text",
        spanTokens = 20, maxDocsPerSpan = 50L, corpusSpansShared(s, dir))
    }),

    // ---- whole-document dedup against a reference corpus (blocklist /
    //      prior-run registry): broadcast Bloom pre-filter (fpp 1e-3, no
    //      false negatives) + exact md5 anti-join confirm — identical
    //      output to a plain anti-join, without a corpus-wide shuffle ----
    "dedup_against_ref" -> ((s, dir) => {
      val corpus = t(s, dir).documents
      val ref = corpus.filter(pmod(col("doc_id"), lit(10)) === 3)
        .select(col("text"))
      Dedup.dropIfInReference(corpus, ref, "doc_id", "text",
        expectedRefDocs = 1L << 16, fpp = 0.001).select(col("doc_id"))
    }),

    // ---- deterministic uniform sampling: bottom-k by content hash per
    //      group (no RNG, reproducible on any cluster layout — the
    //      LLM-corpus "take a stable N-doc sample per language" op) ----
    "sample_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
      t(s, dir).documents
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("doc_id"), col("rn").cast("long").as("rn"))
    }),

    // ---- deterministic train/val/test assignment: content-hash bucketing
    //      (md5 prefix, engine-neutral), ~80/10/10, reproducible on any
    //      cluster layout and stable under corpus growth — a doc never
    //      changes split when new docs arrive. Map-only. ----
    "sample_split" -> ((s, dir) =>
      t(s, dir).documents.select(col("doc_id"),
        splitCol(col("doc_id")).as("split"))),

    // ---- deterministic WEIGHTED sampling (quality-weighted corpus
    //      selection, the DCLM/FineWeb-style soft filter): keep each doc
    //      with probability = its quality score, decided by an md5-derived
    //      uniform — RNG-free, map-only, reproducible on any layout, and a
    //      doc's fate never changes as the corpus grows ----
    // ---- Efraimidis–Spirakis weighted sampling without replacement:
    //      5 docs per language, probability ∝ n_chars — md5-derived
    //      uniforms ranked through the engine-exact staged ln, so the
    //      weighted SAMPLE itself is deterministic and oracle-exact ----
    "sample_es_k" -> ((s, dir) =>
      Selection.weightedSampleK(t(s, dir).documents, "lang", "doc_id",
          col("n_chars"), k = 5)
        .select(col("lang"), col("doc_id"), col("priority_micro"),
          col("sel_rank"))),

    "sample_weighted" -> ((s, dir) => {
      val u32 = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long").cast("double")
      t(s, dir).documents
        .filter(u32 < TextOps.qualityScore(col("text")) * 4294967296.0)
        .select(col("doc_id"), col("lang"))
    }),

    // ---- deterministic stratified downsampling (corpus rebalancing:
    //      keep 10% of over-represented 'en', 50% of the rest) — same
    //      md5-bucket trick as sample_split, map-only, reproducible ----
    "sample_stratified" -> ((s, dir) => {
      val h2 = bucketHex(col("doc_id"))
      t(s, dir).documents
        .filter(when(col("lang") === "en", h2 < "1a").otherwise(h2 < "80"))
        .select(col("doc_id"), col("lang"))
    }),

    // ---- corpus mixture rebalancing: largest subset realizing a 2:1:1
    //      en:de:fr target, selected by content-hash rank — exact integer
    //      arithmetic, reproducible on any engine/layout. The histogram-
    //      pruned window only sorts each group's boundary bucket. ----
    "mixture_resample" -> ((s, dir) =>
      Mixture.resampleToMixture(t(s, dir).documents, "lang",
        Map("en" -> 2L, "de" -> 1L, "fr" -> 1L), "doc_id")
        .select(col("doc_id"), col("lang"))),

    // ---- TOKEN-weighted mixture: the 2:1:1 en:de:fr target realized as
    //      exact token proportions (pretraining mixtures are token
    //      budgets, not doc counts) — hash-prefix greedy selection, only
    //      each group's boundary bucket pays a window ----
    "mixture_tokens" -> ((s, dir) =>
      Mixture.resampleToTokenMixture(t(s, dir).documents, "lang",
        TextOps.tokenCount(col("text")),
        Map("en" -> 2L, "de" -> 1L, "fr" -> 1L), "doc_id")
        .select(col("doc_id"), col("lang"))),

    // ---- quality gate: keep the top 3/4 of each language by composite
    //      quality score — exact rank semantics, but only each group's
    //      histogram boundary cell pays a window (~1/256 of the group) ----
    "quality_gate" -> ((s, dir) =>
      Selection.topFractionByScore(t(s, dir).documents, "lang",
        TextOps.qualityScore(col("text")), "doc_id", keepNum = 3, keepDen = 4)
        .select(col("doc_id"), col("lang"))),

    // ---- token-budget selection: the best 5000 tokens per language,
    //      greedy by quality — same histogram-pruned shape, accumulating
    //      token sums instead of row counts ----
    "token_budget" -> ((s, dir) =>
      Selection.tokenBudgetByScore(t(s, dir).documents, "lang",
        TextOps.qualityScore(col("text")), TextOps.tokenCount(col("text")),
        "doc_id", budget = 5000L)
        .select(col("doc_id"), col("lang"))),

    // ---- per-source cap (domain balancing): at most 10 docs per source,
    //      best-by-quality first. Constant cap → no histogram pass, and
    //      WindowGroupLimit keeps the shuffle at O(sources·cap) rows ----
    "sel_cap_per_source" -> ((s, dir) =>
      Selection.capPerGroup(
        t(s, dir).documents.select(col("doc_id"), col("source"),
          TextOps.qualityScore(col("text")).as("quality")),
        "source", col("quality"), "doc_id", n = 10)),

    // ---- effective-sample-size (Kish) diagnostic for token-weighted
    //      sampling, per language: the weight-degeneracy gate to run
    //      before a weighted draw or temperature mixture commits ----
    "sel_ess" -> ((s, dir) =>
      Selection.essReport(
        t(s, dir).documents.select(col("lang"),
          TextOps.tokenCount(col("text")).as("w")),
        col("w"), Seq("lang"))),

    // ---- quality-aware near-dedup: same components as dedup_apply, but
    //      the kept member of each family is the HIGHEST-quality one
    //      (ties → min id), not the minimum id ----
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.applySurvivorsKeepBest(docsWithNearDups(s, dir), "doc_id",
        TextOps.qualityScore(col("text")), nearDupChain(s, dir)._2)
        .select(col("doc_id"))),

    // ---- sequence packing (concat-and-chunk pretraining batcher):
    //      deterministic shard → id-ordered token stream → fixed 512-token
    //      sequences. One exchange + per-shard sort; layout-independent. ----
    "pack_sequences" -> ((s, dir) =>
      Packing.packSequences(t(s, dir).documents, "doc_id",
        TextOps.tokenCount(col("text")), budget = 512, nShards = 8)),

    // ---- per-(doc, sequence) copy spans of the same packing — what a
    //      batch-materializing kernel consumes. Map-only on top. ----
    "pack_chunks" -> ((s, dir) =>
      Packing.packChunks(t(s, dir).documents, "doc_id",
        TextOps.tokenCount(col("text")), budget = 512, nShards = 8)),

    // ---- token-balanced snake sharding: rank by (tokens desc, id),
    //      deal alternately forward/backward across 8 shards — equal-work
    //      training shards, distributed rank (PlanSpec: no
    //      SinglePartition) ----
    "pack_shards" -> ((s, dir) =>
      Packing.shardBalanced(t(s, dir).documents, "doc_id",
        TextOps.tokenCount(col("text")), nShards = 8)),

    // ---- length-bucketed batching (inference serving): power-of-two
    //      token-length buckets, fixed batches of 16 within each bucket
    //      in (length, id) order — padding waste bounded by bucket
    //      spread; rank via the distributed globalSortRank ----
    "pack_length_buckets" -> ((s, dir) =>
      Packing.lengthBucketBatches(t(s, dir).documents, "doc_id",
        TextOps.tokenCount(col("text")), batchSize = 16)),

    // ---- deterministic corpus shuffle: exact global (md5, id) rank at
    //      256-way parallelism — never the single-partition sort a naive
    //      global row_number() would plan (PlanSpec asserts this) ----
    "corpus_shuffle" -> ((s, dir) =>
      graft.etl.Transforms.globalHashRank(
        t(s, dir).documents.select(col("doc_id")), "doc_id")),

    // ---- T5-style span corruption: hash-deterministic noise mask,
    //      adjacent masked tokens coalesce into <extra_id_K> spans,
    //      (input, target) pair per document ----
    "text_span_corrupt" -> ((s, dir) =>
      TextOps.spanCorrupt(t(s, dir).documents, "doc_id", "text")),

    // ---- PII redaction: map-only regexp_replace chain over the same
    //      detector regexes text_pii counts with ----
    "text_redact" -> ((s, dir) =>
      docsWithPii(s, dir).select(col("doc_id"),
        TextOps.redactPii(col("text")).as("redacted"))),

    // ---- sliding-window chunking (RAG / embedding prep): overlapping
    //      32-token windows every 16 — posexplode of a pure Column
    //      expression, map-only at any scale ----
    "chunk_sliding" -> ((s, dir) =>
      t(s, dir).documents.select(col("doc_id"),
          posexplode(TextOps.slidingChunks(col("text"), 32, 16)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          col("col").as("chunk"))),

    // ---- leakage-free train/val/test split: every member of a near-dup
    //      component is bucketed by its COMPONENT's survivor id, so a dup
    //      pair can never straddle train and test — the split-time twin
    //      of dedup_apply ----
    "split_leakage_free" -> ((s, dir) => {
      val docs = docsWithNearDups(s, dir)
      val assign = nearDupChain(s, dir)._2
      docs.join(assign, docs("doc_id") === assign("id"), "left")
        .select(docs("doc_id"),
          splitCol(coalesce(col("survivor_id"), docs("doc_id"))).as("split"))
    }),

    // ---- canonical normalization + normalized-content dedup key ----
    "text_normalize" -> ((s, dir) =>
      t(s, dir).documents.select(col("doc_id"),
        TextOps.normalize(col("text")).as("norm_text"),
        md5(TextOps.normalize(col("text"))).as("norm_key"))),

    // ---- rolling-hash document fingerprint ----
    "text_fingerprint" -> ((s, dir) =>
      t(s, dir).documents.select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))),

    // ---- token counting (whitespace + BPE-ish regex) ----
    "text_token_stats" -> ((s, dir) =>
      t(s, dir).documents.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        (length(regexp_replace(col("text"), "\\s", "")).cast("double") /
          size(TextOps.tokens(col("text")))).as("mean_word_len"))),

    // ---- Unicode-script audit (the Dolma/ROOTS multilingual step):
    //      per-script character counts + dominant writing script. Pure
    //      length-difference expressions — map-only at any scale; mixed-
    //      script docs are the classic mojibake/spam signal ----
    "text_scripts" -> ((s, dir) => {
      val cnts = TextOps.scriptCounts(col("text"))
        .map { case (n, c) => c.as(n) }
      t(s, dir).documents.select(
        col("doc_id") +: length(col("text")).cast("long").as("n_chars") +:
          cnts :+ TextOps.dominantScript(col("text")).as("dominant"): _*)
    }),

    // ---- within-doc repetition signals (Gopher-style quality filters):
    //      type-token ratio + duplicate-bigram fraction. Pure Column
    //      expressions — map-only, zero exchanges at any scale. ----
    "text_repetition" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val big = TextOps.wordShingles(col("text"), 2)
      t(s, dir).documents.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr"),
        (lit(1.0) - size(array_distinct(big)).cast("double") / size(big))
          .as("dup_bigram_frac"))
    }),

    // ---- the full Gopher rule suite (Rae et al. 2021, Table A1) over a
    //      repetition-planted corpus: word sanity, line repetition, top
    //      n-gram mass, repeated-5-gram coverage, and the keep verdict.
    //      Every signal is an exact integer ratio → oracle-hash-exact. ----
    "gopher_quality_gate" -> ((s, dir) =>
      GopherRules.gate(docsWithRepetition(s, dir), "doc_id", "text")),

    // ---- C4-style HTML cleanup: tag strip + entity unescape + whitespace
    //      collapse, all literal/non-backtracking patterns → map-only and
    //      oracle-exact. ----
    "text_html_clean" -> ((s, dir) =>
      docsWithHtml(s, dir).select(col("doc_id"),
        TextOps.stripHtml(col("text")).as("clean_text"))),

    // ---- stride-scheduling curriculum (Waldspurger & Weihl): interleave
    //      languages so every schedule prefix matches the weights; exact
    //      integer tickets + range-partitioned global rank. ----
    "curriculum_order" -> ((s, dir) =>
      Curriculum.interleave(t(s, dir).documents, "lang", "doc_id",
        Map("en" -> 4L, "fr" -> 2L, "de" -> 2L, "es" -> 1L, "zh" -> 1L))),

    // ---- DSIR importance weighting (Xie et al. 2023 / Moore-Lewis):
    //      hashed unigram+bigram buckets, portable fixed-point log-ratio
    //      vs the English subset as target — BIGINT weights, oracle-
    //      hash-exact. dsir_select keeps the top-100 most target-like. ----
    "dsir_weights" -> ((s, dir) => dsirWeightsShared(s, dir)),

    // the top-k selection rides the SAME memoized fit (StageMemo
    // contract: bit-identical to Dsir.selectTopK's standalone
    // recomputation — same (weight desc, id asc) TakeOrdered shape)
    "dsir_select" -> ((s, dir) =>
      dsirWeightsShared(s, dir)
        .orderBy(col("weight_micro").desc, col("doc_id").asc)
        .limit(100)),

    // ---- PII surface counts (email / URL / phone regex detectors) over a
    //      corpus with deterministically injected PII. regexp_count is a
    //      codegen'd expression — map-only scan, no exchange. ----
    "text_pii" -> ((s, dir) =>
      docsWithPii(s, dir).select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(UrlRe)).cast("long").as("n_urls"),
        regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
        (regexp_count(col("text"), lit(EmailRe)) +
          regexp_count(col("text"), lit(UrlRe)) +
          regexp_count(col("text"), lit(PhoneRe))).cast("long").as("n_pii"))),

    // ---- heuristic language ID with per-language marker scores ----
    "text_langid" -> ((s, dir) => {
      val c = col("text")
      t(s, dir).documents.select(
        col("doc_id"), col("lang"),
        TextOps.langId(c).as("predicted"),
        TextOps.langScore(c, "en").as("s_en"),
        TextOps.langScore(c, "de").as("s_de"),
        TextOps.langScore(c, "es").as("s_es"),
        TextOps.langScore(c, "fr").as("s_fr"))
    }),

    // ---- quality scoring components + composite ----
    "text_quality" -> ((s, dir) => {
      val comp = TextOps.qualityComponents(col("text"))
      t(s, dir).documents.select(
        col("doc_id") +: comp.map { case (n, c) => c.as(n) } :+
          TextOps.qualityScore(col("text")).as("quality"): _*)
    }),

    // ---- boilerplate span detection (C4-style template chrome): top-30
    //      most document-frequent 20-token spans over a corpus with two
    //      planted footers. Two-phase: hash counts shuffle as longs, span
    //      TEXT is fetched only for hashes above the top-k cutoff ----
    "text_boilerplate" -> ((s, dir) =>
      Dedup.topBoilerplateSpans(docsWithFooters(s, dir), "doc_id", "text",
        spanTokens = 20, k = 30)),

    // ---- exact repeated-span removal (the span half of exact-substring
    //      dedup, Lee et al. 2022): delete every token covered by a
    //      20-token span occurring in > 3 distinct docs. Spans shuffle as
    //      md5 longs-equivalents; rebuild carries each kept token once ----
    "dedup_span_removal" -> ((s, dir) =>
      CorpusStats.removeRepeatedSpans(docsWithFooters(s, dir), "doc_id",
        "text", spanTokens = 20, maxDf = 3)),

    // ---- exact-substring dedup at full Lee et al. 2022 semantics: cut
    //      every token inside a >= 20-token substring shared with a
    //      LOWER-id doc (keep-one). No pair stage at all — coverage is a
    //      per-window-hash min(id) rejoin, linear in corpus tokens ----
    "dedup_substring" -> ((s, dir) =>
      CorpusStats.removeDuplicateSubstrings(docsWithFooters(s, dir),
        "doc_id", "text", minRunTokens = 20)),

    // ---- maximal shared runs (the suffix-array report): every maximal
    //      >= 20-token match between doc pairs with its exact length —
    //      the planted 40/30-token footers and their 70-token
    //      concatenation on %28 docs must come back as single maximal
    //      rows, not window hits. Pair output => first-80-docs slice
    //      (pair volume is the caller's contract, like commonSpanPairs) ----
    "dedup_substring_runs" -> ((s, dir) =>
      CorpusStats.maximalSharedRuns(
        docsWithFooters(s, dir).orderBy("doc_id").limit(80),
        "doc_id", "text", minRunTokens = 20)),

    // ---- BPE-token-level ExactSubstr (the unit Lee et al. 2022 actually
    //      deduplicate over): the corpus-trained merge table segments
    //      every doc into its BPE piece stream (Tokenizer.bpePieceText),
    //      and the SAME keep-one substring machinery cuts every piece
    //      inside a >= 20-PIECE substring shared with a lower-id doc.
    //      Piece-level windows cross word boundaries at sub-word
    //      granularity, so cuts differ from the whitespace form
    //      (DedupInternalsSpec pins a differing case) ----
    "dedup_substring_bpe" -> ((s, dir) => {
      val merges = CurationOps.bpeMergesShared(s, dir)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // the BPE-encoded frame is deliberately NOT materialized: the
      // substring machinery reads it from several lazy branches (12 in
      // the r12 scan audit), but a localCheckpoint here measured 0.37 s
      // -> 1.44 s at sf0.1 — serializing the encoded corpus costs more
      // than re-running the codegen'd merge-fold kernel per branch, the
      // same economics as the pinned uncached spans frame. At a scale
      // where the encode dominates, materialize BEFORE calling (the
      // pipeline form persists encoded text as a real column anyway).
      CorpusStats.removeDuplicateSubstrings(
        Tokenizer.bpePieceText(docsWithFooters(s, dir), "doc_id", "text",
          merges),
        "doc_id", "bpe_text", minRunTokens = 20)
    }),

    // ---- paragraph-level exact dedup (the CCNet first pass): whole
    //      paragraphs repeating in > maxDf docs are cut; one md5 per
    //      paragraph, not per token position ----
    "text_para_dedup" -> ((s, dir) =>
      CorpusStats.dropRepeatedParagraphs(docsWithParaFooters(s, dir),
        "doc_id", "text", maxDf = 3)),

    // ---- per-doc TF-IDF keyword extraction: integer-exact rank key
    //      (tf·10⁹ div df — N is constant per corpus, so tf/df ranks
    //      identically to tf·idf), ties broken on term ----
    "text_tfidf" -> ((s, dir) =>
      CorpusStats.tfidfKeywords(t(s, dir).documents, "doc_id", "text", k = 5)),

    // ---- smoothed bigram LM score fitted on the corpus itself (the
    //      CCNet-shape perplexity quality signal), accumulated as
    //      floor(ln·10⁶) BIGINTs so the sum is order-independent ----
    "text_lm_score" -> ((s, dir) => lmScoreShared(s, dir)),

    // ---- corpus-frequency commonness signals: per-doc sum and min of
    //      corpus-wide token frequencies (rare-token docs are noise or
    //      non-language; all-common docs are boilerplate-ish). Exact
    //      integer arithmetic: vocab agg + token join, both shuffling
    //      slim (token, count) rows ----
    "text_commonness" -> ((s, dir) => {
      val exploded = t(s, dir).documents
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      val vocab = exploded.groupBy("token").agg(count(lit(1)).as("tf"))
      exploded.join(vocab, "token")
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("tf_sum"), min(col("tf")).as("tf_min"),
          count(lit(1)).as("n_tokens"))
    }),

    // ---- trigram stupid-backoff LM scoring of the corpus against a
    //      reference LM (even-id docs as the reference corpus) — the
    //      two-corpus LM-filtering shape; odd docs exercise the backoff
    //      cascade ----
    "text_lm_backoff" -> ((s, dir) => {
      val d = t(s, dir).documents
      CorpusStats.stupidBackoffScore(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), d, "doc_id", "text")
    }),

    // ---- trigram novelty vs the same reference corpus: fraction of a
    //      doc's trigram instances the reference never saw ----
    "text_novelty" -> ((s, dir) => {
      val d = t(s, dir).documents
      CorpusStats.ngramNovelty(d, "doc_id", "text",
        CorpusStats.ngramIndex(
          d.filter(pmod(col("doc_id"), lit(2)) === 0), "text"))
    }),

    // ---- CCNet-style head/middle/tail perplexity terciles per language
    //      (corpus stratification by LM fluency before sampling) ----
    // the bucket assignment rides the SAME memoized LM fit as
    // text_lm_score (StageMemo contract: bit-identical to the
    // standalone perplexityBuckets recomputation)
    "text_ppl_buckets" -> ((s, dir) =>
      CorpusStats.perplexityBucketsFromScores(t(s, dir).documents,
        "doc_id", "lang", lmScoreShared(s, dir))),

    // ---- corpus vocabulary: token frequencies, deterministic top-100
    //      (tokenizer-training preprocessing). explode → partial-agg'd
    //      groupBy → TakeOrdered: one shuffle of (token, partial count). ----
    "text_vocab_topk" -> ((s, dir) =>
      t(s, dir).documents
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(100)),

    // ---- Zipf tail index (Hill MLE over the top-64 frequencies): the
    //      vocabulary-health diagnostic — staged engine-exact micro-ln
    //      per term, one integer division at the top ----
    "vocab_zipf" -> ((s, dir) =>
      CorpusStats.zipfAlpha(t(s, dir).documents, "text", k = 64)),

    // ---- the per-language Zipf tail (the datacard leg standalone):
    //      each language's own Hill index over its own top-64 — per-group
    //      top-k via the range-partitioned globalSortRank, no collects;
    //      thin/flat groups pin 0 instead of failing the panel. Shares
    //      one pass with the datacard leg (StageMemo) ----
    "vocab_zipf_lang" -> ((s, dir) => zipfLangShared(s, dir)),

    // ---- the same top-k through the Misra-Gries heavy-hitter path:
    //      per-partition m-counter sketches bound the shuffle to m rows
    //      per partition regardless of vocabulary size, and the output is
    //      CERTIFIED exact (identical oracle to text_vocab_topk) ----
    "text_vocab_topk_mg" -> ((s, dir) =>
      CorpusStats.vocabTopKSketch(t(s, dir).documents, "text", k = 100)),

    // ---- Fleiss' κ over events-as-annotations: each user's first three
    //      events are three "raters" labeling the user with event types —
    //      multi-rater chance-corrected agreement in exact integer micro
    //      units (users with fewer than three events are excluded by the
    //      rank-and-count filter, the documented fixed-n precondition) ----
    "label_fleiss" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir).events.select(
        col("user_id").cast("long").as("item"),
        col("event_id").cast("long").as("ord"),
        col("event_type").as("label"))
      val w = Window.partitionBy(col("item"))
        .orderBy(col("ord"), col("label"))
      val first3 = ev.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
      val full = first3
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy(col("item"))))
        .where(col("cnt") === 3)
      Classifier.fleissKappaMicro(full, "item", "label")
    }),

    // ---- Krippendorff's α over the SAME annotation shape WITHOUT the
    //      fixed-n filter: each user's first up-to-4 events are ratings,
    //      so items are RAGGED (m ∈ {2,3,4}; single-event users are
    //      unpairable and drop inside the operator) — the coefficient
    //      Fleiss must reject, exact to the micro unit ----
    "label_krippendorff" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir).events.select(
        col("user_id").cast("long").as("item"),
        col("event_id").cast("long").as("ord"),
        col("event_type").as("label"))
      val w = Window.partitionBy(col("item"))
        .orderBy(col("ord"), col("label"))
      val firstN = ev.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 4)
      Classifier.krippendorffAlphaMicro(firstN, "item", "label")
    }),

    // ---- curation attrition funnel: cumulative survivor counts through
    //      the standard filter chain (lang → quality → exact-dedup →
    //      length) — the observability panel that says WHERE a corpus
    //      shrinks, one pass + one dup window ----
    "curation_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir).documents
      val q = TextOps.qualityScore(col("text"))
      val base = docs.select(col("doc_id"), col("lang"), col("text"))
        .withColumn("f1", col("lang") === "en")
        .withColumn("f2", col("f1") && q >= 0.5)
      // dedup is applied to the quality survivors: the canonical copy is
      // the min surviving doc_id per exact content hash
      val minSurv = min(when(col("f2"), col("doc_id")))
        .over(Window.partitionBy(md5(col("text"))))
      base
        .withColumn("f3", col("f2") && col("doc_id") === minSurv)
        .withColumn("f4",
          col("f3") && TextOps.tokenCount(col("text")) >= 50L)
        .withColumn("ntok", TextOps.tokenCount(col("text")))
        .select(col("ntok"), explode(array(
          struct(lit("0_raw").as("stage"), lit(true).as("pass")),
          struct(lit("1_lang").as("stage"), col("f1").as("pass")),
          struct(lit("2_quality").as("stage"), col("f2").as("pass")),
          struct(lit("3_dedup").as("stage"), col("f3").as("pass")),
          struct(lit("4_length").as("stage"), col("f4").as("pass"))))
          .as("s"))
        .groupBy(col("s.stage").as("stage"))
        .agg(sum(when(col("s.pass"), 1L).otherwise(0L)).as("n_docs"),
          sum(when(col("s.pass"), col("ntok")).otherwise(0L))
            .as("n_tokens"))
    }),

    // ---- per-shard reproducibility manifest: doc/token counts + an
    //      order-insensitive 60-bit XOR content fold — the post-
    //      replication attestation that turns "are the copies equal" into
    //      a |shards|-row diff ----
    "shard_manifest" -> ((s, dir) =>
      CorpusStats.shardManifest(
        t(s, dir).documents.withColumn("shard", pmod(col("doc_id"), lit(8L))),
        "shard", "doc_id", "text")),

    // ---- deterministic HLL distinct tokens per language: fixed md5
    //      hash + integer raw estimator make the approximate count
    //      itself oracle-hash-exact (unlike approx_count_distinct's
    //      engine-private HLL++); paired with the exact distinct so the
    //      sketch's accuracy is a checked output ----
    "hll_distinct" -> ((s, dir) => {
      val tok = t(s, dir).documents
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
      tok.groupBy("lang").agg(countDistinct(col("token")).as("n_exact"))
        .join(Sketches.hllEstimate(tok, "lang", col("token")), Seq("lang"))
    }),

    // ---- Count-Min sketch frequency estimates for the exact top-20
    //      tokens: (token, freq, freq_est) with md5-derived buckets, so
    //      the depth×width linear sketch — the mergeable counting state
    //      for sharded/streaming ingest — is itself oracle-hash-exact ----
    "cms_counts" -> ((s, dir) =>
      CorpusStats.cmsEstimates(t(s, dir).documents, "text", k = 20)),

    // ---- int8 embedding quantization: 4× storage cut, reconstruction
    //      quality verified by exact cosine vs the original ----
    "emb_quantize" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s) // graft_cosine, idempotent
      val e = t(s, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      e.select(col("vec_id"), col("v"),
          array_max(transform(col("v"), x => abs(x))).as("amax"),
          Similarity.quantizeInt8(col("v")).as("q"))
        .select(col("vec_id"), col("amax"),
          // interpreted HOF, MEASURED cold: this query runs 0.15 s warm
          // over one scan — a kernel would save nothing (r13 #3 sweep)
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          round(graft.functions.GraftFunctions.graftCosine(col("v"),
            Similarity.dequantizeInt8(col("q"), col("amax"))), 4).as("recon_cos"))
    }),

    // ---- brute-force cosine top-k (ANN baseline) ----
    "sim_topk_brute" -> ((s, dir) => {
      val e = t(s, dir).embeddings
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, k = 10)
    }),

    // ---- hard-negative mining (DPR-style): per query, the top-k most
    //      similar DIFFERENT-label vectors under a false-negative cap ----
    "sim_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir).embeddings
      Similarity.hardNegatives(e.filter(col("vec_id") < 5), e, k = 10,
        maxSim = 0.99)
    }),

    // ---- semantic decontamination: per corpus vector, the nearest
    //      eval-suite vector (vec_id % 50 == 0 plays the eval set) and a
    //      cosine-threshold contamination flag — catches paraphrased
    //      leakage the lexical span matcher cannot ----
    "decontaminate_sem" -> ((s, dir) => {
      val e = t(s, dir).embeddings
      Similarity.semanticContamination(
        e.filter(col("vec_id") % 50 =!= 0),
        e.filter(col("vec_id") % 50 === 0), threshold = 0.95)
    }),

    // ---- embedding near-dup pairs (engine-exact since r12: md5-integer
    //      LSH candidates + exact quantized cosine — the oracle
    //      AnnOracleSql.nearDupSql replays the candidate set, not just
    //      structural recall on the planted scaled copies) ----
    "sim_neardup_cosine" -> ((s, dir) => {
      import AnnOracleSql._
      Similarity.cosineNearDups(vecsWithDups(s, dir),
        threshold = NearDupThreshold, tables = LshTables, bits = LshBits,
        maxBucketSize = LshMaxBucket)
    }),

    // ---- LSH ANN top-k (scale path). Engine-exact since r11: md5-integer
    //      hyperplanes over int8-quantized vectors, so candidates AND
    //      ranks replay in the unrolled AnnOracleSql.lshSql oracle; recall
    //      stays pinned by AnnRecallSpec ----
    "sim_ann_lsh" -> ((s, dir) => {
      import AnnOracleSql._
      val e = t(s, dir).embeddings
      Similarity.annTopK(e.filter(col("vec_id") < NQueries), e, k = AnnK,
        tables = LshTables, bits = LshBits, maxBucketSize = LshMaxBucket)
    }),

    // ---- IVF-flat ANN (coarse quantizer scale path; engine-exact
    //      integer-cosine k-means — oracle AnnOracleSql.ivfSql) ----
    "sim_ann_ivf" -> ((s, dir) => {
      import AnnOracleSql._
      val e = t(s, dir).embeddings
      Similarity.ivfTopK(e.filter(col("vec_id") < NQueries), e, k = AnnK,
        nCells = IvfCells, nProbe = IvfProbe, trainIters = IvfIters,
        trainSampleSize = TrainSample)
    }),

    // ---- product-quantization ANN (compressed code scan + integer
    //      asymmetric LUT + exact re-rank; oracle AnnOracleSql.pqSql) ----
    "sim_ann_pq" -> ((s, dir) => {
      import AnnOracleSql._
      val e = t(s, dir).embeddings
      Similarity.pqTopK(e.filter(col("vec_id") < NQueries), e, k = AnnK,
        m = PqM, codebookSize = PqCb, rerank = PqRerank,
        trainIters = PqIters, trainSampleSize = TrainSample)
    }),

    // ---- per-label embedding centroids (class/topic centroid primitive:
    //      mean-pool by dimension). posexplode → one partial-agg'd shuffle
    //      of (label, pos) cells — |labels|·dim output rows, layout-free
    //      exact decimal means ----
    "emb_centroids" -> ((s, dir) =>
      t(s, dir).embeddings
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(OracleSafe.davg(col("x")).as("c"),
          count(lit(1)).as("n_vecs"))),

    // ---- SemDeDup: embedding-cluster semantic dedup (engine-exact
    //      integer clusters since r11 — oracle AnnOracleSql.semDedupSql;
    //      recall on planted dups stays pinned in LlmSpec). Scaled copies
    //      quantize to identical int8 vectors, land in the same cluster,
    //      and are dropped as min-id survivors at sim exactly 1.0. ----
    "sim_semdedup" -> ((s, dir) => {
      import AnnOracleSql._
      Similarity.semDedup(vecsWithDups(s, dir), threshold = SemThreshold,
        nClusters = SemClusters, trainIters = SemIters,
        trainSampleSize = TrainSample, maxClusterSize = SemMaxCluster)
        .select(col("vec_id"))
    }),

    // ---- corpus datacard: the per-language dataset-card panel every
    //      corpus release ships, extended to the FULL health sheet — the
    //      base doc/token/dup/quality counts plus every r9 diagnostic
    //      re-based on its component op: script mix (dominantScript),
    //      tokenizer-coverage OOV (CorpusStats.oovRate vs the global
    //      top-20 vocab), per-language Zipf tail (zipfAlphaByGroup),
    //      length inequality (Profile.giniByGroup over per-doc token
    //      counts), and tokenizer fertility (the shared unigram encode).
    //      Every leg aggregates to language cardinality before the joins,
    //      so the final assembly is a chain of broadcast-sized joins; the
    //      only windows are the bounded (lang × ≤8 scripts) mode pick and
    //      the range-partitioned globalSortRank inside the components ----
    "corpus_datacard" -> ((s, dir) => {
      val docs = t(s, dir).documents
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      def fdiv(nm: Column, dn: Column): Column =
        ((nm - pmod(nm, dn)) / dn).cast("long")
      // the panel itself is the shared CorpusStats.datacardPanel over
      // slim per-doc facts + the ONE (lang, word, freq) table (also fed
      // to vocab_zipf_lang) — the same assembly the streaming ingest
      // reads from merged state, so batch and stream share one truth
      val panel = CorpusStats.datacardPanel(
        CorpusStats.datacardDocStats(docs, "doc_id", "text", "lang"),
        langTokFreqShared(s, dir))
      // tokenizer fertility: the shared unigram encode re-aggregated —
      // the one leg with no mergeable form (corpus-trained tokenizer),
      // joined on top of the panel
      val fert = CurationOps.unigramEncodeShared(s, dir)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("__fw"), sum(col("n_pieces")).as("__fp"))
        .select(col("lang"),
          when(col("__fw") === 0, lit(0L))
            .otherwise(fdiv(col("__fp").cast(dec) * lit(1000000L),
              col("__fw").cast(dec))).as("fertility_micro"))
      panel.join(broadcast(fert), Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("total_tokens"),
          col("mean_quality"), col("n_unique"), col("n_long"),
          col("dom_script"), col("n_nonlatin_dom"), col("oov_micro"),
          col("zipf_alpha_micro"), col("len_gini_micro"),
          coalesce(col("fertility_micro"), lit(0L)).as("fertility_micro"))
    }),

    // ---- composed curation pipeline: quality gate → exact dedup (min-id
    //      survivor per normalized content) → split assignment → per-
    //      (lang, split) counts. The whole composition is oracle-checked,
    //      proving the operators chain without engine drift. Two shuffles
    //      (dedup groupBy, final count) — both on slim keys. ----
    "pipeline_curate" -> ((s, dir) => {
      val d = t(s, dir).documents
        .filter(TextOps.qualityScore(col("text")) >= 0.5)
        .withColumn("norm_key", md5(TextOps.normalize(col("text"))))
      val survivors = d.groupBy(col("norm_key"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("lang"), col("doc_id")).as("lang"))
      survivors
        .select(col("lang"), splitCol(col("doc_id")).as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
    }),

    // ---- multimodal: opaque binary + typed metadata plumbing ----
    "mm_binary_stats" -> ((s, dir) => {
      val media = Multimodal.fromText(t(s, dir).documents, "doc_id", "text")
      media.select(col("media_id"),
        length(col("media")).cast("long").as("n_bytes"),
        md5(col("media")).as("content_md5"),
        col("meta.format").as("format"))
    }),

    // ---- multimodal feature extraction through the batched kernel: the
    //      stub codec is md5-derived, so the feature CHECKSUM (sum × 255 =
    //      digest byte sum) is engine-computable — the oracle drives the
    //      real batch path, not just the schema ----
    "mm_features" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.fromText(t(s, dir).documents, "doc_id", "text")
      Multimodal.extractFeatures(media.as[MediaRecord]).toDF()
        .select(col("media_id"), col("n_bytes"),
          // interpreted HOF, MEASURED: 0.22 s warm, 8-element arrays —
          // below any kernel's payoff threshold (r13 #3 sweep)
          round(aggregate(col("features"), lit(0.0d),
            (a, x) => a + x.cast("double")) * 255.0).cast("long")
            .as("feature_checksum"))
    }),

    // ---- multimodal near-dup dedup through the REAL JDK codec path:
    //      deterministic synthetic scenes keyed by doc ids, with every 4th
    //      replanted as a JPEG at 1.5× resolution — the planted-transform
    //      recall pattern of the ANN suite, in image form. Rows-only by
    //      design (pixel decode is not SQL-expressible); ImageHashSpec pins
    //      100% planted recall + zero false merges on this exact corpus ----
    "mm_neardup" -> ((s, dir) => {
      import s.implicits._
      Dedup.applySurvivors(syntheticImageCorpus(s, dir), "media_id",
          Dedup.survivorAssignment(ImageHash.nearDupPairs(
            imageHashedShared(s, dir).as[ImageHashed], maxHamming = 3)))
        .select(col("media_id"))
    }),

    // ---- the decoder metadata path, ORACLE-CHECKED: dims reported by the
    //      real ImageIO decode must equal the render dims for every row —
    //      a decode stub or silent fallback cannot fake this ----
    "mm_image_meta" -> ((s, dir) =>
      imageHashedShared(s, dir)
        .select(col("id").as("media_id"), col("decoded"),
          col("img_w").cast("long").as("img_w"),
          col("img_h").cast("long").as("img_h"))),

    // ---- VIDEO leg of the multimodal family, through the real JDK
    //      multi-frame codec (animated GIF): per-frame aHash →
    //      shared-frame candidate pairs → overlap verify → min-id
    //      survivors. Renditions resize AND truncate at once; the oracle
    //      pins the survivor set = exactly the base clips ----
    "mm_video_neardup" -> ((s, dir) =>
      videoSurvivorsShared(s, dir).select(col("media_id"))),

    // ---- the multi-frame decoder's metadata contract, ORACLE-CHECKED:
    //      frame counts are pure arithmetic (3 + id%4 base, one less for
    //      the truncated rendition), so a decode that really ran must
    //      report exactly those counts for every row ----
    "mm_video_meta" -> ((s, dir) =>
      videoHashedShared(s, dir)
        .select(col("id").as("media_id"), col("decoded"),
          col("n_frames"))),

    // ---- frame-level video decontamination vs a reference suite,
    //      ORACLE-CHECKED: the renditions ARE the reference, so every
    //      4th base clip must flag with share 1000 against exactly its
    //      own rendition (shared = its n−1 = 2 surviving frames) and
    //      every other clip must report (−1, 0, 0, false) — pure id
    //      arithmetic a stubbed decode cannot fake ----
    "mm_video_decon" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir).documents.select(col("doc_id").cast("long"))
        .orderBy("doc_id").limit(120).as[Long]
      val corpus = ids
        .map(id => (id, VideoHash.synthGif(id, 64, 48, 3 + (id % 4).toInt)))
        .toDF("media_id", "media")
      val ref = ids.filter((id: Long) => id % 4 == 0)
        .map(id => (id + 1000000L,
          VideoHash.synthGifSlice(id, 96, 72, 1, 3 + (id % 4).toInt)))
        .toDF("media_id", "media")
      VideoHash.vsReference(corpus, ref, "media_id", "media")
    }),

    // ---- audio leg of the multimodal family: energy-envelope near-dup
    //      dedup over WAV binary columns; planted renditions vary sample
    //      rate (22050 vs 44100), volume (0.6×) and channel layout at
    //      once. Rows-only (PCM decode is not SQL-expressible);
    //      AudioHashSpec pins 100% recall + zero false merges ----
    "mm_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      Dedup.applySurvivors(syntheticAudioCorpus(s, dir), "media_id",
          Dedup.survivorAssignment(AudioHash.nearDupPairs(
            audioHashedShared(s, dir).as[AudioHashed], maxHamming = 3)))
        .select(col("media_id"))
    }),

    // ---- the WAV parser's metadata contract, ORACLE-CHECKED: rate,
    //      channel count and frame count of every synthetic clip are pure
    //      arithmetic (n = rate · 65/100), so a parse that really ran must
    //      report exactly those values for every row ----
    "mm_audio_meta" -> ((s, dir) => {
      audioHashedShared(s, dir)
        .select(col("id").as("media_id"), col("decoded"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), col("channels").cast("long").as("channels"))
    }),

    // ---- the multimodal CAPSTONE (pipeline_curate2's pattern over
    //      binary columns), ORACLE-CHECKED end to end: image leg =
    //      metadata gate (real decode must reject planted garbage bytes
    //      on id%10==3) → dhash near-dup dedup (renditions at id+1e6
    //      must merge into their base) → decontamination vs a reference
    //      suite of 2× JPEG renditions (id%8==2 must flag — the ref ids
    //      are disjoint from both plants: %8==2 is even, %10==3 is odd);
    //      video leg = frame-hash dedup (dropped-frame 1.5× renditions
    //      merge). Union → per-(modality, id%5-source) cap-15 mixture.
    //      The final selection is pure id arithmetic NONE of whose stages
    //      can be faked by a stub: every planted corruption, rendition
    //      and contamination must be acted on for the hash to match ----
    "pipeline_multimodal" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir).documents.select(col("doc_id").cast("long"))
        .orderBy("doc_id").limit(160).as[Long].localCheckpoint()
      val images = ids.flatMap { id =>
        val base =
          if (id % 10 == 3)
            (id, Array.tabulate(64)(i => ((id * 31 + i) % 251).toByte))
          else (id, ImageHash.synthPng(id, 64, 48))
        if (id % 4 == 0)
          Seq(base, (id + 1000000L, ImageHash.synthJpeg(id, 96, 72)))
        else Seq(base)
      }.toDF("media_id", "media")
      val refSuite = ids.filter((id: Long) => id % 8 == 2)
        .map(id => (id + 2000000L, ImageHash.synthJpeg(id, 128, 96)))
        .toDF("media_id", "media")
      // one decode pass feeds the gate, the dedup pairs AND the decon leg
      val hashed = ImageHash.imageHashes(images, "media_id", "media")
        .toDF().localCheckpoint()
      val gated = images.join(hashed.filter(col("decoded"))
        .select(col("id").as("media_id")), Seq("media_id"), "left_semi")
      val imgSurv = Dedup.applySurvivors(gated, "media_id",
        Dedup.survivorAssignment(ImageHash.nearDupPairs(
          hashed.as[ImageHashed], maxHamming = 3)))
      val refHashed = ImageHash.imageHashes(refSuite, "media_id", "media")
        .toDF().filter(col("decoded"))
        .select(col("id"), col("dhash").as("fp"))
      val contaminated = Dedup.hamming64PairsIncremental(
          hashed.filter(col("decoded"))
            .select(col("id"), col("dhash").as("fp")),
          refHashed, maxHamming = 3)
        .filter(col("id_b") >= 2000000L) // only corpus-vs-ref hits flag
        .select(col("id_a").as("media_id")).distinct()
      val imgClean = imgSurv.join(contaminated, Seq("media_id"), "left_anti")
        .select(col("media_id"), lit("image").as("modality"))
      val vidSurv = videoSurvivorsShared(s, dir)
        .select(col("media_id"), lit("video").as("modality"))
      val mixed = Selection.capPerGroup(
        imgClean.unionByName(vidSurv)
          .withColumn("source", pmod(col("media_id"), lit(5)).cast("string"))
          .withColumn("grp", concat(col("modality"), lit(":"), col("source"))),
        "grp", negate(col("media_id")), "media_id", n = 15)
      mixed.select(col("media_id"), col("modality"), col("source"),
        col("rank"))
    }),

    // ---- SFT chat formatting: events as conversations (user = conv,
    //      event order = turn order, type = role, props = content) →
    //      one role-tagged training text per conversation ----
    "sft_chat_format" -> ((s, dir) =>
      SftFormat.chatFormat(t(s, dir).events,
        "user_id", "event_id", "event_type", "props")),

    // ---- loss-mask character spans of the target role's content inside
    //      the formatted text — the piece a trainer actually masks ----
    "sft_loss_mask" -> ((s, dir) =>
      SftFormat.lossMaskSpans(t(s, dir).events,
        "user_id", "event_id", "event_type", "props", targetRole = "click")),

    // ---- preference-pair construction (RLHF/DPO dataset shape): per
    //      source, longest doc chosen vs shortest rejected ----
    "sel_pref_pairs" -> ((s, dir) =>
      Selection.prefPairs(t(s, dir).documents.select(col("doc_id"),
          col("source"), col("n_chars")),
        "source", "doc_id", col("n_chars"))),

    // ---- conversation QA gate: per-conversation structural audit of the
    //      SFT invariants (first role, alternation, role whitelist, empty
    //      content, duplicate turn ids) — events-as-conversations with
    //      'view' as the expected opener and 'error' outside the allowed
    //      role set, so both failure modes actually fire on this corpus ----
    "sft_validate" -> ((s, dir) =>
      SftFormat.validateConversations(t(s, dir).events,
        "user_id", "event_id", "event_type", "props",
        firstRole = "view",
        allowedRoles = Seq("view", "click", "purchase", "signup"))),

    // ---- canonical-URL normalization (web-corpus dedup prep): scheme/
    //      host case, default ports, fragments, empty paths, query-param
    //      order — all collapsed to one canonical form; non-URLs → NULL.
    //      Synthetic URLs derived from doc_id exercise every branch ----
    "url_canonicalize" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val u = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://Example.COM:443/Item/"), id,
            lit("?b=2&a=1&#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://EXAMPLE.com:80//x/"), id, lit("?z=9&y=8")))
        .when(col("doc_id") % 4 === 2, lit("https://example.com"))
        .otherwise(lit("not a url"))
      t(s, dir).documents.select(col("doc_id"), u.as("url"),
        TextOps.canonicalizeUrl(u).as("canonical_url"))
    }),

    // ---- tokenizer-coverage audit: per-doc OOV rate against the top-20
    //      corpus vocabulary (the release check before committing to a
    //      vocab) ----
    "tok_oov_rate" -> ((s, dir) => {
      val docs = t(s, dir).documents
      val vocab = docs
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("word").asc).limit(20)
        .select("word")
      CorpusStats.oovRate(docs, "doc_id", "text", vocab)
    }),

    // ---- label-QA audit: Cohen's κ between the declared lang column and
    //      the langid prediction — chance-corrected agreement, exact
    //      integer micro units ----
    "label_kappa" -> ((s, dir) =>
      Classifier.cohenKappaMicro(
        t(s, dir).documents.select(col("lang"),
          TextOps.langId(col("text")).as("predicted")),
        "lang", "predicted")),

    // ---- edit-distance fuzzy near-dup pairs (record-linkage shape) over
    //      24-char key prefixes: PassJoin disjoint-segment blocking +
    //      threshold-Levenshtein confirm; EXACT recall, so the oracle is
    //      the brute-force distance join ----
    "dedup_fuzzy" -> ((s, dir) => fuzzyPairsShared(s, dir)),

    // ---- fuzzy dedup applied: pairs → components → min-id survivors,
    //      riding the SAME memoized pair stage as dedup_fuzzy (the exact
    //      composition dropFuzzyDuplicates plans) ----
    "dedup_fuzzy_apply" -> ((s, dir) =>
      Dedup.applySurvivors(
        t(s, dir).documents.select(col("doc_id"),
          substring(col("text"), 1, 24).as("key")),
        "doc_id", Dedup.survivorAssignment(fuzzyPairsShared(s, dir)))
        .select(col("doc_id"))),

    // ---- SQL-only curation through the registered function surface: the
    //      C7 delegated-SQL path reaching the LLM scalar operators by NAME
    //      (GraftFunctions bridges the Column helpers into the function
    //      registry) — a user who only speaks SQL runs quality-gate →
    //      normalize-dedup → per-language token accounting with zero Scala.
    //      Same expression DAGs as the Column API, so the oracle is the
    //      same engine-exact arithmetic as text_quality/text_normalize ----
    "sql_curate" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir).documents.createOrReplaceTempView("docs_sqlc")
      s.sql("""
        WITH scored AS (
          SELECT doc_id, lang, text, graft_token_count(text) AS n_tokens
          FROM docs_sqlc WHERE graft_quality(text) >= 0.5
        ), surv AS (
          SELECT min(doc_id) AS doc_id
          FROM scored GROUP BY md5(graft_normalize(text))
        )
        SELECT sc.lang, count(*) AS n_docs,
               CAST(sum(sc.n_tokens) AS BIGINT) AS n_tokens
        FROM scored sc JOIN surv v ON sc.doc_id = v.doc_id
        GROUP BY sc.lang""")
    })
  )

  // PII detector regexes — single definition in TextOps (shared with the
  // declarative redact op); aliased here for the oracle interpolations
  private val EmailRe = TextOps.EmailRe
  private val UrlRe = TextOps.UrlRe
  private val PhoneRe = TextOps.PhoneRe

  // shared SQL fragments for the oracle side
  private val DuckToks = raw"string_split_regex(trim(text), '\s+')"

  /** CTE chain applying PortableMath.microLnStages in the DuckDB dialect:
    * starts from CTE `from` (which must expose the stage inputs), emits one
    * CTE per stage, ending in CTE `lnfin` carrying `from`'s columns + `lp`.
    * Sharing the generator with the Spark side is what makes the oracle
    * engine-exact — both engines evaluate the identical expression DAG.
    */
  /** CTE chain ending in `<prefix>fin`; pass distinct prefixes to apply
    * the portable log more than once in one query (the working COLUMN
    * names repeat, so select them away between applications).
    */
  private def duckMicroLnCtes(from: String, aExpr: String,
      bExpr: String, prefix: String = "ln"): String = {
    val stages = graft.functions.PortableMath.microLnStages(
      aExpr, bExpr, graft.functions.PortableMath.duckShiftLeft)
    val (ctes, last) = stages.zipWithIndex.foldLeft(
        (Vector.empty[String], from)) {
      case ((acc, prev), ((name, sql), i)) =>
        val cte = if (i == stages.size - 1) s"${prefix}fin" else s"$prefix$i"
        (acc :+ s"$cte AS (SELECT *, $sql AS $name FROM $prev)", cte)
    }
    require(last == s"${prefix}fin")
    ctes.mkString(",\n")
  }
  /** SQL twin of CorpusStats.bigramLmScore over documents: CTE chain
    * ending in `lmsc` = (doc_id, n_bigrams, nll_micro, avg_nll_micro) —
    * shared by the text_lm_score oracle and the perplexity-bucket oracle.
    */
  private def lmScoreCtes: String =
    s"""toksq AS (
       |  SELECT doc_id, $DuckToks AS tk FROM documents),
       |bg AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
       |       FROM toksq, unnest(range(1, len(tk))) AS u(i)),
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS c1
       |       FROM (SELECT unnest(tk) AS w1 FROM toksq) GROUP BY 1),
       |v AS (SELECT count(*) AS vocab FROM c1),
       |model0 AS (
       |  SELECT w1, w2, c2, c1, vocab
       |  FROM c2 JOIN c1 USING (w1) CROSS JOIN v),
       |${duckMicroLnCtes("model0", "c2 + 1", "c1 + vocab")},
       |lpj AS (
       |  SELECT doc_id, lp FROM bg JOIN lnfin USING (w1, w2)),
       |lmsc AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(-sum(lp) AS BIGINT) AS nll_micro,
       |    CAST((-sum(lp)) // count(*) AS BIGINT) AS avg_nll_micro
       |  FROM lpj GROUP BY doc_id)""".stripMargin

  /** SQL twin of graft.llm.Dsir over documents with lang='en' as target:
    * CTE chain ending in `dweights` = (doc_id, n_feats, weight_micro).
    * Applies the portable log twice (distinct CTE prefixes; chain-1
    * working columns selected away in d2).
    */
  private def duckDsirCtes: String =
    s"""tok AS (SELECT doc_id, lang, $DuckToks AS toks FROM documents),
       |feats0 AS (
       |  SELECT doc_id, lang, g FROM tok, UNNEST(toks) AS u(g)
       |  UNION ALL
       |  SELECT doc_id, lang, array_to_string(list_slice(toks, i, i + 1), ' ') AS g
       |  FROM tok, UNNEST(range(1, len(toks))) AS u(i) WHERE len(toks) >= 2),
       |feats AS (
       |  SELECT doc_id, lang, substr(md5(g), 1, ${Dsir.BucketHexLen}) AS bkt,
       |    CAST(count(*) AS BIGINT) AS m
       |  FROM feats0 GROUP BY doc_id, lang, bkt),
       |rawd AS (SELECT bkt, CAST(sum(m) AS BIGINT) AS cr FROM feats GROUP BY bkt),
       |tgtd AS (SELECT bkt, CAST(sum(m) AS BIGINT) AS ct FROM feats
       |  WHERE lang = 'en' GROUP BY bkt),
       |dists AS (
       |  SELECT rawd.bkt AS bkt, coalesce(ct, 0) AS ct, cr,
       |    (SELECT CAST(sum(m) AS BIGINT) FROM feats WHERE lang = 'en') AS tt,
       |    (SELECT CAST(sum(m) AS BIGINT) FROM feats) AS tr
       |  FROM rawd LEFT JOIN tgtd USING (bkt)),
       |${duckMicroLnCtes("dists", "ct + 1", s"tt + ${Dsir.Buckets}", "lt")},
       |d2 AS (SELECT bkt, cr, tr, lp AS lpt FROM ltfin),
       |${duckMicroLnCtes("d2", "cr + 1", s"tr + ${Dsir.Buckets}", "lr")},
       |dweights AS (
       |  SELECT f.doc_id, CAST(sum(f.m) AS BIGINT) AS n_feats,
       |    CAST(sum(f.m * (w.lpt - w.lp)) AS BIGINT) AS weight_micro
       |  FROM feats f JOIN lrfin w USING (bkt) GROUP BY f.doc_id)""".stripMargin

  /** Brute-force exact-Jaccard near-dup pairs over the planted-dup corpus —
    * the ONE pair definition shared by the dedup_minhash and
    * dedup_components oracles (CTE chain ending in `npairs`).
    */
  private def duckNearDupCtes: String =
    s"""base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000,
       |    array_to_string(list_slice(toks, 1, CAST(floor(len(toks) * 0.8) AS INT)), ' ')
       |  FROM (SELECT doc_id, $DuckToks AS toks FROM documents)
       |), sh AS (
       |  SELECT doc_id, list_distinct(${duckShingles("toks")}) AS s
       |  FROM (SELECT doc_id, $DuckToks AS toks FROM base)
       |), npairs AS (
       |  SELECT id_a, id_b, jac FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
       |    FROM sh a, sh b WHERE a.doc_id < b.doc_id)
       |  WHERE jac >= 0.5
       |)""".stripMargin
  /** The extended corpus_datacard oracle: each health-sheet leg replays
    * its component op — the scripts dominant fold ([[scriptsSql]] as a
    * subquery), the global top-20 OOV join, the per-language Hill chain
    * (the vocab_zipf staged-ln CTEs, PARTITIONed by lang), the per-language
    * rank-identity Gini (the skewReport floor-mod idiom), and the shared
    * unigram-encode fertility re-aggregation — then left-joins every leg
    * onto the base panel exactly as the Spark side does.
    */
  private def datacardSql: String = {
    val zlChain = graft.functions.PortableMath.duckCteChain(
      graft.functions.PortableMath.microLnSignedStages("freq", "fk",
        graft.functions.PortableMath.duckShiftLeft), "zbase", "zl")
    s"""WITH base AS (SELECT lang, count(*) AS n_docs,
       |    CAST(sum(len($DuckToks)) AS BIGINT) AS total_tokens,
       |    ${OracleSafe.sqlDavg(s"($duckQuality)")} AS mean_quality,
       |    count(DISTINCT md5(text)) AS n_unique,
       |    CAST(sum(CASE WHEN len($DuckToks) >= 100 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_long
       |  FROM documents GROUP BY lang),
       |doms AS (SELECT d.lang, s.dominant
       |  FROM ($scriptsSql) s JOIN documents d USING (doc_id)),
       |dcnt AS (SELECT lang, dominant, count(*) AS c
       |  FROM doms GROUP BY 1, 2),
       |dmode AS (SELECT lang, dominant AS dom_script FROM (
       |    SELECT lang, dominant, row_number() OVER (PARTITION BY lang
       |      ORDER BY c DESC, dominant ASC) AS r FROM dcnt) WHERE r = 1),
       |nonlat AS (SELECT lang,
       |    CAST(sum(CASE WHEN dominant <> 'latin' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_nonlatin_dom
       |  FROM doms GROUP BY 1),
       |wr AS (SELECT lang, unnest($DuckToks) AS word FROM documents),
       |vocab AS (SELECT word FROM (
       |    SELECT word, count(*) AS freq FROM wr GROUP BY 1
       |    ORDER BY freq DESC, word ASC LIMIT 20)),
       |oov AS (SELECT w.lang,
       |    CAST((CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
       |        AS HUGEINT) * 1000000)
       |      // CAST(count(*) AS HUGEINT) AS BIGINT) AS oov_micro
       |  FROM wr w LEFT JOIN vocab v ON w.word = v.word GROUP BY 1),
       |zf AS (SELECT lang, word AS token, CAST(count(*) AS BIGINT) AS freq
       |  FROM wr GROUP BY 1, 2),
       |zr AS (SELECT lang, freq, row_number() OVER (PARTITION BY lang
       |    ORDER BY freq DESC, token ASC) AS r FROM zf),
       |ztop AS (SELECT lang, freq FROM zr WHERE r <= 64),
       |zh AS (SELECT lang, CAST(count(*) AS BIGINT) AS ke,
       |    CAST(min(freq) AS BIGINT) AS fk FROM ztop GROUP BY 1),
       |zbase AS (SELECT t.lang, t.freq, h.fk, h.ke
       |  FROM ztop t JOIN zh h ON t.lang = h.lang),
       |$zlChain,
       |zs AS (SELECT lang, max(ke) AS ke,
       |    CAST(coalesce(sum(lp), 0) AS BIGINT) AS s
       |  FROM zlfin GROUP BY lang),
       |zipf AS (SELECT lang, CAST(CASE WHEN ke < 2 OR s = 0 THEN 0
       |    ELSE (1000000000000 * CAST(ke AS HUGEINT)) // s END AS BIGINT)
       |    AS zipf_alpha_micro FROM zs),
       |gl AS (SELECT lang, CAST(len($DuckToks) AS BIGINT) AS v, doc_id
       |  FROM documents),
       |gr AS (SELECT lang, v, row_number() OVER (PARTITION BY lang
       |    ORDER BY v ASC, doc_id ASC) AS i FROM gl),
       |gg AS (SELECT lang, CAST(count(*) AS HUGEINT) AS n,
       |    CAST(coalesce(sum(v), 0) AS HUGEINT) AS tot,
       |    CAST(coalesce(sum(CAST(i AS HUGEINT) * CAST(v AS HUGEINT)), 0)
       |      AS HUGEINT) AS a
       |  FROM gr GROUP BY lang),
       |gini AS (SELECT lang, CAST(CASE WHEN n = 1 OR tot = 0 THEN 0 ELSE
       |    ((2 * a - (n + 1) * tot) * 1000000
       |      - ((((2 * a - (n + 1) * tot) * 1000000) % (n * tot)
       |          + (n * tot)) % (n * tot)))
       |      // (n * tot) END AS BIGINT) AS len_gini_micro FROM gg),
       |fe AS (SELECT lang, CAST(sum(n_words) AS HUGEINT) AS fw,
       |    CAST(sum(n_pieces) AS HUGEINT) AS fp
       |  FROM (${CurationOps.unigramEncodeSql}) enc
       |  JOIN documents USING (doc_id) GROUP BY lang),
       |fert AS (SELECT lang, CAST(CASE WHEN fw = 0 THEN 0
       |    ELSE (fp * 1000000) // fw END AS BIGINT) AS fertility_micro
       |  FROM fe)
       |SELECT b.lang, b.n_docs, b.total_tokens, b.mean_quality,
       |  b.n_unique, b.n_long,
       |  COALESCE(m.dom_script, 'none') AS dom_script,
       |  CAST(COALESCE(nl.n_nonlatin_dom, 0) AS BIGINT) AS n_nonlatin_dom,
       |  CAST(COALESCE(o.oov_micro, 0) AS BIGINT) AS oov_micro,
       |  CAST(COALESCE(z.zipf_alpha_micro, 0) AS BIGINT)
       |    AS zipf_alpha_micro,
       |  CAST(COALESCE(g.len_gini_micro, 0) AS BIGINT) AS len_gini_micro,
       |  CAST(COALESCE(f.fertility_micro, 0) AS BIGINT) AS fertility_micro
       |FROM base b
       |LEFT JOIN dmode m ON b.lang = m.lang
       |LEFT JOIN nonlat nl ON b.lang = nl.lang
       |LEFT JOIN oov o ON b.lang = o.lang
       |LEFT JOIN zipf z ON b.lang = z.lang
       |LEFT JOIN gini g ON b.lang = g.lang
       |LEFT JOIN fert f ON b.lang = f.lang""".stripMargin
  }

  /** The text_scripts oracle, generated from [[TextOps.ScriptClasses]]
    * so the class list and tie order can never drift between engines:
    * counts once in a subquery, dominant as the same foldRight CASE
    * over the named columns.
    */
  private def scriptsSql: String = {
    val cls = graft.llm.TextOps.ScriptClasses
    val cnts = cls.map { case (n, _, re2) =>
      s"    CAST(length(text) - length(regexp_replace(text, '$re2', '', " +
        s"'g')) AS BIGINT) AS $n"
    }.mkString(",\n")
    val scripts = cls.filter(_._1 != "digit").map(_._1)
    val dom = scripts.foldRight("'none'") { (n, rest) =>
      val ge = scripts.filter(_ != n).map(o => s"$n >= $o")
        .mkString(" AND ")
      s"CASE WHEN $n > 0 AND $ge THEN '$n' ELSE $rest END"
    }
    s"""WITH sc AS (SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |$cnts
       |  FROM documents)
       |SELECT doc_id, n_chars, ${cls.map(_._1).mkString(", ")},
       |  $dom AS dominant
       |FROM sc""".stripMargin
  }

  /** Token-truncation depth shared by the dedup_rougel query and its
    * unrolled-DP oracle — both sides see exactly the first RougeK
    * whitespace tokens, so the SQL replay needs exactly RougeK stages.
    */
  private val RougeK = 12

  /** The dedup_rougel oracle: LCS via RougeK unrolled DP stages. Stage i
    * fixes doc token a[i]; cand_j = dp_{i-1}[j-1] + 1 when a[i] = b_j
    * else dp_{i-1}[j], then dp_i[j] = prefix max of cand over j (valid
    * because adjacent dp values differ by at most 1, so the matched
    * branch dominates dp_{i-1}[j]). Every stage is MATERIALIZED — the
    * unigram_encode lesson: DuckDB inlines plain CTEs and a deep
    * recurrence would re-expand exponentially.
    */
  private def rougeLSql: String = {
    val stages = (1 to RougeK).map { i =>
      s"""rl$i AS MATERIALIZED (
         |  SELECT id, rid, j, la, lb, a, bj,
         |    CAST(max(cand) OVER (PARTITION BY id, rid ORDER BY j)
         |      AS BIGINT) AS dp
         |  FROM (
         |    SELECT id, rid, j, la, lb, a, bj,
         |      CASE WHEN j = 0 THEN 0
         |           WHEN la >= $i AND a[$i] = bj
         |             THEN coalesce(lag(dp) OVER (PARTITION BY id, rid
         |               ORDER BY j), 0) + 1
         |           ELSE dp END AS cand
         |    FROM rl${i - 1}))""".stripMargin
    }
    s"""WITH corp AS MATERIALIZED (
       |  SELECT CAST(doc_id AS BIGINT) AS id,
       |    list_slice($DuckToks, 1, $RougeK) AS a FROM documents),
       |corpl AS (SELECT id, a, CAST(len(a) AS BIGINT) AS la FROM corp),
       |refs AS MATERIALIZED (
       |  SELECT CAST(doc_id AS BIGINT) AS rid,
       |    list_slice($DuckToks, 1, $RougeK) AS b FROM documents
       |  WHERE doc_id % 37 = 0),
       |refx AS MATERIALIZED (
       |  SELECT rid, CAST(len(b) AS BIGINT) AS lb, b,
       |    unnest(generate_series(0, len(b))) AS j FROM refs),
       |rl0 AS MATERIALIZED (
       |  SELECT c.id, r.rid, CAST(r.j AS BIGINT) AS j, c.la, r.lb, c.a,
       |    CASE WHEN r.j = 0 THEN NULL ELSE r.b[r.j] END AS bj,
       |    CAST(0 AS BIGINT) AS dp
       |  FROM corpl c CROSS JOIN refx r),
       |${stages.mkString(",\n")},
       |fin AS (SELECT id, rid, la, lb, dp AS lcs FROM rl$RougeK
       |  WHERE j = lb),
       |scored AS (SELECT id, rid, lcs,
       |    CASE WHEN la + lb = 0 THEN 0
       |         ELSE (2000000 * lcs) // (la + lb) END AS rouge
       |  FROM fin),
       |best AS (SELECT id, rid, lcs, rouge, row_number() OVER (
       |    PARTITION BY id ORDER BY rouge DESC, rid ASC) AS rk
       |  FROM scored)
       |SELECT id, rid AS best_ref_id, CAST(lcs AS BIGINT) AS lcs,
       |  CAST(rouge AS BIGINT) AS rouge_l_micro,
       |  rouge >= 700000 AS flagged
       |FROM best WHERE rk = 1""".stripMargin
  }

  private def duckShingles(toksExpr: String): String =
    s"""(CASE WHEN len($toksExpr) < 3 THEN [array_to_string($toksExpr, ' ')]
       | ELSE list_transform(range(1, len($toksExpr) - 1),
       |   i -> array_to_string(list_slice($toksExpr, i, i + 2), ' ')) END)""".stripMargin
  private def duckOcc(marker: String): String =
    s"(CAST(length(' ' || text || ' ') - length(replace(' ' || text || ' ', '$marker', '')) AS DOUBLE) / ${marker.length})"
  // composite quality score — the single definition, interpolated into both
  // the text_quality and pipeline_curate oracles
  private def duckQuality: String =
    s"""least(CAST(len($DuckToks) AS DOUBLE) / 100.0, 1.0) * 0.5 +
       |    (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.25 +
       |    least((${duckOcc(" the ")} + ${duckOcc(" a ")} + ${duckOcc(" and ")}) / len($DuckToks) * 5.0, 1.0) * 0.25""".stripMargin
  private val DuckNorm =
    raw"""trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:''"()\[\]{}]', '', 'g'), '\s+', ' ', 'g'))"""
  private val DuckBucket = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)"
  private val DuckSplit =
    s"""CASE WHEN $DuckBucket < 'cc' THEN 'train'
       |     WHEN $DuckBucket < 'e6' THEN 'val'
       |     ELSE 'test' END""".stripMargin
  private def duckLangScore(lang: String): String =
    TextOps.LangMarkers.toMap.apply(lang).map(duckOcc).mkString("(", " + ", ")")

  /** SQL twin of [[TextOps.langId]]: first language (in LangMarkers order)
    * whose marker score ties-or-beats every other — the same CASE shape as
    * the foldRight in the Column form.
    */
  private def duckLangIdCase: String = {
    val ls = TextOps.LangMarkers.map(_._1)
    val whens = ls.map { l =>
      val conds = ls.filter(_ != l)
        .map(o => s"${duckLangScore(l)} >= ${duckLangScore(o)}")
        .mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"(CASE $whens ELSE 'und' END)"
  }
  /** SQL twin of [[docsWithFooters]]. */
  private def duckFootered: String =
    s"""SELECT doc_id, text ||
       |    CASE WHEN doc_id % 4 = 0 THEN ' $FooterA' ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' $FooterB' ELSE '' END AS text
       |  FROM documents""".stripMargin

  override def oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents)
        |SELECT md5(text) AS content_hash, min(doc_id) AS survivor_id,
        |  count(*) AS n_copies
        |FROM u GROUP BY md5(text)""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $duckNearDupCtes
         |SELECT id_a, id_b, jac FROM npairs""".stripMargin,

    "dedup_apply" ->
      s"""WITH RECURSIVE $duckNearDupCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM npairs
         |  UNION ALL SELECT id_b, id_a FROM npairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |), losers AS (
         |  SELECT id FROM (SELECT id, min(r) AS s FROM reach GROUP BY id)
         |  WHERE id <> s
         |)
         |SELECT doc_id FROM base
         |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin,

    "dedup_components" ->
      s"""WITH RECURSIVE $duckNearDupCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM npairs
         |  UNION ALL SELECT id_b, id_a FROM npairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |)
         |SELECT id, min(r) AS survivor_id FROM reach GROUP BY id""".stripMargin,

    "dedup_simhash" ->
      s"""SELECT doc_id, array_to_string(list_transform(range(1, 33), i ->
         |  CASE WHEN list_sum(list_transform(hexes, h ->
         |    2 * ((strpos('0123456789abcdef', substr(h, i, 1)) - 1) % 2) - 1)) > 0
         |  THEN '1' ELSE '0' END), '') AS simhash
         |FROM (SELECT doc_id, list_transform($DuckToks, t -> md5(t)) AS hexes
         |      FROM documents)""".stripMargin,

    "dedup_vs_ref_near" ->
      s"""WITH ref AS (
         |  SELECT doc_id + 200000 AS ref_id,
         |    array_to_string(list_slice(toks, 1,
         |      CAST(floor(len(toks) * 0.8) AS INT)), ' ') AS text
         |  FROM (SELECT doc_id, $DuckToks AS toks FROM documents)
         |  WHERE doc_id % 10 = 3
         |), shc AS (
         |  SELECT doc_id, list_distinct(${duckShingles("toks")}) AS s
         |  FROM (SELECT doc_id, $DuckToks AS toks FROM documents)
         |), shr AS (
         |  SELECT ref_id, list_distinct(${duckShingles("toks")}) AS s
         |  FROM (SELECT ref_id, $DuckToks AS toks FROM ref)
         |)
         |SELECT id, ref_id, jac FROM (
         |  SELECT c.doc_id AS id, r.ref_id AS ref_id,
         |    CAST(len(list_intersect(c.s, r.s)) AS DOUBLE) /
         |      (len(c.s) + len(r.s) - len(list_intersect(c.s, r.s))) AS jac
         |  FROM shc c, shr r)
         |WHERE jac >= 0.5""".stripMargin,

    // ROUGE-L replayed as an UNROLLED prefix-max DP: stage i fixes doc
    // token i; cand_j = dp_{i-1}[j-1]+1 on match else dp_{i-1}[j], and
    // dp_i = running max of cand over j (adjacent dp differ by ≤ 1, so
    // the matched branch already dominates dp_{i-1}[j]). RougeK stages,
    // each one lag + one prefix-max window per (doc, ref) pair.
    "dedup_rougel" -> rougeLSql,

    "dedup_common_span" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000,
         |    array_to_string(list_slice(toks, 1, CAST(floor(len(toks) * 0.8) AS INT)), ' ')
         |  FROM (SELECT doc_id, $DuckToks AS toks FROM documents)
         |), sp AS (
         |  SELECT doc_id, list_distinct(
         |    CASE WHEN len(toks) < 20 THEN [array_to_string(toks, ' ')]
         |         ELSE list_transform(range(1, len(toks) - 18),
         |           i -> array_to_string(list_slice(toks, i, i + 19), ' ')) END) AS s
         |  FROM (SELECT doc_id, $DuckToks AS toks FROM base)
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM sp a JOIN sp b
         |  ON a.doc_id < b.doc_id AND len(list_intersect(a.s, b.s)) > 0""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""SELECT id_a, id_b, jac FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
         |  FROM (SELECT doc_id, lang, list_distinct($DuckToks) AS s FROM documents) a
         |  JOIN (SELECT doc_id, lang, list_distinct($DuckToks) AS s FROM documents) b
         |    ON a.lang = b.lang AND a.doc_id < b.doc_id)
         |WHERE jac >= 0.5""".stripMargin,

    "sample_per_group" ->
      """SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 5""".stripMargin,

    "sample_split" ->
      s"""SELECT doc_id,
         |  $DuckSplit AS split
         |FROM documents""".stripMargin,

    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE CASE WHEN lang = 'en'
         |  THEN $DuckBucket < '1a'
         |  ELSE $DuckBucket < '80' END""".stripMargin,

    "decontaminate" ->
      s"""WITH d AS (
         |  SELECT doc_id, $DuckToks AS toks FROM documents
         |), sp AS (
         |  SELECT doc_id, list_distinct(
         |    CASE WHEN len(toks) < 20 THEN [array_to_string(toks, ' ')]
         |         ELSE list_transform(range(1, len(toks) - 18),
         |           i -> array_to_string(list_slice(toks, i, i + 19), ' ')) END) AS s
         |  FROM d
         |), flat AS (
         |  SELECT doc_id, unnest(s) AS span FROM sp
         |), held AS (
         |  SELECT DISTINCT span FROM flat WHERE doc_id % 10 = 3
         |), shortlens AS (
         |  SELECT DISTINCT len(toks) AS L FROM d
         |  WHERE doc_id % 10 = 3 AND len(toks) < 20 AND len(toks) > 0
         |), cshort0 AS (
         |  SELECT dd.doc_id, dd.toks, sl.L,
         |    unnest(range(1, len(dd.toks) - sl.L + 2)) AS st
         |  FROM d dd JOIN shortlens sl ON len(dd.toks) >= sl.L
         |), cshort AS (
         |  SELECT doc_id, L,
         |    array_to_string(list_slice(toks, st, st + L - 1), ' ') AS span
         |  FROM cshort0
         |), hshort AS (
         |  SELECT DISTINCT len(toks) AS L, array_to_string(toks, ' ') AS span
         |  FROM d WHERE doc_id % 10 = 3 AND len(toks) < 20 AND len(toks) > 0
         |), bad AS (
         |  SELECT DISTINCT doc_id FROM flat JOIN held USING (span)
         |  UNION
         |  SELECT DISTINCT c.doc_id FROM cshort c
         |  JOIN hshort h ON c.L = h.L AND c.span = h.span
         |)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    "decontaminate_report" ->
      s"""WITH d AS (
         |  SELECT doc_id, $DuckToks AS toks FROM documents
         |), sp AS (
         |  SELECT doc_id, list_distinct(
         |    CASE WHEN len(toks) < 20 THEN [array_to_string(toks, ' ')]
         |         ELSE list_transform(range(1, len(toks) - 18),
         |           i -> array_to_string(list_slice(toks, i, i + 19), ' ')) END) AS s
         |  FROM d
         |), flat AS (
         |  SELECT doc_id, unnest(s) AS span FROM sp
         |), dfc AS (
         |  SELECT span, CAST(count(*) AS BIGINT) AS df FROM flat GROUP BY 1
         |), hj AS (
         |  SELECT f.doc_id AS heldout_id, f.span, dfc.df
         |  FROM flat f JOIN dfc USING (span) WHERE f.doc_id % 10 = 3
         |), hits AS (
         |  SELECT hj.heldout_id, hj.span, f.doc_id AS cid
         |  FROM hj JOIN flat f USING (span)
         |  WHERE hj.df <= 50 AND f.doc_id <> hj.heldout_id
         |), dc AS (
         |  SELECT heldout_id, CAST(count(DISTINCT cid) AS BIGINT) AS n
         |  FROM hits GROUP BY 1
         |), sh AS (
         |  SELECT heldout_id, CAST(count(DISTINCT span) AS BIGINT) AS n
         |  FROM hits GROUP BY 1
         |), bl AS (
         |  SELECT heldout_id, CAST(sum(CASE WHEN df > 50 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n
         |  FROM hj GROUP BY 1
         |)
         |SELECT hh.doc_id AS heldout_id,
         |  CAST(coalesce(dc.n, 0) AS BIGINT) AS n_contaminated_docs,
         |  CAST(coalesce(sh.n, 0) AS BIGINT) AS n_spans_hit,
         |  CAST(coalesce(bl.n, 0) AS BIGINT) AS n_boiler_spans
         |FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 = 3) hh
         |LEFT JOIN dc ON hh.doc_id = dc.heldout_id
         |LEFT JOIN sh ON hh.doc_id = sh.heldout_id
         |LEFT JOIN bl ON hh.doc_id = bl.heldout_id""".stripMargin,

    "dedup_against_ref" ->
      """SELECT doc_id FROM documents
        |WHERE md5(text) NOT IN
        |  (SELECT md5(text) FROM documents WHERE doc_id % 10 = 3)""".stripMargin,

    "text_boilerplate" -> {
      s"""WITH p AS ($duckFootered),
         |d AS (SELECT doc_id, $DuckToks AS toks FROM p),
         |sp AS (
         |  SELECT doc_id, list_distinct(
         |    CASE WHEN len(toks) < 20 THEN [array_to_string(toks, ' ')]
         |         ELSE list_transform(range(1, len(toks) - 18),
         |           i -> array_to_string(list_slice(toks, i, i + 19), ' ')) END) AS s
         |  FROM d),
         |f AS (SELECT doc_id, unnest(s) AS span FROM sp),
         |c AS (SELECT span, count(*) AS n_docs FROM f GROUP BY span)
         |SELECT span, n_docs FROM c
         |ORDER BY n_docs DESC, span ASC LIMIT 30""".stripMargin
    },

    "corpus_datacard" -> datacardSql,

    "sample_weighted" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE CAST(CAST(concat('0x',
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |  AS DOUBLE) < ($duckQuality) * 4294967296.0""".stripMargin,

    // the ES sample replayed exactly: same md5 uniform (40-bit nibble
    // decode + 1), same staged ln(a/2^40) chain, same all-positive
    // priority division and (priority, id) rank window
    "sample_es_k" -> {
      import graft.functions.PortableMath
      val lnChain = PortableMath.duckCteChain(
        PortableMath.microLnStages("a", (1L << 40).toString,
          PortableMath.duckShiftLeft), "hh", "wsl")
      s"""WITH sl AS (SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
         |    CAST(n_chars AS BIGINT) AS w
         |  FROM documents WHERE n_chars > 0),
         |hh AS (SELECT lang, doc_id, w,
         |    CAST(list_sum(list_transform(range(1, 11), j ->
         |      CAST(strpos('0123456789abcdef', substr(substr(
         |        md5(':' || CAST(doc_id AS VARCHAR)), 1, 10), j, 1)) - 1
         |        AS BIGINT)
         |      * (CAST(1 AS BIGINT) << (4 * (10 - j))))) AS BIGINT) + 1
         |      AS a
         |  FROM sl),
         |$lnChain,
         |r AS (SELECT lang, doc_id,
         |    CAST(((-lp) * 1000000) // w AS BIGINT) AS priority_micro
         |  FROM wslfin),
         |rk AS (SELECT lang, doc_id, priority_micro,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY priority_micro ASC, doc_id ASC) AS BIGINT)
         |      AS sel_rank
         |  FROM r)
         |SELECT lang, doc_id, priority_micro, sel_rank
         |FROM rk WHERE sel_rank <= 5""".stripMargin
    },

    "dedup_span_removal" ->
      s"""WITH p AS ($duckFootered),
         |toksq AS (SELECT doc_id, $DuckToks AS tk FROM p),
         |spans AS (
         |  SELECT doc_id, i AS pos,
         |    md5(array_to_string(list_slice(tk, i, i + 19), ' ')) AS h
         |  FROM toksq, unnest(range(1, len(tk) - 18)) AS u(i)),
         |freq AS (SELECT h FROM spans GROUP BY h
         |         HAVING count(DISTINCT doc_id) > 3),
         |cov AS (
         |  SELECT DISTINCT s.doc_id, s.pos + o AS cp
         |  FROM spans s JOIN freq USING (h)
         |  CROSS JOIN unnest(range(0, 20)) AS t(o)),
         |tp AS (SELECT doc_id, i AS p, tk[i] AS tok
         |       FROM toksq, unnest(range(1, len(tk) + 1)) AS u(i)),
         |kept AS (
         |  SELECT t.doc_id, count(*) AS n_kept,
         |    string_agg(t.tok, ' ' ORDER BY t.p) AS clean_text
         |  FROM tp t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.cp
         |  WHERE c.cp IS NULL GROUP BY t.doc_id)
         |SELECT b.doc_id, CAST(len(b.tk) AS BIGINT) AS n_tokens,
         |  CAST(len(b.tk) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(k.clean_text, '') AS clean_text
         |FROM toksq b LEFT JOIN kept k USING (doc_id)""".stripMargin,

    // keep-one exact-substring dedup: a window occurrence is cut iff its
    // doc id exceeds the window hash's minimum doc id (window coverage IS
    // run membership — see CorpusStats.removeDuplicateSubstrings)
    "dedup_substring" ->
      s"""WITH p AS ($duckFootered),
         |toksq AS (SELECT doc_id, $DuckToks AS tk FROM p),
         |spans AS (
         |  SELECT doc_id, i AS pos,
         |    md5(array_to_string(list_slice(tk, i, i + 19), ' ')) AS h
         |  FROM toksq, unnest(range(1, len(tk) - 18)) AS u(i)),
         |keeper AS (SELECT h, min(doc_id) AS keep_id FROM spans
         |           GROUP BY h HAVING count(*) >= 2),
         |cov AS (
         |  SELECT DISTINCT s.doc_id, s.pos + o AS cp
         |  FROM spans s JOIN keeper USING (h)
         |  CROSS JOIN unnest(range(0, 20)) AS t(o)
         |  WHERE s.doc_id > keeper.keep_id),
         |tp AS (SELECT doc_id, i AS p, tk[i] AS tok
         |       FROM toksq, unnest(range(1, len(tk) + 1)) AS u(i)),
         |kept AS (
         |  SELECT t.doc_id, count(*) AS n_kept,
         |    string_agg(t.tok, ' ' ORDER BY t.p) AS clean_text
         |  FROM tp t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.cp
         |  WHERE c.cp IS NULL GROUP BY t.doc_id)
         |SELECT b.doc_id, CAST(len(b.tk) AS BIGINT) AS n_tokens,
         |  CAST(len(b.tk) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(k.clean_text, '') AS clean_text
         |FROM toksq b LEFT JOIN kept k USING (doc_id)""".stripMargin,

    // maximal shared runs: window matches per (pair, diagonal) island into
    // contiguous pos_a stretches; stretch count + 19 is the run length
    "dedup_substring_runs" ->
      s"""WITH p AS (
         |  SELECT * FROM ($duckFootered) ORDER BY doc_id LIMIT 80),
         |toksq AS (SELECT doc_id, $DuckToks AS tk FROM p),
         |w AS (
         |  SELECT doc_id, i AS pos,
         |    md5(array_to_string(list_slice(tk, i, i + 19), ' ')) AS h
         |  FROM toksq, unnest(range(1, len(tk) - 18)) AS u(i)),
         |okh AS (SELECT h FROM w GROUP BY h
         |        HAVING count(*) BETWEEN 2 AND 10000),
         |wf AS (SELECT w.* FROM w JOIN okh USING (h)),
         |pr AS (
         |  SELECT a.doc_id AS id_a, a.pos AS pos_a,
         |         b.doc_id AS id_b, b.pos AS pos_b
         |  FROM wf a JOIN wf b USING (h) WHERE a.doc_id < b.doc_id),
         |g AS (
         |  SELECT *, pos_a - pos_b AS diag,
         |    pos_a - row_number() OVER (
         |      PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a)
         |      AS island
         |  FROM pr)
         |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
         |  CAST(min(pos_a) AS BIGINT) AS pos_a,
         |  CAST(min(pos_b) AS BIGINT) AS pos_b,
         |  CAST(count(*) + 19 AS BIGINT) AS run_len
         |FROM g GROUP BY id_a, id_b, diag, island""".stripMargin,

    // BPE-piece ExactSubstr: merges b1..bN are mined by the shared
    // bpeRounds chain over raw documents (the frozen-tokenizer stance),
    // re-applied to the footered corpus' vocabulary with the same
    // unrolled literal-replace chain, each doc rebuilt as its piece
    // stream, then the dedup_substring window/keeper/cut chain verbatim
    "dedup_substring_bpe" -> {
      val applyRounds = (1 to CurationOps.BpeMergeCount).map { i =>
        s"""fa$i AS (SELECT word,
           |  replace(w, ' ' || b.w1 || '  ' || b.w2 || ' ',
           |             ' ' || b.w1 || b.w2 || ' ') AS w
           |  FROM fa${i - 1}, b$i AS b)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${CurationOps.bpeRounds},
         |p AS ($duckFootered),
         |ftok AS (SELECT doc_id, $DuckToks AS tk FROM p),
         |wds AS (SELECT doc_id, i AS wpos, tk[i] AS word
         |        FROM ftok, unnest(range(1, len(tk) + 1)) AS u(i)),
         |fv AS (SELECT DISTINCT word FROM wds
         |       WHERE regexp_matches(word, '^[A-Za-z0-9]+$$')),
         |fa0 AS (SELECT word,
         |  '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS w FROM fv),
         |$applyRounds,
         |wmap AS (SELECT word, trim(replace(w, '  ', ' ')) AS ps
         |         FROM fa${CurationOps.BpeMergeCount}),
         |bdoc AS (SELECT w.doc_id AS doc_id,
         |    string_agg(coalesce(m.ps, w.word), ' ' ORDER BY w.wpos) AS text
         |  FROM wds w LEFT JOIN wmap m USING (word) GROUP BY w.doc_id),
         |toksq AS (SELECT doc_id, $DuckToks AS tk FROM bdoc),
         |spans AS (
         |  SELECT doc_id, i AS pos,
         |    md5(array_to_string(list_slice(tk, i, i + 19), ' ')) AS h
         |  FROM toksq, unnest(range(1, len(tk) - 18)) AS u(i)),
         |keeper AS (SELECT h, min(doc_id) AS keep_id FROM spans
         |           GROUP BY h HAVING count(*) >= 2),
         |cov AS (
         |  SELECT DISTINCT s.doc_id, s.pos + o AS cp
         |  FROM spans s JOIN keeper USING (h)
         |  CROSS JOIN unnest(range(0, 20)) AS t(o)
         |  WHERE s.doc_id > keeper.keep_id),
         |tp AS (SELECT doc_id, i AS p, tk[i] AS tok
         |       FROM toksq, unnest(range(1, len(tk) + 1)) AS u(i)),
         |kept AS (
         |  SELECT t.doc_id, count(*) AS n_kept,
         |    string_agg(t.tok, ' ' ORDER BY t.p) AS clean_text
         |  FROM tp t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.cp
         |  WHERE c.cp IS NULL GROUP BY t.doc_id)
         |SELECT b.doc_id, CAST(len(b.tk) AS BIGINT) AS n_tokens,
         |  CAST(len(b.tk) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(k.clean_text, '') AS clean_text
         |FROM toksq b LEFT JOIN kept k USING (doc_id)""".stripMargin
    },

    "text_para_dedup" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 0 THEN '$FooterA' || chr(10) ELSE '' END ||
         |    text ||
         |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || '$FooterB' ELSE '' END AS text
         |  FROM documents),
         |ps AS (SELECT doc_id, string_split_regex(text, chr(10) || '+') AS pl
         |       FROM d),
         |p AS (
         |  SELECT doc_id, i AS pos, trim(pl[i]) AS para
         |  FROM ps, unnest(range(1, len(pl) + 1)) AS u(i)
         |  WHERE trim(pl[i]) <> ''),
         |f AS (SELECT para FROM p GROUP BY para
         |      HAVING count(DISTINCT doc_id) > 3),
         |kept AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(para, chr(10) ORDER BY pos) AS clean_text
         |  FROM p WHERE para NOT IN (SELECT para FROM f)
         |  GROUP BY doc_id),
         |s AS (SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(s.n_paras, 0) AS BIGINT) AS n_paras,
         |  CAST(coalesce(s.n_paras, 0) - coalesce(kept.n_kept, 0) AS BIGINT)
         |    AS n_removed,
         |  coalesce(kept.clean_text, '') AS clean_text
         |FROM d LEFT JOIN s USING (doc_id) LEFT JOIN kept USING (doc_id)""".stripMargin,

    "text_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($DuckToks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |r AS (
         |  SELECT doc_id, term, tf, df,
         |    (tf * CAST(1000000000 AS BIGINT)) // df AS tfidf_key,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY (tf * CAST(1000000000 AS BIGINT)) // df DESC,
         |        term ASC) AS rank
         |  FROM tf JOIN dfq USING (term))
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, tfidf_key, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 5""".stripMargin,

    "text_lm_score" ->
      s"""WITH $lmScoreCtes
         |SELECT doc_id, n_bigrams, nll_micro, avg_nll_micro
         |FROM lmsc""".stripMargin,

    "text_lm_backoff" -> {
      import graft.functions.PortableMath
      val ln04 = CorpusStats.StupidBackoffDiscountMicro
      def chainSql(a: String, b: String, from: String, prefix: String) =
        PortableMath.duckCteChain(PortableMath.microLnSignedStages(
          a, b, PortableMath.duckShiftLeft), from, prefix)
      s"""WITH ttk AS (
         |  SELECT doc_id, $DuckToks AS tk FROM documents
         |  WHERE doc_id % 2 = 0),
         |tri AS (SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
         |    CAST(count(*) AS BIGINT) AS c3
         |  FROM ttk, unnest(range(1, len(tk) - 1)) AS u(i) GROUP BY 1, 2, 3),
         |big AS (SELECT tk[i] AS bw1, tk[i + 1] AS bw2,
         |    CAST(count(*) AS BIGINT) AS cb
         |  FROM ttk, unnest(range(1, len(tk))) AS u(i) GROUP BY 1, 2),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
         |  FROM (SELECT unnest(tk) AS w FROM ttk) GROUP BY 1),
         |ntt AS (SELECT CAST(sum(cu) AS BIGINT) AS ntot FROM uni),
         |ftk AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |pd AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2,
         |    tk[i + 2] AS w3, CAST(count(*) AS BIGINT) AS m
         |  FROM ftk, unnest(range(1, len(tk) - 1)) AS u(i)
         |  GROUP BY 1, 2, 3, 4),
         |v3 AS (SELECT DISTINCT w1, w2, w3 FROM pd),
         |m0 AS (SELECT v3.w1, v3.w2, v3.w3, t.c3 AS c3, p.cb AS cp,
         |    b.cb AS cb2, um.cu AS cm, uw.cu AS cw, ntot
         |  FROM v3 LEFT JOIN tri t USING (w1, w2, w3)
         |  LEFT JOIN big p ON p.bw1 = v3.w1 AND p.bw2 = v3.w2
         |  LEFT JOIN big b ON b.bw1 = v3.w2 AND b.bw2 = v3.w3
         |  LEFT JOIN uni um ON um.w = v3.w2
         |  LEFT JOIN uni uw ON uw.w = v3.w3
         |  CROSS JOIN ntt),
         |${chainSql("c3", "cp", "m0", "t")},
         |mt AS (SELECT w1, w2, w3, c3, cb2, cm, cw, ntot, lp AS lp3
         |  FROM tfin),
         |${chainSql("cb2", "cm", "mt", "b")},
         |mb AS (SELECT w1, w2, w3, c3, cb2, cw, ntot, lp3, lp AS lp2
         |  FROM bfin),
         |${chainSql("coalesce(cw, 1)", "ntot", "mb", "u")},
         |mu AS (SELECT w1, w2, w3,
         |    CASE WHEN c3 IS NOT NULL THEN lp3
         |         WHEN cb2 IS NOT NULL THEN lp2 + ($ln04)
         |         ELSE lp + 2 * ($ln04) END AS lp
         |  FROM ufin),
         |sc AS (SELECT pd.doc_id AS doc_id, pd.m AS m, mu.lp AS lp
         |  FROM pd JOIN mu USING (w1, w2, w3))
         |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_trigrams,
         |  CAST(-sum(m * lp) AS BIGINT) AS sb_nll_micro,
         |  CAST((-sum(m * lp)) // sum(m) AS BIGINT) AS avg_sb_nll_micro
         |FROM sc GROUP BY doc_id""".stripMargin
    },

    "text_novelty" ->
      s"""WITH ref AS (SELECT $DuckToks AS tk FROM documents
         |  WHERE doc_id % 2 = 0),
         |rtri AS (SELECT DISTINCT tk[i] AS w1, tk[i + 1] AS w2,
         |    tk[i + 2] AS w3
         |  FROM ref, unnest(range(1, len(tk) - 1)) AS u(i)),
         |ftk AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |fin AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2,
         |    tk[i + 2] AS w3
         |  FROM ftk, unnest(range(1, len(tk) - 1)) AS u(i)),
         |j AS (SELECT f.doc_id AS doc_id,
         |    CASE WHEN r.w1 IS NULL THEN 1 ELSE 0 END AS nov
         |  FROM fin f LEFT JOIN rtri r USING (w1, w2, w3))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |  CAST(sum(nov) AS BIGINT) AS n_novel,
         |  CAST((sum(nov) * 1000000) // count(*) AS BIGINT) AS novelty_micro
         |FROM j GROUP BY doc_id""".stripMargin,

    "text_ppl_buckets" ->
      s"""WITH $lmScoreCtes,
         |nt AS (
         |  SELECT s.doc_id AS doc_id, d.lang AS lang, s.avg_nll_micro,
         |    ntile(3) OVER (PARTITION BY d.lang
         |      ORDER BY s.avg_nll_micro ASC, s.doc_id ASC) AS tc
         |  FROM lmsc s JOIN documents d USING (doc_id))
         |SELECT doc_id, lang, avg_nll_micro, CAST(tc AS BIGINT) AS tercile,
         |  CASE tc WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |    ELSE 'tail' END AS bucket
         |FROM nt""".stripMargin,

    "text_commonness" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($DuckToks) AS token FROM documents),
         |v AS (SELECT token, count(*) AS tf FROM tok GROUP BY token)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_sum,
         |  CAST(min(tf) AS BIGINT) AS tf_min,
         |  count(*) AS n_tokens
         |FROM tok JOIN v USING (token)
         |GROUP BY doc_id""".stripMargin,

    "chunk_sliding" ->
      s"""WITH d AS (
         |  SELECT doc_id, $DuckToks AS toks FROM documents),
         |s AS (
         |  SELECT doc_id, toks,
         |    unnest(range(1, GREATEST(len(toks) - 31, 1) + 1, 16)) AS st
         |  FROM d)
         |SELECT doc_id, CAST((st - 1) // 16 AS BIGINT) AS chunk_idx,
         |  array_to_string(list_slice(toks, st, st + 31), ' ') AS chunk
         |FROM s""".stripMargin,

    "split_leakage_free" ->
      s"""WITH RECURSIVE $duckNearDupCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM npairs
         |  UNION ALL SELECT id_b, id_a FROM npairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |), comp AS (
         |  SELECT id, min(r) AS s FROM reach GROUP BY id
         |), lab AS (
         |  SELECT base.doc_id,
         |    substr(md5(CAST(COALESCE(comp.s, base.doc_id) AS VARCHAR)), 1, 2) AS h
         |  FROM base LEFT JOIN comp ON base.doc_id = comp.id)
         |SELECT doc_id,
         |  CASE WHEN h < 'cc' THEN 'train'
         |       WHEN h < 'e6' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM lab""".stripMargin,

    "mixture_resample" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents
        |  WHERE lang IN ('en','de','fr') GROUP BY lang),
        |t AS (
        |  SELECT min(n * 4 // CASE lang WHEN 'en' THEN 2 ELSE 1 END) AS total
        |  FROM c),
        |tc AS (
        |  SELECT lang,
        |    (SELECT total FROM t) * CASE lang WHEN 'en' THEN 2 ELSE 1 END // 4
        |      AS target
        |  FROM c),
        |r AS (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents WHERE lang IN ('en','de','fr'))
        |SELECT doc_id, lang FROM r JOIN tc USING (lang)
        |WHERE rn <= target""".stripMargin,

    "mixture_tokens" ->
      s"""WITH tk AS (
         |  SELECT doc_id, lang, CAST(len($DuckToks) AS BIGINT) AS ntok
         |  FROM documents WHERE lang IN ('en','de','fr')),
         |c AS (SELECT lang, sum(ntok) AS n FROM tk GROUP BY lang),
         |t AS (
         |  SELECT min(n * 4 // CASE lang WHEN 'en' THEN 2 ELSE 1 END) AS total
         |  FROM c),
         |tc AS (
         |  SELECT lang,
         |    (SELECT total FROM t) * CASE lang WHEN 'en' THEN 2 ELSE 1 END // 4
         |      AS target
         |  FROM c),
         |r AS (
         |  SELECT doc_id, lang, sum(ntok) OVER (PARTITION BY lang
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         |    ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM tk)
         |SELECT doc_id, lang FROM r JOIN tc USING (lang)
         |WHERE cum <= target""".stripMargin,

    "quality_gate" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang, $duckQuality AS score FROM documents),
         |c AS (SELECT lang, count(*) AS n FROM q GROUP BY lang),
         |r AS (
         |  SELECT doc_id, lang, n, row_number() OVER (PARTITION BY lang
         |    ORDER BY score DESC, doc_id ASC) AS rn
         |  FROM q JOIN c USING (lang))
         |SELECT doc_id, lang FROM r WHERE rn <= n * 3 // 4""".stripMargin,

    "token_budget" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang, $duckQuality AS score,
         |    CAST(len($DuckToks) AS BIGINT) AS ntok
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang, sum(ntok) OVER (PARTITION BY lang
         |    ORDER BY score DESC, doc_id ASC
         |    ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM q)
         |SELECT doc_id, lang FROM r WHERE cum <= 5000""".stripMargin,

    // the Kish identity replayed over the same integer token weights,
    // HUGEINT rational with the explicit floor
    "sel_ess" ->
      s"""WITH w AS (SELECT lang, CAST(len($DuckToks) AS BIGINT) AS w
         |  FROM documents),
         |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(w) AS HUGEINT) AS sw,
         |    CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sw2
         |  FROM w GROUP BY 1)
         |SELECT lang, n,
         |  CAST(CASE WHEN sw2 = 0 THEN 0
         |       ELSE (1000000 * sw * sw) // (n * sw2) END AS BIGINT)
         |    AS ess_micro
         |FROM a""".stripMargin,

    "sel_cap_per_source" ->
      s"""WITH q AS (
         |  SELECT doc_id, source, $duckQuality AS quality FROM documents),
         |r AS (
         |  SELECT doc_id, source, quality, row_number() OVER (
         |    PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rn
         |  FROM q)
         |SELECT doc_id, source, quality, CAST(rn AS BIGINT) AS rank
         |FROM r WHERE rn <= 10""".stripMargin,

    "dedup_keep_best" ->
      s"""WITH RECURSIVE $duckNearDupCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM npairs
         |  UNION ALL SELECT id_b, id_a FROM npairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |), comp AS (
         |  SELECT id, min(r) AS c FROM reach GROUP BY id
         |), scored AS (
         |  SELECT b.doc_id AS id, $duckQuality AS q
         |  FROM base b JOIN comp ON b.doc_id = comp.id
         |), losers AS (
         |  SELECT id FROM (
         |    SELECT s.id, row_number() OVER (PARTITION BY comp.c
         |      ORDER BY s.q DESC, s.id ASC) AS rn
         |    FROM scored s JOIN comp ON s.id = comp.id)
         |  WHERE rn > 1
         |)
         |SELECT doc_id FROM base
         |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin,

    "pack_shards" ->
      s"""WITH tokd AS (
         |  SELECT doc_id, CAST(len($DuckToks) AS BIGINT) AS n_tokens
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) - 1
         |      AS BIGINT) AS r0
         |  FROM tokd)
         |SELECT doc_id, n_tokens,
         |  CAST(CASE WHEN (r0 // 8) % 2 = 0 THEN r0 % 8
         |       ELSE 7 - (r0 % 8) END AS BIGINT) AS shard
         |FROM r""".stripMargin,

    "pack_length_buckets" ->
      s"""WITH tokd AS (
         |  SELECT doc_id,
         |    GREATEST(CAST(len($DuckToks) AS BIGINT), 1) AS n_tokens
         |  FROM documents),
         |b AS (SELECT doc_id, n_tokens,
         |        CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket
         |      FROM tokd),
         |r AS (SELECT doc_id, n_tokens, bucket,
         |        row_number() OVER (PARTITION BY bucket
         |          ORDER BY n_tokens ASC, doc_id ASC) - 1 AS r0
         |      FROM b)
         |SELECT doc_id, n_tokens, bucket,
         |  CAST(r0 // 16 AS BIGINT) AS batch_idx
         |FROM r""".stripMargin,

    "pack_sequences" ->
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 8 AS shard,
         |    GREATEST(CAST(len($DuckToks) AS BIGINT), 1) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM d)
         |SELECT doc_id, shard, n_tokens,
         |  cum_before // 512 AS seq_first,
         |  (cum_before + n_tokens - 1) // 512 AS seq_last,
         |  cum_before % 512 AS tok_offset
         |FROM c""".stripMargin,

    "pack_chunks" ->
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 8 AS shard,
         |    GREATEST(CAST(len($DuckToks) AS BIGINT), 1) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS g0
         |  FROM d),
         |e AS (
         |  SELECT doc_id, shard, n_tokens, g0,
         |    unnest(generate_series(g0 // 512,
         |      (g0 + n_tokens - 1) // 512)) AS seq
         |  FROM c)
         |SELECT doc_id, shard, seq,
         |  GREATEST(seq * 512, g0) - g0 AS tok_start,
         |  LEAST((seq + 1) * 512, g0 + n_tokens)
         |    - GREATEST(seq * 512, g0) AS tok_len
         |FROM e""".stripMargin,

    "text_normalize" ->
      s"""SELECT doc_id,
         |  $DuckNorm AS norm_text,
         |  md5($DuckNorm) AS norm_key
         |FROM documents""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, list_min(list_transform(
        |    range(1, greatest(length(text) - 15, 1) + 1),
        |    i -> md5(substr(text, i, 16)))) AS fp
        |FROM documents""".stripMargin,

    "text_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($DuckToks) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len($DuckToks) AS mean_word_len
         |FROM documents""".stripMargin,

    // same length-difference counts via RE2's script classes; the
    // dominant CASE replays the fixed tie order over the named columns
    "text_scripts" -> scriptsSql,

    "text_repetition" ->
      s"""SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         |  1.0 - CAST(len(list_distinct(big)) AS DOUBLE) / len(big) AS dup_bigram_frac
         |FROM (
         |  SELECT doc_id, toks,
         |    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
         |         ELSE list_transform(range(1, len(toks)),
         |           i -> array_to_string(list_slice(toks, i, i + 1), ' ')) END AS big
         |  FROM (SELECT doc_id, $DuckToks AS toks FROM documents))""".stripMargin,

    "text_html_clean" -> {
      val unescapes = TextOps.HtmlEntities.foldLeft("regexp_replace(text, '<[^>]*>', ' ', 'g')") {
        case (acc, (e, r)) =>
          s"replace($acc, '${e}', '${r.replace("'", "''")}')"
      }
      s"""WITH h AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN '<div class="body"><p>' || text || '</p>' || chr(10) || '<br/></div>'
         |      ELSE text END ||
         |    CASE WHEN doc_id % 4 = 0
         |      THEN ' &lt;escaped&gt; &amp;amp; &quot;quoted&quot;' ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  trim(regexp_replace($unescapes, '\\s+', ' ', 'g')) AS clean_text
         |FROM h""".stripMargin
    },

    "curriculum_order" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id ASC) AS r,
        |    CASE lang WHEN 'en' THEN 4 WHEN 'fr' THEN 2 WHEN 'de' THEN 2
        |              WHEN 'es' THEN 1 WHEN 'zh' THEN 1 END AS w
        |  FROM documents)
        |SELECT doc_id, lang, ticket,
        |  CAST(row_number() OVER (ORDER BY ticket ASC, lang ASC, doc_id ASC)
        |    AS BIGINT) AS schedule_pos
        |FROM (SELECT doc_id, lang,
        |        CAST(r AS BIGINT) * 1000000000 // CAST(w AS BIGINT) AS ticket
        |      FROM t)""".stripMargin,

    "dsir_weights" ->
      s"""WITH $duckDsirCtes
         |SELECT doc_id, n_feats, weight_micro FROM dweights""".stripMargin,

    "dsir_select" ->
      s"""WITH $duckDsirCtes
         |SELECT doc_id, n_feats, weight_micro FROM dweights
         |ORDER BY weight_micro DESC, doc_id ASC LIMIT 100""".stripMargin,

    "gopher_quality_gate" -> {
      val th = GopherThresholds()
      val stopPresence = GopherRules.Stopwords.map(w =>
        s"CASE WHEN contains(' ' || nrm || ' ', ' $w ') THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH rep AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN '- item one' || chr(10) || '- item two' || chr(10) ELSE '' END ||
         |    text ||
         |    repeat(chr(10) || '$RepLine', CAST(doc_id % 4 AS INT)) ||
         |    CASE WHEN doc_id % 6 = 0
         |      THEN chr(10) || 'to be continued...' ELSE '' END AS text
         |  FROM documents),
         |tok AS (SELECT doc_id, text,
         |  regexp_replace(text, '\\s+', ' ', 'g') AS nrm,
         |  $DuckToks AS toks FROM rep),
         |word AS (
         |  SELECT doc_id, text,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(toks) AS mean_word_len,
         |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks) AS alpha_word_frac,
         |    CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) +
         |         len(regexp_extract_all(text, '…')) AS DOUBLE) / len(toks) AS symbol_word_ratio,
         |    CAST($stopPresence AS BIGINT) AS n_stopwords_present
         |  FROM tok),
         |lines AS (
         |  SELECT doc_id, trim(l) AS line
         |  FROM rep, UNNEST(string_split_regex(text, '\\n+')) AS u(l)
         |  WHERE trim(l) <> ''),
         |perline AS (
         |  SELECT doc_id, line, count(*) AS c, CAST(length(line) AS BIGINT) AS len,
         |    CASE WHEN regexp_matches(line, '^[-*•]') THEN 1 ELSE 0 END AS is_bullet,
         |    CASE WHEN regexp_matches(line, '(\\.\\.\\.|…)$$') THEN 1 ELSE 0 END AS is_ellipsis
         |  FROM lines GROUP BY doc_id, line),
         |linestats AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
         |    CAST(count(*) AS BIGINT) AS n_distinct_lines,
         |    CAST(sum((c - 1) * len) AS BIGINT) AS dup_chars,
         |    CAST(sum(c * len) AS BIGINT) AS all_chars,
         |    CAST(sum(c * is_bullet) AS BIGINT) AS n_bullet,
         |    CAST(sum(c * is_ellipsis) AS BIGINT) AS n_ellipsis
         |  FROM perline GROUP BY doc_id),
         |grams AS (
         |  SELECT doc_id, 2 AS n, g FROM tok,
         |    UNNEST(list_transform(range(1, len(toks)), i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS u(g)
         |    WHERE len(toks) >= 2
         |  UNION ALL
         |  SELECT doc_id, 3 AS n, g FROM tok,
         |    UNNEST(list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS u(g)
         |    WHERE len(toks) >= 3
         |  UNION ALL
         |  SELECT doc_id, 4 AS n, g FROM tok,
         |    UNNEST(list_transform(range(1, len(toks) - 2), i -> array_to_string(list_slice(toks, i, i + 3), ' '))) AS u(g)
         |    WHERE len(toks) >= 4),
         |gtop AS (
         |  SELECT doc_id, n, c, g FROM (
         |    SELECT doc_id, n, g, count(*) AS c,
         |      row_number() OVER (PARTITION BY doc_id, n
         |        ORDER BY count(*) DESC, g ASC) AS rn
         |    FROM grams GROUP BY doc_id, n, g)
         |  WHERE rn = 1),
         |gpiv AS (
         |  SELECT doc_id,
         |    max(CASE WHEN n = 2 THEN c END) AS c2,
         |    max(CASE WHEN n = 2 THEN CAST(length(g) AS BIGINT) END) AS g2,
         |    max(CASE WHEN n = 3 THEN c END) AS c3,
         |    max(CASE WHEN n = 3 THEN CAST(length(g) AS BIGINT) END) AS g3,
         |    max(CASE WHEN n = 4 THEN c END) AS c4,
         |    max(CASE WHEN n = 4 THEN CAST(length(g) AS BIGINT) END) AS g4
         |  FROM gtop GROUP BY doc_id),
         |spans AS (
         |  SELECT doc_id, i AS pos, array_to_string(list_slice(toks, i, i + 4), ' ') AS h
         |  FROM tok, UNNEST(range(1, len(toks) - 3)) AS u(i)
         |  WHERE len(toks) >= 5),
         |rep5 AS (
         |  SELECT doc_id, h FROM (
         |    SELECT doc_id, h, count(*) AS c FROM spans GROUP BY doc_id, h)
         |  WHERE c >= 2),
         |cov AS (
         |  SELECT DISTINCT s.doc_id AS doc_id, u.p AS p FROM (
         |    SELECT sp.doc_id AS doc_id, sp.pos AS pos
         |    FROM spans sp JOIN rep5 r ON sp.doc_id = r.doc_id AND sp.h = r.h) s,
         |    UNNEST(range(s.pos, s.pos + 5)) AS u(p)),
         |tokpos AS (
         |  SELECT doc_id, i AS p, CAST(length(toks[i]) AS BIGINT) AS len
         |  FROM tok, UNNEST(range(1, len(toks) + 1)) AS u(i)),
         |covstats AS (
         |  SELECT doc_id, CAST(sum(len) AS BIGINT) AS cov_chars
         |  FROM tokpos JOIN cov USING (doc_id, p) GROUP BY doc_id),
         |totstats AS (
         |  SELECT doc_id, CAST(sum(len) AS BIGINT) AS tot_chars
         |  FROM tokpos GROUP BY doc_id),
         |sig AS (
         |  SELECT w.doc_id, n_tokens, mean_word_len, alpha_word_frac,
         |    symbol_word_ratio, n_stopwords_present,
         |    coalesce(n_lines, 0) AS n_lines,
         |    coalesce(CAST(n_lines - n_distinct_lines AS DOUBLE) / n_lines, 0.0) AS dup_line_frac,
         |    coalesce(CAST(dup_chars AS DOUBLE) / all_chars, 0.0) AS dup_line_char_frac,
         |    coalesce(CAST(n_bullet AS DOUBLE) / n_lines, 0.0) AS bullet_line_frac,
         |    coalesce(CAST(n_ellipsis AS DOUBLE) / n_lines, 0.0) AS ellipsis_line_frac,
         |    coalesce(CAST(c2 * g2 AS DOUBLE) / length(w.text), 0.0) AS top_2gram_char_frac,
         |    coalesce(CAST(c3 * g3 AS DOUBLE) / length(w.text), 0.0) AS top_3gram_char_frac,
         |    coalesce(CAST(c4 * g4 AS DOUBLE) / length(w.text), 0.0) AS top_4gram_char_frac,
         |    coalesce(CAST(cov_chars AS DOUBLE) / tot_chars, 0.0) AS dup_5gram_char_frac
         |  FROM word w
         |  LEFT JOIN linestats USING (doc_id) LEFT JOIN gpiv USING (doc_id)
         |  LEFT JOIN covstats USING (doc_id) LEFT JOIN totstats USING (doc_id))
         |SELECT *,
         |  (n_tokens BETWEEN ${th.minWords} AND ${th.maxWords})
         |  AND (mean_word_len BETWEEN ${th.minMeanWordLen} AND ${th.maxMeanWordLen})
         |  AND symbol_word_ratio <= ${th.maxSymbolWordRatio}
         |  AND alpha_word_frac >= ${th.minAlphaWordFrac}
         |  AND n_stopwords_present >= ${th.minStopwordsPresent}
         |  AND bullet_line_frac <= ${th.maxBulletLineFrac}
         |  AND ellipsis_line_frac <= ${th.maxEllipsisLineFrac}
         |  AND dup_line_frac <= ${th.maxDupLineFrac}
         |  AND dup_line_char_frac <= ${th.maxDupLineCharFrac}
         |  AND top_2gram_char_frac <= ${th.maxTop2gramCharFrac}
         |  AND top_3gram_char_frac <= ${th.maxTop3gramCharFrac}
         |  AND top_4gram_char_frac <= ${th.maxTop4gramCharFrac}
         |  AND dup_5gram_char_frac <= ${th.maxDup5gramCharFrac} AS gopher_keep
         |FROM sig""".stripMargin
    },

    "text_pii" ->
      s"""WITH p AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0
         |      THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0
         |      THEN ' https://example.com/d/' || CAST(doc_id AS VARCHAR) ELSE '' END ||
         |    CASE WHEN doc_id % 13 = 0
         |      THEN ' +1 ' || lpad(CAST(doc_id AS VARCHAR), 10, '0') ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$UrlRe')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '$EmailRe')) +
         |       len(regexp_extract_all(text, '$UrlRe')) +
         |       len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_pii
         |FROM p""".stripMargin,

    "text_redact" ->
      s"""WITH p AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0
         |      THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0
         |      THEN ' https://example.com/d/' || CAST(doc_id AS VARCHAR) ELSE '' END ||
         |    CASE WHEN doc_id % 13 = 0
         |      THEN ' +1 ' || lpad(CAST(doc_id AS VARCHAR), 10, '0') ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '$UrlRe', '[URL]', 'g'),
         |      '$EmailRe', '[EMAIL]', 'g'),
         |    '$PhoneRe', '[PHONE]', 'g') AS redacted
         |FROM p""".stripMargin,

    "corpus_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT)
        |    AS pos
        |FROM documents""".stripMargin,

    "text_langid" ->
      s"""SELECT doc_id, lang,
         |  CASE
         |    WHEN ${duckLangScore("en")} >= ${duckLangScore("de")} AND ${duckLangScore("en")} >= ${duckLangScore("es")} AND ${duckLangScore("en")} >= ${duckLangScore("fr")} THEN 'en'
         |    WHEN ${duckLangScore("de")} >= ${duckLangScore("en")} AND ${duckLangScore("de")} >= ${duckLangScore("es")} AND ${duckLangScore("de")} >= ${duckLangScore("fr")} THEN 'de'
         |    WHEN ${duckLangScore("es")} >= ${duckLangScore("en")} AND ${duckLangScore("es")} >= ${duckLangScore("de")} AND ${duckLangScore("es")} >= ${duckLangScore("fr")} THEN 'es'
         |    WHEN ${duckLangScore("fr")} >= ${duckLangScore("en")} AND ${duckLangScore("fr")} >= ${duckLangScore("de")} AND ${duckLangScore("fr")} >= ${duckLangScore("es")} THEN 'fr'
         |    ELSE 'und' END AS predicted,
         |  ${duckLangScore("en")} AS s_en, ${duckLangScore("de")} AS s_de,
         |  ${duckLangScore("es")} AS s_es, ${duckLangScore("fr")} AS s_fr
         |FROM documents""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len($DuckToks) AS BIGINT) AS n_tokens,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len($DuckToks) AS mean_word_len,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text) AS punct_ratio,
         |  (${duckOcc(" the ")} + ${duckOcc(" a ")} + ${duckOcc(" and ")}) / len($DuckToks) AS stopword_ratio,
         |  $duckQuality AS quality
         |FROM documents""".stripMargin,

    "sft_chat_format" ->
      """SELECT CAST(user_id AS BIGINT) AS conv_id,
        |  string_agg('<|' || event_type || '|>' || props || chr(10),
        |    '' ORDER BY event_id) AS chat_text,
        |  CAST(count(*) AS BIGINT) AS n_turns
        |FROM events GROUP BY user_id""".stripMargin,

    "sft_loss_mask" ->
      """WITH t AS (SELECT CAST(user_id AS BIGINT) AS conv_id,
        |             CAST(event_id AS BIGINT) AS ord, event_type AS role,
        |             '<|' || event_type || '|>' || props || chr(10) AS piece
        |           FROM events),
        |o AS (SELECT *, CAST(sum(length(piece)) OVER (
        |        PARTITION BY conv_id ORDER BY ord
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off FROM t)
        |SELECT conv_id,
        |  CAST(row_number() OVER (PARTITION BY conv_id ORDER BY ord) - 1
        |    AS BIGINT) AS span_idx,
        |  CAST(end_off - length(piece) + length('<|' || role || '|>')
        |    AS BIGINT) AS span_start,
        |  CAST(end_off - 1 AS BIGINT) AS span_end
        |FROM o WHERE role = 'click'""".stripMargin,

    "sel_pref_pairs" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS rb,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars ASC, doc_id ASC) AS rw,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT b.source,
        |  CAST(b.doc_id AS BIGINT) AS chosen_id,
        |  CAST(w.doc_id AS BIGINT) AS rejected_id,
        |  CAST(b.n_chars AS BIGINT) AS chosen_score,
        |  CAST(w.n_chars AS BIGINT) AS rejected_score,
        |  CAST(b.n_chars - w.n_chars AS BIGINT) AS margin
        |FROM (SELECT * FROM r WHERE rb = 1 AND n >= 2) b
        |JOIN (SELECT * FROM r WHERE rw = 1) w USING (source)
        |WHERE b.doc_id <> w.doc_id""".stripMargin,

    "sft_validate" ->
      """WITH t AS (SELECT CAST(user_id AS BIGINT) AS conv_id,
        |             CAST(event_id AS BIGINT) AS ord, event_type AS role,
        |             coalesce(props, '') AS content FROM events),
        |w AS (SELECT *,
        |  row_number() OVER (PARTITION BY conv_id
        |    ORDER BY ord, role, content) AS rn,
        |  lag(role) OVER (PARTITION BY conv_id
        |    ORDER BY ord, role, content) AS prev_role,
        |  lag(ord) OVER (PARTITION BY conv_id
        |    ORDER BY ord, role, content) AS prev_ord FROM t),
        |a AS (SELECT conv_id,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(max(CASE WHEN rn = 1 AND role <> 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS bad_first,
        |  CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_role_repeats,
        |  CAST(sum(CASE WHEN role IN ('view','click','purchase','signup')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_unknown_role,
        |  CAST(sum(CASE WHEN trim(content) = '' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_empty,
        |  CAST(sum(CASE WHEN ord = prev_ord THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup_ord
        |FROM w GROUP BY conv_id)
        |SELECT *, CAST(CASE WHEN bad_first + n_role_repeats + n_unknown_role
        |  + n_empty + n_dup_ord = 0 THEN 1 ELSE 0 END AS BIGINT) AS valid
        |FROM a""".stripMargin,

    "url_canonicalize" ->
      raw"""WITH u AS (SELECT doc_id,
           |  CASE
           |    WHEN doc_id % 4 = 0 THEN 'HTTPS://Example.COM:443/Item/' ||
           |      CAST(doc_id AS VARCHAR) || '?b=2&a=1&#frag'
           |    WHEN doc_id % 4 = 1 THEN 'http://EXAMPLE.com:80//x/' ||
           |      CAST(doc_id AS VARCHAR) || '?z=9&y=8'
           |    WHEN doc_id % 4 = 2 THEN 'https://example.com'
           |    ELSE 'not a url' END AS url
           |  FROM documents),
           |parts AS (SELECT doc_id, url,
           |  lower(coalesce(regexp_extract(url,
           |    '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1), '')) AS scheme,
           |  lower(coalesce(regexp_extract(url,
           |    '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)', 2), '')) AS auth,
           |  coalesce(regexp_extract(url,
           |    '^([A-Za-z][A-Za-z0-9+.\-]*)://[^/?#]*([^?#]*)', 2), '')
           |    AS path,
           |  coalesce(regexp_extract(url, '\?([^#]*)', 1), '') AS q
           |  FROM u),
           |norm AS (SELECT doc_id, url, scheme,
           |  CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$$', '')
           |       WHEN scheme = 'https' THEN regexp_replace(auth, ':443$$', '')
           |       ELSE auth END AS auth,
           |  CASE WHEN path = '' THEN '/' ELSE path END AS path,
           |  coalesce(array_to_string(list_sort(list_filter(
           |    string_split(q, '&'), x -> x <> '')), '&'), '') AS sq
           |  FROM parts)
           |SELECT doc_id, url,
           |  CASE WHEN scheme = '' THEN NULL
           |       ELSE scheme || '://' || auth || path ||
           |         CASE WHEN sq = '' THEN '' ELSE '?' || sq END
           |  END AS canonical_url
           |FROM norm""".stripMargin,

    "tok_oov_rate" ->
      s"""WITH wf AS (SELECT w AS word, count(*) AS freq FROM
         |       (SELECT unnest($DuckToks) AS w FROM documents) GROUP BY 1),
         |v AS (SELECT word FROM wf ORDER BY freq DESC, word ASC LIMIT 20),
         |tk AS (SELECT doc_id, unnest($DuckToks) AS word FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS oov_micro
         |FROM tk LEFT JOIN v ON tk.word = v.word
         |GROUP BY doc_id""".stripMargin,

    "label_kappa" ->
      s"""WITH lab AS (SELECT lang AS a, $duckLangIdCase AS b FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(coalesce(sum(CASE WHEN a = b THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS agree FROM lab),
         |ca AS (SELECT a AS lbl, CAST(count(*) AS BIGINT) AS na
         |       FROM lab GROUP BY 1),
         |cb AS (SELECT b AS lbl, CAST(count(*) AS BIGINT) AS nb
         |       FROM lab GROUP BY 1),
         |sj AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS s_joint
         |       FROM ca JOIN cb USING (lbl)),
         |k0 AS (SELECT n, agree, s_joint,
         |    CAST(1000000 AS HUGEINT) *
         |      (CAST(n AS HUGEINT) * agree - s_joint) AS nm,
         |    CAST(n AS HUGEINT) * n - s_joint AS dn
         |  FROM tot CROSS JOIN sj)
         |SELECT n, agree, s_joint,
         |  CAST(CASE WHEN dn = 0 THEN 1000000
         |       ELSE (nm - ((nm % dn + dn) % dn)) // dn END AS BIGINT)
         |    AS kappa_micro
         |FROM k0""".stripMargin,

    "dedup_fuzzy" ->
      """WITH k AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |             substring(text, 1, 24) AS key FROM documents)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
        |FROM k a JOIN k b
        |  ON a.id < b.id AND abs(length(a.key) - length(b.key)) <= 2
        |WHERE levenshtein(a.key, b.key) <= 2""".stripMargin,

    "dedup_fuzzy_apply" ->
      """WITH RECURSIVE k AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |             substring(text, 1, 24) AS key FROM documents),
        |fpairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM k a JOIN k b
        |    ON a.id < b.id AND abs(length(a.key) - length(b.key)) <= 2
        |  WHERE levenshtein(a.key, b.key) <= 2),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM fpairs
        |  UNION ALL SELECT id_b, id_a FROM fpairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |losers AS (
        |  SELECT id FROM (SELECT id, min(r) AS s FROM reach GROUP BY id)
        |  WHERE id <> s)
        |SELECT id AS doc_id FROM k
        |WHERE id NOT IN (SELECT id FROM losers)""".stripMargin,

    "sql_curate" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang, text, CAST(len($DuckToks) AS BIGINT) AS n_tokens
         |  FROM documents WHERE ($duckQuality) >= 0.5
         |), surv AS (
         |  SELECT min(doc_id) AS doc_id
         |  FROM scored GROUP BY md5($DuckNorm)
         |)
         |SELECT sc.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(sc.n_tokens) AS BIGINT) AS n_tokens
         |FROM scored sc JOIN surv v ON sc.doc_id = v.doc_id
         |GROUP BY sc.lang""".stripMargin,

    "text_span_corrupt" -> {
      // the winnow 40-bit md5 decode, over the (doc_id:pos) key
      val hexDecode =
        """CAST(list_sum(list_transform(range(1, 11), j ->
          |  CAST(strpos('0123456789abcdef', substr(hx, j, 1)) - 1 AS BIGINT)
          |  * (CAST(1 AS BIGINT) << (4 * (10 - j))))) AS BIGINT)""".stripMargin
      s"""WITH tokz AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |tokp AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[i] AS tok
         |         FROM tokz, unnest(range(1, len(tk) + 1)) AS u(i)),
         |hx0 AS (SELECT doc_id, pos, tok,
         |          substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
         |            CAST(pos AS VARCHAR)), 1, 10) AS hx
         |        FROM tokp),
         |msk AS (SELECT doc_id, pos, tok,
         |          ($hexDecode % 1000) < 150 AS m FROM hx0),
         |stt AS (SELECT *, m AND NOT coalesce(lag(m) OVER (
         |          PARTITION BY doc_id ORDER BY pos), false) AS s
         |        FROM msk),
         |kk AS (SELECT *, sum(CASE WHEN s THEN 1 ELSE 0 END) OVER (
         |         PARTITION BY doc_id ORDER BY pos
         |         ROWS UNBOUNDED PRECEDING) - 1 AS k
         |       FROM stt),
         |pcs AS (SELECT doc_id, pos, s,
         |          CASE WHEN NOT m THEN tok
         |               WHEN s THEN '<extra_id_' || k || '>' END AS ip,
         |          CASE WHEN s THEN '<extra_id_' || k || '> ' || tok
         |               WHEN m THEN tok END AS tp
         |        FROM kk)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
         |  coalesce(string_agg(ip, ' ' ORDER BY pos), '') AS input_text,
         |  coalesce(string_agg(tp, ' ' ORDER BY pos), '') AS target_text
         |FROM pcs GROUP BY doc_id""".stripMargin
    },

    "text_vocab_topk" ->
      s"""SELECT token, count(*) AS freq FROM (
         |  SELECT unnest($DuckToks) AS token FROM documents)
         |GROUP BY token
         |ORDER BY freq DESC, token ASC LIMIT 100""".stripMargin,

    // the Hill estimator replayed: same top-64 cut, the shared staged-ln
    // CTE chain (duckCteChain — both engines evaluate the identical
    // expression DAG), same integer division
    "vocab_zipf" -> {
      val chain = graft.functions.PortableMath.duckCteChain(
        graft.functions.PortableMath.microLnSignedStages("freq", "fk",
          graft.functions.PortableMath.duckShiftLeft), "zbase", "zl")
      s"""WITH vf AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($DuckToks) AS token FROM documents)
         |  GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 64),
         |hd AS (SELECT CAST(count(*) AS BIGINT) AS ke,
         |    CAST(min(freq) AS BIGINT) AS fk FROM vf),
         |zbase AS (SELECT freq, fk, ke FROM vf CROSS JOIN hd),
         |$chain,
         |zs AS (SELECT CAST(coalesce(sum(lp), 0) AS BIGINT)
         |    AS sum_ln_micro, max(ke) AS ke, max(fk) AS fk FROM zlfin)
         |SELECT ke AS k_eff, fk AS f_k, sum_ln_micro,
         |  CAST(CASE WHEN sum_ln_micro = 0 THEN 0
         |       ELSE (1000000000000 * CAST(ke AS HUGEINT)) // sum_ln_micro
         |       END AS BIGINT) AS hill_alpha_micro
         |FROM zs""".stripMargin
    },

    // the per-language Hill chain: the datacard zipf leg standalone,
    // PARTITIONed by lang with the shared staged-ln CTE generator
    "vocab_zipf_lang" -> {
      val chain = graft.functions.PortableMath.duckCteChain(
        graft.functions.PortableMath.microLnSignedStages("freq", "fk",
          graft.functions.PortableMath.duckShiftLeft), "zbase", "zl")
      s"""WITH wr AS (SELECT lang, unnest($DuckToks) AS token
         |  FROM documents),
         |zf AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS freq
         |  FROM wr GROUP BY 1, 2),
         |zr AS (SELECT lang, freq, row_number() OVER (PARTITION BY lang
         |    ORDER BY freq DESC, token ASC) AS r FROM zf),
         |ztop AS (SELECT lang, freq FROM zr WHERE r <= 64),
         |zh AS (SELECT lang, CAST(count(*) AS BIGINT) AS ke,
         |    CAST(min(freq) AS BIGINT) AS fk FROM ztop GROUP BY 1),
         |zbase AS (SELECT t.lang, t.freq, h.fk, h.ke
         |  FROM ztop t JOIN zh h ON t.lang = h.lang),
         |$chain,
         |zs AS (SELECT lang, max(ke) AS ke,
         |    CAST(coalesce(sum(lp), 0) AS BIGINT) AS s
         |  FROM zlfin GROUP BY lang)
         |SELECT lang, CAST(ke AS BIGINT) AS k_eff, s AS sum_ln_micro,
         |  CAST(CASE WHEN ke < 2 OR s = 0 THEN 0
         |       ELSE (1000000000000 * CAST(ke AS HUGEINT)) // s
         |       END AS BIGINT) AS hill_alpha_micro
         |FROM zs""".stripMargin
    },

    // the sketch path is certified-exact, so its oracle IS the plain
    // aggregation — identical SQL to text_vocab_topk by construction
    "text_vocab_topk_mg" ->
      s"""SELECT token, count(*) AS freq FROM (
         |  SELECT unnest($DuckToks) AS token FROM documents)
         |GROUP BY token
         |ORDER BY freq DESC, token ASC LIMIT 100""".stripMargin,

    // the Fleiss computation replayed exactly: same first-3 rank filter,
    // same cell/marginal masses, same HUGEINT rational with explicit
    // floor-mod (the label_kappa idiom)
    "label_fleiss" ->
      s"""WITH ev AS (SELECT CAST(user_id AS BIGINT) AS item,
         |    CAST(event_id AS BIGINT) AS ord, event_type AS label
         |  FROM events),
         |r AS (SELECT item, label, row_number() OVER (PARTITION BY item
         |    ORDER BY ord, label) AS rn FROM ev),
         |k3 AS (SELECT item, label FROM r WHERE rn <= 3),
         |f AS (SELECT item, label FROM (SELECT *, count(*)
         |    OVER (PARTITION BY item) AS c FROM k3) WHERE c = 3),
         |cell AS (SELECT item, label, CAST(count(*) AS BIGINT) AS nij
         |  FROM f GROUP BY 1, 2),
         |sa AS (SELECT CAST(coalesce(sum(nij * (nij - 1)), 0) AS BIGINT)
         |    AS sa FROM cell),
         |s2 AS (SELECT CAST(coalesce(sum(cj * cj), 0) AS BIGINT) AS s2
         |  FROM (SELECT label, CAST(sum(nij) AS BIGINT) AS cj
         |        FROM cell GROUP BY 1)),
         |nn AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS ni FROM f),
         |k0 AS (SELECT ni, sa, s2,
         |    CAST(ni AS HUGEINT) * 3 AS m,
         |    CAST(ni AS HUGEINT) * 3 * 2 AS b
         |  FROM nn CROSS JOIN sa CROSS JOIN s2),
         |k1 AS (SELECT ni, sa, s2,
         |    CAST(1000000 AS HUGEINT) *
         |      (CAST(sa AS HUGEINT) * m * m - CAST(s2 AS HUGEINT) * b)
         |      AS nm,
         |    b * (m * m - CAST(s2 AS HUGEINT)) AS dn
         |  FROM k0)
         |SELECT ni AS n_items, CAST(3 AS BIGINT) AS n_raters, sa, s2,
         |  CAST(CASE WHEN dn = 0 THEN 1000000
         |       ELSE (nm - ((nm % dn + dn) % dn)) // dn END AS BIGINT)
         |    AS kappa_micro
         |FROM k1""".stripMargin,

    // the α computation replayed exactly: same first-4 rank cut, same
    // pairable filter, P = Π distinct (m−1) cleared through the HUGEINT
    // rational with the explicit floor-mod (product() of a handful of
    // small ints is double-exact far below 2^53, then cast back)
    "label_krippendorff" ->
      s"""WITH ev AS (SELECT CAST(user_id AS BIGINT) AS item,
         |    CAST(event_id AS BIGINT) AS ord, event_type AS label
         |  FROM events),
         |r AS (SELECT item, label, row_number() OVER (PARTITION BY item
         |    ORDER BY ord, label) AS rn FROM ev),
         |k AS (SELECT item, label FROM r WHERE rn <= 4),
         |pi AS (SELECT item, CAST(count(*) AS BIGINT) AS mi FROM k
         |  GROUP BY 1 HAVING count(*) >= 2),
         |pp AS (SELECT CAST(round(product(CAST(mm1 AS DOUBLE)))
         |    AS HUGEINT) AS p
         |  FROM (SELECT DISTINCT mi - 1 AS mm1 FROM pi)),
         |cells AS (SELECT k.item, pi.mi, k.label,
         |    CAST(count(*) AS BIGINT) AS nuc
         |  FROM k JOIN pi USING (item) GROUP BY 1, 2, 3),
         |dn0 AS (SELECT mi, CAST(coalesce(sum(nuc * (mi - nuc)), 0)
         |    AS HUGEINT) AS dsum FROM cells GROUP BY 1),
         |dnum AS (SELECT CAST(coalesce(sum(dsum * (p // (mi - 1))), 0)
         |    AS HUGEINT) AS do_num_p FROM dn0 CROSS JOIN pp),
         |nt AS (SELECT CAST(coalesce(sum(nuc), 0) AS HUGEINT) AS n,
         |    CAST(count(DISTINCT item) AS BIGINT) AS n_items FROM cells),
         |de AS (SELECT CAST(coalesce(sum(CAST(ncj AS HUGEINT) *
         |      (n - ncj)), 0) AS HUGEINT) AS de_num
         |  FROM (SELECT label, CAST(sum(nuc) AS HUGEINT) AS ncj
         |        FROM cells GROUP BY 1) CROSS JOIN nt),
         |mk AS (SELECT CAST(count(*) AS BIGINT) AS m_kinds
         |  FROM (SELECT DISTINCT mi FROM pi)),
         |f AS (SELECT n_items, CAST(n AS BIGINT) AS n_ratings, m_kinds,
         |    CAST(1000000 AS HUGEINT) * do_num_p * (n - 1) AS nm,
         |    p * de_num AS dn
         |  FROM nt CROSS JOIN dnum CROSS JOIN de CROSS JOIN mk
         |    CROSS JOIN pp)
         |SELECT n_items, n_ratings, m_kinds,
         |  CAST(CASE WHEN dn = 0 THEN 1000000
         |       ELSE 1000000 - (nm - ((nm % dn + dn) % dn)) // dn
         |       END AS BIGINT) AS alpha_micro
         |FROM f""".stripMargin,

    // the funnel replayed stage by stage: same flags, same
    // quality-survivor dup window, same cumulative AND chain
    "curation_funnel" ->
      s"""WITH f AS (SELECT doc_id, text,
         |    (lang = 'en') AS f1,
         |    (lang = 'en' AND ($duckQuality) >= 0.5) AS f2
         |  FROM documents),
         |m AS (SELECT *, min(CASE WHEN f2 THEN doc_id END)
         |    OVER (PARTITION BY md5(text)) AS mn FROM f),
         |g AS (SELECT f1, f2, (f2 AND doc_id = mn) AS f3,
         |    (f2 AND doc_id = mn AND len($DuckToks) >= 50) AS f4,
         |    CAST(len($DuckToks) AS BIGINT) AS ntok
         |  FROM m)
         |SELECT stage, n_docs, n_tokens FROM (
         |  SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(ntok) AS BIGINT) AS n_tokens FROM g
         |  UNION ALL SELECT '1_lang',
         |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN f1 THEN ntok ELSE 0 END) AS BIGINT) FROM g
         |  UNION ALL SELECT '2_quality',
         |    CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN f2 THEN ntok ELSE 0 END) AS BIGINT) FROM g
         |  UNION ALL SELECT '3_dedup',
         |    CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN f3 THEN ntok ELSE 0 END) AS BIGINT) FROM g
         |  UNION ALL SELECT '4_length',
         |    CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN f4 THEN ntok ELSE 0 END) AS BIGINT) FROM g)
         |""".stripMargin,

    // the manifest replayed exactly: same 60-bit (15 hex nibbles) md5
    // fold, same shard key and token count, bit_xor on both engines
    "shard_manifest" ->
      s"""WITH h AS (SELECT doc_id % 8 AS shard,
         |    CAST(len($DuckToks) AS BIGINT) AS ntok,
         |    CAST(list_sum(list_transform(range(1, 16), j ->
         |      CAST(strpos('0123456789abcdef', substr(substr(
         |        md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15),
         |        j, 1)) - 1 AS BIGINT)
         |      * (CAST(1 AS BIGINT) << (4 * (15 - j))))) AS BIGINT) AS hv
         |  FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  CAST(bit_xor(hv) AS BIGINT) AS content_xor
         |FROM h GROUP BY shard""".stripMargin,

    // the HLL registers and raw estimator replayed exactly: same 40-bit
    // md5 hash (nibble arithmetic), same minimal-length bin() rank, same
    // integer alpha literal from Sketches.alphaMicro
    "hll_distinct" -> {
      import graft.functions.PortableMath
      val a = graft.llm.Sketches.alphaMicro(256)
      val lnChain = PortableMath.duckCteChain(
        PortableMath.microLnStages("greatest(v, 1)", "256",
          PortableMath.duckShiftLeft), "r", "hln")
      s"""WITH tok AS (SELECT lang, unnest($DuckToks) AS token
         |  FROM documents),
         |h AS (SELECT lang,
         |    CAST(list_sum(list_transform(range(1, 11), j ->
         |      CAST(strpos('0123456789abcdef', substr(substr(md5(token),
         |        1, 10), j, 1)) - 1 AS BIGINT)
         |      * (CAST(1 AS BIGINT) << (4 * (10 - j))))) AS BIGINT) AS hv
         |  FROM tok),
         |reg AS (SELECT lang, hv % 256 AS j,
         |    max(CASE WHEN hv // 256 = 0 THEN 33
         |        ELSE 33 - length(bin(hv // 256)) END) AS mj
         |  FROM h GROUP BY 1, 2),
         |s AS (SELECT lang,
         |    CAST(sum(CAST(1 AS BIGINT) << (33 - mj)) +
         |      (256 - count(*)) * (CAST(1 AS BIGINT) << 33) AS BIGINT)
         |      AS sv,
         |    CAST(256 - count(*) AS BIGINT) AS v
         |  FROM reg GROUP BY 1),
         |r AS (SELECT lang, sv, v,
         |    CAST(($a * (562949953421312 // sv)) // 1000000 AS BIGINT)
         |      AS raw
         |  FROM s),
         |$lnChain,
         |ex AS (SELECT lang, CAST(count(DISTINCT token) AS BIGINT)
         |    AS n_exact
         |  FROM tok GROUP BY 1)
         |SELECT ex.lang, ex.n_exact,
         |  CAST(CASE WHEN f.raw <= 640 AND f.v > 0
         |    THEN ((-f.lp) * 256) // 1000000 ELSE f.raw END AS BIGINT)
         |    AS n_hll
         |FROM ex JOIN hlnfin f ON ex.lang = f.lang""".stripMargin
    },

    // the CMS cells replayed exactly: same md5-derived buckets (first 40
    // bits as nibble arithmetic — the winnow/mm_features idiom, identical
    // to Spark's conv(substr(md5, 1, 10), 16, 10)), same depth×width cell
    // sums, min-over-rows estimates for the exact top-20
    "cms_counts" -> {
      def bucket(tok: String): String =
        s"""CAST(list_sum(list_transform(range(1, 11), j ->
           |  CAST(strpos('0123456789abcdef', substr(substr(md5(
           |    CAST(r AS VARCHAR) || ':' || $tok), 1, 10), j, 1)) - 1
           |    AS BIGINT)
           |  * (CAST(1 AS BIGINT) << (4 * (10 - j))))) AS BIGINT) % 256"""
          .stripMargin
      s"""WITH wc AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest($DuckToks) AS token FROM documents)
         |  GROUP BY token),
         |cells AS (SELECT r, ${bucket("token")} AS b,
         |    CAST(sum(cnt) AS BIGINT) AS cell
         |  FROM wc CROSS JOIN range(0, 4) t(r) GROUP BY 1, 2),
         |top AS (SELECT token, cnt AS freq FROM wc
         |  ORDER BY cnt DESC, token ASC LIMIT 20)
         |SELECT p.token, max(p.freq) AS freq, min(c.cell) AS freq_est
         |FROM (SELECT token, freq, r, ${bucket("token")} AS b
         |      FROM top CROSS JOIN range(0, 4) t(r)) p
         |JOIN cells c ON p.r = c.r AND p.b = c.b
         |GROUP BY p.token""".stripMargin
    },

    "emb_centroids" ->
      s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |x AS (
         |  SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS pos,
         |    v[i] AS x
         |  FROM e, unnest(range(1, len(v) + 1)) AS u(i))
         |SELECT label, pos, ${OracleSafe.sqlDavg("x")} AS c,
         |  count(*) AS n_vecs
         |FROM x GROUP BY 1, 2""".stripMargin,

    "emb_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qz AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS amax,
        |    CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
        |      THEN list_transform(v, x -> 0)
        |      ELSE list_transform(v, x -> CAST(floor(
        |        x * 127.0 / list_max(list_transform(v, y -> abs(y))) + 0.5) AS INT))
        |    END AS q
        |  FROM e)
        |SELECT vec_id, amax,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  round(list_cosine_similarity(v,
        |    list_transform(q, i -> i * amax / 127.0)), 4) AS recon_cos
        |FROM qz""".stripMargin,

    "sim_topk_brute" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 4) AS sim
        |  FROM e q, e c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM scored)
        |WHERE rnk <= 10""".stripMargin,

    "sim_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 4) AS sim
        |  FROM e q, e c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
        |    AND NOT (q.label IS NOT DISTINCT FROM c.label))
        |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rnk
        |  FROM scored WHERE sim <= 0.99)
        |WHERE rnk <= 10""".stripMargin,

    "decontaminate_sem" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT c.vec_id, r.vec_id AS eval_id,
        |    round(list_cosine_similarity(c.v, r.v), 4) AS sim
        |  FROM e c JOIN e r ON c.vec_id <> r.vec_id
        |  WHERE c.vec_id % 50 <> 0 AND r.vec_id % 50 = 0)
        |SELECT vec_id, CAST(eval_id AS BIGINT) AS eval_id, sim,
        |  (sim >= 0.95) AS contaminated
        |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, eval_id ASC) AS rnk FROM scored)
        |WHERE rnk = 1""".stripMargin,

    // engine-exact ANN family (r10 VERDICT ask #1): the full approximate
    // pipelines — hashes, codebooks, probes, candidates, ranks — replay as
    // unrolled SQL because every stage is integer/IEEE-exact
    "sim_ann_lsh" -> AnnOracleSql.lshSql,
    "sim_ann_ivf" -> AnnOracleSql.ivfSql,
    "sim_ann_pq" -> AnnOracleSql.pqSql,
    "sim_semdedup" -> AnnOracleSql.semDedupSql,

    "sim_neardup_cosine" -> AnnOracleSql.nearDupSql,

    "pipeline_curate" ->
      s"""WITH f AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE $duckQuality >= 0.5
         |), k AS (
         |  SELECT doc_id, lang, md5($DuckNorm) AS norm_key FROM f
         |), s AS (
         |  SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
         |  FROM k GROUP BY norm_key
         |)
         |SELECT lang, $DuckSplit AS split, count(*) AS n
         |FROM s GROUP BY 1, 2""".stripMargin,

    "mm_features" ->
      """SELECT media_id, n_bytes,
        |  CAST(list_sum(list_transform(range(1, 17), j ->
        |    16 * (strpos('0123456789abcdef', substr(h, 2*j - 1, 1)) - 1)
        |       + (strpos('0123456789abcdef', substr(h, 2*j, 1)) - 1))) AS BIGINT)
        |    AS feature_checksum
        |FROM (SELECT doc_id AS media_id,
        |        CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |        md5(text) AS h
        |      FROM documents)""".stripMargin,

    "mm_binary_stats" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  'text/plain' AS format
        |FROM documents""".stripMargin,

    // the decoder's metadata contract is engine-checkable: the synthetic
    // corpus renders at known dims, so a decode that really ran must
    // report exactly those dims for every row (including the planted
    // JPEG renditions)
    "mm_image_meta" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |              FROM documents ORDER BY doc_id LIMIT 160)
        |SELECT doc_id AS media_id, true AS decoded,
        |       CAST(64 AS BIGINT) AS img_w, CAST(48 AS BIGINT) AS img_h
        |FROM base
        |UNION ALL
        |SELECT doc_id + 1000000, true,
        |       CAST(96 AS BIGINT), CAST(72 AS BIGINT)
        |FROM base WHERE doc_id % 4 = 0""".stripMargin,

    // near-dup semantics promoted from rows-only to a REAL oracle: the
    // synthetic corpora plant one rendition per 4th base scene and the
    // hash specs prove 100% recall with zero false merges, so the
    // survivor set is EXACTLY the base ids — a wrong pairing (missed
    // rendition, false merge, wrong survivor policy) changes the row set
    // and fails the hash
    "mm_neardup" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id
        |FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 160)""".stripMargin,

    // the capstone's final selection in pure id arithmetic: image leg =
    // first 160 ids minus garbage plants (%10==3, gate) minus renditions
    // (merged, never in the base id set) minus contaminated (%8==2);
    // video leg = all 120 base clips; then cap 15 per (modality, id%5)
    "pipeline_multimodal" ->
      """WITH img AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS modality
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 160)
        |  WHERE doc_id % 10 <> 3 AND doc_id % 8 <> 2),
        |vid AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id, 'video' AS modality
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 120)),
        |u AS (SELECT * FROM img UNION ALL SELECT * FROM vid),
        |r AS (
        |  SELECT media_id, modality,
        |    CAST(media_id % 5 AS VARCHAR) AS source,
        |    row_number() OVER (PARTITION BY modality, media_id % 5
        |      ORDER BY media_id ASC) AS rn
        |  FROM u)
        |SELECT media_id, modality, source, CAST(rn AS BIGINT) AS rank
        |FROM r WHERE rn <= 15""".stripMargin,

    "mm_audio_neardup" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id
        |FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 160)""".stripMargin,

    // the video survivor set: every truncated+resized rendition collapses
    // onto its base (share = 1000 of the smaller), so survivors are
    // exactly the 120 base clips
    "mm_video_neardup" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id
        |FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 120)""".stripMargin,

    // the decontamination arithmetic: every 4th clip flags against its
    // own rendition (n−1 = 2 shared frames, share 1000 of the smaller),
    // everything else reports the no-match sentinel row
    "mm_video_decon" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |              FROM documents ORDER BY doc_id LIMIT 120)
        |SELECT doc_id AS id,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id + 1000000
        |       ELSE -1 END AS BIGINT) AS best_ref_id,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS BIGINT)
        |    AS shared,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1000 ELSE 0 END AS BIGINT)
        |    AS share_milli,
        |  (doc_id % 4 = 0) AS flagged
        |FROM base""".stripMargin,

    // the multi-frame decoder's contract: base clips carry 3 + id%4
    // frames, renditions one less (the dropped first frame)
    "mm_video_meta" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |              FROM documents ORDER BY doc_id LIMIT 120)
        |SELECT doc_id AS media_id, true AS decoded,
        |       CAST(3 + doc_id % 4 AS BIGINT) AS n_frames
        |FROM base
        |UNION ALL
        |SELECT doc_id + 1000000, true, CAST(2 + doc_id % 4 AS BIGINT)
        |FROM base WHERE doc_id % 4 = 0""".stripMargin,

    // the WAV parser's contract: frame count = rate · 0.65 s, mono bases
    // at 44100, stereo 0.6×-volume renditions at 22050 for every 4th doc
    "mm_audio_meta" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
        |              FROM documents ORDER BY doc_id LIMIT 160)
        |SELECT doc_id AS media_id, true AS decoded,
        |       CAST(44100 AS BIGINT) AS sample_rate,
        |       CAST(44100 * 65 // 100 AS BIGINT) AS n_samples,
        |       CAST(1 AS BIGINT) AS channels
        |FROM base
        |UNION ALL
        |SELECT doc_id + 1000000, true,
        |       CAST(22050 AS BIGINT), CAST(22050 * 65 // 100 AS BIGINT),
        |       CAST(2 AS BIGINT)
        |FROM base WHERE doc_id % 4 = 0""".stripMargin
  )
}
