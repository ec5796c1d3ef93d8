package graft.queries

import graft.Tables
import graft.functions.PortableMath
import graft.llm._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Curation-loop operators beyond the core LLM pack: lexical retrieval
  * (BM25), UniMax budget allocation, BPE merge mining, and deterministic
  * integer k-means — each oracle-hash-exact (the float-free formulations
  * are what make that possible; see the operator scaladocs).
  */
object CurationOps extends QueryPack {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  private val DuckToks = raw"string_split_regex(trim(text), '\s+')"

  /** The BM25 query set: ids and whitespace-tokenized query strings drawn
    * from the corpus vocabulary. Shared by the Spark query and the oracle.
    */
  val Bm25Queries: Seq[(String, String)] = Seq(
    "q_hash_join" -> "hash join spark",
    "q_scan_filter" -> "table scan filter",
    "q_vector_merge" -> "vector batch merge")

  private val Bm25K = 10
  private[queries] val BpeMergeCount = 8
  private val KmeansK = 8
  private val KmeansIters = 3

  /** BM25 top-k lexical ranking — the standalone report and BOTH hybrid
    * fusions ride ONE corpus scoring pass (the memoized frame is slim:
    * k·|queries| ranked rows).
    */
  private def bm25Shared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "bm25_topk") {
      Retrieval.bm25TopK(t(s, dir).documents, "doc_id", "text",
        Bm25Queries, Bm25K)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- BM25 top-k lexical retrieval, exact fixed-point scoring ----
    "ret_bm25_topk" -> ((s, dir) => bm25Shared(s, dir)),

    // ---- UniMax budget allocation across languages: 1-epoch cap,
    //      budget = 3/4 of the corpus tokens (exercises both the capped
    //      prefix and the waterfilled remainder on the skewed en-heavy
    //      corpus) ----
    "mixture_unimax" -> ((s, dir) =>
      Mixture.unimaxAllocation(t(s, dir).documents, "lang",
        TextOps.tokenCount(col("text")), maxEpochs = 1L,
        budgetOf = total => 3L * total / 4L)),

    // ---- first 8 BPE merges mined from the word-frequency table ----
    "bpe_merges" -> ((s, dir) => bpeMergesShared(s, dir)),

    // ---- deterministic integer k-means over int8-quantized embeddings ----
    "cluster_kmeans" -> ((s, dir) =>
      Similarity.kmeansInt8(t(s, dir).embeddings, KmeansK, KmeansIters)),

    // ---- hybrid retrieval: BM25 ranks fused (RRF) with a dense ranking
    //      seeded by each query's top-1 lexical hit — pseudo-relevance
    //      feedback over the aligned embeddings table. The dense ranking is
    //      the cosine of int8-quantized vectors (the kmeansInt8 max-abs
    //      quantization): dot and norms are exact BIGINTs, and the final
    //      dot/√(na·nb) is exactly-rounded IEEE arithmetic on exact
    //      integers — bit-identical on any engine, unlike a rounded float
    //      cosine whose .00005 boundary cases could flip a rank (r7 ADVICE)
    "ret_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tb = t(s, dir)
      // the BM25 ranking fans out three ways (seeds, dense ranking, and
      // the fusion union) — the StageMemo'd frame is already
      // materialized, so every consumer replays k·|queries| rows
      val bm = bm25Shared(s, dir)
        .select(col("query_id"), col("doc_id").as("item_id"), col("rank"))
      val q8 = tb.embeddings.select(col("vec_id").as("item_id"),
        Similarity.quantizeInt8(col("embedding").cast("array<double>")).as("q"))
      val seeds = bm.filter(col("rank") === 1)
        .join(q8.select(col("item_id"), col("q").as("qa")), "item_id")
        .select(col("query_id"), col("qa"))
      val wD = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("item_id").asc)
      val dense = q8.select(col("item_id"), col("q").as("qb"))
        .crossJoin(broadcast(seeds))
        // native codegen'd kernel: the corpus × broadcast-seeds scan is
        // the hot loop (same values as the HOF chain it replaces)
        .withColumn("sim", Similarity.intCosine(col("qa"), col("qb")))
        .withColumn("rank", row_number().over(wD).cast("long"))
        .filter(col("rank") <= Bm25K)
        .select(col("query_id"), col("item_id"), col("rank"))
      Retrieval.rrfFuse(Seq(bm, dense), Bm25K)
        .withColumnRenamed("item_id", "doc_id")
    }),

    // ---- margin-based bitext mining (Artetxe & Schwenk 2019): mine
    //      aligned pairs across the two parity "language" sides of the
    //      embeddings table by the ratio margin over exact int8 micro
    //      cosines — mutual-best + threshold, engine-exact end to end
    //      (AnnOracleSql.bitextSql replays every stage) ----
    "ret_bitext_mine" -> ((s, dir) => {
      val e = t(s, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Retrieval.bitextMine(
        e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "v", k = AnnOracleSql.BitextK,
        marginThresholdMicro = AnnOracleSql.BitextThresholdMicro)
    }),

    // ---- the 100 TB-shaped bitext path: candidate-FED margin mining —
    //      per-side IVF-flat top-k retrieval replaces the cartesian
    //      candidate stage (no cross join anywhere in the plan), the
    //      margin / mutual-best / threshold math is byte-identical to
    //      ret_bitext_mine's (one shared core). Engine-exact end to end:
    //      AnnOracleSql.bitextAnnSql replays both IVF indexes AND the
    //      margin tail ----
    "ret_bitext_ann" -> ((s, dir) => {
      val e = t(s, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // quantize each side ONCE (r17, guide §1.2): the int8 frame feeds
      // BOTH retrieval directions (query side of one, corpus side of the
      // other) AND the mining tail — the previous one-call-per-direction
      // shape re-quantized each side three times (2 ivfTopK internals +
      // the tail's q8Side), i.e. six corpus passes for two sides. Values
      // are bit-identical: quantization is per-row deterministic and the
      // FromQ8 entries run the exact ivfTopK / mineFromCandidates bodies.
      // one quantize job for both sides (r18 — parity-filter the single
      // checkpoint; per-row deterministic, so rows are identical)
      val q8 = Similarity.q8State(e, "vec_id", "v").localCheckpoint()
      val sv = q8.filter(pmod(col("id"), lit(2)) === 0)
      val tv = q8.filter(pmod(col("id"), lit(2)) === 1)
      def topk(q: DataFrame, c: DataFrame) =
        Similarity.ivfTopKFromQ8(
          q.select(col("id").as("query_id"), col("q").as("qa")),
          c.select(col("id").as("__id"), col("q").as("__q")),
          k = AnnOracleSql.BitextK,
          nCells = AnnOracleSql.IvfCells, nProbe = AnnOracleSql.IvfProbe,
          boundedQueries = false, excludeSelf = false)
      Retrieval.mineFromCandidateFrames(
        sv.select(col("id").as("src_id"), col("q").as("__qsrc_id")),
        tv.select(col("id").as("tgt_id"), col("q").as("__qtgt_id")),
        topk(sv, tv), topk(tv, sv),
        k = AnnOracleSql.BitextK,
        marginThresholdMicro = AnnOracleSql.BitextThresholdMicro)
    }),

    // ---- the SAME candidate-fed mining core over the OTHER generator:
    //      per-side hyperplane-LSH top-k lists (annTopK — the feed for
    //      churn-heavy sides where training an IVF codebook per run is
    //      wasted work; never broadcasts a query side). excludeSelf =
    //      false: the sides are separate corpora whose id spaces may
    //      collide. Engine-exact: AnnOracleSql.bitextLshSql replays the
    //      md5-hyperplane index, multi-probe, bucket cap, re-rank AND
    //      the shared margin tail ----
    "ret_bitext_lsh" -> ((s, dir) => {
      val e = t(s, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // annTopKBitext's internals, composed openly so the ONE quantized
      // frame per side also feeds the mining tail (r17, guide §1.2 — the
      // annTopKBitext + bitextMineFromCandidates shape re-quantized both
      // sides for the tail): each side is int8-quantized and
      // hyperplane-hashed exactly once, the shared index serves both
      // directions (the r16 half-kernel-cost optimization, unchanged),
      // and the same checkpointed q8 frames enter the margin tail
      // directly. Row-identical to the two-call form by construction —
      // bitextListsFromState/mineFromCandidateFrames ARE the bodies the
      // wrappers run.
      // ONE quantize job and ONE hash job for both sides (r18, guide
      // §1.2): quantization and hyperplane hashing are per-row
      // deterministic, so materializing them over the WHOLE embeddings
      // table and parity-filtering the checkpoints afterwards yields
      // exactly the per-side frames the two per-side checkpoints built —
      // at half the eager-job count (these queries are scheduling-bound
      // at bench SF; at scale the single pass also reads the input once)
      val q8 = Similarity.q8State(e, "vec_id", "v").localCheckpoint()
      val sv = q8.filter(pmod(col("id"), lit(2)) === 0)
      val tv = q8.filter(pmod(col("id"), lit(2)) === 1)
      val lshAll = Similarity.lshStateFromQ8(q8,
        AnnOracleSql.LshTables, AnnOracleSql.LshBits).localCheckpoint()
      val sh = lshAll.filter(pmod(col("id"), lit(2)) === 0)
      val th = lshAll.filter(pmod(col("id"), lit(2)) === 1)
      // r18: the fused both-direction core enumerates the symmetric
      // collision rows once and its lists carry sim_micro, so the
      // mining tail unions them directly — no re-join of the quantized
      // sides, no per-pair cosine recompute. Row-identical to the
      // two-direction + recompute form (CurationSpec pins the list
      // equality; the oracle replay is unchanged).
      val (srcLists, tgtLists) = Similarity.bitextListsFused(
        sv, sh, tv, th, k = AnnOracleSql.BitextK,
        bitsN = AnnOracleSql.LshBits,
        maxBucketSize = AnnOracleSql.LshMaxBucket, multiProbe = true)
      Retrieval.mineFromMicroLists(srcLists, tgtLists,
        k = AnnOracleSql.BitextK,
        marginThresholdMicro = AnnOracleSql.BitextThresholdMicro)
    }),

    // ---- the SAME candidate-fed mining core over the FOURTH generator
    //      (r16 VERDICT ask #5 — PQ symmetry): per-side PRODUCT-
    //      QUANTIZED top-k lists. pqTopK runs its corpus-mining
    //      contract — boundedQueries = false (the query side IS a
    //      corpus side: LUTs shuffle as slim BIGINT rows, no driver
    //      collect/broadcast) and excludeSelf = false (colliding id
    //      spaces). One codebook set per corpus side, the compressed
    //      m-byte code scan replacing the full-vector candidate stage.
    //      Engine-exact: AnnOracleSql.bitextPqSql replays both PQ
    //      indexes AND the shared margin tail ----
    "ret_bitext_pq" -> ((s, dir) => {
      val e = t(s, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // ONE quantize job for both PQ directions + the mining tail (r17
      // stopped re-quantizing per consumer; r18 additionally folds the
      // two per-side checkpoint jobs into one whole-table pass with
      // parity filters — per-row deterministic, identical rows)
      val q8 = Similarity.q8State(e, "vec_id", "v").localCheckpoint()
      val sv = q8.filter(pmod(col("id"), lit(2)) === 0)
      val tv = q8.filter(pmod(col("id"), lit(2)) === 1)
      def topk(q: DataFrame, c: DataFrame) =
        Similarity.pqTopKFromQ8(
          q.select(col("id").as("query_id"), col("q").as("qa")),
          c.select(col("id").as("__id"), col("q").as("__q")),
          k = AnnOracleSql.BitextK,
          m = AnnOracleSql.PqM, codebookSize = AnnOracleSql.PqCb,
          rerank = AnnOracleSql.PqRerank, trainIters = AnnOracleSql.PqIters,
          boundedQueries = false, excludeSelf = false)
      Retrieval.mineFromCandidateFrames(
        sv.select(col("id").as("src_id"), col("q").as("__qsrc_id")),
        tv.select(col("id").as("tgt_id"), col("q").as("__qtgt_id")),
        topk(sv, tv), topk(tv, sv),
        k = AnnOracleSql.BitextK,
        marginThresholdMicro = AnnOracleSql.BitextThresholdMicro)
    }),

    // ---- the STREAMED form of the LSH bitext path (r16 VERDICT ask
    //      #1): each parity side is ingested through the continuous
    //      bitextIngest loop in two real micro-batches (MemoryStream +
    //      foreachBatch, durable per-batch state under a temp dir),
    //      then bitextRetroMine mines the accumulated state at read
    //      time. Because quantization/hashing are per-row deterministic
    //      and mining is a pure function of the sides, the round trip
    //      is bit-identical to ret_bitext_lsh's batch path at the same
    //      frozen parameters — so the SAME AnnOracleSql.bitextLshSql
    //      replay hash-checks the whole ingest+mine loop ----
    "ret_bitext_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val e = t(s, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val base = java.nio.file.Files
        .createTempDirectory("graft_bti_q").toString
      def start(side: DataFrame, name: String) = {
        val rows = side.as[(Long, Seq[Double])].collect()
        // two deterministic micro-batches per side (ids interleave —
        // the loop needs no id monotonicity, state rows are facts)
        val (b1, b2) = rows.partition(_._1 % 8 < 4)
        val mem = MemoryStream[(Long, Seq[Double])](s)
        val q = graft.streaming.Pipelines.bitextIngest(
          mem.toDF().toDF("vec_id", "v"), "vec_id", "v",
          s"$base/$name/vecs", s"$base/$name/idx", s"$base/$name/ckpt",
          tables = AnnOracleSql.LshTables, bits = AnnOracleSql.LshBits)
        (mem, q, b1, b2)
      }
      // the two sides are independent single-writer loops over separate
      // state dirs, so their micro-batches OVERLAP (r17, guide §2.6 —
      // streaming queries run on their own threads; feeding both before
      // draining either back-fills the idle tail of each batch). Batch
      // CONTENTS per side are unchanged, so the persisted state — and
      // therefore the mined output — is bit-identical to the sequential
      // form.
      val (ms, qs, s1, s2) =
        start(e.filter(pmod(col("vec_id"), lit(2)) === 0), "src")
      val (mt, qt, t1, t2) =
        start(e.filter(pmod(col("vec_id"), lit(2)) === 1), "tgt")
      // r18 wait interleave: each side's batch 2 is released as soon as
      // ITS OWN batch 1 commits (the per-side wait is only there to pin
      // the two-batch split), so one side's batch 2 overlaps the other
      // side's batch 1 instead of barriering on it. Batch CONTENTS per
      // side are unchanged — state stays bit-identical.
      ms.addData(s1.toIndexedSeq: _*); mt.addData(t1.toIndexedSeq: _*)
      qs.processAllAvailable(); ms.addData(s2.toIndexedSeq: _*)
      qt.processAllAvailable(); mt.addData(t2.toIndexedSeq: _*)
      qs.processAllAvailable(); qt.processAllAvailable()
      qs.stop(); qt.stop()
      graft.streaming.Pipelines.bitextRetroMine(s,
        s"$base/src/vecs", s"$base/src/idx",
        s"$base/tgt/vecs", s"$base/tgt/idx",
        k = AnnOracleSql.BitextK, bits = AnnOracleSql.LshBits,
        maxBucketSize = AnnOracleSql.LshMaxBucket,
        marginThresholdMicro = AnnOracleSql.BitextThresholdMicro)
    }),

    // ---- the production hybrid-search shape: BM25 fused with a REAL ANN
    //      list (IVF-flat over the embeddings, seeded per query by its
    //      top-1 lexical hit). Engine-exact since r11: the IVF index is
    //      the integer-cosine k-means path, so the whole fusion replays in
    //      AnnOracleSql.hybridAnnSql; AnnRecallSpec still pins its
    //      agreement with the exact-dense hybrid ----
    "ret_hybrid_ann" -> ((s, dir) => {
      val tb = t(s, dir)
      val bm = bm25Shared(s, dir)
        .select(col("query_id"), col("doc_id").as("item_id"), col("rank"))
      val emb = tb.embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val seedMap = bm.filter(col("rank") === 1)
        .select(col("query_id").as("bm_query"), col("item_id"))
      val seedVecs = emb.join(
        seedMap.select(col("item_id").as("vec_id")).distinct(), "vec_id")
      val ann = Similarity.ivfTopK(seedVecs, emb, k = Bm25K,
        nCells = AnnOracleSql.IvfCells, nProbe = AnnOracleSql.IvfProbe,
        idCol = "vec_id", vecCol = "embedding",
        trainIters = AnnOracleSql.IvfIters,
        trainSampleSize = AnnOracleSql.TrainSample)
      // seedMap is one row per query (bounded query set) — broadcast
      // explicitly; size estimates would plan a sort-merge join that
      // shuffles the ANN list on a frame bounded by |queries|
      val dense = ann.join(broadcast(seedMap),
          ann("query_id") === seedMap("item_id"))
        .select(col("bm_query").as("query_id"),
          col("neighbor_id").as("item_id"), ann("rank"))
      Retrieval.rrfFuse(Seq(bm, dense), Bm25K)
        .withColumnRenamed("item_id", "doc_id")
    }),

    // ---- top-k adjacent collocations by fixed-point PMI ----
    "text_collocations" -> ((s, dir) =>
      CorpusStats.collocations(t(s, dir).documents, "text",
        minCount = CollocMinCount, k = CollocK)),

    // ---- UniMax materialized: the waterfilled allocation applied as a
    //      greedy per-group hash-prefix document selection ----
    "mixture_unimax_select" -> ((s, dir) =>
      Mixture.unimaxSelect(t(s, dir).documents, "lang",
        TextOps.tokenCount(col("text")), maxEpochs = 1L,
        budgetOf = total => 3L * total / 4L, idCol = "doc_id")
        .select(col("doc_id"), col("lang"))),

    // ---- tokenizer loop closed: mine the merge table, then encode the
    //      corpus with it and count BPE tokens per document ----
    "bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir).documents
      val merges = bpeMergesShared(s, dir)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // the kernel (scale) path — CurationSpec proves it fold-equivalent,
      // this oracle row proves it engine-exact
      Tokenizer.applyMergesTokenCountsKernel(docs, "doc_id", "text", merges)
    }),

    // ---- winnowing fingerprints (MOSS), aggregated per doc ----
    "text_winnow" -> ((s, dir) =>
      TextOps.winnowFingerprints(t(s, dir).documents, "doc_id", "text",
        k = WinnowK, w = WinnowW)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fingerprints"),
          sum(col("fingerprint")).as("fp_checksum"),
          sum(col("pos")).as("pos_sum"))),

    // ---- per-doc token-distribution entropy, fixed-point nats ----
    "text_entropy" -> ((s, dir) =>
      TextOps.tokenEntropy(t(s, dir).documents, "doc_id", "text")),

    // ---- winnowing-based near-dup pairs over the planted-dup corpus
    //      (same 80%-truncation planting as the minhash/jaccard family);
    //      pairs are memoized per (session, dir) — the applied query
    //      reuses them, like LlmOps' MinHash chain ----
    "dedup_winnow" -> ((s, dir) => winnowPairsShared(s, dir)),

    // ---- the winnow pipeline APPLIED: pairs → connected components →
    //      min-id survivors anti-joined out — the guaranteed-recall
    //      end-to-end dedup (vs dedup_apply's probabilistic MinHash) ----
    "dedup_winnow_apply" -> ((s, dir) =>
      Dedup.applySurvivors(plantedWinnowCorpus(s, dir), "doc_id",
        Dedup.survivorAssignment(winnowPairsShared(s, dir)))
        .select(col("doc_id"))),

    // ---- exact blocklist phrase counts (safety/policy filtering) ----
    "quality_blocklist" -> ((s, dir) =>
      TextOps.blocklistCounts(t(s, dir).documents, "doc_id", "text",
        BlockPhrases)),

    // ---- MMR diverse selection: greedy relevance-minus-redundancy
    //      suite curation over the embeddings, relevance = quantized
    //      cosine to vec 0 — the full greedy trajectory is engine-exact
    //      and the oracle replays it round by round ----
    "sel_mmr" -> ((s, dir) => {
      val q8 = t(s, dir).embeddings.select(col("vec_id"), col("embedding"),
        Similarity.quantizeInt8(col("embedding").cast("array<double>"))
          .as("__q"))
      val q0 = q8.filter(col("vec_id") === 0).select(col("__q").as("__q0"))
      val rel = q8.crossJoin(broadcast(q0))
        // native codegen'd micro-cosine kernel (same values as the HOF
        // chain it replaces — the oracle replays the arithmetic, not
        // the plan)
        .withColumn("rel_micro",
          Similarity.intCosineMicro(col("__q"), col("__q0")))
        .select(col("vec_id"), col("embedding"), col("rel_micro"))
      Selection.mmrSelect(rel, "vec_id", col("rel_micro"), "embedding",
        k = MmrK)
    }),

    // ---- PageRank centrality over the winnow near-dup graph: fixed-
    //      iteration integer power method (micro units, floor division),
    //      hubs of each dup family rank highest — the oracle replays the
    //      identical unrolled iterations ----
    "graph_pagerank" -> ((s, dir) =>
      Graph.pageRankCentrality(winnowPairsShared(s, dir), PrIters)),

    // ---- centrality-applied dedup: per near-dup component keep the most
    //      PageRank-central member (ties → min id) instead of the min id —
    //      survivor = the canonical family member, not arrival order ----
    "dedup_keep_central" -> ((s, dir) =>
      Dedup.applySurvivorsKeepCentral(plantedWinnowCorpus(s, dir), "doc_id",
        winnowPairsShared(s, dir), PrIters)
        .select(col("doc_id"))),

    // ---- XLM-style temperature mixture (α = 1/2): sampling mass ∝
    //      isqrt(group tokens), budget = half the corpus — exact integer
    //      square-root weighting, remainder tokens to the biggest groups ----
    "mixture_alpha" -> ((s, dir) =>
      Mixture.temperatureAllocation(t(s, dir).documents, "lang",
        TextOps.tokenCount(col("text")), budgetOf = total => total / 2L)),

    // ---- the temperature mixture materialized as the usual greedy
    //      hash-prefix per-group selection, capped at each group's own
    //      tokens (downsample-only) ----
    "mixture_alpha_select" -> ((s, dir) =>
      Mixture.temperatureSelect(t(s, dir).documents, "lang",
        TextOps.tokenCount(col("text")), budgetOf = total => total / 2L,
        idCol = "doc_id")
        .select(col("doc_id"), col("lang"))),

    // ---- Naive Bayes quality classifier (fastText/CCNet filtering
    //      shape): train on a cheap proxy label (lang = en), score every
    //      doc's add-one log-odds margin in exact staged micro-nats ----
    "quality_nb" -> ((s, dir) => nbScoreShared(s, dir)),

    // ---- batch perceptron over hashed features: the TRAINED linear
    //      classifier complement to quality_nb — integer weights, every
    //      round a commutative sum over misclassified docs, so the
    //      distributed fit is exact and the whole 3-round trajectory
    //      replays as a closed-form CTE chain ----
    "quality_perceptron" -> ((s, dir) => {
      val docs = t(s, dir).documents
      // ONE tokenize+hash pass feeds the fit and the scoring leg (r14 —
      // the score leg used to rebuild hashedFeatures over the corpus);
      // values are bit-identical, the oracle CTE chain is unchanged
      val feats = Classifier.hashedFeatures(docs, "doc_id", "text",
        PerceptronDim).localCheckpoint()
      val lab = docs.select(col("doc_id").cast("long").as("id"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
      val model = Classifier.perceptronTrainOnFeatures(feats, lab,
        iterations = PerceptronRounds)
      Classifier.perceptronScoreOnFeatures(feats,
        docs.select(col("doc_id").cast("long").as("id")), model)
    }),

    // ---- classifier margins stratified CCNet-style: per-language
    //      terciles over the exact NB margin (head = most classifier-
    //      positive third) ----
    "quality_nb_buckets" -> ((s, dir) => {
      val docs = t(s, dir).documents
      val scored = nbScoreShared(s, dir)
      Selection.scoreBuckets(
        docs.select(col("doc_id"), col("lang"))
          .join(scored.select(col("doc_id"), col("nb_margin_micro")),
            Seq("doc_id")),
        "doc_id", col("nb_margin_micro"), "lang")
    }),

    // ---- the round-8 operators COMPOSED end-to-end: NB quality filter →
    //      winnow keep-central dedup → α=1/2 temperature mixture per
    //      source → snake shards → per-(source, shard) totals. Each stage
    //      is the standalone operator, re-based on the previous stage ----
    // ---- composed SFT preparation pipeline: conversation QA gate →
    //      chat formatting → token accounting → length-bucketed batch
    //      assignment → per-batch panel. Every stage is the standalone
    //      operator; the oracle re-bases each stage on the previous ----
    "pipeline_sft" -> ((s, dir) => {
      val ev = t(s, dir).events
      val audit = SftFormat.validateConversations(ev, "user_id", "event_id",
        "event_type", "props", firstRole = "view",
        allowedRoles = Seq("view", "click", "purchase", "signup", "error"))
      // release gate: conversations must OPEN with a view (the full
      // alternation audit is sft_validate's own query; long synthetic
      // event chains always repeat roles, so the composition gates on the
      // first-turn invariant)
      val openOk = audit.filter(col("bad_first") === 0).select(col("conv_id"))
      val text = SftFormat.chatFormat(ev, "user_id", "event_id",
          "event_type", "props")
        .join(openOk, Seq("conv_id"), "left_semi")
        .localCheckpoint() // two stages re-read the formatted texts
      val counted = text.select(col("conv_id"),
        TextOps.tokenCount(col("chat_text")).as("__toks"))
      Packing.lengthBucketBatches(counted, "conv_id", col("__toks"),
          batchSize = 4)
        .groupBy(col("bucket"), col("batch_idx"))
        .agg(count(lit(1)).as("n_convs"),
          sum(col("n_tokens")).as("n_tokens_total"))
    }),

    // ---- Bradley–Terry strength fit over a deterministic comparison
    //      log (arena-style preference rating): adjacent docs within each
    //      source "compete", longer wins, items are languages — fixed-
    //      iteration integer MM whose oracle replays the identical
    //      unrolled iterations (the graph_pagerank pattern) ----
    "rank_bt" -> ((s, dir) => btStrengthsShared(s, dir)),

    // ---- composed RLHF-flavored pipeline: the BT arena fit feeds an
    //      Efraimidis–Spirakis sample, 3 docs per SOURCE drawn with
    //      probability ∝ their language's fitted strength (languages mix
    //      within a source, so the weights genuinely differ inside each
    //      group — and the rank window stays per-source, never global).
    //      Each stage is the standalone operator; the oracle re-bases the
    //      ES chain on the unrolled MM rounds ----
    "pipeline_rlhf" -> ((s, dir) => {
      val bt = btStrengthsShared(s, dir)
        .select(col("id").as("lang"), col("strength_micro"))
      val weighted = t(s, dir).documents
        .select(col("doc_id"), col("lang"), col("source"))
        .join(bt, Seq("lang"))
      Selection.weightedSampleK(weighted, "source", "doc_id",
          col("strength_micro"), k = 3)
        .select(col("source"), col("lang"), col("doc_id"),
          col("strength_micro"), col("priority_micro"), col("sel_rank"))
    }),

    // Cost breakdown (r13 ask #8 — the pack's #1 query is COMPOSITION
    // cost, not a defect; each stage timed cold behind a localCheckpoint of
    // its input at sf0.1/local[32]; r18 figures in OPTIMIZATION_r18.md §6):
    //   nb_self_score 5.6 s COLD but StageMemo'd with quality_nb(_buckets),
    //   filter+checkpoint 0.3 s, winnow pairs over the KEPT subset 2.3 s,
    //   keep-central contraction 3.6 s, temperature select 1.5 s, shard
    //   balance 1.8 s — five genuinely distinct passes that pipeline
    //   lazily to the ~3 s warm number. No further shared stage exists:
    //   the pair stage runs over the NB-FILTERED corpus (reusing any
    //   full-corpus pair stage, dedup_winnow's included, would pair MORE
    //   rows, then filter); quality_perceptron fits a different model.
    "pipeline_curate2" -> ((s, dir) => {
      val docs = t(s, dir).documents
      val scored = nbScoreShared(s, dir)
      val kept = docs
        .join(scored.filter(col("nb_pos")).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        .localCheckpoint() // three stages re-read the filtered corpus
      val pairs = Dedup.winnowNearDupPairs(kept, "doc_id", "text",
        k = WinnowK, w = WinnowW, minShared = 2)
      val surv = Dedup.applySurvivorsKeepCentral(kept, "doc_id", pairs,
        PrIters)
      val sel = Mixture.temperatureSelect(surv, "source",
        TextOps.tokenCount(col("text")), budgetOf = total => total / 2L,
        idCol = "doc_id")
      Packing.shardBalanced(sel, "doc_id",
          TextOps.tokenCount(col("text")), nShards = 4)
        .join(sel.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens_total"))
    }),

    // ---- unigram-LM tokenizer pieces (SentencePiece seed-and-prune):
    //      substring counts over the word vocab, top-64 + full single-char
    //      coverage, staged-log scores ----
    "unigram_vocab" -> ((s, dir) => unigramPiecesShared(s, dir)),

    // ---- the corpus Viterbi-encoded against those pieces: exact integer
    //      DP (score ⊕ piece-count in one BIGINT key), per-doc piece and
    //      nll totals; the oracle replays the unrolled DP ----
    "unigram_encode" -> ((s, dir) => unigramEncodeShared(s, dir)),

    // ---- tokenizer FERTILITY per language (Rust et al. 2021): subword
    //      pieces per whitespace word under the trained unigram
    //      tokenizer, the multilingual-tokenizer-equity audit. Rides the
    //      per-doc encode totals — one language-keyed aggregation on
    //      top, exact integer ratio in micro units ----
    "tok_fertility" -> ((s, dir) => {
      val docs = t(s, dir).documents
      val enc = unigramEncodeShared(s, dir)
      enc.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"))
        .select(col("lang"), col("n_words").cast("long").as("n_words"),
          col("n_pieces").cast("long").as("n_pieces"),
          expr("(n_pieces * 1000000) DIV n_words").cast("long")
            .as("fertility_micro"))
    }),

    // ---- WordPiece vocabulary (completing the BPE / unigram / WordPiece
    //      trio): top-V whole words + frequent prefixes + ##-continuation
    //      internal substrings ----
    "wordpiece_vocab" -> ((s, dir) => wordpieceVocabShared(s, dir)),

    // ---- greedy longest-match-first WordPiece encode (BERT's actual
    //      algorithm, whole-word [UNK] fallback) — per-doc piece/unk
    //      totals; the oracle replays the greedy walk as an unrolled
    //      best-match chain ----
    "wordpiece_encode" -> ((s, dir) =>
      Tokenizer.wordpieceEncodeCounts(t(s, dir).documents, "doc_id", "text",
        wordpieceVocabShared(s, dir))))

  private val BtIters = 5

  /** Deterministic comparison log for the BT fit: within each source,
    * each doc "plays" its doc_id predecessor; the longer text wins, ties
    * and same-language pairs are skipped (a self-comparison rates
    * nothing). Items are languages, so the fit answers "which language
    * writes longer documents" with a proper paired-comparison strength
    * rather than a mean — shared shape with the oracle's lag CTE.
    */
  private def btComparisons(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    t(s, dir).documents
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .withColumn("prev_lang", lag(col("lang"), 1).over(w))
      .withColumn("prev_nc", lag(col("n_chars"), 1).over(w))
      .where(col("prev_lang").isNotNull && col("lang") =!= col("prev_lang") &&
        col("n_chars") =!= col("prev_nc"))
      .select(
        when(col("n_chars") > col("prev_nc"), col("lang"))
          .otherwise(col("prev_lang")).as("winner"),
        when(col("n_chars") > col("prev_nc"), col("prev_lang"))
          .otherwise(col("lang")).as("loser"))
  }

  private val WinnowK = 5
  private val WinnowW = 4
  private val PrIters = 5
  private val PrDamp = 850000L
  private val UnigramV = 64
  private val UnigramL = 4
  // oracle DP unroll bound — margin over the corpus max word length (8 at
  // every sf); a longer word would hash-mismatch loudly
  private val UnigramMaxWordLen = 12
  private val WpV = 12
  private val WpSubLen = 3
  private val WpMinCount = 100L
  // greedy-walk unroll bound: each live step consumes >= 1 char, so
  // WpMaxWordLen steps settle every word up to that length (corpus max 8);
  // longer words would hash-mismatch loudly, same contract as unigram
  private val WpMaxWordLen = 12

  // ---- shared deterministic stages (StageMemo contract: every memoized
  //      frame is bit-identical to standalone recomputation; the driver
  //      oracle pins each consumer's hash independently) ----

  /** Winnow pairs over the planted corpus — the pairs query and the
    * applied query read one fingerprint pass.
    */
  private def winnowPairsShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "winnow_pairs") {
      Dedup.winnowNearDupPairs(plantedWinnowCorpus(s, dir),
        "doc_id", "text", k = WinnowK, w = WinnowW, minShared = 2)
    }

  /** NB self-score over the corpus (train on lang=en, score everything) —
    * quality_nb, its CCNet buckets, and pipeline_curate2 all ride one fit.
    */
  private def nbScoreShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "nb_self_score") {
      Classifier.naiveBayesSelfScore(t(s, dir).documents, "doc_id", "text",
        col("lang") === "en")
    }

  /** Bradley–Terry strengths over the arena log — rank_bt and
    * pipeline_rlhf ride one MM fit.
    */
  private def btStrengthsShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "bt_strengths") {
      Ranking.btStrengths(btComparisons(s, dir), "winner", "loser", BtIters)
    }

  /** Unigram piece table — unigram_vocab and the encode ride one
    * seed-and-prune pass.
    */
  private def unigramPiecesShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "unigram_pieces") {
      Tokenizer.unigramPieces(t(s, dir).documents, "text", UnigramV,
        UnigramL)
    }

  /** Per-doc unigram Viterbi encode totals — unigram_encode and
    * tok_fertility ride one DP pass over the distinct vocab.
    */
  private[queries] def unigramEncodeShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "unigram_encode") {
      Tokenizer.unigramEncodeCounts(t(s, dir).documents, "doc_id", "text",
        unigramPiecesShared(s, dir), UnigramL)
    }

  /** WordPiece vocabulary — wordpiece_vocab and the encode ride one
    * mining pass.
    */
  private def wordpieceVocabShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "wordpiece_vocab") {
      Tokenizer.wordpieceVocab(t(s, dir).documents, "text", WpV, WpSubLen,
        WpMinCount)
    }

  /** BPE merge table — bpe_merges and bpe_encode ride one mining run. */
  private[queries] def bpeMergesShared(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "bpe_merges") {
      Tokenizer.bpeMerges(t(s, dir).documents, "text", BpeMergeCount)
    }

  /** The planted-dup corpus the winnow family runs on: every doc plus an
    * 80%-truncated copy at doc_id + 100000 (same planting as the
    * minhash/jaccard family).
    */
  private def plantedWinnowCorpus(s: SparkSession, dir: String) = {
    val d = t(s, dir).documents.select(col("doc_id"), col("text"))
    val toks = split(trim(col("text")), "\\s+")
    d.unionByName(d.select(
      (col("doc_id") + 100000).as("doc_id"),
      array_join(slice(toks, lit(1),
        floor(size(toks) * 0.8).cast("int")), " ").as("text")))
  }

  /** Blocklist for the safety-filter query — phrases over the corpus
    * vocabulary, mixed lengths. Shared with the oracle.
    */
  val BlockPhrases: Seq[String] = Seq("slow merge", "big hash", "dup")

  private val CollocMinCount = 5L
  private val CollocK = 40
  private val MmrK = 6

  // ------------------------------------------------------------------
  // Oracles
  // ------------------------------------------------------------------

  /** Shared BM25 CTE body ending in `bmr` = (query_id, doc_id, n_terms,
    * score_micro, rnk ≤ k) — consumed by both the plain top-k oracle and
    * the hybrid-RRF oracle.
    */
  private def bm25Ctes: String = {
    val values = Bm25Queries
      .map { case (id, q) => s"('$id', '$q')" }.mkString(", ")
    val lnCtes = PortableMath.duckCteChain(
      PortableMath.microLnSignedStages(
        "2 * n + 2", "2 * df + 1", PortableMath.duckShiftLeft), "idf0")
    s"""q(query_id, qtext) AS (VALUES $values),
       |qt AS (SELECT DISTINCT query_id, term FROM (
       |  SELECT query_id,
       |    unnest(string_split_regex(trim(qtext), '\\s+')) AS term FROM q)),
       |tok AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |               CAST(sum(dl) AS BIGINT) AS t FROM dl),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |idf0 AS (SELECT query_id, term, df, n, t
       |         FROM qt JOIN dfq USING (term) CROSS JOIN tot),
       |$lnCtes,
       |sc AS (
       |  SELECT query_id, tf.doc_id AS doc_id,
       |    (lp * (44 * t * tf)) // (20 * t * tf + 6 * t + 18 * dl * n) AS ts
       |  FROM lnfin JOIN tf USING (term) JOIN dl ON tf.doc_id = dl.doc_id),
       |ag AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |       CAST(sum(ts) AS BIGINT) AS score_micro FROM sc GROUP BY 1, 2),
       |bmr AS (SELECT * FROM (SELECT *, row_number() OVER (
       |          PARTITION BY query_id
       |          ORDER BY score_micro DESC, doc_id ASC) AS rnk FROM ag)
       |        WHERE rnk <= $Bm25K)""".stripMargin
  }

  private def bm25Sql: String =
    s"""WITH $bm25Ctes
       |SELECT query_id, doc_id, n_terms, score_micro,
       |  CAST(rnk AS BIGINT) AS rank
       |FROM bmr""".stripMargin

  private def hybridRrfSql: String =
    s"""WITH $bm25Ctes,
       |br AS (SELECT query_id, doc_id AS item_id,
       |         CAST(rnk AS BIGINT) AS rank FROM bmr),
       |seed AS (SELECT query_id, item_id FROM br WHERE rank = 1),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qz AS (SELECT vec_id,
       |         CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
       |           THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |           ELSE list_transform(v, x -> CAST(floor(x * 127.0 /
       |             list_max(list_transform(v, y -> abs(y))) + 0.5) AS BIGINT))
       |         END AS q
       |       FROM e),
       |dq AS (SELECT s.query_id AS query_id, a.q AS qa
       |       FROM seed s JOIN qz a ON a.vec_id = s.item_id),
       |dsc0 AS (SELECT d.query_id, b.vec_id AS item_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      j -> d.qa[j] * b.q[j])) AS BIGINT) AS dot,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      j -> d.qa[j] * d.qa[j])) AS BIGINT) AS na,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      j -> b.q[j] * b.q[j])) AS BIGINT) AS nb
       |  FROM dq d CROSS JOIN qz b),
       |dsc AS (SELECT query_id, item_id,
       |    CASE WHEN na = 0 OR nb = 0 THEN CAST(-2.0 AS DOUBLE)
       |         ELSE CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) END
       |      AS sim
       |  FROM dsc0),
       |dr AS (SELECT query_id, item_id, CAST(rn AS BIGINT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, item_id ASC) AS rn FROM dsc) WHERE rn <= $Bm25K),
       |u AS (SELECT * FROM br UNION ALL SELECT * FROM dr),
       |f AS (SELECT query_id, item_id, CAST(count(*) AS BIGINT) AS n_lists,
       |       CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro
       |      FROM u GROUP BY 1, 2)
       |SELECT query_id, item_id AS doc_id, n_lists, rrf_micro,
       |  CAST(rn AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY rrf_micro DESC, item_id ASC) AS rn FROM f)
       |WHERE rn <= $Bm25K""".stripMargin

  private def collocationsSql: String = {
    val chainA = PortableMath.duckCteChain(
      PortableMath.microLnSignedStages(
        "c2 * tt", "bb * c1a", PortableMath.duckShiftLeft), "j0", "la")
    val chainB = PortableMath.duckCteChain(
      PortableMath.microLnSignedStages(
        "tt", "c1b", PortableMath.duckShiftLeft), "ca", "lb")
    s"""WITH tok AS (SELECT doc_id, $DuckToks AS tk FROM documents),
       |bg AS (SELECT tk[i] AS w1, tk[i + 1] AS w2
       |       FROM tok, unnest(range(1, len(tk))) AS u(i)),
       |c2t AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
       |        FROM bg GROUP BY 1, 2),
       |unig AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
       |         FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY 1),
       |tb AS (SELECT CAST(sum(c2) AS BIGINT) AS bb FROM c2t),
       |ttt AS (SELECT CAST(sum(c1) AS BIGINT) AS tt FROM unig),
       |j0 AS (SELECT w1, w2, c2, ua.c1 AS c1a, ub.c1 AS c1b, bb, tt
       |       FROM c2t JOIN unig ua ON c2t.w1 = ua.w
       |                JOIN unig ub ON c2t.w2 = ub.w
       |       CROSS JOIN tb CROSS JOIN ttt
       |       WHERE c2 >= $CollocMinCount),
       |$chainA,
       |ca AS (SELECT w1, w2, c2, c1b, tt, lp AS lp_first FROM lafin),
       |$chainB
       |SELECT w1, w2, c2, pmi_micro, CAST(rnk AS BIGINT) AS rank FROM (
       |  SELECT w1, w2, c2, lp_first + lp AS pmi_micro,
       |    row_number() OVER (ORDER BY lp_first + lp DESC, w1 ASC, w2 ASC) AS rnk
       |  FROM lbfin)
       |WHERE rnk <= $CollocK""".stripMargin
  }

  /** Shared UniMax CTE body ending in `al` = (lang, n, cap, alloc); the
    * leading `tok` CTE carries doc_id so the select form can reuse it.
    */
  private def unimaxCtes: String =
    s"""tok AS (
       |  SELECT doc_id, lang, CAST(len($DuckToks) AS BIGINT) AS ntok
       |  FROM documents),
       |g AS (SELECT lang, CAST(sum(ntok) AS BIGINT) AS n FROM tok GROUP BY 1),
       |tt AS (SELECT CAST(sum(n) AS BIGINT) AS t,
       |              CAST(count(*) AS BIGINT) AS lcnt FROM g),
       |s AS (SELECT lang, n, 1 * n AS cap,
       |        CAST(row_number() OVER (ORDER BY 1 * n, lang) AS BIGINT) AS j,
       |        CAST(sum(1 * n) OVER (ORDER BY 1 * n, lang
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pj
       |      FROM g),
       |b AS (SELECT (3 * t) // 4 AS budget, lcnt FROM tt),
       |c AS (SELECT s.*, budget, lcnt,
       |        CASE WHEN cap * (lcnt - j + 1) <= budget - (pj - cap)
       |             THEN 1 ELSE 0 END AS craw
       |      FROM s CROSS JOIN b),
       |cp AS (SELECT *, min(craw) OVER (ORDER BY j
       |         ROWS UNBOUNDED PRECEDING) AS capped FROM c),
       |ist AS (SELECT CAST(coalesce(sum(capped), 0) AS BIGINT) AS istar,
       |          CAST(coalesce(sum(CASE WHEN capped = 1 THEN cap END), 0)
       |            AS BIGINT) AS pstar
       |        FROM cp),
       |f AS (SELECT cp.*, istar, pstar,
       |        CASE WHEN lcnt = istar THEN CAST(0 AS BIGINT)
       |             ELSE (budget - pstar) // (lcnt - istar) END AS w,
       |        CASE WHEN lcnt = istar THEN CAST(0 AS BIGINT)
       |             ELSE (budget - pstar) % (lcnt - istar) END AS r
       |      FROM cp CROSS JOIN ist),
       |al AS (SELECT lang, n, cap,
       |         CASE WHEN capped = 1 THEN cap
       |              ELSE w + (CASE WHEN j - istar <= r THEN 1 ELSE 0 END)
       |         END AS alloc
       |       FROM f)""".stripMargin

  private def unimaxSql: String =
    s"""WITH $unimaxCtes
       |SELECT lang, n AS n_tokens, CAST(cap AS BIGINT) AS cap,
       |  CAST(alloc AS BIGINT) AS alloc,
       |  CAST((alloc * 1000000) // n AS BIGINT) AS epochs_micro
       |FROM al""".stripMargin

  private def unimaxSelectSql: String =
    s"""WITH $unimaxCtes,
       |run AS (
       |  SELECT doc_id, lang, sum(ntok) OVER (PARTITION BY lang
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
       |    ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM tok)
       |SELECT doc_id, lang FROM run JOIN al USING (lang)
       |WHERE cum <= alloc""".stripMargin

  /** Shared BPE merge-mining CTE chain: w0..wN word-frequency rounds
    * (each carrying the raw `word` alongside its evolving symbol string)
    * and b1..bN winning-pair rows.
    */
  private[queries] def bpeRounds: String = {
    val enc = raw"'  ' || regexp_replace(word, '(.)', '\1  ', 'g')"
    val head =
      s"""w0 AS (
         |  SELECT word, $enc AS w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest($DuckToks) AS word FROM documents)
         |  WHERE regexp_matches(word, '^[A-Za-z0-9]+$$')
         |  GROUP BY word)""".stripMargin
    val rounds = (1 to BpeMergeCount).map { i =>
      s"""p$i AS (SELECT s[j] AS w1, s[j + 1] AS w2,
         |  CAST(sum(c) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(w), '  ') AS s, c FROM w${i - 1}),
         |       unnest(range(1, len(s))) AS u(j)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT CAST($i AS BIGINT) AS merge_rank, w1, w2, cnt
         |  FROM p$i ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 1),
         |w$i AS (SELECT word, replace(w, ' ' || b.w1 || '  ' || b.w2 || ' ',
         |                       ' ' || b.w1 || b.w2 || ' ') AS w, c
         |  FROM w${i - 1}, b$i AS b)""".stripMargin
    }
    s"""$head,
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private def bpeSql: String = {
    val union = (1 to BpeMergeCount)
      .map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")
    s"""WITH $bpeRounds
       |SELECT merge_rank, w1 AS lhs, w2 AS rhs, cnt AS pair_count
       |FROM ($union)""".stripMargin
  }

  private def bpeEncodeSql: String =
    s"""WITH $bpeRounds,
       |tokd AS (SELECT doc_id, unnest($DuckToks) AS word FROM documents),
       |wmap AS (SELECT word,
       |  CAST(len(string_split(trim(w), '  ')) AS BIGINT) AS ns
       |  FROM w$BpeMergeCount)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(coalesce(ns, 1)) AS BIGINT) AS n_bpe_tokens
       |FROM tokd LEFT JOIN wmap USING (word)
       |GROUP BY doc_id""".stripMargin

  private def kmeansSql: String = {
    val dist =
      """CAST(list_sum(list_transform(range(1, 65),
        |  j -> CAST(z.q[j] - c.q[j] AS BIGINT) *
        |       CAST(z.q[j] - c.q[j] AS BIGINT))) AS BIGINT)""".stripMargin
    def assign(i: Int) =
      s"""a$i AS (SELECT vec_id, cid, d FROM (
         |  SELECT vec_id, cid, d,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |  FROM (SELECT z.vec_id AS vec_id, c.cid AS cid, $dist AS d
         |        FROM qz z CROSS JOIN c${i - 1} c))
         |  WHERE rn = 1)""".stripMargin
    def update(i: Int) =
      s"""c$i AS (
         |  SELECT p.cid, coalesce(nc.q, p.q) AS q
         |  FROM c${i - 1} p LEFT JOIN (
         |    SELECT cid, list(sq // cn ORDER BY j) AS q FROM (
         |      SELECT a.cid AS cid, j, CAST(sum(z.q[j]) AS BIGINT) AS sq,
         |             CAST(count(*) AS BIGINT) AS cn
         |      FROM a$i a JOIN qz z USING (vec_id),
         |           unnest(range(1, 65)) AS u(j)
         |      GROUP BY 1, 2)
         |    GROUP BY cid) nc ON p.cid = nc.cid)""".stripMargin
    val body = (1 to KmeansIters)
      .map(i => s"${assign(i)},\n${update(i)}").mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |qz AS (SELECT vec_id,
       |         CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
       |           THEN list_transform(v, x -> 0)
       |           ELSE list_transform(v, x -> CAST(floor(x * 127.0 /
       |             list_max(list_transform(v, y -> abs(y))) + 0.5) AS INT))
       |         END AS q
       |       FROM e),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |         AS cid, q
       |       FROM (SELECT vec_id, q FROM qz ORDER BY vec_id LIMIT $KmeansK)),
       |$body,
       |${assign(KmeansIters + 1)}
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster, d AS dist
       |FROM a${KmeansIters + 1}""".stripMargin
  }

  /** Unrolled-trajectory oracle for the MMR greedy selection (the kmeans
    * pattern): round 1 is the relevance argmax; each later round recomputes
    * every remaining candidate's max quantized-cosine against the selected
    * set and takes the (score desc, id asc) argmax.
    */
  private def mmrSql: String = {
    def dot(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, 65), j -> $a[j] * $b[j])) AS BIGINT)"
    def sim(a: String, b: String) =
      s"""(CASE WHEN ${dot(a, a)} = 0 OR ${dot(b, b)} = 0
         |  THEN CAST(-2000000 AS BIGINT)
         |  ELSE CAST(floor(CAST(${dot(a, b)} AS DOUBLE) /
         |    sqrt(CAST(${dot(a, a)} * ${dot(b, b)} AS DOUBLE)) *
         |    CAST(1000000 AS DOUBLE)) AS BIGINT) END)""".stripMargin
    val rounds = (2 to MmrK).map { i =>
      s"""p$i AS (
         |  SELECT r.id AS id,
         |    CAST(r.rel - max(${sim("r.q", "s.q")}) AS BIGINT) AS score,
         |    r.q AS q, CAST($i AS BIGINT) AS rnk
         |  FROM rel r CROSS JOIN sel${i - 1} s
         |  WHERE r.id NOT IN (SELECT id FROM sel${i - 1})
         |  GROUP BY r.id, r.rel, r.q
         |  ORDER BY score DESC, id LIMIT 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM p$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |qz AS (SELECT vec_id,
       |         CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
       |           THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |           ELSE list_transform(v, x -> CAST(floor(x * 127.0 /
       |             list_max(list_transform(v, y -> abs(y))) + 0.5) AS BIGINT))
       |         END AS q
       |       FROM e),
       |qv AS (SELECT q AS q0 FROM qz WHERE vec_id = 0),
       |rel AS (SELECT z.vec_id AS id, ${sim("z.q", "q0")} AS rel, z.q AS q
       |        FROM qz z CROSS JOIN qv),
       |sel1 AS (SELECT id, rel AS score, q, CAST(1 AS BIGINT) AS rnk
       |         FROM rel ORDER BY rel DESC, id LIMIT 1),
       |$rounds
       |SELECT id AS vec_id, rnk AS sel_rank, score AS mmr_score_micro
       |FROM sel$MmrK""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "sel_mmr" -> mmrSql,
    "ret_bm25_topk" -> bm25Sql,
    "mixture_unimax" -> unimaxSql,
    "bpe_merges" -> bpeSql,
    "cluster_kmeans" -> kmeansSql,
    "ret_hybrid_rrf" -> hybridRrfSql,
    "ret_hybrid_ann" -> AnnOracleSql.hybridAnnSql(bm25Ctes, Bm25K),
    "ret_bitext_mine" -> AnnOracleSql.bitextSql,
    "ret_bitext_ann" -> AnnOracleSql.bitextAnnSql,
    "ret_bitext_lsh" -> AnnOracleSql.bitextLshSql,
    // the streamed ingest+retro-mine round trip is bit-identical to the
    // batch LSH path at the same frozen parameters, so ONE replay
    // hash-checks both (the equality itself is StreamingSpec-pinned)
    "ret_bitext_ingest" -> AnnOracleSql.bitextLshSql,
    "ret_bitext_pq" -> AnnOracleSql.bitextPqSql,
    "text_collocations" -> collocationsSql,
    "mixture_unimax_select" -> unimaxSelectSql,
    "bpe_encode" -> bpeEncodeSql,
    "text_winnow" -> winnowSql,
    "text_entropy" -> entropySql,
    "dedup_winnow" -> dedupWinnowSql,
    "dedup_winnow_apply" -> dedupWinnowApplySql,
    "quality_blocklist" -> blocklistSql,
    "graph_pagerank" -> graphPagerankSql,
    "dedup_keep_central" -> dedupKeepCentralSql,
    "mixture_alpha" -> alphaSql,
    "mixture_alpha_select" -> alphaSelectSql,
    "quality_nb" -> nbSql,
    "quality_perceptron" -> perceptronSql,
    "quality_nb_buckets" -> nbBucketsSql,
    "pipeline_curate2" -> pipeline2Sql,
    "unigram_vocab" -> unigramVocabSql,
    "unigram_encode" -> unigramEncodeSql,

    // fertility = the same unrolled-DP encode totals, re-aggregated per
    // language (WITH-in-subquery keeps the shared chain verbatim)
    "tok_fertility" ->
      s"""SELECT lang, CAST(sum(n_words) AS BIGINT) AS n_words,
         |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
         |  CAST((sum(n_pieces) * 1000000) // sum(n_words) AS BIGINT)
         |    AS fertility_micro
         |FROM ($unigramEncodeSql) enc JOIN documents USING (doc_id)
         |GROUP BY lang""".stripMargin,
    "wordpiece_vocab" -> wordpieceVocabSql,
    "wordpiece_encode" -> wordpieceEncodeSql,
    "pipeline_sft" -> pipelineSftSql,
    "rank_bt" -> rankBtSql,
    "pipeline_rlhf" -> pipelineRlhfSql)

  /** Composed RLHF oracle: the shared [[btCtes]] MM rounds, then the
    * sample_es_k chain (same md5 uniform, staged ln, all-positive floor
    * division, rank window) over documents weighted by `p$BtIters`
    * strengths — stage outputs re-based exactly like pipeline_curate2.
    */
  private def pipelineRlhfSql: String = {
    import graft.functions.PortableMath
    val lnChain = PortableMath.duckCteChain(
      PortableMath.microLnStages("a", (1L << 40).toString,
        PortableMath.duckShiftLeft), "hh", "wsl")
    s"""WITH $btCtes,
       |wdocs AS (SELECT d.source, d.lang,
       |    CAST(d.doc_id AS BIGINT) AS doc_id, p.p AS w
       |  FROM documents d JOIN p$BtIters p ON d.lang = p.id),
       |hh AS (SELECT source, lang, doc_id, w,
       |    CAST(list_sum(list_transform(range(1, 11), j ->
       |      CAST(strpos('0123456789abcdef', substr(substr(
       |        md5(':' || CAST(doc_id AS VARCHAR)), 1, 10), j, 1)) - 1
       |        AS BIGINT)
       |      * (CAST(1 AS BIGINT) << (4 * (10 - j))))) AS BIGINT) + 1
       |      AS a
       |  FROM wdocs),
       |$lnChain,
       |rr AS (SELECT source, lang, doc_id, w,
       |    CAST(((-lp) * 1000000) // w AS BIGINT) AS priority_micro
       |  FROM wslfin),
       |rk AS (SELECT source, lang, doc_id, w, priority_micro,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY priority_micro ASC, doc_id ASC) AS BIGINT)
       |      AS sel_rank
       |  FROM rr)
       |SELECT source, lang, doc_id, w AS strength_micro, priority_micro,
       |  sel_rank
       |FROM rk WHERE sel_rank <= 3""".stripMargin
  }

  /** Unrolled integer Bradley–Terry MM oracle mirroring
    * [[graft.llm.Ranking.btStrengths]]: the same lag-derived comparison
    * log, pair/stat aggregation, and `BtIters` exact floor-division
    * update rounds (the graph_pagerank unrolling pattern; `//` on
    * positive BIGINTs matches Spark's `DIV`).
    */
  private def rankBtSql: String =
    s"""WITH $btCtes
       |SELECT p.id, p.p AS strength_micro, st.wins AS n_wins,
       |  st.ncmp AS n_comparisons
       |FROM p$BtIters p JOIN stats st ON p.id = st.id""".stripMargin

  /** The comparison log, pair/stat aggregation, and `BtIters` unrolled MM
    * rounds (ending in `p$BtIters`) — shared by the standalone rank_bt
    * oracle and the composed RLHF pipeline. */
  private def btCtes: String = {
    val rounds = (1 to BtIters).map { k =>
      s"""s$k AS (SELECT id, CAST(sum(t) AS BIGINT) AS s FROM (
         |    SELECT a.lo AS id, (a.n * 1000000000000) // (pl.p + ph.p) AS t
         |    FROM agg a JOIN p${k - 1} pl ON a.lo = pl.id
         |                JOIN p${k - 1} ph ON a.hi = ph.id
         |    UNION ALL
         |    SELECT a.hi, (a.n * 1000000000000) // (pl.p + ph.p)
         |    FROM agg a JOIN p${k - 1} pl ON a.lo = pl.id
         |                JOIN p${k - 1} ph ON a.hi = ph.id)
         |  GROUP BY id),
         |p$k AS (SELECT st.id,
         |    LEAST(GREATEST(((st.wins + 1) * 1000000000000) //
         |      (coalesce(s.s, CAST(0 AS BIGINT)) +
         |       1000000000000 // (pp.p + 1000000)),
         |      CAST(1000 AS BIGINT)), CAST(1000000000 AS BIGINT)) AS p
         |  FROM stats st JOIN p${k - 1} pp ON st.id = pp.id
         |  LEFT JOIN s$k s ON st.id = s.id)""".stripMargin
    }
    s"""g AS (SELECT lang, n_chars,
       |        lag(lang) OVER (PARTITION BY source ORDER BY doc_id)
       |          AS prev_lang,
       |        lag(n_chars) OVER (PARTITION BY source ORDER BY doc_id)
       |          AS prev_nc
       |      FROM documents),
       |cmp AS (SELECT
       |    CASE WHEN n_chars > prev_nc THEN lang ELSE prev_lang END AS w,
       |    CASE WHEN n_chars > prev_nc THEN prev_lang ELSE lang END AS l
       |  FROM g WHERE prev_lang IS NOT NULL AND lang <> prev_lang
       |    AND n_chars <> prev_nc),
       |agg AS MATERIALIZED (SELECT least(w, l) AS lo, greatest(w, l) AS hi,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS wlo
       |  FROM cmp GROUP BY 1, 2),
       |stats AS MATERIALIZED (SELECT id, CAST(sum(wn) AS BIGINT) AS wins,
       |    CAST(sum(n) AS BIGINT) AS ncmp
       |  FROM (SELECT lo AS id, wlo AS wn, n FROM agg
       |        UNION ALL SELECT hi, n - wlo, n FROM agg) GROUP BY id),
       |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS p FROM stats),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** Composed SFT pipeline oracle: each stage re-based on the previous —
    * the sft_validate first-turn gate, the sft_chat_format rendering, the
    * pack_length_buckets window — ending in the per-batch panel.
    */
  private def pipelineSftSql: String =
    """WITH t AS (SELECT CAST(user_id AS BIGINT) AS conv_id,
      |             CAST(event_id AS BIGINT) AS ord, event_type AS role,
      |             coalesce(props, '') AS content,
      |             '<|' || event_type || '|>' || coalesce(props, '') ||
      |               chr(10) AS piece
      |           FROM events),
      |w AS (SELECT conv_id, role,
      |  row_number() OVER (PARTITION BY conv_id
      |    ORDER BY ord, role, content) AS rn FROM t),
      |ok AS (SELECT conv_id FROM w GROUP BY conv_id
      |       HAVING max(CASE WHEN rn = 1 AND role <> 'view'
      |                  THEN 1 ELSE 0 END) = 0),
      |txt AS (SELECT conv_id,
      |          string_agg(piece, '' ORDER BY ord) AS chat_text
      |        FROM t WHERE conv_id IN (SELECT conv_id FROM ok)
      |        GROUP BY conv_id),
      |tok AS (SELECT conv_id,
      |          GREATEST(CAST(len(string_split_regex(trim(chat_text),
      |            '\s+')) AS BIGINT), 1) AS n_tokens
      |        FROM txt),
      |b AS (SELECT conv_id, n_tokens,
      |        CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket
      |      FROM tok),
      |r AS (SELECT conv_id, n_tokens, bucket,
      |        row_number() OVER (PARTITION BY bucket
      |          ORDER BY n_tokens ASC, conv_id ASC) - 1 AS r0
      |      FROM b)
      |SELECT bucket, CAST(r0 // 4 AS BIGINT) AS batch_idx,
      |  CAST(count(*) AS BIGINT) AS n_convs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
      |FROM (SELECT bucket, r0, n_tokens FROM r)
      |GROUP BY 1, 2""".stripMargin

  /** Shared WordPiece-vocabulary CTEs mirroring
    * [[graft.llm.Tokenizer.wordpieceVocab]]: word frequencies, top-V whole
    * words, frequent prefixes, frequent `##` internal substrings (distinct
    * per word before weighting, exactly like the Spark `array_distinct`).
    * Ends in `wpvocab` = (piece).
    */
  private def wordpieceVocabCtes: String =
    s"""wfreq AS MATERIALIZED (
       |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM
       |    (SELECT unnest($DuckToks) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[A-Za-z0-9]+$$') GROUP BY 1),
       |wtop AS (SELECT word AS piece FROM wfreq
       |         ORDER BY freq DESC, word ASC LIMIT $WpV),
       |wpre AS (SELECT substr(word, 1, l) AS s
       |         FROM wfreq, generate_series(1, $WpSubLen) t(l)
       |         WHERE l <= length(word)
       |         GROUP BY 1 HAVING sum(freq) >= $WpMinCount),
       |wsub0 AS (SELECT DISTINCT word, substr(word, p, l) AS s
       |          FROM wfreq,
       |            generate_series(2, $WpMaxWordLen) t(p),
       |            generate_series(1, $WpSubLen) u(l)
       |          WHERE length(word) >= 2 AND p <= length(word)
       |            AND p + l - 1 <= length(word)),
       |wsub AS (SELECT s FROM wsub0 JOIN wfreq USING (word)
       |         GROUP BY 1 HAVING sum(freq) >= $WpMinCount),
       |wpvocab AS MATERIALIZED (SELECT DISTINCT piece FROM (
       |  SELECT piece FROM wtop
       |  UNION ALL SELECT s FROM wpre
       |  UNION ALL SELECT '##' || s FROM wsub))""".stripMargin

  private def wordpieceVocabSql: String =
    s"""WITH $wordpieceVocabCtes
       |SELECT piece FROM wpvocab""".stripMargin

  /** Greedy longest-match walk unrolled: each step joins the live states
    * against the piece table for the longest match at the cursor (initial
    * pieces at position 1, continuation pieces after), advances the
    * cursor, and fails the WHOLE word to `[UNK]` (np = 1) when no piece
    * matches — WordPiece's whole-word fallback. Terminal states (pos out
    * of range) pass through unchanged; every stage is MATERIALIZED for the
    * same plan-blowup reason as the unigram DP.
    */
  private def wordpieceEncodeSql: String = {
    val steps = (1 to WpMaxWordLen).map { i =>
      s"""bm$i AS MATERIALIZED (
         |  SELECT s.word, CAST(max(length(p.raw)) AS BIGINT) AS l
         |  FROM wst${i - 1} s JOIN wp p ON
         |    (s.pos = 1 AND NOT p.cont
         |      AND substr(s.word, 1, length(p.raw)) = p.raw)
         |    OR (s.pos > 1 AND p.cont
         |      AND substr(s.word, CAST(s.pos AS INT), length(p.raw)) = p.raw)
         |  WHERE s.pos >= 1 AND s.pos <= length(s.word)
         |  GROUP BY 1),
         |wst$i AS MATERIALIZED (
         |  SELECT word, pos, np FROM wst${i - 1}
         |  WHERE pos < 1 OR pos > length(word)
         |  UNION ALL
         |  SELECT s.word,
         |    CASE WHEN b.l IS NULL THEN -1 ELSE s.pos + b.l END,
         |    CASE WHEN b.l IS NULL THEN CAST(1 AS BIGINT) ELSE s.np + 1 END
         |  FROM wst${i - 1} s LEFT JOIN bm$i b USING (word)
         |  WHERE s.pos >= 1 AND s.pos <= length(s.word))""".stripMargin
    }
    s"""WITH $wordpieceVocabCtes,
       |wp AS MATERIALIZED (SELECT piece,
       |    piece LIKE '##%' AS cont,
       |    CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
       |         ELSE piece END AS raw
       |  FROM wpvocab),
       |wwords AS MATERIALIZED (
       |  SELECT DISTINCT w AS word FROM
       |    (SELECT unnest($DuckToks) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[A-Za-z0-9]+$$')),
       |wst0 AS MATERIALIZED (SELECT word, CAST(1 AS BIGINT) AS pos,
       |  CAST(0 AS BIGINT) AS np FROM wwords),
       |${steps.mkString(",\n")},
       |wenc AS (SELECT word, np,
       |    CASE WHEN pos = -1 THEN CAST(1 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS unk
       |  FROM wst$WpMaxWordLen),
       |alltok AS (SELECT doc_id, unnest($DuckToks) AS word FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(coalesce(np, 1)) AS BIGINT) AS n_pieces,
       |  CAST(sum(coalesce(unk, 1)) AS BIGINT) AS n_unk
       |FROM alltok LEFT JOIN wenc USING (word) GROUP BY 1""".stripMargin
  }

  /** Shared unigram-piece CTEs mirroring
    * [[graft.llm.Tokenizer.unigramPieces]]: substring counts over the word
    * vocabulary (DuckDB `range` is end-exclusive, hence the `+ 1`s),
    * top-V + single-char coverage, staged-log scores. Ends in `pieces` =
    * (piece, cnt, lp_micro).
    */
  private def unigramPieceCtes: String = unigramPieceCtesImpl(mat = false)

  /** The same chain with the `pieces` result MATERIALIZED — the encode
    * oracle references it from ~40 DP branches.
    */
  private def unigramPieceCtesMat: String = unigramPieceCtesImpl(mat = true)

  private def unigramPieceCtesImpl(mat: Boolean): String = {
    val M = if (mat) " MATERIALIZED" else ""
    val lnChain = PortableMath.duckCteChain(
      PortableMath.microLnStages("cnt", "utt", PortableMath.duckShiftLeft),
      "ukj", "ug")
    s"""uw AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest($DuckToks) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[A-Za-z0-9]+$$') GROUP BY 1),
       |usub AS (
       |  SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM (
       |    SELECT c, unnest(flatten(list_transform(
       |      range(1, len(word) + 1), s -> list_transform(
       |        range(1, least($UnigramL, len(word) - s + 1) + 1),
       |        l -> substr(word, s, l))))) AS piece
       |    FROM uw) GROUP BY 1),
       |utopk AS (SELECT piece, cnt FROM usub
       |          ORDER BY cnt DESC, piece ASC LIMIT $UnigramV),
       |ukept AS (SELECT piece, max(cnt) AS cnt FROM (
       |    SELECT * FROM utopk
       |    UNION ALL SELECT piece, cnt FROM usub WHERE length(piece) = 1)
       |  GROUP BY 1),
       |utot AS (SELECT CAST(sum(cnt) AS BIGINT) AS utt FROM ukept),
       |ukj AS (SELECT piece, cnt, utt FROM ukept CROSS JOIN utot),
       |$lnChain,
       |pieces AS$M (SELECT piece, cnt, lp AS lp_micro FROM ugfin)""".stripMargin
  }

  private def unigramVocabSql: String =
    s"""WITH $unigramPieceCtes
       |SELECT piece, cnt, lp_micro FROM pieces""".stripMargin

  /** The unrolled Viterbi DP (positions 1..[[UnigramMaxWordLen]]), exactly
    * [[graft.llm.Tokenizer.unigramEncodeCounts]]'s integer key recurrence
    * `k' = k + lp·2²⁰ − 1`; a word absent from its final-position CTE
    * (unreachable, or longer than the unroll) falls to the untrained
    * (1 piece, 0 nll) arm of the LEFT JOIN — the kernel's own convention.
    */
  private[queries] def unigramEncodeSql: String = {
    // every DP stage and shared input is MATERIALIZED: DuckDB inlines
    // plain CTEs, and the 4-ary ud-recurrence would otherwise expand into
    // an exponential plan that re-opens the parquet once per leaf
    // (observed as "Too many open files" at depth 16)
    val dps = (1 to UnigramMaxWordLen).map { i =>
      val branches = (1 to math.min(UnigramL, i)).map { l =>
        s"""    SELECT d.word, d.k + p.lp_micro * 1048576 - 1 AS k
           |    FROM ud${i - l} d JOIN pieces p
           |      ON p.piece = substr(d.word, ${i - l + 1}, $l)
           |    WHERE length(d.word) >= $i""".stripMargin
      }
      s"""ud$i AS MATERIALIZED (
         |  SELECT word, max(k) AS k FROM (
         |${branches.mkString("\n    UNION ALL\n")}
         |  ) GROUP BY 1)""".stripMargin
    }
    val finals = (1 to UnigramMaxWordLen).map { i =>
      s"SELECT word, k FROM ud$i WHERE length(word) = $i"
    }
    s"""WITH $unigramPieceCtesMat,
       |uvd AS MATERIALIZED (
       |  SELECT DISTINCT word
       |  FROM (SELECT unnest($DuckToks) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[A-Za-z0-9]+$$')),
       |ud0 AS MATERIALIZED (SELECT word, CAST(1048575 AS BIGINT) AS k FROM uvd),
       |${dps.mkString(",\n")},
       |udone AS (
       |${finals.mkString("\n  UNION ALL\n")}),
       |uenc AS (SELECT word,
       |    CAST(1048575 - ((k % 1048576 + 1048576) % 1048576) AS BIGINT)
       |      AS np,
       |    CAST(-((k - ((k % 1048576 + 1048576) % 1048576)) // 1048576)
       |      AS BIGINT) AS nllw
       |  FROM udone),
       |alltok AS (SELECT doc_id, unnest($DuckToks) AS word FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(coalesce(np, 1)) AS BIGINT) AS n_pieces,
       |  CAST(sum(coalesce(nllw, 0)) AS BIGINT) AS nll_micro
       |FROM alltok LEFT JOIN uenc USING (word) GROUP BY 1""".stripMargin
  }

  private val PerceptronDim = 64
  private val PerceptronRounds = 3

  /** Batch-perceptron oracle: the full training trajectory in closed
    * form. From w = 0 every doc is mistaken (y·0 ≤ 0), so round 1's
    * weight table is one aggregation; each later round is margins →
    * mistake set → delta → weight merge, replayed verbatim. Feature
    * hashing is the 40-bit md5 nibble decode folded mod dim — identical
    * collisions on both engines.
    */
  private def perceptronSql: String = {
    val hexDecode =
      """CAST(list_sum(list_transform(range(1, 11), j ->
        |  CAST(strpos('0123456789abcdef', substr(hx, j, 1)) - 1 AS BIGINT)
        |  * (CAST(1 AS BIGINT) << (4 * (10 - j))))) AS BIGINT)""".stripMargin
    val rounds = (2 to PerceptronRounds).map { tIdx =>
      s"""m$tIdx AS (SELECT doc_id, CAST(sum(cnt * wv) AS BIGINT) AS margin
         |  FROM feat JOIN w${tIdx - 1} USING (f) GROUP BY 1),
         |mi$tIdx AS (SELECT lab.doc_id, y
         |  FROM lab LEFT JOIN m$tIdx USING (doc_id)
         |  WHERE coalesce(margin, 0) * y <= 0),
         |d$tIdx AS (SELECT f, CAST(sum(y * cnt) AS BIGINT) AS d
         |  FROM feat JOIN mi$tIdx USING (doc_id) GROUP BY 1),
         |w$tIdx AS MATERIALIZED (SELECT f, wv + coalesce(d, 0) AS wv
         |  FROM w${tIdx - 1} LEFT JOIN d$tIdx USING (f))""".stripMargin
    }
    s"""WITH tok AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    unnest($DuckToks) AS token FROM documents),
       |fh AS (SELECT doc_id, substr(md5(token), 1, 10) AS hx FROM tok),
       |feat AS MATERIALIZED (SELECT doc_id,
       |    ($hexDecode) % $PerceptronDim AS f,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM fh GROUP BY 1, 2),
       |lab AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents),
       |w1 AS MATERIALIZED (SELECT f, CAST(sum(y * cnt) AS BIGINT) AS wv
       |  FROM feat JOIN lab USING (doc_id) GROUP BY 1),
       |${rounds.mkString(",\n")},
       |mf AS (SELECT doc_id, CAST(sum(cnt * wv) AS BIGINT) AS margin
       |  FROM feat JOIN w$PerceptronRounds USING (f) GROUP BY 1)
       |SELECT lab.doc_id AS id,
       |  CAST(coalesce(margin, 0) AS BIGINT) AS margin,
       |  coalesce(margin, 0) > 0 AS pred
       |FROM lab LEFT JOIN mf USING (doc_id)""".stripMargin
  }

  /** Naive Bayes margin oracle: the identical count model and staged-log
    * chains (positive-class, negative-class, and the signed prior chain)
    * replayed in SQL, mirroring [[graft.llm.Classifier.naiveBayesScore]].
    */
  private def nbSql: String =
    s"""WITH $nbCtes
       |SELECT doc_id, n_tokens, margin AS nb_margin_micro,
       |  (margin > 0) AS nb_pos
       |FROM nbm""".stripMargin

  private def nbBucketsSql: String =
    s"""WITH $nbCtes,
       |jb AS (
       |  SELECT n.doc_id, d.lang, n.margin,
       |    CAST(ntile(3) OVER (PARTITION BY d.lang
       |      ORDER BY n.margin DESC, n.doc_id ASC) AS BIGINT) AS qtile
       |  FROM nbm n JOIN documents d ON n.doc_id = d.doc_id)
       |SELECT doc_id, lang, margin AS nb_margin_micro, qtile,
       |  CASE WHEN qtile = 1 THEN 'head' WHEN qtile = 3 THEN 'tail'
       |       ELSE 'middle' END AS bucket
       |FROM jb""".stripMargin

  /** Shared NB margin CTE chain ending in `nbm` = (doc_id, n_tokens,
    * margin) — the count model and three staged-log chains mirroring
    * [[graft.llm.Classifier.naiveBayesScore]].
    */
  private def nbCtes: String = {
    val chainP = PortableMath.duckCteChain(
      PortableMath.microLnStages("ap", "bp", PortableMath.duckShiftLeft),
      "j", "pa")
    val chainN = PortableMath.duckCteChain(
      PortableMath.microLnStages("an", "bn", PortableMath.duckShiftLeft),
      "p2", "na")
    val chainPr = PortableMath.duckCteChain(
      PortableMath.microLnSignedStages("dp", "dn", PortableMath.duckShiftLeft),
      "dc", "pr")
    s"""lab AS (
       |  SELECT doc_id, text, (lang = 'en') AS pos FROM documents),
       |ntk AS (SELECT doc_id, pos, unnest($DuckToks) AS token FROM lab),
       |cnt AS (SELECT token,
       |          CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
       |            AS c_pos,
       |          CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT)
       |            AS c_neg
       |        FROM ntk GROUP BY 1),
       |tt AS (SELECT CAST(coalesce(sum(c_pos), 0) AS BIGINT) AS np,
       |              CAST(coalesce(sum(c_neg), 0) AS BIGINT) AS nn,
       |              CAST(count(*) AS BIGINT) AS v FROM cnt),
       |dc AS (SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
       |                AS dp,
       |              CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)
       |                AS BIGINT) AS dn
       |       FROM lab),
       |dt AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS m
       |       FROM ntk GROUP BY 1, 2),
       |j AS (SELECT doc_id, m, c_pos + 1 AS ap, c_neg + 1 AS an,
       |        np + v AS bp, nn + v AS bn
       |      FROM dt JOIN cnt USING (token) CROSS JOIN tt),
       |$chainP,
       |p2 AS (SELECT doc_id, m, an, bn, lp AS lp_pos FROM pafin),
       |$chainN,
       |sm AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
       |         CAST(sum(m * (lp_pos - lp)) AS BIGINT) AS s
       |       FROM nafin GROUP BY 1),
       |$chainPr,
       |nbm AS (
       |  SELECT d.doc_id,
       |    CAST(coalesce(sm.n_tokens, 0) AS BIGINT) AS n_tokens,
       |    CAST(coalesce(sm.s, 0) + pr.lp AS BIGINT) AS margin
       |  FROM documents d
       |  LEFT JOIN sm ON d.doc_id = sm.doc_id
       |  CROSS JOIN (SELECT lp FROM prfin) pr)""".stripMargin
  }

  /** Shared α=1/2 temperature-mixture CTEs, mirroring
    * [[graft.llm.Mixture.temperatureAllocation]]: exact integer sqrt via
    * snap-corrected IEEE sqrt, BigInt-free here because DuckDB's BIGINT
    * multiply errors (not wraps) on overflow — safe at oracle scale. Ends
    * in `alc` = (lang, n, s, samp_micro, alloc); expects `tok` from
    * [[unimaxCtes]]'s shape.
    */
  private def alphaCtes: String = alphaCtesOver(
    s"""SELECT doc_id, lang, CAST(len($DuckToks) AS BIGINT) AS ntok
       |  FROM documents""".stripMargin)

  /** The α=1/2 mixture chain over an ARBITRARY `tok` = (doc_id, lang,
    * ntok) body (the group column keeps the name `lang` whatever it is) —
    * shared with the composed pipeline. Ends in `alc`.
    */
  private def alphaCtesOver(tokBody: String,
      tokName: String = "tok"): String =
    s"""$tokName AS MATERIALIZED (
       |  $tokBody),
       |g AS (SELECT lang, CAST(sum(ntok) AS BIGINT) AS n
       |      FROM $tokName GROUP BY 1),
       |y AS (SELECT lang, n,
       |        CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS y0
       |      FROM g),
       |sq AS (SELECT lang, n,
       |         CASE WHEN (y0 + 1) * (y0 + 1) <= n THEN y0 + 1
       |              WHEN y0 * y0 > n THEN y0 - 1 ELSE y0 END AS s
       |       FROM y),
       |att AS (SELECT CAST(sum(n) AS BIGINT) AS t,
       |              CAST(sum(s) AS BIGINT) AS ss FROM sq),
       |fl AS (SELECT lang, n, s, (t // 2) AS budget, ss,
       |         CAST(((t // 2) * s) // ss AS BIGINT) AS fa,
       |         CAST((1000000 * s) // ss AS BIGINT) AS samp_micro
       |       FROM sq CROSS JOIN att),
       |alc AS (SELECT lang, n, s, samp_micro,
       |          CAST(fa + CASE WHEN row_number() OVER
       |              (ORDER BY s DESC, lang ASC)
       |            <= budget - sum(fa) OVER () THEN 1 ELSE 0 END
       |            AS BIGINT) AS alloc
       |        FROM fl)""".stripMargin

  private def alphaSql: String =
    s"""WITH $alphaCtes
       |SELECT lang, n AS n_tokens, CAST(s AS BIGINT) AS w_sqrt,
       |  samp_micro, alloc
       |FROM alc""".stripMargin

  private def alphaSelectSql: String =
    s"""WITH $alphaCtes,
       |run AS (
       |  SELECT doc_id, lang, sum(ntok) OVER (PARTITION BY lang
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
       |    ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM tok)
       |SELECT doc_id, lang FROM run JOIN alc USING (lang)
       |WHERE cum <= least(n, alloc)""".stripMargin

  /** Unrolled integer-PageRank CTEs over the symmetric winnow pair graph,
    * mirroring [[graft.llm.Graph.pageRankCentrality]] round for round
    * (micro units, `//` floor division = Spark `DIV` on non-negatives).
    * Ends in `r$PrIters` = (id, r); expects `wpairs` in scope.
    */
  private def pageRankCtes: String = {
    val base = 1000000L - PrDamp
    val rounds = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT d.u AS id,
         |    CAST($base + ($PrDamp * COALESCE(c.s, 0)) // 1000000 AS BIGINT)
         |      AS r
         |  FROM deg d LEFT JOIN (
         |    SELECT e.v, sum(r.r // g.deg) AS s
         |    FROM edges e JOIN r${i - 1} r ON e.u = r.id
         |      JOIN deg g ON e.u = g.u
         |    GROUP BY e.v) c ON d.u = c.v)""".stripMargin
    }
    s"""edges AS MATERIALIZED (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT id_a AS u, id_b AS v FROM wpairs WHERE id_a <> id_b
       |    UNION ALL
       |    SELECT id_b, id_a FROM wpairs WHERE id_a <> id_b)),
       |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY u),
       |r0 AS (SELECT u AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private def graphPagerankSql: String =
    s"""WITH $winnowPairCtes,
       |$pageRankCtes
       |SELECT id, r AS rank_micro FROM r$PrIters""".stripMargin

  /** Components (recursive reachability) + PageRank argmax survivor per
    * component (ties → min id), anti-selected — the centrality-policy twin
    * of [[dedupWinnowApplySql]].
    */
  /** Components + centrality-argmax ranking over `edges`/`r$PrIters` —
    * ends in `ranked` (losers are rn > 1); shared by the standalone
    * keep-central oracle and the composed pipeline.
    */
  private def keepCentralTailCtes: String =
    s"""reach(id, rt) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.u, reach.rt FROM edges e JOIN reach ON e.v = reach.id),
       |comp AS (SELECT id, min(rt) AS c FROM reach GROUP BY id),
       |ranked AS (
       |  SELECT comp.id, row_number() OVER (PARTITION BY c
       |    ORDER BY COALESCE(rf.r, 0) DESC, comp.id ASC) AS rn
       |  FROM comp LEFT JOIN r$PrIters rf ON comp.id = rf.id)""".stripMargin

  private def dedupKeepCentralSql: String =
    s"""WITH RECURSIVE $winnowPairCtes,
       |$pageRankCtes,
       |$keepCentralTailCtes
       |SELECT doc_id FROM base
       |WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rn > 1)""".stripMargin

  /** The composed round-8 curation pipeline oracle: NB quality filter →
    * winnow pairs → PageRank keep-central survivors → α=1/2 temperature
    * mixture per source → snake shards → per-(source, shard) totals. Every
    * stage is the SAME fragment its standalone query uses, re-based on the
    * previous stage's output — proving the operators chain without engine
    * drift.
    */
  private def pipeline2Sql: String = {
    val filteredBase =
      """SELECT d.doc_id, d.text FROM documents d
        |  JOIN nbm ON d.doc_id = nbm.doc_id WHERE nbm.margin > 0""".stripMargin
    val survTok =
      raw"""SELECT s.doc_id, d.source AS lang,
         |    CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT)
         |      AS ntok
         |  FROM surv s JOIN documents d ON s.doc_id = d.doc_id""".stripMargin
    s"""WITH RECURSIVE $nbCtes,
       |${winnowPairCtesOver(filteredBase)},
       |$pageRankCtes,
       |$keepCentralTailCtes,
       |surv AS MATERIALIZED (
       |  SELECT doc_id FROM base
       |  WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rn > 1)),
       |${alphaCtesOver(survTok, tokName = "atok")},
       |run AS (
       |  SELECT doc_id, lang, ntok, sum(ntok) OVER (PARTITION BY lang
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
       |    ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM atok),
       |sel AS MATERIALIZED (
       |  SELECT doc_id, lang, ntok FROM run JOIN alc USING (lang)
       |  WHERE cum <= least(n, alloc)),
       |shr AS (
       |  SELECT doc_id, lang, greatest(ntok, 1) AS n_tokens,
       |    CAST(row_number() OVER (
       |      ORDER BY greatest(ntok, 1) DESC, doc_id ASC) - 1 AS BIGINT)
       |      AS r0
       |  FROM sel)
       |SELECT lang AS source,
       |  CAST(CASE WHEN (r0 // 4) % 2 = 0 THEN r0 % 4
       |       ELSE 3 - (r0 % 4) END AS BIGINT) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
       |FROM shr GROUP BY 1, 2""".stripMargin
  }

  private def blocklistSql: String = {
    // one shingle CTE per distinct phrase length, unioned
    val byLen = BlockPhrases.map(p => (p.trim.split("\\s+").length, p.trim))
      .distinct.groupBy(_._1).toSeq.sortBy(_._1)
    val hitCtes = byLen.map { case (len, ps) =>
      val values = ps.map(p => s"('${p._2}')").mkString(", ")
      s"""SELECT doc_id,
         |  array_to_string(list_slice(tk, i, i + ${len - 1}), ' ') AS phr
         |FROM tok,
         |  unnest(range(1, greatest(len(tk) - ${len - 1}, 1) + 1)) AS u(i)
         |WHERE array_to_string(list_slice(tk, i, i + ${len - 1}), ' ') IN (
         |  SELECT p FROM (VALUES $values) AS v(p))""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH tok AS (SELECT doc_id, $DuckToks AS tk FROM documents),
       |hits AS (
       |$hitCtes
       |),
       |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocked,
       |        CAST(count(DISTINCT phr) AS BIGINT) AS n_phrases
       |       FROM hits GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(n_blocked, 0) AS n_blocked,
       |  coalesce(n_phrases, 0) AS n_phrases,
       |  coalesce(n_blocked, 0) > 0 AS blocked
       |FROM (SELECT doc_id FROM documents) d LEFT JOIN ag USING (doc_id)""".stripMargin
  }

  /** Winnow the planted-dup corpus and self-join fingerprints exactly —
    * the capped bucket pairing on the Spark side only DROPS degenerate
    * buckets (none exist at oracle scale), so the exact self-join is the
    * same answer.
    */
  /** Shared winnow-pair CTE body over the planted-dup corpus, ending in
    * `base` = (doc_id, text) and `wpairs` = (id_a, id_b, n_shared) — the
    * capped bucket pairing on the Spark side only DROPS degenerate buckets
    * (none exist at oracle scale), so the exact self-join is the same
    * answer.
    */
  private def winnowPairCtes: String = winnowPairCtesOver(
    s"""SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000,
       |    array_to_string(list_slice(toks, 1,
       |      CAST(floor(len(toks) * 0.8) AS INT)), ' ')
       |  FROM (SELECT doc_id, $DuckToks AS toks FROM documents)""".stripMargin)

  /** The winnow-pair chain over an ARBITRARY `base` = (doc_id, text) body
    * — shared by the planted-corpus queries and the composed pipeline.
    * Ends in `wpairs` = (id_a, id_b, n_shared). `base` is MATERIALIZED:
    * the pipeline feeds it from a staged-log chain that must not inline
    * into every span scan.
    */
  private def winnowPairCtesOver(baseBody: String): String = {
    val kM1 = WinnowK - 1
    val wM1 = WinnowW - 1
    val hexDecode =
      """CAST(list_sum(list_transform(range(1, 11), j ->
        |  CAST(strpos('0123456789abcdef', substr(hx, j, 1)) - 1 AS BIGINT)
        |  * (CAST(1 AS BIGINT) << (4 * (10 - j))))) AS BIGINT)""".stripMargin
    s"""base AS MATERIALIZED (
       |  $baseBody),
       |tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |        FROM base),
       |sh0 AS (SELECT doc_id, i AS pos,
       |  substr(md5(array_to_string(list_slice(tk, i, i + $kM1), ' ')),
       |    1, 10) AS hx
       |  FROM tok,
       |    unnest(range(1, greatest(len(tk) - $kM1, 1) + 1)) AS u(i)),
       |sh AS (SELECT doc_id, pos, $hexDecode AS h FROM sh0),
       |win AS (SELECT doc_id,
       |  min(h * (CAST(1 AS BIGINT) << 20) + pos) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN $wM1 PRECEDING AND CURRENT ROW) AS wmin
       |  FROM sh),
       |fps AS (SELECT DISTINCT doc_id,
       |          wmin // (CAST(1 AS BIGINT) << 20) AS h FROM win),
       |wpairs AS MATERIALIZED (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
  }

  private def dedupWinnowSql: String =
    s"""WITH $winnowPairCtes
       |SELECT id_a, id_b, n_shared FROM wpairs""".stripMargin

  /** Connected components over the winnow pairs (recursive reachability —
    * exact at oracle scale), min-id survivors anti-selected, mirroring
    * dedup_apply's oracle shape.
    */
  private def dedupWinnowApplySql: String =
    s"""WITH RECURSIVE $winnowPairCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM wpairs
       |  UNION ALL SELECT id_b, id_a FROM wpairs
       |), reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
       |), losers AS (
       |  SELECT id FROM (SELECT id, min(r) AS s FROM reach GROUP BY id)
       |  WHERE id <> s
       |)
       |SELECT doc_id FROM base
       |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin

  private def entropySql: String = {
    val chainA = PortableMath.duckCteChain(
      PortableMath.microLnSignedStages("etf", "1",
        PortableMath.duckShiftLeft), "tf0", "ea")
    val chainB = PortableMath.duckCteChain(
      PortableMath.microLnSignedStages("n_tokens", "1",
        PortableMath.duckShiftLeft), "pd", "eb")
    s"""WITH tok AS (SELECT doc_id, unnest($DuckToks) AS tk2 FROM documents),
       |tf0 AS (SELECT doc_id, tk2, CAST(count(*) AS BIGINT) AS etf
       |        FROM tok GROUP BY 1, 2),
       |$chainA,
       |pt AS (SELECT doc_id, etf, etf * lp AS ew FROM eafin),
       |pd AS (SELECT doc_id, CAST(sum(etf) AS BIGINT) AS n_tokens,
       |        CAST(count(*) AS BIGINT) AS n_types,
       |        CAST(sum(ew) AS BIGINT) AS ews
       |       FROM pt GROUP BY 1),
       |$chainB
       |SELECT doc_id, n_tokens, n_types,
       |  CAST(lp - (ews // n_tokens) AS BIGINT) AS entropy_micro
       |FROM ebfin""".stripMargin
  }

  private def winnowSql: String = {
    val kM1 = WinnowK - 1
    val wM1 = WinnowW - 1
    // first 40 bits of md5 as exact nibble arithmetic (the mm_features
    // idiom) — identical to Spark's conv(substr(md5, 1, 10), 16, 10)
    val hexDecode =
      """CAST(list_sum(list_transform(range(1, 11), j ->
        |  CAST(strpos('0123456789abcdef', substr(hx, j, 1)) - 1 AS BIGINT)
        |  * (CAST(1 AS BIGINT) << (4 * (10 - j))))) AS BIGINT)""".stripMargin
    s"""WITH tok AS (SELECT doc_id, $DuckToks AS tk FROM documents),
       |sh0 AS (SELECT doc_id, i AS pos,
       |  substr(md5(array_to_string(list_slice(tk, i, i + $kM1), ' ')),
       |    1, 10) AS hx
       |  FROM tok,
       |    unnest(range(1, greatest(len(tk) - $kM1, 1) + 1)) AS u(i)),
       |sh AS (SELECT doc_id, pos, $hexDecode AS h FROM sh0),
       |win AS (SELECT doc_id,
       |  min(h * (CAST(1 AS BIGINT) << 20) + pos) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN $wM1 PRECEDING AND CURRENT ROW) AS wmin
       |  FROM sh),
       |sel AS (SELECT DISTINCT doc_id, wmin FROM win)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
       |  CAST(sum(wmin // (CAST(1 AS BIGINT) << 20)) AS BIGINT)
       |    AS fp_checksum,
       |  CAST(sum(wmin % (CAST(1 AS BIGINT) << 20)) AS BIGINT) AS pos_sum
       |FROM sel GROUP BY doc_id""".stripMargin
  }
}
