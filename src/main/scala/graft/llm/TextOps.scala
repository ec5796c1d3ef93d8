package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is pure `Column` expression composition (higher-order
  * array functions, no UDFs), so it stays inside whole-stage codegen and
  * scales linearly with no shuffle: at 100 TB these run as map-only stages
  * fused into the parquet scan.
  *
  * Cross-engine determinism: operators that feed DuckDB-checked oracles use
  * only md5 / string ops (bit-identical everywhere); the fast paths use
  * xxhash64 (Spark-native, codegen'd).
  */
object TextOps {

  private val Hex = "0123456789abcdef"

  /** PII detector regexes — the Java ∩ RE2 compatible subset, so Spark's
    * regexp functions and DuckDB's match identically. The ONE definition
    * shared by the counting query (text_pii), the redaction query
    * (text_redact), and the declarative `redact` op — a widened pattern
    * changes detection and scrubbing together.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[A-Za-z0-9./_-]+"
  val PhoneRe = "\\+1 [0-9]{10}"

  /** Map-only PII redaction with the shared detectors. URL first, so an
    * email-shaped substring inside a URL path cannot split the URL match.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, UrlRe, "[URL]"),
        EmailRe, "[EMAIL]"),
      PhoneRe, "[PHONE]")

  /** Canonical text normalization for dedup keys: lowercase, strip
    * punctuation, collapse whitespace runs, trim. The standard pre-hash
    * normalization so near-identical formatting variants dedup exactly.
    */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[.,!?;:'\"()\\[\\]{}]", ""),
      "\\s+", " "))

  /** Whitespace tokens of a text column. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** BPE-ish token count: letter runs, single digits, single punctuation —
    * the classic pre-tokenizer regex shape.
    */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Word n-gram shingles; a doc shorter than n tokens yields one shingle of
    * the whole text.
    */
  def wordShingles(c: Column, n: Int): Column = {
    val toks = tokens(c)
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
  }

  /** Sliding token windows — RAG / embedding-prep chunking: windows of
    * `chunkTokens` tokens every `strideTokens` (overlap = chunk − stride).
    * Window starts run while a FULL window fits, so no trailing partial
    * chunk is emitted; a doc shorter than one chunk yields the whole doc.
    * Pure Column expression — explode it and the chunker is map-only,
    * zero-exchange at any scale.
    */
  def slidingChunks(c: Column, chunkTokens: Int, strideTokens: Int): Column = {
    require(chunkTokens > 0 && strideTokens > 0,
      "chunk and stride must be positive")
    val toks = tokens(c)
    transform(
      sequence(lit(1), greatest(size(toks) - (chunkTokens - 1), lit(1)),
        lit(strideTokens)),
      s => array_join(slice(toks, s, lit(chunkTokens)), " "))
  }

  /** Character k-gram shingles (including partial tail shingles). */
  def charShingles(c: Column, k: Int): Column =
    transform(sequence(lit(1), greatest(length(c) - (k - 1), lit(1))),
      i => c.substr(i, lit(k)))

  /** Document fingerprint: minimum md5 over character 16-gram shingles —
    * a winnowing-style rolling-hash fingerprint, stable across engines.
    */
  def fingerprint(c: Column): Column = array_min(transform(charShingles(c, 16), md5(_)))

  /** 32-bit SimHash as a bit-string, built from md5 hex-digit parities so the
    * same value is computable in any engine. Term frequency acts as the
    * weight (tokens are not de-duplicated).
    */
  def simhash32(c: Column): Column = {
    val hexes = transform(tokens(c), t => md5(t))
    array_join(
      transform(sequence(lit(1), lit(32)), i =>
        when(aggregate(hexes, lit(0), (acc, h) =>
          acc + (pmod(hexDigitVal(h.substr(i, lit(1))), lit(2)) * 2 - 1)) > 0,
          lit("1")).otherwise(lit("0"))),
      "")
  }

  /** 0-15 value of a hex digit character (mirrors DuckDB's
    * `strpos('0123456789abcdef', ch) - 1`).
    */
  private def hexDigitVal(ch: Column): Column = conv(ch, 16, 10).cast("int")

  /** Fast 64-bit SimHash (xxhash64-based, Spark-only scale path).
    * Takes the column NAME because it is assembled as a SQL expression
    * (shiftright with a lambda-bound shift needs the SQL form).
    */
  def simhash64(colName: String): Column =
    expr(s"""aggregate(
      transform(sequence(0, 63), b ->
        CASE WHEN aggregate(split(trim($colName), '\\\\s+'), 0L,
          (acc, t) -> acc + (CASE WHEN (shiftright(xxhash64(t), b) & 1) = 1
                             THEN 1L ELSE -1L END)) > 0
        THEN 1L ELSE 0L END),
      0L, (acc, bit) -> shiftleft(acc, 1) | bit)""")

  /** Hamming distance between two simhash64 values. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Language-marker languages, in deterministic tie-break preference order. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and "),
    "de" -> Seq(" der ", " und "),
    "es" -> Seq(" el ", " los "),
    "fr" -> Seq(" le ", " les "))

  /** Entity unescapes applied by [[stripHtml]], in order — `&amp;` LAST so
    * a double-escaped `&amp;lt;` decodes one level (`&lt;`), not two (the
    * standard unescape order).
    */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&nbsp;" -> " ", "&amp;" -> "&")

  /** C4-style web-text cleanup: drop HTML/XML tags (each tag → one space,
    * so adjacent words never fuse), unescape the common entities
    * ([[HtmlEntities]]), collapse whitespace runs, trim. Pure codegen'd
    * regexp/replace chain — map-only at any scale, and every step is a
    * literal or non-backtracking pattern that Java regex and RE2 treat
    * identically (oracle-exact).
    */
  def stripHtml(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val unescaped = HtmlEntities.foldLeft(noTags) {
      case (acc, (entity, repl)) =>
        regexp_replace(acc, java.util.regex.Pattern.quote(entity), repl)
    }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** Occurrences of a literal marker in a space-padded text. */
  def occurrences(c: Column, marker: String): Column = {
    val padded = concat(lit(" "), c, lit(" "))
    (length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(marker), ""))) /
      lit(marker.length)
  }

  /** Per-language marker score. */
  def langScore(c: Column, lang: String): Column =
    LangMarkers.toMap.apply(lang).map(m => occurrences(c, m)).reduce(_ + _)

  /** Heuristic language-ID: argmax of marker scores with fixed preference
    * order on ties.
    */
  def langId(c: Column): Column = {
    val scores = LangMarkers.map { case (l, _) => l -> langScore(c, l) }
    scores.foldRight(lit("und"): Column) { case ((l, s), rest) =>
      when(scores.filter(_._1 != l).map(o => s >= o._2).reduce(_ && _), lit(l))
        .otherwise(rest)
    }
  }

  /** Unicode-script audit classes: (name, Java regex class, RE2 class) —
    * the multilingual-pipeline script-detection step (mixed-script docs
    * are a mojibake/spam signal; per-script corpus shares gate mixture
    * design). Script properties match Unicode Script=X on both engines
    * (letters only — spaces/digits are script Common); `digit` is the
    * one explicit ASCII class.
    */
  val ScriptClasses: Seq[(String, String, String)] = Seq(
    ("latin", "\\p{IsLatin}", "\\p{Latin}"),
    ("cyrillic", "\\p{IsCyrillic}", "\\p{Cyrillic}"),
    ("greek", "\\p{IsGreek}", "\\p{Greek}"),
    ("han", "\\p{IsHan}", "\\p{Han}"),
    ("arabic", "\\p{IsArabic}", "\\p{Arabic}"),
    ("hebrew", "\\p{IsHebrew}", "\\p{Hebrew}"),
    ("devanagari", "\\p{IsDevanagari}", "\\p{Devanagari}"),
    ("hangul", "\\p{IsHangul}", "\\p{Hangul}"),
    ("digit", "[0-9]", "[0-9]"))

  /** Per-script character counts: chars-in-class = len − len(stripped),
    * one map-only expression per class (no arrays). */
  def scriptCounts(c: Column): Seq[(String, Column)] =
    ScriptClasses.map { case (name, javaCls, _) =>
      name -> (length(c) - length(regexp_replace(c, javaCls, "")))
        .cast("long")
    }

  /** Dominant WRITING script (digits excluded): argmax of script counts
    * with fixed preference order on ties — 'none' when no script
    * character appears (the [[langId]] fold shape).
    */
  def dominantScript(c: Column): Column = {
    val scores = scriptCounts(c).filter(_._1 != "digit")
    scores.foldRight(lit("none"): Column) { case ((n, s), rest) =>
      when(s > 0 &&
          scores.filter(_._1 != n).map(o => s >= o._2).reduce(_ && _),
        lit(n)).otherwise(rest)
    }
  }

  /** Quality-score components: char length, token count, mean word length,
    * punctuation ratio, stopword ratio — all per-row IEEE arithmetic,
    * engine-deterministic.
    */
  def qualityComponents(c: Column): Seq[(String, Column)] = {
    val nTok = size(tokens(c))
    Seq(
      "n_chars" -> length(c).cast("long"),
      "n_tokens" -> nTok.cast("long"),
      "mean_word_len" -> (length(regexp_replace(c, "\\s", "")).cast("double") / nTok),
      "punct_ratio" -> (size(regexp_extract_all(c, lit("[.,!?;:]"), lit(0))).cast("double") /
        length(c)),
      "stopword_ratio" -> ((occurrences(c, " the ") + occurrences(c, " a ") +
        occurrences(c, " and ")).cast("double") / nTok))
  }

  /** Composite quality score in [0,1]-ish range: favors mid-length docs with
    * low punctuation noise and a sane stopword rate.
    */
  def qualityScore(c: Column): Column = {
    val comp = qualityComponents(c).toMap
    least(comp("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.5 +
      (lit(1.0) - least(comp("punct_ratio") * 10.0, lit(1.0))) * 0.25 +
      least(comp("stopword_ratio") * 5.0, lit(1.0)) * 0.25
  }

  /** Exact blocklist phrase counts per document — the safety/policy
    * filtering stage every production corpus pipeline carries (bad-word /
    * banned-phrase lists), as data rather than a hardcoded regex.
    *
    * Matching is token-exact: a phrase of L tokens matches wherever the
    * document's L-token shingle equals it, so counts are exact (including
    * adjacent occurrences that string-replace counting would miss) and
    * multi-token phrases can't match across word boundaries. One shingle
    * pass per DISTINCT phrase length; the phrase set broadcasts; docs with
    * no hits keep a row with zeros.
    *
    * Output: (idCol, n_blocked, n_phrases, blocked) — total instances,
    * distinct phrases hit, any-hit flag.
    */
  // Per-op reserved-name guard (same contract as CorpusStats.guard): an
  // idCol that matches a working or output column would silently join or
  // group wrong, so fail loudly at construction instead.
  private def guardId(idCol: String, reserved: Set[String]): Unit =
    require(!reserved(idCol),
      s"idCol '$idCol' collides with a working/output column of this op")

  def blocklistCounts(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "need at least one phrase")
    guardId(idCol, Set("__btk", "__bpos", "__bphr",
      "n_blocked", "n_phrases", "blocked"))
    val spark = df.sparkSession
    import spark.implicits._
    val phr = phrases.map(p => (p.trim.split("\\s+").length, p.trim))
      .distinct
    val base = df.select(col(idCol), tokens(col(textCol)).as("__btk"))
    val hits = phr.map(_._1).distinct.map { len =>
      val phrasesOfLen = broadcast(
        phr.filter(_._1 == len).map(_._2).toDF("__bphr"))
      base
        .select(col(idCol), explode(sequence(lit(1),
          greatest(size(col("__btk")) - (len - 1), lit(1)))).as("__bpos"),
          col("__btk"))
        .select(col(idCol), array_join(
          slice(col("__btk"), col("__bpos"), lit(len)), " ").as("__bphr"))
        .join(phrasesOfLen, Seq("__bphr"))
    }.reduce(_ unionByName _)
    val agg = hits.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocked"),
        countDistinct(col("__bphr")).as("n_phrases"))
    df.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_blocked"), lit(0L)).as("n_blocked"),
        coalesce(col("n_phrases"), lit(0L)).as("n_phrases"),
        (coalesce(col("n_blocked"), lit(0L)) > 0).as("blocked"))
  }

  /** Per-document token-distribution Shannon entropy, in fixed-point nats
    * — the token-diversity quality signal (degenerate/gibberish docs sit at
    * the extremes: near-zero entropy = one token repeated, near-ln(dl) =
    * no repetition at all).
    *
    * With type counts tf over a doc of length dl,
    * `H = ln(dl) − (Σ tf·ln(tf))/dl`. Every ln is the engine-exact staged
    * log (`floor(ln(x)·10⁶)` via [[graft.functions.PortableMath]], signed
    * form since x ≥ 1), the weighted sum is an exact BIGINT, and the final
    * division is truncating — so `entropy_micro` is bit-identical on any
    * engine, unlike a float Σp·log(p).
    *
    * Shape: one scan → (doc, type) partial-agg'd counts → per-doc agg;
    * both shuffles carry slim (id, token-ish) keys.
    *
    * Output: (idCol, n_tokens, n_types, entropy_micro).
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.PortableMath
    guardId(idCol, Set("__etok", "__etf", "__ew", "__ews",
      "n_tokens", "n_types", "entropy_micro") ++
      PortableMath.microLnSignedColumns)
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("__etok"))
      .groupBy(col(idCol), col("__etok")).agg(count(lit(1)).as("__etf"))
    val tfStages = PortableMath.microLnSignedStages("__etf", "1",
      PortableMath.sparkShiftLeft)
    val perType = tfStages.foldLeft(tf) {
        case (d, (n, s)) => d.withColumn(n, expr(s))
      }
      .select(col(idCol), col("__etf"), (col("__etf") * col("lp")).as("__ew"))
    val perDoc = perType.groupBy(col(idCol))
      .agg(sum(col("__etf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__ew")).as("__ews"))
    val dlStages = PortableMath.microLnSignedStages("n_tokens", "1",
      PortableMath.sparkShiftLeft)
    dlStages.foldLeft(perDoc) {
        case (d, (n, s)) => d.withColumn(n, expr(s))
      }
      .select(col(idCol), col("n_tokens"), col("n_types"),
        (col("lp") - expr("__ews div n_tokens")).as("entropy_micro"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    * scheme): hash every k-token shingle, then in each sliding window of
    * `w` consecutive shingle hashes select the minimum; the distinct
    * selected hashes are the document's fingerprints. Winnowing guarantees
    * any shared run of ≥ w+k-1 tokens yields at least one shared
    * fingerprint (the local-match guarantee exact-substring dedup and
    * clone detection build on), at an expected density of 2/(w+1)
    * fingerprints per shingle.
    *
    * Determinism: hashes are the first 40 bits of md5 (exact nibble
    * arithmetic on any engine); window ties break to the SMALLEST position
    * by minimizing the single BIGINT `hash·2²⁰ + pos` — so the selected
    * set is a pure function of the text, identical on any engine or
    * layout. Leading windows shorter than `w` participate (their prefix
    * minima are selected) so documents with fewer than w shingles still
    * fingerprint; a doc shorter than k tokens contributes one whole-text
    * shingle. Positions must stay below 2²⁰ (1M tokens/doc) for the
    * packed tie-break — documented, not guarded.
    *
    * SHUFFLE-FREE since r17, NATIVE since r18: winnowing is doc-local by
    * definition, so the whole selection — shingle hashes, sliding minima,
    * per-doc distinct — runs as ONE per-document expression
    * ([[graft.functions.WinnowPacked]]) feeding a native `explode` (zero
    * exchanges, like the r17 mapPartitions kernel it replaces — but
    * without that kernel's generic-Row encoder boundary, per-fingerprint
    * Row allocation and boxing TreeSet, which the driver measured at
    * 0.2 s → 0.5 s on text_winnow at sf0.1). Bit-identical to the retired
    * Column form, replicated detail by detail (CurationSpec pins the
    * equality against the verbatim old chain): Spark `trim` strips SPACES
    * only (never tabs/newlines — unlike java.lang.String#trim),
    * `split(c, "\\s+")` is Pattern.split with limit −1, the 40-bit hash
    * is the integer value of md5's first five bytes, the packed tie-break
    * and the leading-window/short-doc rules are as documented above, and
    * a NULL text yields the Column form's degenerate (id, null, null) row
    * (null packed array + explode_outer).
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1; got k=$k, w=$w")
    guardId(idCol, Set("__wtk", "__wpos", "__whash", "__wmin",
      "pos", "fingerprint"))
    // the kernel inherits the SCAN's partitioning, deliberately: a
    // round-robin input-split fan-out was A/B'd in-session at sf0.1
    // (OPTIMIZATION_r18.md) and LOST — 0.33 s scan-partitioned vs 0.48 s
    // fanned out; the repartition's sort+exchange costs more than the
    // md5 pass it parallelizes. At warehouse scale input arrives
    // pre-split, so the scan's own parallelism is the right default.
    val src = df.select(col(idCol), col(textCol).cast("string").as("__wtxt"))
    src.select(col(idCol), explode_outer(
        graft.functions.GraftFunctions.winnowPackedCol(
          col("__wtxt"), k, w)).as("__wmin"))
      .select(col(idCol),
        (col("__wmin") % (1L << 20)).as("pos"),
        expr(s"__wmin div ${1L << 20}").as("fingerprint"))
  }

  /** T5-style span corruption (Raffel et al. 2020): mask ~`noisePermille`‰
    * of each document's tokens, coalesce adjacent masked tokens into
    * spans, replace each span with `<extra_id_K>` in the input and emit
    * `<extra_id_K> tokens…` pairs as the target — the denoising-objective
    * pair construction a seq2seq pretraining pipeline materializes.
    *
    * T5 samples its noise mask; at corpus scale the mask must instead be a
    * PURE FUNCTION of (doc, position) so the pairs are reproducible across
    * runs, engines, and retries: token (id, pos) is masked iff its 40-bit
    * md5 hash mod 1000 < noisePermille (the winnow hash idiom — exactly
    * decodable in SQL). Expected span length then follows geometrically
    * from the noise density rather than T5's explicit mean-span knob —
    * the trade for determinism.
    *
    * Scale shape: one posexplode, one per-doc window (gaps-and-islands for
    * span ids), one aggregation whose collect_list carries (pos, piece)
    * structs sorted in-group — no shuffle wider than the doc's own tokens,
    * text never rides a corpus-wide key. Output:
    * (idCol, n_tokens, n_spans, input_text, target_text).
    */
  def spanCorrupt(df: DataFrame, idCol: String, textCol: String,
      noisePermille: Int = 150): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(noisePermille >= 0 && noisePermille <= 1000,
      s"noisePermille must be in [0, 1000], got $noisePermille")
    val reserved = Seq("pos", "tok", "__scm", "__scs", "__sck", "n_tokens",
      "n_spans", "input_text", "target_text").filter(_ == idCol)
    require(reserved.isEmpty,
      s"idCol '$idCol' collides with a spanCorrupt working/output column")
    val tokd = df.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val h = conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
      col("pos").cast("string"))), 1, 10), 16, 10).cast("long")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val masked = tokd
      .withColumn("__scm", pmod(h, lit(1000L)) < noisePermille)
      .withColumn("__scs",
        col("__scm") && !coalesce(lag(col("__scm"), 1).over(w), lit(false)))
      .withColumn("__sck",
        sum(col("__scs").cast("long")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)) - 1L)
    val sentinel = concat(lit("<extra_id_"), col("__sck"), lit(">"))
    val inPiece = when(!col("__scm"), col("tok"))
      .when(col("__scs"), sentinel)
    val tgtPiece = when(col("__scs"), concat(sentinel, lit(" "), col("tok")))
      .when(col("__scm"), col("tok"))
    def joined(piece: Column) = array_join(
      transform(
        array_sort(collect_list(when(piece.isNotNull,
          struct(col("pos").as("p"), piece.as("t"))))),
        x => x.getField("t")), " ")
    masked.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__scs").cast("long")).as("n_spans"),
        joined(inPiece).as("input_text"),
        joined(tgtPiece).as("target_text"))
  }

  /** Canonical URL form for web-corpus dedup (the "same page, different
    * URL string" problem every crawl pipeline has): lower-cased scheme and
    * authority, default port stripped (`:80` for http, `:443` for https),
    * fragment dropped, empty path normalized to `/`, and query parameters
    * SORTED (`?b=2&a=1` ≡ `?a=1&b=2` — tracking params reorder freely) with
    * empty params dropped. Returns NULL for strings without a
    * `scheme://` prefix — not a URL, caller decides. Pure map-only Column
    * expression (regexp extraction + array sort), no UDF, engine-exact:
    * the DuckDB oracle runs the same extraction.
    *
    * Deliberately NOT done here: percent-encoding normalization and
    * public-suffix (eTLD+1) reduction — both need lookup tables that
    * belong to the caller's policy, not a canonical form.
    */
  def canonicalizeUrl(c: Column): Column = {
    val schemeRe = "^([A-Za-z][A-Za-z0-9+.\\-]*)://"
    val scheme = lower(regexp_extract(c, schemeRe, 1))
    val auth = lower(regexp_extract(c, schemeRe + "([^/?#]*)", 2))
    val authNoPort = when(scheme === "http",
        regexp_replace(auth, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth, ":443$", ""))
      .otherwise(auth)
    val path = regexp_extract(c, schemeRe + "[^/?#]*([^?#]*)", 2)
    val pathNorm = when(path === "", lit("/")).otherwise(path)
    val query = regexp_extract(c, "\\?([^#]*)", 1)
    val sortedQ = array_join(array_sort(filter(split(query, "&"),
      p => p =!= "")), "&")
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), authNoPort, pathNorm,
        when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ))))
  }
}
