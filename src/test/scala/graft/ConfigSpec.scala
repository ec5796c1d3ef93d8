package graft

import graft.config.PipelineConfig
import graft.etl.Fixtures
import graft.jobs._

/** Declarative pipeline tests mirroring `etl-job/tests/simple-pipeline.rs`:
  * a config document (not code) declares source → transforms → sink; running
  * it through JobRunner yields the same durable state, counters, and
  * skip-if-complete semantics as the code-built pipeline.
  */
class ConfigSpec extends SparkSpec {

  private def confJson(sinkDir: String): String =
    s"""{
       |  "id": "cfg1", "name": "simple", "maxErrors": 100,
       |  "steps": [
       |    { "step": "transformed-ds-1", "kind": "stream",
       |      "source": { "type": "json_lines",
       |        "schema": "name STRING, todo ARRAY<STRING>, id STRING",
       |        "lines": ${org.json4s.jackson.Serialization.write(
                  Fixtures.malformedJsonStream)(org.json4s.DefaultFormats)} },
       |      "transforms": [
       |        { "op": "withColumn", "name": "name_upper", "expr": "upper(name)" },
       |        { "op": "select", "cols": ["name_upper", "id"] } ],
       |      "sink": { "type": "json", "path": "$sinkDir" } },
       |    { "step": "announce", "kind": "command", "sql": "SELECT 1" }
       |  ]
       |}""".stripMargin

  test("declared pipeline runs end-to-end with state + counters (simple-pipeline.rs)") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_out").toString + "/j"
    val store = new InMemoryStore
    val conf = PipelineConfig.parse(confJson(out))
    val st = PipelineConfig.run(spark, conf, store)
    val stream = st.streams("transformed-ds-1")
    assert(stream.status === JobState.Complete && stream.stepIndex === 0)
    assert(stream.totalLinesScanned === 5 && stream.numErrors === 2)
    assert(stream.outputs.map(_.linesWritten) === List(3L))
    assert(st.commands("announce").status === JobState.Complete)
    // sink really wrote the 3 good, transformed rows
    assert(spark.read.json(out).count() === 3)
    assert(spark.read.json(out).columns.sorted.toSeq === Seq("id", "name_upper"))
    // re-running the same declared pipeline over the same store skips steps
    val st2 = PipelineConfig.run(spark, conf, store)
    assert(st2.streams("transformed-ds-1").startedMs === stream.startedMs)
  }

  test("unpivot transform is reachable from a declared pipeline") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_unpivot").toString + "/j"
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-up", "name": "kv", "steps": [
         |  { "step": "flatten", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id STRING, a STRING, b STRING",
         |      "lines": ["{\\"id\\":\\"1\\",\\"a\\":\\"x\\",\\"b\\":\\"y\\"}"] },
         |    "transforms": [ { "op": "drop", "cols": ["_corrupt_record"] },
         |                    { "op": "unpivot", "cols": ["id"] } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val rows = spark.read.json(out).collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("col"), r.getAs[String]("val"))).toSet
    assert(rows === Set(("1", "a", "x"), ("1", "b", "y")))
  }

  test("curation vocabulary: declared dedup_exact → quality_gate → redact → chunk") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_cur").toString + "/j"
    // 4 docs in one group: id 3 duplicates id 1 (dedup drops 3); the gate
    // keeps the top 2/3 by token count (drops the shortest survivor); the
    // remaining docs are redacted and chunked at 4-token windows, stride 2
    val lines = Seq(
      """{"id":1,"text":"alpha beta gamma delta epsilon zeta mail me at a@b.co"}""",
      """{"id":2,"text":"one two three four five six seven eight nine ten"}""",
      """{"id":3,"text":"alpha beta gamma delta epsilon zeta mail me at a@b.co"}""",
      """{"id":4,"text":"short doc here"}""")
      .map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-cur", "name": "curate", "steps": [
         |  { "step": "curate", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "withColumn", "name": "grp", "expr": "'g'" },
         |      { "op": "dedup_exact", "cols": ["id", "text"] },
         |      { "op": "quality_gate", "cols": ["grp", "id"], "name": "2/3",
         |        "expr": "least(size(split(text, ' ')) / 10.0, 1.0)" },
         |      { "op": "redact", "cols": ["text"] },
         |      { "op": "chunk", "cols": ["text"], "name": "chunk", "expr": "4,2" },
         |      { "op": "select", "cols": ["id", "chunk"] } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val rows = spark.read.json(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("chunk")))
    val ids = rows.map(_._1).distinct.sorted
    assert(ids.toSeq === Seq(1L, 2L)) // 3 deduped, 4 gated out
    assert(rows.exists(_._2.contains("[EMAIL]")))
    assert(rows.forall(!_._2.contains("a@b.co")))
    // stride-2 windows of 4 tokens over an 11-token doc → starts 1,3,5,7
    assert(rows.count(_._1 == 1L) === 4)
  }

  test("curation vocabulary: declared span_removal → lm_score") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_sr").toString + "/j"
    // 4 docs share a 3-token footer (df=4 > maxDf=3) → removed everywhere;
    // lm_score then appends corpus-LM columns over the CLEANED text
    val lines = (1 to 4).map(i =>
      s"""{"id":$i,"text":"unique${i}a unique${i}b promo footer here"}""")
      .map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-sr", "name": "spans", "steps": [
         |  { "step": "spans", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "span_removal", "cols": ["id", "text"], "expr": "3,3" },
         |      { "op": "lm_score", "cols": ["id", "text"] },
         |      { "op": "select", "cols": ["id", "text", "n_removed", "avg_nll_micro"] } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val rows = spark.read.json(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("text"),
        r.getAs[Long]("n_removed")))
    assert(rows.length === 4)
    rows.foreach { case (id, text, nRem) =>
      assert(nRem === 3L, s"doc $id kept the footer")
      assert(text === s"unique${id}a unique${id}b")
    }
  }

  test("declared substring_dedup cuts keep-one; substring_runs reports the maximal run") {
    import spark.implicits._
    val docs = Seq(
      (1L, "u1a u1b s1 s2 s3 s4"),  // lowest id holding the run: keeper
      (2L, "x s1 s2 s3 s4"),        // shares the 4-token run → cut
      (3L, "only unique tokens here")).toDF("id", "text")
    val cleaned = PipelineConfig.applyTransforms(docs,
      Seq(PipelineConfig.TransformConf(op = "substring_dedup",
        cols = Seq("id", "text"), expr = Some("3"))))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("text"), r.getAs[Long]("n_removed"))).toMap
    assert(cleaned(1L) === ("u1a u1b s1 s2 s3 s4", 0L))
    assert(cleaned(2L) === ("x", 4L))
    assert(cleaned(3L) === ("only unique tokens here", 0L))
    val runs = PipelineConfig.applyTransforms(docs,
      Seq(PipelineConfig.TransformConf(op = "substring_runs",
        cols = Seq("id", "text"), expr = Some("3"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(runs === Set((1L, 2L, 3L, 2L, 4L)))
  }

  test("span_removal/para_dedup fail loudly on duplicate ids instead of multiplying rows") {
    import spark.implicits._
    val dup = Seq((1L, "a b c d"), (1L, "e f g h"), (2L, "i j k l"))
      .toDF("id", "text")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    Seq(
      PipelineConfig.TransformConf(op = "span_removal",
        cols = Seq("id", "text"), expr = Some("2,1")),
      PipelineConfig.TransformConf(op = "para_dedup",
        cols = Seq("id", "text"), expr = Some("1"))
    ).foreach { t =>
      val ex = intercept[Exception] {
        PipelineConfig.applyTransforms(dup, Seq(t)).collect()
      }
      assert(messages(ex).exists(_.contains("duplicate values in id column 'id'")),
        s"${t.op}: unexpected failure $ex")
    }
  }

  test("declared dedup_winnow drops truncated near-copies, keeping min-id survivors") {
    import spark.implicits._
    val docs = (1L to 2L).map(i =>
      (i, (1 to 30).map(j => s"g${i}t$j").mkString(" ")))
    val planted = docs ++ docs.map { case (i, txt) =>
      (i + 100, txt.split(" ").take(24).mkString(" "))
    }
    val out = PipelineConfig.applyTransforms(planted.toDF("doc_id", "text"),
      Seq(PipelineConfig.TransformConf(op = "dedup_winnow",
        cols = Seq("doc_id", "text"))))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("declared dedup_keep_central keeps each family's hub, not the min id") {
    import spark.implicits._
    // one star family: doc 9 holds the full text; 1/2/3 are DISJOINT
    // 20-token segments of it, so each pairs only with 9 — 9 is the hub
    // by construction and must survive under the centrality policy
    // (min-id would keep 1)
    val full = (1 to 60).map(j => s"tok$j").mkString(" ")
    val seg = full.split(" ")
    val docs = Seq(
      (9L, full),
      (1L, seg.slice(0, 20).mkString(" ")),
      (2L, seg.slice(20, 40).mkString(" ")),
      (3L, seg.slice(40, 60).mkString(" ")),
      (50L, (1 to 30).map(j => s"solo$j").mkString(" ")))
    val out = PipelineConfig.applyTransforms(docs.toDF("doc_id", "text"),
      Seq(PipelineConfig.TransformConf(op = "dedup_keep_central",
        cols = Seq("doc_id", "text"))))
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(50L) && kept.contains(9L) && !kept.contains(1L),
      s"got $kept")
  }

  test("declared mixture_alpha downsamples the head group to its sqrt share") {
    import spark.implicits._
    val docs = (1L to 40L).map { i =>
      val g = if (i <= 36) "head" else "tail"
      (i, g, Seq.fill(if (g == "head") 9 else 1)("w").mkString(" "))
    }
    val out = PipelineConfig.applyTransforms(docs.toDF("doc_id", "grp", "text"),
      Seq(PipelineConfig.TransformConf(op = "mixture_alpha",
        cols = Seq("grp", "doc_id"),
        expr = Some("size(split(trim(text), '\\\\s+'))"),
        name = Some("3/4"))))
    val kept = out.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("grp"))
    val tail = docs.filter(_._2 == "tail").map(_._1).toSet
    assert(tail.subsetOf(kept.map(_._1).toSet), "tail survives whole")
    assert(kept.count(_._2 == "head") < 36, "head downsampled")
  }

  test("declared shard_balanced and length_buckets append assignment columns") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, Seq.fill(1 + (i % 13).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "shard_balanced",
        cols = Seq("doc_id"),
        expr = Some("size(split(trim(text), '\\\\s+'))"),
        name = Some("4"))))
    assert(out.count() === 40)
    val shards = out.select("shard").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(shards === Set(0L, 1L, 2L, 3L))
    val out2 = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "length_buckets",
        cols = Seq("doc_id"),
        expr = Some("size(split(trim(text), '\\\\s+'))"),
        name = Some("8"))))
    assert(out2.columns.contains("bucket") &&
      out2.columns.contains("batch_idx"))
    assert(out2.count() === 40)
  }

  test("declared nb_filter keeps classifier-positive rows; annotate keeps all") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good clean prose text"),
      (2L, "good words here"),
      (3L, "spam buy spam buy"),
      (4L, "buy spam now")).toDF("doc_id", "text")
    // proxy label: docs mentioning 'good'; evidence should generalize the
    // polarity to the token level
    val kept = PipelineConfig.applyTransforms(docs,
      Seq(PipelineConfig.TransformConf(op = "nb_filter",
        cols = Seq("doc_id", "text"), expr = Some("text LIKE '%good%'"))))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L))
    val annotated = PipelineConfig.applyTransforms(docs,
      Seq(PipelineConfig.TransformConf(op = "nb_filter",
        cols = Seq("doc_id", "text"), expr = Some("text LIKE '%good%'"),
        name = Some("annotate"))))
    assert(annotated.count() === 4)
    assert(annotated.columns.contains("nb_margin_micro"))
  }

  test("declared lm_backoff and ppl_buckets append LM columns") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "p q p q p q p q"),
      (2L, "en", "p q r s t u"),
      (3L, "en", "r s t u v w"),
      (4L, "en", "xx")).toDF("doc_id", "lang", "text")
    val out = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "lm_backoff",
        cols = Seq("doc_id", "text")),
      PipelineConfig.TransformConf(op = "ppl_buckets",
        cols = Seq("doc_id", "text", "lang"))))
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") ->
      (Option(r.getAs[java.lang.Long]("sb_nll_micro")),
        Option(r.getAs[String]("bucket")))).toMap
    // scorable docs carry both signals; the 1-token doc carries neither
    assert(rows(1L)._1.isDefined && rows(1L)._2.isDefined)
    assert(rows(4L)._1.isEmpty && rows(4L)._2.isEmpty)
    assert(out.count() === 4) // left joins never multiply or drop rows
  }

  test("declared standardize → score_linear chain (feature-to-score config)") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_ml").toString + "/j"
    val lines = Seq(
      """{"id":1,"g":"a","x":1.0}""", """{"id":2,"g":"a","x":2.0}""",
      """{"id":3,"g":"a","x":3.0}""", """{"id":4,"g":"b","x":7.0}""")
      .map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-ml", "name": "mlchain", "steps": [
         |  { "step": "score", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, g STRING, x DOUBLE",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "standardize", "cols": ["g", "x"], "name": "z" },
         |      { "op": "score_linear", "name": "s", "expr": "0.5, z:2.0" },
         |      { "op": "select", "cols": ["id", "z", "s", "s_label"] } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val rows = spark.read.json(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("z"),
        r.getAs[Double]("s"), r.getAs[Long]("s_label"))).sortBy(_._1)
    assert(rows.length === 4)
    // group a: z of the middle value is 0 → s = 0.5 → label 1
    assert(rows(1)._2 === 0.0 && rows(1)._3 === 0.5 && rows(1)._4 === 1L)
    // constant group b standardizes to 0
    assert(rows(3)._2 === 0.0)
    // z=-sqrt(3/2) for x=1 → s = 0.5 - 2*1.2247... < 0 → label 0
    assert(rows(0)._3 < 0 && rows(0)._4 === 0L)
  }

  test("declared tfidf_keywords reshapes docs to ranked keyword rows") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_tfidf").toString + "/j"
    // 'common' appears in every doc; each doc carries a unique term that
    // must outrank it at k=1
    val lines = (1 to 3).map(i =>
      s"""{"id":$i,"text":"common common unique$i"}""")
      .map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-tfidf", "name": "kw", "steps": [
         |  { "step": "kw", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "tfidf_keywords", "cols": ["id", "text"], "expr": "1" },
         |      { "op": "select", "cols": ["id", "term", "rank"] } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val rows = spark.read.json(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("term"))).sortBy(_._1)
    assert(rows.toSeq === (1 to 3).map(i => (i.toLong, s"unique$i")))
  }

  test("declared token_budget and mixture select the exact rank/hash subsets") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_tb").toString + "/j"
    // scores by token count: id2 (6 tok, 0.6) then id1 (4 tok, 0.4) fit a
    // 10-token budget; id3 (2 tok) would overflow it
    val lines = Seq(
      """{"id":1,"text":"a b c d"}""",
      """{"id":2,"text":"a b c d e f"}""",
      """{"id":3,"text":"a b"}""").map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-tb", "name": "budget", "steps": [
         |  { "step": "budget", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "withColumn", "name": "grp", "expr": "'g'" },
         |      { "op": "token_budget", "cols": ["grp", "id"], "name": "10",
         |        "expr": "least(size(split(text, ' ')) / 10.0, 1.0);size(split(text, ' '))" },
         |      { "op": "select", "cols": ["id"] } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    assert(spark.read.json(out).collect().map(_.getAs[Long]("id")).sorted
      .toSeq === Seq(1L, 2L))

    // mixture: 4 en + 2 de docs at equal weights → 2 kept per group
    val out2 = java.nio.file.Files.createTempDirectory("graft_cfg_mx").toString + "/j"
    val mixLines = ((1 to 4).map(i => s"""{"id":$i,"lang":"en"}""") ++
      (5 to 6).map(i => s"""{"id":$i,"lang":"de"}"""))
      .map(_.replace("\"", "\\\""))
    val mixConf = PipelineConfig.parse(
      s"""{ "id": "cfg-mx", "name": "mix", "steps": [
         |  { "step": "mix", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, lang STRING",
         |      "lines": [${mixLines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "mixture", "cols": ["lang", "id"], "expr": "en:1, de:1" },
         |      { "op": "select", "cols": ["id", "lang"] } ],
         |    "sink": { "type": "json", "path": "$out2" } } ] }""".stripMargin)
    PipelineConfig.run(spark, mixConf, new InMemoryStore)
    val byLang = spark.read.json(out2).collect()
      .map(_.getAs[String]("lang")).groupBy(identity).view.mapValues(_.length).toMap
    assert(byLang === Map("en" -> 2, "de" -> 2))
  }

  test("declared cap_per_group and dedup_keep_best pick the right survivors") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_cap").toString + "/j"
    // 3 docs in src a, 1 in src b; cap 2 by id-as-score keeps a's top-2 ids
    val capLines = (Seq((1, "a"), (2, "a"), (3, "a"), (4, "b")))
      .map { case (i, s) => s"""{"id":$i,"src":"$s"}""" }
      .map(_.replace("\"", "\\\""))
    val capConf = PipelineConfig.parse(
      s"""{ "id": "cfg-cap", "name": "cap", "steps": [
         |  { "step": "cap", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, src STRING",
         |      "lines": [${capLines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "cap_per_group", "cols": ["src", "id"],
         |        "expr": "id * 1.0", "name": "2" },
         |      { "op": "select", "cols": ["id", "rank"] } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, capConf, new InMemoryStore)
    val got = spark.read.json(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("rank"))).sorted
    assert(got.toSeq === Seq((2L, 2L), (3L, 1L), (4L, 1L)))

    // keep-best: doc 2 is doc 1's near-dup with the higher declared score
    val out2 = java.nio.file.Files.createTempDirectory("graft_cfg_kb").toString + "/j"
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val trunc = (1 to 32).map(i => s"tok$i").mkString(" ")
    val kbLines = Seq(
      s"""{"id":1,"text":"$base"}""", s"""{"id":2,"text":"$trunc"}""")
      .map(_.replace("\"", "\\\""))
    val kbConf = PipelineConfig.parse(
      s"""{ "id": "cfg-kb", "name": "kb", "steps": [
         |  { "step": "kb", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${kbLines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "dedup_keep_best", "cols": ["id", "text"],
         |        "expr": "id * 1.0" },
         |      { "op": "select", "cols": ["id"] } ],
         |    "sink": { "type": "json", "path": "$out2" } } ] }""".stripMargin)
    PipelineConfig.run(spark, kbConf, new InMemoryStore)
    assert(spark.read.json(out2).collect().map(_.getAs[Long]("id")).toSeq
      === Seq(2L))
  }

  test("declared para_dedup cuts the shared paragraph in place") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_pd").toString + "/j"
    val nl = "\\\\n" // JSON-escaped newline inside the json_lines payload
    val lines = ((1 to 3).map(i => s"""{"id":$i,"text":"body $i${nl}promo footer"}""") :+
      s"""{"id":4,"text":"clean four"}""").map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-pd", "name": "pd", "steps": [
         |  { "step": "pd", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "para_dedup", "cols": ["id", "text"], "expr": "2" },
         |      { "op": "select", "cols": ["id", "text", "n_removed"] } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val rows = spark.read.json(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("text"),
        r.getAs[Long]("n_removed"))).sortBy(_._1)
    assert(rows.toSeq === Seq((1L, "body 1", 1L), (2L, "body 2", 1L),
      (3L, "body 3", 1L), (4L, "clean four", 0L)))
  }

  test("declared span_clean_indexed cleans against a persisted index, read-only") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("graft_cfg_sci_idx").toString
    // persisted history: 3 docs with the footer → footer-span df = 3
    graft.llm.CorpusStats.spanDfIndex(
      (1 to 3).map(i => (i.toLong, s"h${i}a h${i}b promo footer here"))
        .toDF("id", "text"), "id", "text", spanTokens = 3)
      .write.parquet(s"$idxDir/batch=0")
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_sci").toString + "/j"
    // fresh doc 10 carries the footer (merged df 4 > maxDf 3 → cut);
    // doc 11 is clean and must pass through verbatim
    val lines = Seq(
      """{"id":10,"text":"x1 x2 promo footer here"}""",
      """{"id":11,"text":"y1 y2 y3 y4 y5"}""").map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-sci", "name": "sci", "steps": [
         |  { "step": "clean", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "span_clean_indexed", "cols": ["id", "text"],
         |        "expr": "3,3", "name": "$idxDir" },
         |      { "op": "select", "cols": ["id", "text", "n_removed"] } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val rows = spark.read.json(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("text"),
        r.getAs[Long]("n_removed"))).sortBy(_._1)
    assert(rows.toSeq === Seq((10L, "x1 x2", 3L), (11L, "y1 y2 y3 y4 y5", 0L)))
    // read-only contract: the op left the index directory untouched
    assert(new java.io.File(idxDir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq === Seq("batch=0"))
  }

  test("declared substring_dedup_indexed cuts runs owned by indexed docs, read-only") {
    import spark.implicits._
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_cfg_ssi_idx").toString
    // persisted history: doc 1 owns the 4-token run
    graft.llm.CorpusStats.substrKeeperIndex(
      Seq((1L, "h1a shared run of tokens h1b")).toDF("id", "text"),
      "id", "text", minRunTokens = 4)
      .write.parquet(s"$idxDir/batch=0")
    // fresh doc 10 repeats the run (keeper id 1 < 10 → cut); doc 11 clean
    val docs = Seq((10L, "x1 shared run of tokens x2"),
      (11L, "y1 y2 y3 y4 y5")).toDF("id", "text")
    val outRows = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "substring_dedup_indexed",
        cols = Seq("id", "text"), expr = Some("4"), name = Some(idxDir))))
      .select("id", "text", "n_removed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(outRows.toSeq === Seq((10L, "x1 x2", 4L),
      (11L, "y1 y2 y3 y4 y5", 0L)))
    // read-only contract: the op left the index directory untouched
    assert(new java.io.File(idxDir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
      === Seq("batch=0"))
  }

  test("declared decontaminate_near drops rows near-duplicating the reference") {
    import spark.implicits._
    val refDir = java.nio.file.Files.createTempDirectory("graft_cfg_dcn_ref").toString + "/ref"
    // reference: a truncated copy of doc 1's text (jaccard ≈ .79 > .5)
    Seq((901L, (1 to 32).map(i => s"tok$i").mkString(" ")))
      .toDF("id", "text").write.parquet(refDir)
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_dcn").toString + "/j"
    val contaminated = (1 to 40).map(i => s"tok$i").mkString(" ")
    val clean = (100 to 140).map(i => s"w$i").mkString(" ")
    val lines = Seq(
      s"""{"id":1,"text":"$contaminated"}""",
      s"""{"id":2,"text":"$clean"}""").map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-dcn", "name": "dcn", "steps": [
         |  { "step": "gate", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "decontaminate_near", "cols": ["id", "text"],
         |        "expr": "3,0.5", "name": "$refDir" },
         |      { "op": "select", "cols": ["id"] } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val ids = spark.read.json(out).collect().map(_.getAs[Long]("id")).toSeq
    assert(ids === Seq(2L))
  }

  test("declared para_clean_indexed cleans against a persisted index, read-only") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("graft_cfg_pci_idx").toString
    // persisted history: 3 docs with the footer paragraph → para df = 3
    graft.llm.CorpusStats.paraDfIndex(
      (1 to 3).map(i => (i.toLong, s"history $i\npromo footer"))
        .toDF("id", "text"), "id", "text")
      .write.parquet(s"$idxDir/batch=0")
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_pci").toString + "/j"
    val nl = "\\\\n"
    // fresh doc 10 carries the footer (merged df 4 > maxDf 3 → cut);
    // doc 11 is clean and must pass through verbatim
    val lines = Seq(
      s"""{"id":10,"text":"fresh body${nl}promo footer"}""",
      """{"id":11,"text":"clean doc"}""").map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-pci", "name": "pci", "steps": [
         |  { "step": "clean", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "para_clean_indexed", "cols": ["id", "text"],
         |        "expr": "3", "name": "$idxDir" },
         |      { "op": "select", "cols": ["id", "text", "n_removed"] } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val rows = spark.read.json(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("text"),
        r.getAs[Long]("n_removed"))).sortBy(_._1)
    assert(rows.toSeq === Seq((10L, "fresh body", 1L), (11L, "clean doc", 0L)))
    // read-only contract: the op left the index directory untouched
    assert(new java.io.File(idxDir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq === Seq("batch=0"))
  }

  test("declared tfidf_indexed ranks against a persisted term-df index, read-only") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("graft_cfg_tfi_idx").toString
    // persisted history: "common" appears in 3 prior docs
    graft.llm.CorpusStats.termDfIndex(
      (1 to 3).map(i => (i.toLong, s"common uniq$i")).toDF("id", "text"),
      "id", "text")
      .write.parquet(s"$idxDir/batch=0")
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_tfi").toString + "/j"
    // fresh doc: "rare" (merged df 1) must outrank "common" (merged df 4)
    val lines = Seq("""{"id":10,"text":"common rare"}""")
      .map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-tfi", "name": "tfi", "steps": [
         |  { "step": "rank", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "tfidf_indexed", "cols": ["id", "text"],
         |        "expr": "1", "name": "$idxDir" } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val rows = spark.read.json(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("term"),
        r.getAs[Long]("df"), r.getAs[Long]("rank")))
    assert(rows.toSeq === Seq((10L, "rare", 1L, 1L)))
    assert(new java.io.File(idxDir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq === Seq("batch=0"))
  }

  test("declared profile baseline then drift gate flags a null regression") {
    val baseDir = java.nio.file.Files.createTempDirectory("graft_cfg_prof").toString + "/baseline"
    val goodLines = (1 to 4).map(i => s"""{"id":$i,"name":"n$i"}""")
      .map(_.replace("\"", "\\\""))
    val profileConf = PipelineConfig.parse(
      s"""{ "id": "cfg-prof", "name": "prof", "steps": [
         |  { "step": "baseline", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, name STRING",
         |      "lines": [${goodLines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [ { "op": "profile", "cols": ["id", "name"] } ],
         |    "sink": { "type": "parquet", "path": "$baseDir" } } ] }""".stripMargin)
    PipelineConfig.run(spark, profileConf, new InMemoryStore)
    assert(spark.read.parquet(baseDir).count() === 2) // one row per column

    // current batch: half the names are NULL → null_fraction drift on name
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_drift").toString + "/j"
    val badLines = (Seq(s"""{"id":1,"name":"n1"}""", s"""{"id":2,"name":"n2"}""") ++
      Seq("""{"id":3}""", """{"id":4}""")).map(_.replace("\"", "\\\""))
    val driftConf = PipelineConfig.parse(
      s"""{ "id": "cfg-drift", "name": "drift", "steps": [
         |  { "step": "gate", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, name STRING",
         |      "lines": [${badLines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "drift", "cols": ["id", "name"], "name": "$baseDir" } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, driftConf, new InMemoryStore)
    val flagged = spark.read.json(out).collect()
      .map(r => (r.getAs[String]("column"), r.getAs[String]("metric")))
    assert(flagged.contains(("name", "null_fraction")), flagged.mkString(", "))
    assert(!flagged.exists(_._1 == "id"), "id column falsely flagged")
  }

  test("max_errors aborts a declared pipeline (simple-pipeline max-error case)") {
    val store = new InMemoryStore
    val conf = PipelineConfig.parse(confJson(
      java.nio.file.Files.createTempDirectory("graft_cfg_err").toString + "/j"))
      .copy(maxErrors = 1, id = "cfg2")
    intercept[TooManyErrors] { PipelineConfig.run(spark, conf, store) }
    val st = JobState.fromJson(store.load(JobState.docName("cfg2", "simple")).get)
    assert(st.streams("transformed-ds-1").status === JobState.Error)
    assert(st.fatalError.isDefined)
  }

  test("load autocreates a default config skeleton (load_toml parity)") {
    val p = java.nio.file.Files.createTempDirectory("graft_cfg").resolve("job.json")
    val cfg = PipelineConfig.load(p.toString, autocreate = true)
    assert(cfg.id === "job-id" && java.nio.file.Files.exists(p))
    // and it round-trips through the file it just wrote
    assert(PipelineConfig.load(p.toString) === cfg)
    intercept[RuntimeException] { PipelineConfig.load(p.toString + ".missing") }
  }

  test("file-backed sources work through the config layer (csv_files)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg_csv")
    java.nio.file.Files.write(dir.resolve("a.csv"),
      "1,alpha\n2,beta\nnot-an-int,gamma\n".getBytes)
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_csv_out").toString + "/p"
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg3", "name": "csv", "steps": [
         |  { "step": "ingest", "kind": "stream",
         |    "source": { "type": "csv_files", "paths": ["$dir/*.csv"],
         |      "schema": "k INT, v STRING" },
         |    "transforms": [ { "op": "filter", "expr": "k > 1" } ],
         |    "sink": { "type": "parquet", "path": "$out" } } ] }""".stripMargin)
    val st = PipelineConfig.run(spark, conf, new InMemoryStore)
    val s = st.streams("ingest")
    assert(s.totalLinesScanned === 3 && s.numErrors === 1)
    assert(s.outputs.map(_.linesWritten) === List(1L))
    assert(spark.read.parquet(out).count() === 1)
  }

  test("parquet and orc sources see input rewritten between runs") {
    import spark.implicits._
    for (format <- Seq("parquet", "orc")) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_cfg_rewrite_$format").toString
      val conf = PipelineConfig.parse(
        s"""{ "id": "cfg_$format", "name": "rewrite", "steps": [
           |  { "step": "copy", "kind": "stream",
           |    "source": { "type": "$format", "paths": ["$root/in"] },
           |    "sink": { "type": "parquet", "path": "$root/out",
           |              "mode": "overwrite" } } ] }""".stripMargin)
      def runOnce() = {
        PipelineConfig.run(spark, conf, new InMemoryStore)
        val out = spark.read.parquet(s"$root/out")
        (out.columns.toSeq, out.orderBy("k").collect().map(_.toSeq).toSeq)
      }
      Seq((1, "a"), (2, "b")).toDF("k", "v").write.format(format).save(s"$root/in")
      assert(runOnce() === (Seq("k", "v"), Seq(Seq(1, "a"), Seq(2, "b"))))
      // new rows, k re-typed and a column added: the second run must see all of it
      Seq((3L, "c", 0.5)).toDF("k", "v", "w").write.mode("overwrite").format(format)
        .save(s"$root/in")
      assert(runOnce() === (Seq("k", "v", "w"), Seq(Seq(3L, "c", 0.5))), format)
    }
  }

  test("declared gopher_gate filters and annotates with the rule suite") {
    val outF = java.nio.file.Files.createTempDirectory("graft_cfg_gq").toString + "/f"
    val outA = java.nio.file.Files.createTempDirectory("graft_cfg_gq").toString + "/a"
    // doc 1: 60 distinct words + stopwords → passes; doc 2: too short
    val good = (1 to 60).map(i => s"word$i").mkString(" ") + " the of and"
    val lines = Seq(
      s"""{"id":1,"text":"$good"}""",
      """{"id":2,"text":"too short the of"}""")
      .map(_.replace("\"", "\\\""))
    def conf(mode: String, out: String) = PipelineConfig.parse(
      s"""{ "id": "cfg-gq-$mode", "name": "gq", "steps": [
         |  { "step": "gate", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "gopher_gate", "cols": ["id", "text"], "name": "$mode" } ],
         |    "sink": { "type": "parquet", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf("filter", outF), new InMemoryStore)
    val kept = spark.read.parquet(outF).collect()
    assert(kept.map(_.getAs[Long]("id")).toSeq === Seq(1L))
    assert(kept.head.schema.fieldNames.toSet === Set("id", "text"))
    PipelineConfig.run(spark, conf("annotate", outA), new InMemoryStore)
    val ann = spark.read.parquet(outA)
    assert(ann.count() === 2)
    assert(ann.columns.contains("gopher_keep") &&
      ann.columns.contains("dup_5gram_char_frac"))
  }

  test("declared blocklist drops docs containing banned phrases") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_bl").toString + "/p"
    val lines = Seq(
      """{"id":1,"text":"clean doc here"}""",
      """{"id":2,"text":"has a bad phrase inside"}""",
      """{"id":3,"text":"badphrase is fine as one word"}""")
      .map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-bl", "name": "bl", "steps": [
         |  { "step": "f", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "blocklist", "cols": ["id", "text", "bad phrase"] } ],
         |    "sink": { "type": "parquet", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val kept = spark.read.parquet(out).collect().map(_.getAs[Long]("id")).toSet
    assert(kept === Set(1L, 3L)) // token-exact: 'badphrase' survives
  }

  test("declared bm25_select keeps only the top-k relevant rows") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_bm25").toString + "/p"
    val lines = Seq(
      """{"id":1,"text":"apple banana cherry apple"}""",
      """{"id":2,"text":"iron copper zinc iron"}""",
      """{"id":3,"text":"apple cherry banana apple banana"}""",
      """{"id":4,"text":"zinc copper iron zinc"}""",
      """{"id":5,"text":"cherry cherry cherry"}""")
      .map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-bm25", "name": "bm25", "steps": [
         |  { "step": "select", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "bm25_select", "cols": ["id", "text"],
         |        "expr": "apple banana", "name": "2" } ],
         |    "sink": { "type": "parquet", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val kept = spark.read.parquet(out).collect()
    // the two fruit docs that actually contain the query terms win
    assert(kept.map(_.getAs[Long]("id")).toSet === Set(1L, 3L))
    assert(kept.head.schema.fieldNames.toSet === Set("id", "text"))
  }

  test("declared dsir_select keeps the most target-like rows") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_dsir").toString + "/p"
    val lines = Seq(
      """{"id":1,"text":"apple banana cherry apple","grp":"t"}""",
      """{"id":2,"text":"banana cherry apple banana","grp":"t"}""",
      """{"id":3,"text":"iron copper zinc iron","grp":"r"}""",
      """{"id":4,"text":"apple cherry banana apple","grp":"r"}""",
      """{"id":5,"text":"zinc copper iron zinc","grp":"r"}""")
      .map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-dsir", "name": "dsir", "steps": [
         |  { "step": "select", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING, grp STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "dsir_select", "cols": ["id", "text"],
         |        "expr": "grp = 't'", "name": "3" } ],
         |    "sink": { "type": "parquet", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val kept = spark.read.parquet(out).collect()
    assert(kept.length === 3)
    // the 3 most target-like are the fruit-vocab docs, original columns kept
    assert(kept.map(_.getAs[Long]("id")).toSet === Set(1L, 2L, 4L))
    assert(kept.head.schema.fieldNames.toSet === Set("id", "text", "grp"))
  }

  test("declared html_clean and curriculum compose in one pipeline") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_cur2").toString + "/p"
    val lines = Seq(
      """{"id":1,"text":"<p>alpha beta</p>","grp":"a"}""",
      """{"id":2,"text":"gamma &amp; delta","grp":"a"}""",
      """{"id":3,"text":"plain text here","grp":"b"}""")
      .map(_.replace("\"", "\\\""))
    val conf = PipelineConfig.parse(
      s"""{ "id": "cfg-cur2", "name": "order", "steps": [
         |  { "step": "order", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "id LONG, text STRING, grp STRING",
         |      "lines": [${lines.map("\"" + _ + "\"").mkString(",")}] },
         |    "transforms": [
         |      { "op": "html_clean", "cols": ["text"] },
         |      { "op": "curriculum", "cols": ["grp", "id"],
         |        "expr": "a:2, b:1" } ],
         |    "sink": { "type": "parquet", "path": "$out" } } ] }""".stripMargin)
    PipelineConfig.run(spark, conf, new InMemoryStore)
    val rows = spark.read.parquet(out)
      .orderBy("schedule_pos").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq === Seq(1L, 2L, 3L))
    val byId = rows.map(r =>
      r.getAs[Long]("id") -> r.getAs[String]("text")).toMap
    assert(byId(1L) === "alpha beta")
    assert(byId(2L) === "gamma & delta")
  }

  test("declared mmr keeps the diverse top-k, not the relevance top-k") {
    import spark.implicits._
    // doc 2 is a near-copy of the most relevant doc 1; MMR must skip it
    // for the orthogonal doc 3 (relevance alone would pick {1, 2})
    val docs = Seq(
      (1L, Seq(1.0, 0.0), 2000000L),
      (2L, Seq(1.0, 0.01), 1900000L),
      (3L, Seq(0.0, 1.0), 1500000L),
      (4L, Seq(0.0, 0.9), 100000L)).toDF("doc_id", "vec", "rel")
    val out = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "mmr",
        cols = Seq("doc_id", "vec"), expr = Some("rel"), name = Some("2"))))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L))
    assert(out.columns.contains("sel_rank") &&
      out.columns.contains("mmr_score_micro"))
  }

  test("declared unigram_encode and bpe_encode annotate tokenizer counts") {
    import spark.implicits._
    val docs = Seq((1L, "aa ab aa"), (2L, "ab ab"), (3L, "ba aa"))
      .toDF("doc_id", "text")
    val ue = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "unigram_encode",
        cols = Seq("doc_id", "text"), expr = Some("16,2"))))
    assert(ue.count() === 3)
    assert(Seq("n_words", "n_pieces", "nll_micro").forall(ue.columns.contains))
    val be = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "bpe_encode",
        cols = Seq("doc_id", "text"), expr = Some("2"))))
    assert(be.count() === 3)
    assert(be.columns.contains("n_bpe_tokens"))
    // with 'aa' minable as one merge, doc 1's bpe count drops below its
    // character count — proof the mined table was actually applied
    val c1 = be.filter($"doc_id" === 1).select("n_bpe_tokens")
      .collect().head.getLong(0)
    assert(c1 < 6, s"doc 1 bpe token count $c1 shows no merge applied")
    val wp = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "wordpiece_encode",
        cols = Seq("doc_id", "text"), expr = Some("2,2,2"))))
    assert(wp.count() === 3)
    assert(Seq("n_words", "n_pieces", "n_unk").forall(wp.columns.contains))
  }

  test("declared collocations replaces the frame with the PMI table") {
    import spark.implicits._
    val docs = (1 to 8).map(i => (i.toLong, "strong coffee " * 3 + s"u$i"))
      .toDF("doc_id", "text")
    val out = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "collocations",
        cols = Seq("text"), expr = Some("4,5"))))
    assert(Seq("w1", "w2", "c2", "pmi_micro", "rank")
      .forall(out.columns.contains))
    val top = out.orderBy("rank").select("w1", "w2").collect().head
    assert((top.getString(0), top.getString(1)) === ("strong", "coffee"))
  }

  test("declared dedup_image drops perceptual near-dups of a binary column") {
    import spark.implicits._
    // 1 and 2 are the same scene at different resolution+codec; 3 differs
    val docs = Seq(
      (1L, graft.llm.ImageHash.synthPng(42L, 64, 48)),
      (2L, graft.llm.ImageHash.synthJpeg(42L, 96, 72)),
      (3L, graft.llm.ImageHash.synthPng(43L, 64, 48)))
      .toDF("media_id", "media")
    val kept = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "dedup_image",
        cols = Seq("media_id", "media"))))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
    // the DCT hash variant reaches the same verdict on this corpus
    val keptP = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "dedup_image",
        cols = Seq("media_id", "media"), name = Some("phash"))))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(keptP === Set(1L, 3L))
  }

  test("declared chat_format, loss_mask, pref_pairs ops") {
    import spark.implicits._
    val convo = Seq((1L, 1L, "user", "hi"), (1L, 2L, "assistant", "yo"))
      .toDF("conv", "ord", "role", "content")
    val text = PipelineConfig.applyTransforms(convo, Seq(
      PipelineConfig.TransformConf(op = "chat_format",
        cols = Seq("conv", "ord", "role", "content"))))
    assert(text.select("chat_text").head().getString(0)
      === "<|user|>hi\n<|assistant|>yo\n")
    val mask = PipelineConfig.applyTransforms(convo, Seq(
      PipelineConfig.TransformConf(op = "loss_mask",
        cols = Seq("conv", "ord", "role", "content"))))
    assert(mask.select("span_start", "span_end").head()
      .toSeq === Seq(24L, 26L))
    val pairs = PipelineConfig.applyTransforms(
      Seq((1L, "a", 3L), (2L, "a", 9L)).toDF("id", "g", "sc"), Seq(
        PipelineConfig.TransformConf(op = "pref_pairs",
          cols = Seq("g", "id"), expr = Some("sc"))))
    assert(pairs.select("chosen_id", "rejected_id", "margin").head()
      .toSeq === Seq(2L, 1L, 6L))
  }

  test("declared validate_chat and dedup_fuzzy ops") {
    import spark.implicits._
    val convo = Seq((1L, 1L, "user", "hi"), (1L, 2L, "user", "again"))
      .toDF("conv", "ord", "role", "content")
    val audit = PipelineConfig.applyTransforms(convo, Seq(
      PipelineConfig.TransformConf(op = "validate_chat",
        cols = Seq("conv", "ord", "role", "content"))))
    val r = audit.select("n_role_repeats", "valid").head()
    assert(r.toSeq === Seq(1L, 0L))
    val fuzzy = PipelineConfig.applyTransforms(
      Seq((1L, "the quick brown fox"), (2L, "the quick briwn fox"),
        (3L, "completely different!!")).toDF("id", "k"), Seq(
        PipelineConfig.TransformConf(op = "dedup_fuzzy",
          cols = Seq("id", "k"), expr = Some("2"))))
    assert(fuzzy.select("id").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("declared canonicalize_url, oov_rate, kappa ops") {
    import spark.implicits._
    val urls = Seq((1L, "HTTP://A.com:80/x?b=1&a=2#f")).toDF("id", "u")
    val cu = PipelineConfig.applyTransforms(urls, Seq(
      PipelineConfig.TransformConf(op = "canonicalize_url", cols = Seq("u"))))
    assert(cu.select("canonical_url").head().getString(0)
      === "http://a.com/x?a=2&b=1")
    val dir = java.nio.file.Files.createTempDirectory("oovcfg").toString
    Seq("aa", "bb").toDF("word").write.mode("overwrite").parquet(s"$dir/v")
    val docs = Seq((1L, "aa zz")).toDF("doc_id", "text")
    val ov = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "oov_rate",
        cols = Seq("doc_id", "text"), name = Some(s"$dir/v"))))
    assert(ov.select("n_oov", "oov_micro").head().toSeq === Seq(1L, 500000L))
    val kp = PipelineConfig.applyTransforms(
      Seq(("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")).toDF("a", "b"), Seq(
        PipelineConfig.TransformConf(op = "kappa", cols = Seq("a", "b"))))
    assert(kp.select("kappa_micro").head().getLong(0) === 0L)
  }

  test("declared bt_strength op") {
    import spark.implicits._
    val log = Seq(("a", "b"), ("a", "b"), ("b", "c")).toDF("w", "l")
    val bt = PipelineConfig.applyTransforms(log, Seq(
      PipelineConfig.TransformConf(op = "bt_strength", cols = Seq("w", "l"))))
    val m = bt.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet === Set("a", "b", "c"))
    assert(m("a") > m("b") && m("b") > m("c"))
  }

  test("declared fleiss and decontaminate_sem ops") {
    import spark.implicits._
    val ratings = Seq(("A", "x"), ("A", "x"), ("B", "x"), ("B", "y"))
      .toDF("item", "lbl")
    val fk = PipelineConfig.applyTransforms(ratings, Seq(
      PipelineConfig.TransformConf(op = "fleiss", cols = Seq("item", "lbl"))))
    assert(fk.columns.toSeq ===
      Seq("n_items", "n_raters", "sa", "s2", "kappa_micro"))
    assert(fk.head().getLong(0) === 2L)
    // the ragged form routes through krippendorff (m = 3 and 2)
    val ka = PipelineConfig.applyTransforms(
      ratings.union(Seq(("A", "x")).toDF("item", "lbl")), Seq(
        PipelineConfig.TransformConf(op = "krippendorff",
          cols = Seq("item", "lbl"))))
    assert(ka.columns.toSeq ===
      Seq("n_items", "n_ratings", "m_kinds", "alpha_micro"))
    assert(ka.head().getLong(2) === 2L)
    val dir = java.nio.file.Files.createTempDirectory("semcfg").toString
    Seq((100L, Array(1.0, 0.0))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/ref")
    val corpus = Seq((1L, Array(0.99, 0.01)), (2L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val sc = PipelineConfig.applyTransforms(corpus, Seq(
      PipelineConfig.TransformConf(op = "decontaminate_sem",
        cols = Seq("vec_id", "embedding"), name = Some(s"$dir/ref"))))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(sc === Map(1L -> true, 2L -> false))
    // ROUGE-L gate drops the near-verbatim doc, keeps the unrelated one
    Seq((900L, "the dog sat on the mat")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/rref")
    val rl = PipelineConfig.applyTransforms(
      Seq((1L, "the cat sat on mat"), (2L, "unrelated words entirely"))
        .toDF("doc_id", "text"),
      Seq(PipelineConfig.TransformConf(op = "decontaminate_rougel",
        cols = Seq("doc_id", "text"), name = Some(s"$dir/rref"))))
    assert(rl.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("declared embedding ops: train_centroids → semdedup through " +
      "JobRunner, kmeans assignment") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("embcfg").toString
    // deterministic corpus: two tight families (scaled copies quantize
    // identically) + singletons, written as the pipeline's parquet input
    val corpus = (0L until 20L).map { i =>
      val base = Array.tabulate(8)(j => math.sin(i % 5 + j * 0.7) + 2.0)
      (i, base.map(_ * (1.0 + 0.1 * (i / 5))).toSeq)
    }.toDF("vec_id", "embedding")
    corpus.write.mode("overwrite").parquet(s"$dir/in")
    val conf = PipelineConfig.parse(
      s"""{ "id": "emb1", "name": "semdedup-chain", "steps": [
         |  { "step": "train", "kind": "stream",
         |    "source": { "type": "parquet", "paths": ["$dir/in"] },
         |    "transforms": [ { "op": "train_centroids",
         |      "cols": ["vec_id", "embedding"], "expr": "4,2" } ],
         |    "sink": { "type": "parquet", "path": "$dir/cents" } },
         |  { "step": "dedup", "kind": "stream",
         |    "source": { "type": "parquet", "paths": ["$dir/in"] },
         |    "transforms": [ { "op": "semdedup",
         |      "cols": ["vec_id", "embedding"], "name": "$dir/cents",
         |      "expr": "0.99" } ],
         |    "sink": { "type": "parquet", "path": "$dir/out" } } ] }""".stripMargin)
    // declared surface round-trips
    assert(PipelineConfig.parse(PipelineConfig.toJson(conf)) === conf)
    val st = PipelineConfig.run(spark, conf, new InMemoryStore)
    assert(st.streams("train").status === JobState.Complete)
    assert(st.streams("dedup").status === JobState.Complete)
    // the persisted centroid table IS the intCentroidTable output
    val cents = spark.read.parquet(s"$dir/cents")
    assert(cents.columns.sorted.toSeq === Seq("cid", "q"))
    assert(cents.count() === 4L)
    // config survivors ≡ direct semDedupFrozen over the same frozen table
    val direct = graft.llm.Similarity
      .semDedupFrozen(spark.read.parquet(s"$dir/in"), cents, 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val viaCfg = spark.read.parquet(s"$dir/out")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaCfg === direct)
    // a scaled family deduplicates: strictly fewer survivors than rows
    assert(viaCfg.size < 20 && viaCfg.nonEmpty)
    // kmeans reshape ≡ kmeansInt8
    val viaOp = PipelineConfig.applyTransforms(corpus, Seq(
      PipelineConfig.TransformConf(op = "kmeans",
        cols = Seq("vec_id", "embedding"), expr = Some("3,2"))))
    assert(viaOp.columns.toSeq === Seq("vec_id", "cluster", "dist"))
    val directK = graft.llm.Similarity.kmeansInt8(corpus, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaOp.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === directK)
    // ann_topk reshape ≡ annTopK against persisted query vectors
    corpus.filter($"vec_id" < 3).write.mode("overwrite").parquet(s"$dir/q")
    def annImg(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val viaAnn = annImg(PipelineConfig.applyTransforms(corpus, Seq(
      PipelineConfig.TransformConf(op = "ann_topk",
        cols = Seq("vec_id", "embedding"), name = Some(s"$dir/q"),
        expr = Some("5")))))
    assert(viaAnn === annImg(graft.llm.Similarity.annTopK(
      spark.read.parquet(s"$dir/q"), corpus, 5)))
    assert(viaAnn.nonEmpty)
  }

  test("declared ANN surface completed: ann_ivf, ann_pq, cosine_neardup " +
      "≡ direct calls, near-dup chain through JobRunner") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("anncfg").toString
    // same deterministic two-family corpus as the semdedup chain test:
    // scaled copies quantize identically, so near-dup pairs exist
    val corpus = (0L until 20L).map { i =>
      val base = Array.tabulate(8)(j => math.sin(i % 5 + j * 0.7) + 2.0)
      (i, base.map(_ * (1.0 + 0.1 * (i / 5))).toSeq)
    }.toDF("vec_id", "embedding")
    corpus.write.mode("overwrite").parquet(s"$dir/in")
    corpus.filter($"vec_id" < 3).write.mode("overwrite").parquet(s"$dir/q")
    def img(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    // ann_ivf reshape ≡ ivfTopK (deterministic md5-sample training —
    // no persisted quantizer state needed for declared ≡ direct)
    val viaIvf = img(PipelineConfig.applyTransforms(corpus, Seq(
      PipelineConfig.TransformConf(op = "ann_ivf",
        cols = Seq("vec_id", "embedding"), name = Some(s"$dir/q"),
        expr = Some("4")))))
    assert(viaIvf === img(graft.llm.Similarity.ivfTopK(
      spark.read.parquet(s"$dir/q"), corpus, 4)) && viaIvf.nonEmpty)
    // ann_pq reshape ≡ pqTopK at explicit subspace/codebook params
    val viaPq = img(PipelineConfig.applyTransforms(corpus, Seq(
      PipelineConfig.TransformConf(op = "ann_pq",
        cols = Seq("vec_id", "embedding"), name = Some(s"$dir/q"),
        expr = Some("4,4,8,8")))))
    assert(viaPq === img(graft.llm.Similarity.pqTopK(
      spark.read.parquet(s"$dir/q"), corpus, 4, m = 4, codebookSize = 8,
      rerank = 8)) && viaPq.nonEmpty)
    // cosine_neardup through a DECLARED JobRunner pipeline: parse →
    // round-trip → run → persisted pairs ≡ direct cosineNearDups
    val conf = PipelineConfig.parse(
      s"""{ "id": "ann1", "name": "neardup-chain", "steps": [
         |  { "step": "pairs", "kind": "stream",
         |    "source": { "type": "parquet", "paths": ["$dir/in"] },
         |    "transforms": [ { "op": "cosine_neardup",
         |      "cols": ["vec_id", "embedding"], "expr": "0.999" } ],
         |    "sink": { "type": "parquet", "path": "$dir/pairs" } } ] }"""
        .stripMargin)
    assert(PipelineConfig.parse(PipelineConfig.toJson(conf)) === conf)
    val st = PipelineConfig.run(spark, conf, new InMemoryStore)
    assert(st.streams("pairs").status === JobState.Complete)
    def pairImg(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaCfg = pairImg(spark.read.parquet(s"$dir/pairs"))
    assert(viaCfg === pairImg(
      graft.llm.Similarity.cosineNearDups(corpus, 0.999)))
    // the planted scaled families collide in every table at sim 1.0
    assert(viaCfg.nonEmpty && viaCfg.forall(_._3 >= 0.999))
  }

  test("config-driven multimodal capstone: declared gate → dedup → decon " +
      "→ mixture reproduces pipeline_multimodal through JobRunner") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.llm.{ImageHash, VideoHash}
    val dir = java.nio.file.Files.createTempDirectory("mmcfg").toString
    // regenerate pipeline_multimodal's media corpora (same formulas) and
    // persist them as the parquet inputs a user's config would point at
    val ids = Tables(spark, sf0001).documents
      .select(col("doc_id").cast("long")).orderBy("doc_id").limit(160)
      .as[Long].collect().toSeq
    ids.flatMap { id =>
      val base =
        if (id % 10 == 3)
          (id, Array.tabulate(64)(i => ((id * 31 + i) % 251).toByte))
        else (id, ImageHash.synthPng(id, 64, 48))
      if (id % 4 == 0)
        Seq(base, (id + 1000000L, ImageHash.synthJpeg(id, 96, 72)))
      else Seq(base)
    }.toDF("media_id", "media")
      .write.mode("overwrite").parquet(s"$dir/images")
    ids.filter(_ % 8 == 2)
      .map(id => (id + 2000000L, ImageHash.synthJpeg(id, 128, 96)))
      .toDF("media_id", "media")
      .write.mode("overwrite").parquet(s"$dir/imgref")
    ids.take(120).flatMap { id =>
      val n = 3 + (id % 4).toInt
      val base = (id, VideoHash.synthGif(id, 64, 48, n))
      if (id % 4 == 0)
        Seq(base, (id + 1000000L, VideoHash.synthGifSlice(id, 96, 72, 1, n)))
      else Seq(base)
    }.toDF("media_id", "media")
      .write.mode("overwrite").parquet(s"$dir/videos")
    val conf = PipelineConfig.parse(
      s"""{ "id": "mm1", "name": "multimodal", "steps": [
         |  { "step": "img", "kind": "stream",
         |    "source": { "type": "parquet", "paths": ["$dir/images"] },
         |    "transforms": [
         |      { "op": "image_gate", "cols": ["media_id", "media"] },
         |      { "op": "dedup_image", "cols": ["media_id", "media"],
         |        "expr": "3" },
         |      { "op": "decontaminate_image",
         |        "cols": ["media_id", "media"], "name": "$dir/imgref",
         |        "expr": "3" },
         |      { "op": "withColumn", "name": "modality", "expr": "'image'" },
         |      { "op": "select", "cols": ["media_id", "modality"] } ],
         |    "sink": { "type": "parquet", "path": "$dir/outimg" } },
         |  { "step": "vid", "kind": "stream",
         |    "source": { "type": "parquet", "paths": ["$dir/videos"] },
         |    "transforms": [
         |      { "op": "dedup_video", "cols": ["media_id", "media"],
         |        "expr": "500" },
         |      { "op": "withColumn", "name": "modality", "expr": "'video'" },
         |      { "op": "select", "cols": ["media_id", "modality"] } ],
         |    "sink": { "type": "parquet", "path": "$dir/outvid" } },
         |  { "step": "mix", "kind": "stream",
         |    "source": { "type": "parquet",
         |      "paths": ["$dir/outimg", "$dir/outvid"] },
         |    "transforms": [
         |      { "op": "withColumn", "name": "source",
         |        "expr": "CAST(pmod(media_id, 5) AS STRING)" },
         |      { "op": "withColumn", "name": "grp",
         |        "expr": "concat(modality, ':', source)" },
         |      { "op": "cap_per_group", "cols": ["grp", "media_id"],
         |        "expr": "-media_id", "name": "15" },
         |      { "op": "select",
         |        "cols": ["media_id", "modality", "source", "rank"] } ],
         |    "sink": { "type": "parquet", "path": "$dir/outmix" } } ] }"""
        .stripMargin)
    assert(PipelineConfig.parse(PipelineConfig.toJson(conf)) === conf)
    val st = PipelineConfig.run(spark, conf, new InMemoryStore)
    assert(Seq("img", "vid", "mix")
      .forall(s => st.streams(s).status === JobState.Complete))
    def img(df: org.apache.spark.sql.DataFrame) = df
      .select($"media_id", $"modality", $"source", $"rank")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    val viaCfg = img(spark.read.parquet(s"$dir/outmix"))
    val direct = img(
      graft.queries.LlmOps.queries("pipeline_multimodal")(spark, sf0001))
    assert(viaCfg === direct,
      "declared multimodal chain diverged from pipeline_multimodal")
    assert(viaCfg.nonEmpty && viaCfg.exists(_._2 == "image") &&
      viaCfg.exists(_._2 == "video"))
  }

  test("declared dedup_video op") {
    import spark.implicits._
    import graft.llm.VideoHash
    val clips = Seq(
      (1L, VideoHash.synthGif(5L, 64, 48, 4)),
      (2L, VideoHash.synthGifSlice(5L, 96, 72, 1, 4)),
      (3L, VideoHash.synthGif(6L, 64, 48, 4))).toDF("media_id", "media")
    val kept = PipelineConfig.applyTransforms(clips, Seq(
      PipelineConfig.TransformConf(op = "dedup_video",
        cols = Seq("media_id", "media"))))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
  }

  test("declared ess, zipf, and scripts ops") {
    import spark.implicits._
    val docs = Seq((1L, "aa aa aa aa bb bb cc"), (2L, "Привет мир"))
      .toDF("doc_id", "text")
    val ess = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "ess",
        expr = Some("length(text)"))))
    assert(ess.columns.toSeq === Seq("n", "ess_micro"))
    val z = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "zipf", cols = Seq("text"),
        name = Some("3"))))
    assert(z.columns.toSeq ===
      Seq("k_eff", "f_k", "sum_ln_micro", "hill_alpha_micro"))
    assert(z.head().getLong(0) === 3L)
    val sc = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "scripts", cols = Seq("text"))))
    assert(sc.columns.contains("cyrillic") && sc.columns.contains("dominant"))
    assert(sc.filter($"doc_id" === 2L).head()
      .getAs[String]("dominant") === "cyrillic")
  }

  test("declared skew_report op") {
    import spark.implicits._
    val r = PipelineConfig.applyTransforms(
      Seq("a", "b", "c", "c").toDF("k"),
      Seq(PipelineConfig.TransformConf(op = "skew_report",
        cols = Seq("k"))))
    assert(r.columns.toSeq === Seq("n_rows", "n_keys", "max_count",
      "min_count", "mean_count_micro", "top1_share_micro", "gini_micro"))
    assert(r.head().getLong(6) === 166666L)
  }

  test("declared perceptron_filter op: filter and annotate modes") {
    import spark.implicits._
    val docs = Seq((1L, "good good", true), (2L, "bad", false))
      .toDF("doc_id", "text", "lbl")
    val kept = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "perceptron_filter",
        cols = Seq("doc_id", "text"), expr = Some("lbl"))))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    val ann = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "perceptron_filter",
        cols = Seq("doc_id", "text"), expr = Some("lbl"),
        name = Some("annotate"))))
    assert(ann.columns.toSet ===
      Set("doc_id", "text", "lbl", "margin", "pred"))
    assert(ann.count() === 2L)
  }

  test("declared shard_manifest op") {
    import spark.implicits._
    val docs = Seq((0L, 1L, "a b"), (0L, 2L, "c"), (1L, 3L, "d e f"))
      .toDF("sh", "id", "text")
    val m = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "shard_manifest",
        cols = Seq("sh", "id", "text"))))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(m === Map(0L -> ((2L, 3L)), 1L -> ((1L, 3L))))
  }

  test("declared weighted_sample op") {
    import spark.implicits._
    val df = (1L to 30L).map(i => ("g", i, i)).toDF("grp", "id", "wt")
    val got = PipelineConfig.applyTransforms(df, Seq(
      PipelineConfig.TransformConf(op = "weighted_sample",
        cols = Seq("grp", "id"), expr = Some("wt"), name = Some("4"))))
    assert(got.count() === 4L)
    assert(got.columns.toSet.contains("sel_rank"))
  }

  test("declared cms and hll sketch ops") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val cms = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "cms", cols = Seq("text"),
        expr = Some("3,4,64"))))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(cms("a")._1 === 3L && cms("a")._2 >= 3L)
    val hll = PipelineConfig.applyTransforms(
      (1 to 50).map(i => ("g", s"v$i")).toDF("grp", "v"), Seq(
        PipelineConfig.TransformConf(op = "hll", cols = Seq("grp", "v"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(hll("g") - 50L) <= 8L)
  }

  test("declared snapshot_diff, expect, expect_unique ops") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snapcfg").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/old")
    val cur = Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "v")
    val diffed = PipelineConfig.applyTransforms(cur, Seq(
      PipelineConfig.TransformConf(op = "snapshot_diff",
        cols = Seq("k"), name = Some(s"$dir/old"))))
    assert(diffed.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(2L -> "changed", 3L -> "added"))
    val exp = PipelineConfig.applyTransforms(cur, Seq(
      PipelineConfig.TransformConf(op = "expect",
        name = Some("k_positive"), expr = Some("k > 0"))))
    assert(exp.head().toSeq === Seq("k_positive", 3L, 0L, 1L))
    val unq = PipelineConfig.applyTransforms(
      cur.unionByName(Seq((1L, "z")).toDF("k", "v")), Seq(
        PipelineConfig.TransformConf(op = "expect_unique", cols = Seq("k"))))
    assert(unq.head().toSeq === Seq("unique", 4L, 1L, 0L))
  }

  test("declared privacy ops: k_anonymize, l_diversity, generalize_k") {
    import spark.implicits._
    val docs = Seq(
      (1L, "us", "web", 10L), (2L, "us", "web", 11L), (3L, "us", "web", 12L),
      (4L, "de", "book", 20L)).toDF("id", "country", "src", "age")
    val ann = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "k_anonymize",
        cols = Seq("country", "src"), expr = Some("3"))))
    assert(ann.filter($"k_anon").count() === 3)
    val kept = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "k_anonymize",
        cols = Seq("country", "src"), expr = Some("3"),
        name = Some("filter"))))
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L))
    val ldiv = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "l_diversity",
        cols = Seq("country", "age"), expr = Some("2"))))
    assert(ldiv.filter($"l_ok").count() === 3)
    val dp = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "dp_counts",
        cols = Seq("country"), expr = Some("500000,1"), name = Some("s"))))
    assert(dp.columns.toSeq === Seq("country", "n", "noisy_n"))
    assert(dp.count() === 2)
    // one QI group, ages 10..13: only width 8 (bucket 8..15) reaches k=4
    val ages = Seq((1L, "us", 10L), (2L, "us", 11L), (3L, "us", 12L),
      (4L, "us", 13L)).toDF("id", "country", "age")
    val gen = PipelineConfig.applyTransforms(ages, Seq(
      PipelineConfig.TransformConf(op = "generalize_k",
        cols = Seq("country", "age"), expr = Some("4,8"))))
    assert(gen.select("qi_bucket").distinct().as[Long].collect().toSeq
      === Seq(8L))
    assert(gen.select("gen_width").head().getLong(0) === 8L)
  }

  test("declared dedup_audio drops envelope near-dups of a WAV column") {
    import spark.implicits._
    // 1 and 2 are the same clip resampled + volume-scaled; 3 differs
    val docs = Seq(
      (1L, graft.llm.AudioHash.synthWav(42L, 44100)),
      (2L, graft.llm.AudioHash.synthWav(42L, 22050, volumeMilli = 600)),
      (3L, graft.llm.AudioHash.synthWav(43L, 44100)))
      .toDF("media_id", "media")
    val kept = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "dedup_audio",
        cols = Seq("media_id", "media"))))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
  }

  test("declared audio/video decode gates close the corrupt-bytes hole; " +
      "tri-modality gated chain through JobRunner") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.llm.{AudioHash, ImageHash, VideoHash}
    val dir = java.nio.file.Files.createTempDirectory("gatecfg").toString
    def junk(id: Long) =
      Array.tabulate(64)(i => ((id * 31 + i) % 251).toByte)
    // each corpus: 4 decodable + 2 corrupt byte rows
    val audio = (0L until 4L).map(i => (i, AudioHash.synthWav(i, 8000)))
      .++(Seq((8L, junk(8L)), (9L, junk(9L)))).toDF("media_id", "media")
    val video = (0L until 4L).map(i => (i, VideoHash.synthGif(i, 32, 24, 3)))
      .++(Seq((8L, junk(8L)), (9L, junk(9L)))).toDF("media_id", "media")
    val image = (0L until 4L).map(i => (i, ImageHash.synthPng(i, 32, 24)))
      .++(Seq((8L, junk(8L)), (9L, junk(9L)))).toDF("media_id", "media")
    // the hole the gates close: dedup_audio/video only drop near-dups
    // AMONG decoded rows — corrupt bytes never pair, so they silently
    // survive an ungated dedup
    val ungated = PipelineConfig.applyTransforms(audio, Seq(
      PipelineConfig.TransformConf(op = "dedup_audio",
        cols = Seq("media_id", "media"))))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(Set(8L, 9L).subsetOf(ungated),
      "corrupt audio should demonstrate the ungated pass-through hole")
    audio.write.mode("overwrite").parquet(s"$dir/aud")
    video.write.mode("overwrite").parquet(s"$dir/vid")
    image.write.mode("overwrite").parquet(s"$dir/img")
    def step(name: String, gate: String, dedup: String, expr: Option[String]) =
      s"""{ "step": "$name", "kind": "stream",
         |  "source": { "type": "parquet", "paths": ["$dir/$name"] },
         |  "transforms": [
         |    { "op": "$gate", "cols": ["media_id", "media"] },
         |    { "op": "$dedup", "cols": ["media_id", "media"]${expr
             .map(e => s""", "expr": "$e"""").getOrElse("")} },
         |    { "op": "withColumn", "name": "modality",
         |      "expr": "'$name'" },
         |    { "op": "select", "cols": ["media_id", "modality"] } ],
         |  "sink": { "type": "parquet", "path": "$dir/out_$name" } }"""
        .stripMargin
    val conf = PipelineConfig.parse(
      s"""{ "id": "g1", "name": "tri-modal-gated", "steps": [
         |  ${step("img", "image_gate", "dedup_image", Some("3"))},
         |  ${step("aud", "audio_gate", "dedup_audio", None)},
         |  ${step("vid", "video_gate", "dedup_video", Some("500"))},
         |  { "step": "mix", "kind": "stream",
         |    "source": { "type": "parquet",
         |      "paths": ["$dir/out_img", "$dir/out_aud", "$dir/out_vid"] },
         |    "sink": { "type": "parquet", "path": "$dir/out_mix" } } ] }"""
        .stripMargin)
    assert(PipelineConfig.parse(PipelineConfig.toJson(conf)) === conf)
    val st = PipelineConfig.run(spark, conf, new InMemoryStore)
    assert(Seq("img", "aud", "vid", "mix")
      .forall(s => st.streams(s).status === JobState.Complete))
    val mixed = spark.read.parquet(s"$dir/out_mix")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // every modality present, NO corrupt id anywhere downstream
    assert(Seq("img", "aud", "vid")
      .forall(m => mixed.exists(_._2 == m)))
    assert(!mixed.exists(p => p._1 == 8L || p._1 == 9L),
      s"corrupt bytes passed a declared gate: $mixed")
    // gate ≡ the direct decoded-filter semantics
    val directAud = AudioHash.audioHashes(audio, "media_id", "media")
      .toDF().filter(col("decoded")).select("id")
      .collect().map(_.getLong(0)).toSet
    val gatedAud = PipelineConfig.applyTransforms(audio, Seq(
      PipelineConfig.TransformConf(op = "audio_gate",
        cols = Seq("media_id", "media"))))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(gatedAud === directAud)
    val directVid = VideoHash.videoHashes(video, "media_id", "media")
      .toDF().filter(col("decoded")).select("id")
      .collect().map(_.getLong(0)).toSet
    val gatedVid = PipelineConfig.applyTransforms(video, Seq(
      PipelineConfig.TransformConf(op = "video_gate",
        cols = Seq("media_id", "media"))))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(gatedVid === directVid)
  }

  test("declared ingest loop: substring_dedup_ingest killed between " +
      "config runs resumes from the persisted index (capstone via config)") {
    import spark.implicits._
    // the StreamingSpec kill-and-resume capstone, driven ENTIRELY from a
    // declared pipeline: each PipelineConfig.run drains what's available
    // and stops (the "kill"); the next run re-opens from the declared
    // checkpoint + index dirs. Same rows as the direct-call capstone.
    val in = java.nio.file.Files.createTempDirectory("cfg_ssk_in")
    val base = java.nio.file.Files.createTempDirectory("cfg_ssk").toString
    val conf = PipelineConfig.parse(
      s"""{ "id": "ing1", "name": "substring-loop", "steps": [
         |  { "step": "loop", "kind": "ingest",
         |    "source": { "type": "json", "paths": ["$in/*.ndjson"],
         |      "schema": "doc_id LONG, text STRING" },
         |    "transforms": [ { "op": "substring_dedup_ingest",
         |      "cols": ["doc_id", "text"], "expr": "4" } ],
         |    "sink": { "type": "parquet", "path": "$base/clean",
         |      "options": { "index": "$base/index",
         |        "checkpoint": "$base/ckpt" } } } ] }""".stripMargin)
    assert(PipelineConfig.parse(PipelineConfig.toJson(conf)) === conf)
    def drop(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.write(in.resolve(name),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes("UTF-8"))
    val run = (1 to 5).map(i => s"r$i").mkString(" ")
    val b1 = Seq((1L, s"a1 b1 $run c1"), (2L, s"a2 $run b2"))
    val b2 = Seq((3L, s"x3 $run y3"), (4L, "u4 v4 w4 z4 q4"))
    val b3 = Seq((5L, s"k5 $run m5"))
    // three loop SESSIONS over a growing input dir — the kill is the
    // end of each config run; a fresh store per run re-executes the step
    drop("a.ndjson", b1)
    assert(PipelineConfig.run(spark, conf, new InMemoryStore)
      .commands("loop").status === JobState.Complete)
    drop("b.ndjson", b2)
    assert(PipelineConfig.run(spark, conf, new InMemoryStore)
      .commands("loop").status === JobState.Complete)
    drop("c.ndjson", b3)
    assert(PipelineConfig.run(spark, conf, new InMemoryStore)
      .commands("loop").status === JobState.Complete)
    def img(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"n_tokens", $"n_removed", $"clean_text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val streamed = spark.read.parquet(s"$base/clean")
    // no replay across config runs: every doc written exactly once
    assert(streamed.groupBy($"doc_id").count()
      .filter($"count" > 1).count() === 0,
      "a re-run config session replayed a committed micro-batch")
    // final state ≡ the batch operator over the union — the same
    // equivalence the direct-call capstone pins
    assert(img(streamed) === img(
      graft.llm.CorpusStats.removeDuplicateSubstrings(
        (b1 ++ b2 ++ b3).toDF("doc_id", "text"), "doc_id", "text",
        minRunTokens = 4)))
    // cross-session dedup: docs 3 and 5 lose the run against BATCH-0
    // state only the persisted index could carry between config runs
    val removed = img(streamed).map(t => t._1 -> t._3).toMap
    assert(removed === Map(1L -> 0L, 2L -> 5L, 3L -> 5L, 4L -> 0L,
      5L -> 5L))
  }

  test("declared ingest loop: dsir_self_ingest across config sessions " +
      "retro-scores exactly (the closed DSIR streaming caveat, via config)") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("cfg_dsi_in")
    val base = java.nio.file.Files.createTempDirectory("cfg_dsi").toString
    val conf = PipelineConfig.parse(
      s"""{ "id": "ing2", "name": "dsir-loop", "steps": [
         |  { "step": "loop", "kind": "ingest",
         |    "source": { "type": "json", "paths": ["$in/*.ndjson"],
         |      "schema": "doc_id LONG, text STRING, is_tgt BOOLEAN" },
         |    "transforms": [ { "op": "dsir_self_ingest",
         |      "cols": ["doc_id", "text", "is_tgt"], "expr": "2" } ],
         |    "sink": { "type": "parquet", "path": "$base/feats",
         |      "options": { "index": "$base/dist",
         |        "checkpoint": "$base/ckpt" } } } ] }""".stripMargin)
    assert(PipelineConfig.parse(PipelineConfig.toJson(conf)) === conf)
    def drop(name: String, rows: Seq[(Long, String, Boolean)]): Unit =
      java.nio.file.Files.write(in.resolve(name),
        rows.map { case (id, t, g) =>
          s"""{"doc_id":$id,"text":"$t","is_tgt":$g}""" }
          .mkString("\n").getBytes("UTF-8"))
    val b1 = Seq((1L, "apple banana iron", true),
      (2L, "zinc copper iron", false))
    val b2 = Seq((3L, "apple cherry banana", true),
      (4L, "iron zinc zinc", false),
      (5L, "banana banana apple cherry", false))
    drop("a.ndjson", b1)
    assert(PipelineConfig.run(spark, conf, new InMemoryStore)
      .commands("loop").status === JobState.Complete)
    drop("b.ndjson", b2)
    assert(PipelineConfig.run(spark, conf, new InMemoryStore)
      .commands("loop").status === JobState.Complete)
    // the retro-score over state two config sessions built equals the
    // batch operator over the union — including the FIRST session's docs
    def wset(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"n_feats", $"weight_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = graft.streaming.Pipelines.dsirRetroScore(
      spark, s"$base/feats", s"$base/dist")
    val expect = graft.llm.Dsir.importanceWeights(
      (b1 ++ b2).toDF("doc_id", "text", "is_tgt"),
      "doc_id", "text", $"is_tgt")
    assert(wset(got) === wset(expect))
    // the scorer is declarable too: a dsir_retro_score step with a
    // forgotten-ids tombstone parquet, run through JobRunner, equals the
    // batch operator over the surviving corpus
    val tomb = s"$base/forgot"
    Seq(4L).toDF("doc_id").write.parquet(tomb)
    val scoreOut = s"$base/scored"
    val conf2 = PipelineConfig.parse(
      s"""{ "id": "ing2s", "name": "dsir-score", "steps": [
         |  { "step": "score", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "doc_id LONG",
         |      "lines": ["{\\"doc_id\\":0}"] },
         |    "transforms": [ { "op": "dsir_retro_score",
         |      "cols": ["doc_id"], "expr": "$tomb",
         |      "name": "$base/feats;$base/dist" } ],
         |    "sink": { "type": "json", "path": "$scoreOut" } } ] }""".stripMargin)
    assert(PipelineConfig.run(spark, conf2, new InMemoryStore)
      .streams("score").status === JobState.Complete)
    val declared = spark.read.json(scoreOut)
      .select($"doc_id", $"n_feats", $"weight_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expectForgot = graft.llm.Dsir.importanceWeights(
      (b1 ++ b2).filterNot(_._1 == 4L).toDF("doc_id", "text", "is_tgt"),
      "doc_id", "text", $"is_tgt")
    assert(declared === wset(expectForgot))
  }

  test("declared zipf_by_group and gini_by_group ops") {
    import spark.implicits._
    val docs = Seq(
      ("en", "a a a a b b c"), ("en", "a b c d"),
      ("flat", "p q r s")).toDF("lang", "text")
    val z = PipelineConfig.applyTransforms(docs, Seq(
      PipelineConfig.TransformConf(op = "zipf_by_group",
        cols = Seq("lang", "text"), name = Some("4"))))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // 'en' decays (a=5 > b=3 > c=2 > d=1) → positive index; flat head → 0
    assert(z("en") > 0L)
    assert(z("flat") === 0L)
    val g = PipelineConfig.applyTransforms(
      Seq(("a", 1L, 1L), ("a", 1L, 2L), ("b", 0L, 1L), ("b", 10L, 2L))
        .toDF("g", "v", "id"), Seq(
        PipelineConfig.TransformConf(op = "gini_by_group",
          cols = Seq("g", "v", "id"))))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // [1,1] even → 0; [0,10]: (2·20 − 3·10)/(2·10) = 1/2
    assert(g === Map("a" -> 0L, "b" -> 500000L))
  }

  // ------------------------- r14: the declared ingest-loop family
  // completed (r13 VERDICT ask #3). Shared harness: the DECLARED loop
  // runs as TWO config sessions over a growing input dir (each run
  // drains and stops — the kill; the next resumes from the declared
  // checkpoint + index, so cross-session state equality IS the
  // kill-and-resume proof), and must produce bit-identical outputs,
  // batch partitions included, to the DIRECT-call loop fed the same
  // two batches through a MemoryStream.

  private def jsonEsc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  private def imgAll(dir: String): Set[Seq[Any]] =
    spark.read.parquet(dir).collect().map(_.toSeq.map {
      case s: Seq[_] => s.toString
      case x => x
    }).toSet

  /** Drive `op` declared (2 config sessions) and `direct` (MemoryStream,
    * 2 batches); assert out-dir and index-dir images match exactly.
    * Returns the declared state base dir (out/idx/ckpt live under it).
    */
  private def declaredEqualsDirect(op: String, cols: Seq[String],
      expr: String, name: Option[String], schema: String,
      lines1: Seq[String], lines2: Seq[String],
      direct: String => org.apache.spark.sql.streaming.StreamingQuery,
      addBatch: Int => Unit): String = {
    val in = java.nio.file.Files.createTempDirectory(s"cfg_${op}_in")
    val db = java.nio.file.Files.createTempDirectory(s"cfg_$op").toString
    val nameField = name.fold("")(n => s""""name": "$n", """)
    val conf = PipelineConfig.parse(
      s"""{ "id": "r14_$op", "name": "$op-loop", "steps": [
         |  { "step": "loop", "kind": "ingest",
         |    "source": { "type": "json", "paths": ["$in/*.ndjson"],
         |      "schema": "$schema" },
         |    "transforms": [ { "op": "$op", $nameField
         |      "cols": [${cols.map(c => s""""$c"""").mkString(", ")}],
         |      "expr": "$expr" } ],
         |    "sink": { "type": "parquet", "path": "$db/out",
         |      "options": { "index": "$db/idx",
         |        "checkpoint": "$db/ckpt" } } } ] }""".stripMargin)
    assert(PipelineConfig.parse(PipelineConfig.toJson(conf)) === conf, op)
    def drop(fname: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(in.resolve(fname),
        lines.mkString("\n").getBytes("UTF-8"))
    drop("a.ndjson", lines1)
    assert(PipelineConfig.run(spark, conf, new InMemoryStore)
      .commands("loop").status === JobState.Complete, op)
    drop("b.ndjson", lines2)
    assert(PipelineConfig.run(spark, conf, new InMemoryStore)
      .commands("loop").status === JobState.Complete, op)
    // direct twin over the same two batches
    val mb = java.nio.file.Files.createTempDirectory(s"dir_$op").toString
    val q = direct(mb)
    try {
      addBatch(0); q.processAllAvailable()
      addBatch(1); q.processAllAvailable()
    } finally q.stop()
    assert(imgAll(s"$db/out") === imgAll(s"$mb/out"),
      s"$op: declared out != direct out")
    assert(imgAll(s"$db/idx") === imgAll(s"$mb/idx"),
      s"$op: declared index != direct index")
    db
  }

  test("declared ingest loops equal the direct calls: near_dup / tfidf / " +
      "boilerplate / para_dedup (two config sessions = kill-and-resume)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val docATrunc = (1 to 32).map(i => s"alpha$i").mkString(" ")
    val docB = (1 to 40).map(i => s"beta$i").mkString(" ")
    val footer = "f1 f2 f3 f4"
    // fixture exercises every loop's state: a cross-batch near-dup (7 of
    // 1), a repeated 4-token span + paragraph footer, recurring terms
    val b1 = Seq(
      (1L, s"$docA\n$footer"),
      (2L, s"$docB\n$footer"),
      (3L, "fresh words appear here once"))
    val b2 = Seq(
      (7L, s"$docATrunc\nnovel tail seven"),
      (8L, s"delta mix beta1 words\n$footer"))
    def lines(b: Seq[(Long, String)]): Seq[String] =
      b.map { case (id, t) => s"""{"doc_id":$id,"text":"${jsonEsc(t)}"}""" }
    val loops: Seq[(String, String,
        (String, org.apache.spark.sql.DataFrame) =>
          org.apache.spark.sql.streaming.StreamingQuery)] = Seq(
      ("near_dup_ingest", "3,96,48,0.5",
        (mb, s) => graft.streaming.Pipelines.nearDupIngest(s,
          "doc_id", "text", s"$mb/out", s"$mb/idx", s"$mb/ckpt")),
      ("tfidf_ingest", "3,2",
        (mb, s) => graft.streaming.Pipelines.tfidfIngest(s,
          "doc_id", "text", s"$mb/out", s"$mb/idx", s"$mb/ckpt", 3, 2)),
      ("boilerplate_ingest", "4,2,2",
        (mb, s) => graft.streaming.Pipelines.boilerplateIngest(s,
          "doc_id", "text", s"$mb/out", s"$mb/idx", s"$mb/ckpt", 4, 2, 2)),
      ("para_dedup_ingest", "2,2",
        (mb, s) => graft.streaming.Pipelines.paraDedupIngest(s,
          "doc_id", "text", s"$mb/out", s"$mb/idx", s"$mb/ckpt", 2, 2)))
    loops.foreach { case (op, expr, start) =>
      val mem = MemoryStream[(Long, String)](spark)
      declaredEqualsDirect(op, Seq("doc_id", "text"), expr, None,
        "doc_id LONG, text STRING", lines(b1), lines(b2),
        mb => start(mb, mem.toDF().toDF("doc_id", "text")),
        i => { mem.addData((if (i == 0) b1 else b2): _*); () })
    }
  }

  test("declared semdedup_ingest equals the direct call (frozen centroid " +
      "table by path)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val centDir = java.nio.file.Files
      .createTempDirectory("cfg_sdi_cents").toString
    Seq((0, Seq(127, 0, 0, 0, 0, 0, 0, 0)),
        (1, Seq(0, 127, 0, 0, 0, 0, 0, 0))).toDF("cid", "q")
      .coalesce(1).write.mode("overwrite").parquet(centDir)
    def v(x: Double*): Seq[Double] = x ++ Seq.fill(8 - x.size)(0.0)
    val b1 = Seq((1L, v(1.0, 0.1)), (2L, v(1.0, 0.0)), (10L, v(0.0, 1.0)))
    val b2 = Seq((3L, v(1.0, -0.1)), (11L, v(0.0, 1.0)), (12L, v(0.3, 0.3)))
    def lines(b: Seq[(Long, Seq[Double])]): Seq[String] =
      b.map { case (id, e) =>
        s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}""" }
    val mem = MemoryStream[(Long, Seq[Double])](spark)
    declaredEqualsDirect("semdedup_ingest", Seq("vec_id", "embedding"),
      "0.99,10000,2", Some(centDir),
      "vec_id LONG, embedding ARRAY<DOUBLE>", lines(b1), lines(b2),
      mb => graft.streaming.Pipelines.semDedupIngest(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        spark.read.parquet(centDir), 0.99,
        s"$mb/out", s"$mb/idx", s"$mb/ckpt", 10000, 2),
      i => { mem.addData((if (i == 0) b1 else b2): _*); () })
  }

  test("declared bitext_ingest equals the direct call; declared " +
      "bitext_retro_mine mines the merged state with a tombstone") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def v(x: Double*): Seq[Double] = x ++ Seq.fill(8 - x.size)(0.0)
    val b1 = Seq((0L, v(1.0, 0.1)), (1L, v(0.0, 1.0)), (2L, v(0.5, 0.5)))
    val b2 = Seq((3L, v(0.9, -0.1)), (4L, v(0.1, 0.9, 0.2)))
    def lines(b: Seq[(Long, Seq[Double])]): Seq[String] =
      b.map { case (id, e) =>
        s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}""" }
    val mem = MemoryStream[(Long, Seq[Double])](spark)
    // the declared loop (two config sessions = kill-and-resume) must
    // write bit-identical vecs AND index partitions to the direct call,
    // compaction included (compactEvery = 2 folds on the second batch)
    val db = declaredEqualsDirect("bitext_ingest",
      Seq("vec_id", "embedding"), "4,4,2", None,
      "vec_id LONG, embedding ARRAY<DOUBLE>", lines(b1), lines(b2),
      mb => graft.streaming.Pipelines.bitextIngest(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        s"$mb/out", s"$mb/idx", s"$mb/ckpt",
        tables = 4, bits = 4, compactEvery = 2),
      i => { mem.addData((if (i == 0) b1 else b2): _*); () })
    // a second (target-side) loop builds the other state; the declared
    // bitext_retro_mine step over both states + a src tombstone must
    // equal the direct read
    def vimg(df: org.apache.spark.sql.DataFrame) = df
      .select($"src_id", $"tgt_id", $"sim_micro", $"margin_micro")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val tgtRows = Seq((0L, v(1.0, 0.12)), (5L, v(0.0, 0.95)),
      (6L, v(0.52, 0.48)))
    val memT = MemoryStream[(Long, Seq[Double])](spark)
    val tb = java.nio.file.Files.createTempDirectory("cfg_btx_tgt").toString
    val qT = graft.streaming.Pipelines.bitextIngest(
      memT.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$tb/out", s"$tb/idx", s"$tb/ckpt", tables = 4, bits = 4)
    memT.addData(tgtRows: _*); qT.processAllAvailable(); qT.stop()
    val tomb = s"$tb/forgot"
    Seq(4L).toDF("vec_id").write.parquet(tomb)
    val minedOut = s"$tb/mined"
    val conf2 = PipelineConfig.parse(
      s"""{ "id": "btm", "name": "bitext-mine", "steps": [
         |  { "step": "mine", "kind": "stream",
         |    "source": { "type": "json_lines", "schema": "doc_id LONG",
         |      "lines": ["{\\"doc_id\\":0}"] },
         |    "transforms": [ { "op": "bitext_retro_mine",
         |      "expr": "2,1000000,4",
         |      "name": "$db/out;$db/idx;$tb/out;$tb/idx;$tomb" } ],
         |    "sink": { "type": "json", "path": "$minedOut" } } ] }""".stripMargin)
    assert(PipelineConfig.run(spark, conf2, new InMemoryStore)
      .streams("mine").status === JobState.Complete)
    val declared = vimg(spark.read.json(minedOut))
    val direct = vimg(graft.streaming.Pipelines.bitextRetroMine(spark,
      s"$db/out", s"$db/idx", s"$tb/out", s"$tb/idx",
      k = 2, bits = 4, forgottenSrc = Some(Seq(4L).toDF("vec_id"))))
    assert(declared === direct)
    assert(declared.nonEmpty, "fixture inert — nothing mined")
    assert(!declared.exists(_._1 == 4L), "tombstoned src doc mined")
  }

  test("declared datacard_ingest equals the direct call and the batch panel") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val b1 = Seq((1L, "alpha beta alpha gamma", "en"),
      (2L, "un deux trois un", "fr"))
    val b2 = Seq((4L, "alpha alpha beta delta epsilon beta", "en"),
      (5L, "quatre cinq un un deux", "fr"))
    def lines(b: Seq[(Long, String, String)]): Seq[String] =
      b.map { case (id, t, l) =>
        s"""{"doc_id":$id,"text":"${jsonEsc(t)}","lang":"$l"}""" }
    val mem = MemoryStream[(Long, String, String)](spark)
    val db = declaredEqualsDirect("datacard_ingest",
      Seq("doc_id", "text", "lang"),
      "2", None, "doc_id LONG, text STRING, lang STRING",
      lines(b1), lines(b2),
      mb => graft.streaming.Pipelines.datacardIngest(
        mem.toDF().toDF("doc_id", "text", "lang"), "doc_id", "text",
        "lang", s"$mb/out", s"$mb/idx", s"$mb/ckpt", 2),
      i => { mem.addData((if (i == 0) b1 else b2): _*); () })
    // and the assembled panel over declared state equals the batch panel
    val panel = graft.streaming.Pipelines.datacardRead(spark,
      s"$db/out", s"$db/idx")
      .collect().map(_.toSeq).toSet
    val union = (b1 ++ b2).toDF("doc_id", "text", "lang")
    val batch = graft.llm.CorpusStats.datacardPanel(
      graft.llm.CorpusStats.datacardDocStats(union, "doc_id", "text", "lang"),
      graft.llm.CorpusStats.langTokenFreqs(union, "text", "lang"))
      .collect().map(_.toSeq).toSet
    assert(panel === batch)
  }

  test("declared forget ops: term_df_forget (read-time then persist) and " +
      "substring_index_recompute rewrite loop state from a config file") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.llm.CorpusStats
    import graft.streaming.Pipelines
    def img(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // ---- state built by the term-df loop
    val tb = java.nio.file.Files.createTempDirectory("cfg_fgt").toString
    val memT = MemoryStream[(Long, String)](spark)
    val qT = Pipelines.tfidfIngest(memT.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$tb/kw", s"$tb/idx", s"$tb/ckpt", 3)
    val b1 = Seq((1L, "shared words alpha beta"),
      (2L, "shared words gamma delta"))
    val b2 = Seq((4L, "shared zeta eta"), (5L, "alpha beta theta"))
    memT.addData(b1: _*); qT.processAllAvailable()
    memT.addData(b2: _*); qT.processAllAvailable(); qT.stop()
    val survivors = (b1 ++ b2).filterNot(r => r._1 == 2L || r._1 == 4L)
      .toDF("doc_id", "text")
    // declared READ-TIME forget: the step's source IS the forgotten rows
    def forgetConf(expr: String, out: String) = PipelineConfig.parse(
      s"""{ "id": "fgt", "name": "forget", "steps": [
         |  { "step": "forget", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "doc_id LONG, text STRING",
         |      "lines": [
         |        "{\\"doc_id\\":2,\\"text\\":\\"shared words gamma delta\\"}",
         |        "{\\"doc_id\\":4,\\"text\\":\\"shared zeta eta\\"}" ] },
         |    "transforms": [ { "op": "term_df_forget",
         |      "cols": ["doc_id", "text"], "name": "$tb/idx",
         |      "expr": "$expr" } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    val c1 = forgetConf("", s"$tb/view")
    assert(PipelineConfig.parse(PipelineConfig.toJson(c1)) === c1)
    assert(PipelineConfig.run(spark, c1, new InMemoryStore)
      .streams("forget").status === JobState.Complete)
    val viewed = spark.read.json(s"$tb/view").select($"term", $"df")
    assert(img(viewed) ===
      img(CorpusStats.termDfIndex(survivors, "doc_id", "text")))
    // state untouched by the read-time form
    assert(img(Pipelines.readTermDfIndex(spark, s"$tb/idx")) ===
      img(CorpusStats.termDfIndex((b1 ++ b2).toDF("doc_id", "text"),
        "doc_id", "text")))
    // declared DURABLE forget: the persist token folds the state
    assert(PipelineConfig.run(spark, forgetConf("persist", s"$tb/view2"),
      new InMemoryStore).streams("forget").status === JobState.Complete)
    assert(img(Pipelines.readTermDfIndex(spark, s"$tb/idx")) ===
      img(CorpusStats.termDfIndex(survivors, "doc_id", "text")))
    // ---- keeper recompute, declared: source = the SURVIVING corpus
    val kb = java.nio.file.Files.createTempDirectory("cfg_krc").toString
    val memK = MemoryStream[(Long, String)](spark)
    val qK = Pipelines.substringDedupIngest(
      memK.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$kb/clean", s"$kb/idx", s"$kb/ckpt", 4)
    val run = (1 to 5).map(i => s"r$i").mkString(" ")
    memK.addData((1L, s"a1 $run b1"), (2L, s"a2 $run b2"))
    qK.processAllAvailable(); qK.stop()
    val kSurv = Seq((2L, s"a2 $run b2")).toDF("doc_id", "text")
    val c2 = PipelineConfig.parse(
      s"""{ "id": "krc", "name": "recompute", "steps": [
         |  { "step": "rebuild", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "doc_id LONG, text STRING",
         |      "lines": [
         |        "{\\"doc_id\\":2,\\"text\\":\\"a2 $run b2\\"}" ] },
         |    "transforms": [ { "op": "substring_index_recompute",
         |      "cols": ["doc_id", "text"], "name": "$kb/idx",
         |      "expr": "4,persist" } ],
         |    "sink": { "type": "json", "path": "$kb/view" } } ] }""".stripMargin)
    assert(PipelineConfig.run(spark, c2, new InMemoryStore)
      .streams("rebuild").status === JobState.Complete)
    val rebuilt = Pipelines.readSubstrIndex(spark, s"$kb/idx")
    assert(img(rebuilt) ===
      img(CorpusStats.substrKeeperIndex(kSurv, "doc_id", "text", 4)))
    assert(rebuilt.filter($"keep_id" === 1L).count() === 0L)
  }

  test("declared near_dup_recompute equals the direct call: the band " +
      "index is rebuilt over the surviving corpus and folds durably") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.llm.Dedup
    import graft.streaming.Pipelines
    def img(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val nb = java.nio.file.Files.createTempDirectory("cfg_ndr").toString
    val mem = MemoryStream[(Long, String)](spark)
    val q = Pipelines.nearDupIngest(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$nb/corpus", s"$nb/idx", s"$nb/ckpt",
      3, 96, 48, 0.5)
    val dup = "alpha beta gamma delta eps zeta"
    mem.addData((1L, dup), (2L, dup), (3L, "one two three four five six"))
    q.processAllAvailable(); q.stop()
    // forget survivor 1; the surviving corpus is doc 3 alone. Declared
    // form: the step's SOURCE is the surviving corpus, expr carries the
    // loop's own parameters + the persist token
    val conf = PipelineConfig.parse(
      s"""{ "id": "ndr", "name": "recompute", "steps": [
         |  { "step": "rebuild", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "doc_id LONG, text STRING",
         |      "lines": [
         |        "{\\"doc_id\\":3,\\"text\\":\\"one two three four five six\\"}" ] },
         |    "transforms": [ { "op": "near_dup_recompute",
         |      "cols": ["doc_id", "text"], "name": "$nb/idx",
         |      "expr": "3,96,48,persist" } ],
         |    "sink": { "type": "json", "path": "$nb/view" } } ] }""".stripMargin)
    assert(PipelineConfig.parse(PipelineConfig.toJson(conf)) === conf)
    assert(PipelineConfig.run(spark, conf, new InMemoryStore)
      .streams("rebuild").status === JobState.Complete)
    val surv = Seq((3L, "one two three four five six")).toDF("doc_id", "text")
    val expected = img(Dedup.minhashBandIndex(surv, "doc_id", "text",
      3, 96, 48))
    // the streamed view AND the folded state both equal the direct
    // rebuild (json re-read widens ints — cast back to the index schema)
    assert(img(spark.read.json(s"$nb/view")
      .select($"id".cast("long"), $"band".cast("int"),
        $"bucket".cast("long"))) === expected)
    val folded = spark.read.parquet(s"$nb/idx")
      .select("id", "band", "bucket")
    assert(img(folded) === expected)
    assert(folded.where($"id" === 1L).count() === 0L)
  }

  test("declared bm25_df_forget equals the direct call (read-time then " +
      "persist), sentinel totals included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.llm.Retrieval
    import graft.streaming.Pipelines
    def img(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val bb = java.nio.file.Files.createTempDirectory("cfg_bmf").toString
    val mem = MemoryStream[(Long, String)](spark)
    val q = Pipelines.bm25Ingest(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", Seq("qa" -> "shared alpha"),
      s"$bb/scores", s"$bb/idx", s"$bb/ckpt", 3)
    val b1 = Seq((1L, "shared words alpha beta"),
      (2L, "shared words gamma delta"))
    val b2 = Seq((4L, "shared zeta eta"), (5L, "alpha beta theta"))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    val survivors = (b1 ++ b2).filterNot(r => r._1 == 2L || r._1 == 4L)
      .toDF("doc_id", "text")
    def conf(expr: String, out: String) = PipelineConfig.parse(
      s"""{ "id": "bmf", "name": "bm25-forget", "steps": [
         |  { "step": "forget", "kind": "stream",
         |    "source": { "type": "json_lines",
         |      "schema": "doc_id LONG, text STRING",
         |      "lines": [
         |        "{\\"doc_id\\":2,\\"text\\":\\"shared words gamma delta\\"}",
         |        "{\\"doc_id\\":4,\\"text\\":\\"shared zeta eta\\"}" ] },
         |    "transforms": [ { "op": "bm25_df_forget",
         |      "cols": ["doc_id", "text"], "name": "$bb/idx",
         |      "expr": "$expr" } ],
         |    "sink": { "type": "json", "path": "$out" } } ] }""".stripMargin)
    val c1 = conf("", s"$bb/view")
    assert(PipelineConfig.parse(PipelineConfig.toJson(c1)) === c1)
    assert(PipelineConfig.run(spark, c1, new InMemoryStore)
      .streams("forget").status === JobState.Complete)
    val expect = Retrieval.bm25Index(survivors, "doc_id", "text")
    assert(img(spark.read.json(s"$bb/view").select($"term", $"df")) ===
      img(expect))
    // state untouched by the read-time form; the sentinel rows survive
    // the JSON round trip (space-keyed terms) and match the batch twin
    assert(img(Pipelines.readBm25Index(spark, s"$bb/idx")) ===
      img(Retrieval.bm25Index((b1 ++ b2).toDF("doc_id", "text"),
        "doc_id", "text")))
    assert(PipelineConfig.run(spark, conf("persist", s"$bb/view2"),
      new InMemoryStore).streams("forget").status === JobState.Complete)
    assert(img(Pipelines.readBm25Index(spark, s"$bb/idx")) === img(expect))
  }

  test("declared bitext_mine equals the direct call (target side by path)") {
    import spark.implicits._
    def v(x: Double*): Seq[Double] = x ++ Seq.fill(8 - x.size)(0.0)
    val src = Seq((0L, v(1.0, 0.05)), (2L, v(0.05, 1.0)),
      (4L, v(0.0, 0.0, 1.0)))
    val tgt = Seq((101L, v(1.0, 0.0)), (103L, v(0.0, 1.0)),
      (109L, v(0.0, 0.0, 0.9, 0.3)))
    val base = java.nio.file.Files.createTempDirectory("cfg_bxm").toString
    src.toDF("id", "v").coalesce(1).write.parquet(s"$base/src")
    tgt.toDF("id", "v").coalesce(1).write.parquet(s"$base/tgt")
    val conf = PipelineConfig.parse(
      s"""{ "id": "bxm", "name": "bitext", "steps": [
         |  { "step": "mine", "kind": "stream",
         |    "source": { "type": "parquet", "paths": ["$base/src"] },
         |    "transforms": [ { "op": "bitext_mine",
         |      "cols": ["id", "v"], "name": "$base/tgt",
         |      "expr": "2,1020000" } ],
         |    "sink": { "type": "parquet", "path": "$base/out" } } ] }""".stripMargin)
    assert(PipelineConfig.parse(PipelineConfig.toJson(conf)) === conf)
    assert(PipelineConfig.run(spark, conf, new InMemoryStore)
      .streams("mine").status === JobState.Complete)
    def img(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val direct = graft.llm.Retrieval.bitextMine(
      src.toDF("id", "v"), spark.read.parquet(s"$base/tgt"), "id", "v",
      k = 2, marginThresholdMicro = 1020000L)
    assert(img(spark.read.parquet(s"$base/out")) === img(direct))
    assert(direct.count() > 0, "fixture drift: declared case mined nothing")
  }

  test("declared bitext_mine candidateSource=ivf equals the direct " +
      "candidate-fed call") {
    import spark.implicits._
    def v(x: Double*): Seq[Double] = x ++ Seq.fill(8 - x.size)(0.0)
    val src = Seq((0L, v(1.0, 0.05)), (2L, v(0.05, 1.0)),
      (4L, v(0.0, 0.0, 1.0)))
    val tgt = Seq((101L, v(1.0, 0.0)), (103L, v(0.0, 1.0)),
      (109L, v(0.0, 0.0, 0.9, 0.3)))
    val base = java.nio.file.Files.createTempDirectory("cfg_bxa").toString
    src.toDF("id", "v").coalesce(1).write.parquet(s"$base/src")
    tgt.toDF("id", "v").coalesce(1).write.parquet(s"$base/tgt")
    // nProbe = nCells: structural recall 1 on the tiny fixture, so the
    // declared candidate-fed run must also equal plain all-pairs mining
    val conf = PipelineConfig.parse(
      s"""{ "id": "bxa", "name": "bitext-ann", "steps": [
         |  { "step": "mine", "kind": "stream",
         |    "source": { "type": "parquet", "paths": ["$base/src"] },
         |    "transforms": [ { "op": "bitext_mine",
         |      "cols": ["id", "v"], "name": "$base/tgt",
         |      "expr": "2,1020000,ivf:2:2" } ],
         |    "sink": { "type": "parquet", "path": "$base/out" } } ] }""".stripMargin)
    assert(PipelineConfig.parse(PipelineConfig.toJson(conf)) === conf)
    assert(PipelineConfig.run(spark, conf, new InMemoryStore)
      .streams("mine").status === JobState.Complete)
    def img(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val srcDf = src.toDF("id", "v")
    val tgtDf = spark.read.parquet(s"$base/tgt")
    def lists(q: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame) =
      graft.llm.Similarity.ivfTopK(q, c, k = 2, nCells = 2, nProbe = 2,
        idCol = "id", vecCol = "v")
    val direct = graft.llm.Retrieval.bitextMineFromCandidates(
      srcDf, tgtDf, "id", "v", lists(srcDf, tgtDf), lists(tgtDf, srcDf),
      k = 2, marginThresholdMicro = 1020000L)
    assert(img(spark.read.parquet(s"$base/out")) === img(direct))
    assert(img(direct) === img(graft.llm.Retrieval.bitextMine(
      srcDf, srcDf.sparkSession.read.parquet(s"$base/tgt"), "id", "v",
      k = 2, marginThresholdMicro = 1020000L)))
    assert(direct.count() > 0, "fixture drift: declared case mined nothing")
    // lsh candidate source: declared equals the direct annTopK-fed call
    val confLsh = PipelineConfig.parse(PipelineConfig.toJson(conf)
      .replace("ivf:2:2", "lsh:4:4").replace(s"$base/out", s"$base/out_lsh"))
    assert(PipelineConfig.run(spark, confLsh, new InMemoryStore)
      .streams("mine").status === JobState.Complete)
    def lshLists(q: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame) =
      graft.llm.Similarity.annTopK(q, c, k = 2, tables = 4, bits = 4,
        idCol = "id", vecCol = "v")
    assert(img(spark.read.parquet(s"$base/out_lsh")) ===
      img(graft.llm.Retrieval.bitextMineFromCandidates(
        srcDf, tgtDf, "id", "v", lshLists(srcDf, tgtDf),
        lshLists(tgtDf, srcDf), k = 2, marginThresholdMicro = 1020000L)))
    // pq candidate source (r17): declared equals the direct
    // unbounded-queries product-quantized feed
    val confPq = PipelineConfig.parse(PipelineConfig.toJson(conf)
      .replace("ivf:2:2", "pq:2:2").replace(s"$base/out", s"$base/out_pq"))
    assert(PipelineConfig.run(spark, confPq, new InMemoryStore)
      .streams("mine").status === JobState.Complete)
    def pqLists(q: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame) =
      graft.llm.Similarity.pqTopK(q, c, k = 2, m = 2, codebookSize = 2,
        idCol = "id", vecCol = "v", boundedQueries = false,
        excludeSelf = false)
    assert(img(spark.read.parquet(s"$base/out_pq")) ===
      img(graft.llm.Retrieval.bitextMineFromCandidates(
        srcDf, tgtDf, "id", "v", pqLists(srcDf, tgtDf),
        pqLists(tgtDf, srcDf), k = 2, marginThresholdMicro = 1020000L)))
    // the unknown-source red case fails loudly, not silently all-pairs
    val e = intercept[Exception] {
      PipelineConfig.parse(PipelineConfig.toJson(conf)
        .replace("ivf:2:2", "bogus").replace(s"$base/out", s"$base/out_bad"))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("candidateSource")),
      e.toString)
  }

  test("parse rejects every class of config error, naming the step and the op or type") {
    import PipelineConfig._
    val src = SourceConf("json_lines", schema = Some("id STRING, text STRING"))
    val sink = SinkConf("parquet", path = Some("/nonexistent/out"))
    def stream(ts: TransformConf*) =
      StepConf("bad", source = Some(src), transforms = ts, sink = Some(sink))
    val loopSink = SinkConf("parquet", path = Some("/nonexistent/clean"),
      options = Map("index" -> "/nonexistent/index", "checkpoint" -> "/nonexistent/ckpt"))
    def ingest(t: TransformConf, sk: SinkConf = loopSink) = StepConf("bad", kind = "ingest",
      source = Some(SourceConf("json", paths = Seq("/nonexistent/in"),
        schema = Some("doc_id BIGINT, text STRING"))),
      transforms = Seq(t), sink = Some(sk))
    val textCols = Seq("id", "text")
    // (error class, the bad step, what the message must name besides the step)
    val cases = Seq(
      ("unknown step kind", StepConf("bad", kind = "streem"), "streem"),
      ("unknown source type", stream().copy(source = Some(src.copy(`type` = "jsonl"))), "jsonl"),
      ("unknown sink type", stream().copy(sink = Some(sink.copy(`type` = "delta"))), "delta"),
      ("unknown transform op", stream(TransformConf("dedupe_exact", cols = textCols)), "dedupe_exact"),
      ("unknown ingest op", ingest(TransformConf("near_dup_ingets", cols = Seq("doc_id", "text"))),
        "near_dup_ingets"),
      ("wrong cols arity", stream(TransformConf("dedup_exact", cols = Seq("id"))), "dedup_exact"),
      ("missing expr", stream(TransformConf("filter")), "filter"),
      ("missing name", stream(TransformConf("oov_rate", cols = textCols)), "oov_rate"),
      ("missing schema", stream().copy(source = Some(src.copy(schema = None))), "json_lines"),
      ("missing sql", StepConf("bad", kind = "command"), "command"),
      ("missing path", stream().copy(sink = Some(sink.copy(path = None))), "parquet"),
      ("non-numeric param", stream(TransformConf("dedup_winnow", cols = textCols,
        expr = Some("5,four,2"))), "dedup_winnow"),
      ("bad sink mode", stream().copy(sink = Some(sink.copy(mode = "upsert"))), "upsert"),
      ("bad op mode", stream(TransformConf("gopher_gate", cols = textCols, name = Some("drop"))),
        "gopher_gate"),
      ("bad bitext_mine candidate source", stream(TransformConf("bitext_mine", cols = Seq("id", "v"),
        name = Some("/nonexistent/tgt"), expr = Some("2,1000000,hnsw"))), "candidateSource"),
      ("ingest without options.index", ingest(TransformConf("near_dup_ingest",
        cols = Seq("doc_id", "text")), loopSink.copy(options = loopSink.options - "index")),
        "options.index"))
    for ((what, step, named) <- cases) {
      val conf = PipelineConf("v", "validate", steps = Seq(
        StepConf("ok", kind = "command", sql = Some("SELECT 1")), step))
      val e = intercept[IllegalArgumentException](parse(toJson(conf)))
      assert(e.getMessage.contains("step 'bad'") && e.getMessage.contains(named),
        s"$what: ${e.getMessage}")
    }
  }

  test("sink mode accepts every spelling DataFrameWriter.mode(String) does") {
    import PipelineConfig._
    val df = spark.range(3).toDF("id")
    val root = java.nio.file.Files.createTempDirectory("graft_cfg_modes").toString
    // each mode: a first write to a fresh path, then a second to the same
    // path, which leaves `n` rows or fails (None) because the path exists
    val second = Map("overwrite" -> Some(3L), "Overwrite" -> Some(3L),
      "append" -> Some(6L), "APPEND" -> Some(6L), "ignore" -> Some(3L),
      "IGNORE" -> Some(3L), "error" -> None, "errorifexists" -> None,
      "ErrorIfExists" -> None, "default" -> None)
    def sinkFor(m: String) = SinkConf("parquet", path = Some(s"$root/$m"), mode = m)
    for (m <- second.keys) {
      parse(toJson(PipelineConf("m", "modes", steps = Seq(StepConf("w",
        source = Some(SourceConf("sql", query = Some("SELECT 1 AS id"))), sink = Some(sinkFor(m)))))))
      assert(buildSink(sinkFor(m))(df) === 3L, m)
    }
    for ((m, n) <- second) n match {
      case Some(rows) =>
        buildSink(sinkFor(m))(df)
        assert(spark.read.parquet(s"$root/$m").count() === rows, m)
      case None =>
        intercept[org.apache.spark.sql.AnalysisException](buildSink(sinkFor(m))(df))
    }
    val e = intercept[IllegalArgumentException](parse(toJson(PipelineConf("m", "modes",
      steps = Seq(StepConf("w", source = Some(SourceConf("sql", query = Some("SELECT 1"))),
        sink = Some(SinkConf("parquet", path = Some(s"$root/bogus"), mode = "bogus"))))))))
    assert(e.getMessage.contains("step 'w'") && e.getMessage.contains("bogus"), e.getMessage)
  }

  test("run binds every step before the first one executes") {
    import PipelineConfig._
    val out = java.nio.file.Files.createTempDirectory("graft_cfg_early").resolve("out")
    val conf = PipelineConf("early", "fail", steps = Seq(
      StepConf("write", source = Some(SourceConf("json_lines", schema = Some("id STRING"),
        lines = Seq("""{"id":"1"}"""))), sink = Some(SinkConf("parquet", path = Some(out.toString)))),
      StepConf("typo", source = Some(SourceConf("sql", query = Some("SELECT 1 AS id"))),
        transforms = Seq(TransformConf("filtr", expr = Some("id > 0"))))))
    val store = new InMemoryStore
    val e = intercept[IllegalArgumentException](PipelineConfig.run(spark, conf, store))
    assert(e.getMessage.contains("step 'typo'") && e.getMessage.contains("filtr"), e.getMessage)
    assert(store.load(JobState.docName("early", "fail")).isEmpty)
    assert(!java.nio.file.Files.exists(out))
  }
}
