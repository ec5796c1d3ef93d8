package graft

import java.nio.file.{Files, Path}

import graft.config.PipelineConfig
import graft.jobs._

/** Which declared stream steps record per-file ok/err counts: a source
  * that stamps file lineage (`TextSource.withLineage`, as the `text`
  * source does) records one entry per input file; a data column that is
  * only named `source` is not lineage and records none.
  */
class LineageSpec extends SparkSpec {

  private def write(dir: Path, name: String, lines: String*): String =
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes).toString

  // (row, the step's source conf over a fresh directory,
  //  expected (lines scanned, errors), expected files by basename)
  private val rows: Seq[(String, Path => String, (Long, Long),
      Map[String, FileStatus])] = Seq(
    ("a json_files data column named source", { dir =>
      val f = write(dir, "docs.ndjson",
        """{"doc_id":1,"source":"src0","text":"a"}""",
        """{"doc_id":2,"source":"src1","text":"b"}""",
        """{"doc_id":3,"source":"src2","text":"c"}""",
        """{"doc_id":4,"source":""")
      s"""{ "type": "json_files", "paths": ["$f"],
         |  "schema": "doc_id BIGINT, source STRING, text STRING" }"""
        .stripMargin
    }, (4L, 1L), Map.empty),
    ("a text source over two files", { dir =>
      val a = write(dir, "a.txt", "x", "y")
      val b = write(dir, "b.txt", "z")
      s"""{ "type": "text", "paths": ["$a", "$b"] }"""
    }, (3L, 0L), Map("a.txt" -> FileStatus(2, 0), "b.txt" -> FileStatus(1, 0))))

  for ((row, source, (scanned, errors), files) <- rows)
    test(s"per-file counts of a declared stream step: $row") {
      val dir = Files.createTempDirectory("graft_lineage")
      val conf = PipelineConfig.parse(
        s"""{ "id": "lin", "name": "lineage", "steps": [
           |  { "step": "read", "kind": "stream", "source": ${source(dir)} } ] }"""
          .stripMargin)
      val st = PipelineConfig.run(spark, conf, new InMemoryStore).streams("read")
      assert((st.totalLinesScanned, st.numErrors) === ((scanned, errors)))
      assert(st.files.map { case (k, v) => k.split('/').last -> v } === files)
    }
}
