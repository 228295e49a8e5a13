package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

class JsonLinesSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("documents round-trip parquet -> jsonl -> frame, value for value") {
    val docs = Tables.documents(spark, sfDir)
    val dir = tempDir("graft_jsonl").toString
    JsonLines.writeDocuments(docs, dir)
    val back = JsonLines.good(JsonLines.readDocuments(spark, dir))
    assert(back.count() == docs.count())
    // schema'd read: no quarantined rows on a clean write
    assert(JsonLines.quarantined(JsonLines.readDocuments(spark, dir)).count() == 0)
    val mismatch = docs.as("a").join(back.as("b"), Seq("doc_id"))
      .filter(col("a.text") =!= col("b.text") ||
        col("a.lang") =!= col("b.lang") ||
        col("a.source") =!= col("b.source") ||
        col("a.n_chars") =!= col("b.n_chars"))
    assert(mismatch.count() == 0)
  }

  test("gzip-compressed JSONL round-trips transparently") {
    val docs = Tables.documents(spark, sfDir)
    val dir = tempDir("graft_jsonl_gz").toString
    JsonLines.writeDocuments(docs, dir, codec = Some("gzip"))
    val parts = new java.io.File(dir).listFiles().map(_.getName)
    assert(parts.exists(_.endsWith(".json.gz")), parts.mkString(","))
    val back = JsonLines.good(JsonLines.readDocuments(spark, dir))
    assert(back.count() == docs.count())
    assert(back.select(sum(length(col("text")))).head.getLong(0) ==
      docs.select(sum(length(col("text")))).head.getLong(0))
  }

  test("malformed lines quarantine with full fidelity; good rows still parse") {
    val dir = tempDir("graft_jsonl_bad")
    val f = dir.resolve("part-000.jsonl")
    Files.writeString(f,
      """{"doc_id": 1, "text": "ok one", "lang": "en", "source": "s", "n_chars": 6}
        |this line is not json at all {{{
        |{"doc_id": 2, "text": "ok two", "lang": "de", "source": "s", "n_chars": 6}
        |""".stripMargin)
    val read = JsonLines.readDocuments(spark, dir.toString)
    val good = JsonLines.good(read)
    assert(good.count() == 2)
    assert(good.select("doc_id").as[Long].collect().sorted.sameElements(Array(1L, 2L)))
    val bad = JsonLines.quarantined(read).as[String].collect()
    assert(bad.length == 1)
    assert(bad.head.contains("not json at all"), bad.head)
  }

  test("null-struct lines (blank, whitespace, literal null) quarantine, not phantom rows") {
    val dir = tempDir("graft_jsonl_nullstruct")
    val f = dir.resolve("part-000.jsonl")
    // from_json returns a NULL STRUCT (not a corrupt record) for these
    // three middle lines — they must land in quarantine, never as
    // all-null "clean" rows
    Files.writeString(f,
      "{\"doc_id\": 1, \"text\": \"ok\", \"lang\": \"en\", \"source\": \"s\", \"n_chars\": 2}\n" +
        "\n" +
        "   \t  \n" +
        "null\n" +
        "{\"doc_id\": 2, \"text\": \"ok\", \"lang\": \"de\", \"source\": \"s\", \"n_chars\": 2}\n")
    val read = JsonLines.readDocuments(spark, dir.toString)
    val good = JsonLines.good(read)
    assert(good.count() == 2, "only the two well-formed lines are clean")
    assert(good.filter(col("doc_id").isNull).count() == 0, "no phantom all-null rows")
    val bad = JsonLines.quarantined(read).as[String].collect().sorted
    assert(bad.length == 3, s"blank + whitespace + literal-null all quarantine: ${bad.mkString("|")}")
    assert(bad.contains("null"), "the literal-null line keeps its raw text")
    assert(bad.contains(""), "the blank line is preserved verbatim")
    assert(bad.exists(l => l.nonEmpty && l.trim.isEmpty), "the whitespace-only line is preserved verbatim")
  }
}
