package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only; the driver passes 2): a
    // regex — only queries whose name matches are dumped and listed in
    // oracle_sql.json, so verify_local.py checks just those.
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, p) => (a, b, Some(p.r))
    }
    def selected(name: String): Boolean =
      only.forall(_.findFirstIn(name).isDefined)
    val spark = EngineConf.localSession(Some(sfDir))
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD in the artifact, not just stderr: in round 7
    // ten throwing queries were simply absent from the correctness JSON,
    // which read as "not declared" instead of red. Collected here and
    // dumped as failed.json alongside oracle_sql.json.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // sorted by name (like Bench): hash-map order varies across runs,
    // which makes any session-state-dependent flake impossible to bisect
    // — two Verify runs must execute (and report) in the same order.
    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => selected(q._1)).foreach { case (name, fn) =>
      spark.catalog.clearCache() // drop frames persisted by earlier queries
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failed += name -> msg
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // sorted for byte-identical artifacts across runs (hash-map order
    // varies per JVM; the driver's json.load is order-blind but a
    // deterministic artifact diffs cleanly round-over-round)
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
    spark.stop()
  }
}
