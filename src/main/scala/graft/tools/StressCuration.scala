package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.operators.{CacheScope, Sampling}
import graft.sources.Tables
import graft.text.{LanguageModel, TextAnalysis}

/** Scale probe for the q106 five-stage curation composite (driver-side
  * tooling): inflate the sf0.1 documents table (SPARK_GRAFT_COPIES:
  * 200 → ~1M docs, 2000 → the 10M rep; give the 10M rep
  * SPARK_DRIVER_MEM=24g) and run the pipeline STAGE BY STAGE, timing
  * each and reading the stage's shuffle record counts off
  * [[RunMetrics]] — the evidence that no stage goes super-linear in the
  * corpus. Unlike StressDedup's pathological all-copies corpus, the
  * inflation here salts each copy's text to keep docs unique (the
  * realistic shape for gating/DSIR) while planting an exact duplicate
  * every 20th doc so the dedup stage has real work (~5% duplicate
  * mass).
  *
  * Committed numbers live in EXPLAIN.md ("curation composite at 1M
  * docs"; "StressCuration at 10M docs" — shuffle rows exactly 10×,
  * linear as claimed). */
object StressCuration {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "200").toInt
    require(copies > 0, s"SPARK_GRAFT_COPIES must be positive, got $copies")
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "curation")

    val base = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    // ONE explode, not an N-way union — the union form taxes every stage
    // with re-analysis of N plan branches (see EXPLAIN.md's
    // probe-methodology note)
    // localCheckpoint pins the inflated corpus at 32 partitions and cuts
    // the lineage, so stage timings measure operator work — without it,
    // filter pushdown drags each stage's expressions into the narrow
    // explode stage
    val corpus = base
      .select(col("doc_id"), col("lang"), col("text"),
        explode(sequence(lit(0), lit(copies - 1))).as("i"))
      .select((col("doc_id") + col("i") * 1000000L).as("doc_id"), col("lang"),
        when(col("i") === 0, col("text"))
          .when(pmod(col("doc_id"), lit(20)) === 0, col("text")) // planted exact dup
          .otherwise(concat(col("text"), lit(" c"), col("i"))).as("text"))
      .repartition(32)
      .localCheckpoint()
    println(s"[curation] corpus: ${corpus.count()} docs " +
      s"($copies salted copies of $sfDir, ~5% planted dups)")

    // Stage 1 — canonicalize + C4 gates (per-row projection, no shuffle)
    val canonical = corpus.select(col("doc_id"), col("lang"),
      TextFunctions.canonicalize(col("text")).as("text"))
    val gated = CacheScope.unmanaged.persist(
      TextAnalysis.withRuleFlags(canonical, col("text"))
        .filter(!(col("fail_min_tokens") || col("fail_word_len") ||
          col("fail_repetition") || col("fail_stopwords")))
        .select("doc_id", "lang", "text"))
    rm.stage("1 canonicalize+gates")(gated.count())

    // Stage 1b/1c — standalone comparison baselines (they do not feed
    // the survivor chain). Skippable: the 1c fold baselines exist to
    // show the DFA wins and cost ~20 regex/replace passes per doc —
    // at the 10M scale they dominate the whole probe's wall clock
    // while proving nothing new (set SPARK_GRAFT_CURATION_BASELINES=0).
    val baselines = sys.env.getOrElse("SPARK_GRAFT_CURATION_BASELINES",
      "1") != "0"
    if (baselines) {
    rm.stage("1b safety gate (standalone)")(
      TextAnalysis.withSafetyGate(canonical, col("text"),
        Seq("dup"), Seq("slow", "broken"), softPermille = 80L)
        .filter(col("safety") === "pass").count())

    // Stage 1c — substring blocklist (q182): the Aho–Corasick DFA vs
    // the per-pattern length-replace fold it replaces, on a 20-term
    // blocklist. Standalone like 1b.
    val blocklist = Seq("art", "rea", "dup", "merg", "spark", "windo",
      "batc", "strea", "filt", "cust", "vecto", "colum", "valu", "quer",
      "tabl", "scan", "sort", "group", "lin", "bigx")
    rm.stage("1c substring DFA (20 terms)")(
      canonical.select(
        graft.functions.TextFunctions.substringHits(col("text"), blocklist)
          .as("h")).filter(col("h") > 0).count())
    rm.stage("1c substring fold/regexp (20 terms)")(
      canonical.select(
        blocklist.map(p =>
          (length(col("text")) - length(regexp_replace(col("text"),
            java.util.regex.Pattern.quote(p), ""))) / p.length)
          .reduce(_ + _).as("h")).filter(col("h") > 0).count())
    rm.stage("1c substring fold/replace (20 terms)")(
      canonical.select(
        blocklist.map(p =>
          (length(col("text")) - length(replace(col("text"), lit(p),
            lit("")))) / p.length)
          .reduce(_ + _).as("h")).filter(col("h") > 0).count())
    }

    // Stage 2 — exact dedup keepers (ONE shuffle on the content hash)
    val keepers = CacheScope.unmanaged.persist(
      Dedup.exactGroups(gated, col("doc_id"), col("text"), md5)
        .select(col("keeper").as("doc_id")))
    rm.stage("2 dedup keepers (md5)")(keepers.count())

    // Stage 3 — survivors semi-join (shuffle on the 8-byte doc id)
    val surv = CacheScope.unmanaged.persist(
      gated.join(keepers, Seq("doc_id"), "left_semi"))
    rm.stage("3 survivors semi-join")(surv.count())

    // Stage 4 — DSIR importance weights (ONE doc-token shuffle feeds
    // both LMs; see LanguageModel.importanceWeights)
    val iw = CacheScope.unmanaged.persist(
      LanguageModel.importanceWeights(
        surv, col("doc_id"), TextFunctions.tokens(col("text")), col("lang") === "en"))
    rm.stage("4 DSIR importance weights")(iw.count())

    // Stage 5 — deterministic weighted draw (TakeOrderedAndProject)
    rm.stage("5 weighted draw top-40")(
      Sampling.weightedTopN(iw, col("doc"), col("iw"), 40)
        .join(surv.select(col("doc_id").as("sid"), col("lang")), Seq("sid"))
        .count())

    spark.stop()
  }
}
