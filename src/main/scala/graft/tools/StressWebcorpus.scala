package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashConfig}
import graft.functions.TextFunctions
import graft.operators.{CacheScope, Relational}
import graft.sources.Tables
import graft.text.WeightedSentiment

/** Scale probe for the round-7 web-corpus operators (driver-side
  * tooling), two corpora for two failure modes:
  *
  *  - ELECTION at 100k docs: the pathological 20-copy corpus (every doc
  *    in a 20-strong near-dup class, ~5k clusters) pushes
  *    `bestQualityCanon` through the worst-case cluster mass — pairs,
  *    CC, quality join, and the per-canon election window all carry
  *    every row.
  *  - GATE + QUOTA at 1M docs: salted UNIQUE copies (the realistic
  *    curation shape) time the per-row logistic gate and the
  *    300-domain top-1000 quota, where the rank≤N filter must prune
  *    map-side (WindowGroupLimit) for the window stage to stay small.
  *
  * Committed numbers live in EXPLAIN.md ("web-corpus operators at
  * scale"). */
object StressWebcorpus {
  def main(args: Array[String]): Unit = {
    // stage selection ("AB", "C", default all): the A/B corpora pin
    // ~2 GB of localCheckpoint + persist blocks that cannot be released
    // mid-process (checkpoint RDD handles aren't exposed), and running
    // the stage-C composite on top of them OOMs the 8g probe heap —
    // run C in its own JVM for clean numbers
    val stages = args.headOption.getOrElse("ABC").toUpperCase
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "webcorpus")
    import RunMetrics.noop

    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    // inflate via ONE explode, not an N-way union: a 200-branch union
    // costs tens of seconds of driver-side re-analysis per action (the
    // lineage hazard the BPE probe hit), which would contaminate every
    // stage timing with planning noise the real engine plans never pay
    def inflate(copies: Int, salt: Boolean) = {
      val e = base.select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(copies - 1))).as("i"))
      e.select((col("doc_id") + col("i") * 1000000L).as("doc_id"),
        (if (salt) concat(col("text"), lit(" c"), col("i")) else col("text"))
          .as("text"))
        .repartition(32)
        .localCheckpoint() // pin 32 partitions; cut lineage out of timings
    }

    val cfg = MinHashConfig.generated(64, 16, portable = false)
    val gateW: Seq[(String, Double)] = Seq(
      "spark" -> 0.5, "fast" -> 0.4, "slow" -> -0.45, "dup" -> -0.5)

    // --- A: best-quality election over worst-case cluster mass --------
    if (stages.contains('A')) {
    val clustered = inflate(20, salt = false)
    println(s"[webcorpus] clustered corpus: ${clustered.count()} docs " +
      "(20 copies — every doc in a 20-strong near-dup class)")
    rm.stage("pairs + CC + best-quality election (100k docs)") {
      val pairs = Dedup.nearDuplicates(clustered, col("doc_id"), col("text"),
        0.8, cfg)
      noop(Dedup.bestQualityCanon(pairs, col("d1"), col("d2"),
        clustered.select(col("doc_id"), length(col("text")).as("q")),
        col("doc_id"), col("q")))
    }

    }

    // --- B: gate + domain quota over 1M unique docs -------------------
    if (stages.contains('B')) {
    spark.catalog.clearCache() // drop stage A's persisted frames
    val corpus1m = inflate(200, salt = true)
    println(s"[webcorpus] unique corpus: ${corpus1m.count()} docs (salted copies)")
    val gated = CacheScope.unmanaged.persist(
      WeightedSentiment(gateW, 0.0).score(corpus1m, col("text"))
        .filter(col("sentiment") === "positive")
        .select("doc_id", "text"))
    // result = docs the gate kept
    rm.stage("classifier gate, per-row logistic (1M docs)")(gated.count())
    // materialize the narrow (doc_id, q, domain) projection so the quota
    // timing isolates the rank window from the gate re-execution
    val withDomain = CacheScope.unmanaged.persist(
      gated.select(col("doc_id"), length(col("text")).as("q"),
        TextFunctions.registeredDomain(concat(lit("www.site"),
          pmod(col("doc_id"), lit(300)), lit(".com"))).as("domain")))
    rm.stage("domain projection materialized")(withDomain.count())
    rm.stage("domain quota: top-1000 per domain, 300 domains")(
      noop(Relational.topKPerGroup(withDomain, Seq(col("domain")),
        Seq(col("q").desc, col("doc_id")), 1000)))
    }

    // --- C/D: the FULL q123 composite end-to-end at 1M docs -----------
    // Stages A/B time election and gate/quota in isolation; C runs the
    // composed pipeline (gate → near-dup + best-rep election → domain
    // quota → per-domain report) the way q123 chains it, with
    // RunMetrics reading per-stage shuffle rows; D is the identical
    // composite with `Dedup.nearDuplicatesCollapsed` — the exact-dup
    // collapse fast path the C numbers motivated. Corpus: 200 copies
    // per base doc where each group of 10 consecutive copies shares a
    // 30-token salt — group members are exact dups (J=1), different
    // groups fall below the 0.8 threshold (30 fresh shingles per side
    // on a ≤100-token doc caps J at ~0.65) — so the dedup stage carries
    // real mass: ~100k 10-member families, ~45 candidate pairs each.
    if (stages.contains('C') || stages.contains('D')) {
    // salt keyed on the BASE id under a name distinct from the output
    // alias: referencing col("doc_id") here would lateral-alias-capture
    // the NEW per-copy id computed in the same select (observed: every
    // copy got a unique salt and the dedup stage had nothing to remove)
    // corpus scale knobs. COPIES sets |docs| (200 = 1M at sf0.1,
    // 2000 = 10M); GROUP sets the exact-dup family size (consecutive
    // copies sharing one salt). The two 10M shapes probe different
    // axes: GROUP=10 keeps families 1M-like but multiplies DISTINCT
    // texts 10× — and with them the corpus's cross-group near-miss
    // structure, which is QUADRATIC in groups-per-base (C(g,2) pairs
    // at J≈0.65, just under the 0.8 threshold); GROUP=100 keeps the
    // distinct-text core at the 1M run's 100k and multiplies only the
    // DUPLICATION, which the collapse absorbs before LSH ever runs.
    val cCopies = sys.env.getOrElse("SPARK_GRAFT_WEBCORPUS_COPIES",
      "200").toInt
    val cGroup = sys.env.getOrElse("SPARK_GRAFT_WEBCORPUS_GROUP",
      "10").toInt
    val famSalt = array_join(transform(sequence(lit(0), lit(29)),
      j => concat(lit("s"), col("base_id"), lit("g"),
        (col("i") / cGroup).cast("int"), lit("t"), j)), " ")
    val families = base
      .select(col("doc_id").as("base_id"), col("text"),
        explode(sequence(lit(0), lit(cCopies - 1))).as("i"))
      .select((col("base_id") + col("i") * 1000000L).as("doc_id"),
        concat(col("text"), lit(" "), famSalt).as("text"))
      .withColumn("n_chars", length(col("text")))
      .repartition(32)
      .localCheckpoint()
    println(s"[webcorpus] composite corpus: ${families.count()} docs " +
      s"($cGroup-member exact-dup families, " +
      s"${cCopies / cGroup} groups per base doc)")

    def composite(tag: String, nearDup: DataFrame => DataFrame): Unit =
      rm.stage(s"composite[$tag]: all three stages") {
        var g2: DataFrame = null
        rm.stage(s"composite[$tag]: classifier gate (persist barrier)") {
          g2 = CacheScope.unmanaged.persist(
            WeightedSentiment(gateW, 0.0).score(families, col("text"))
              .filter(col("sentiment") === "positive")
              .select("doc_id", "text", "n_chars"))
          g2.count()
        }
        var sv: DataFrame = null
        rm.stage(s"composite[$tag]: near-dup + election -> survivors") {
          val pairs = nearDup(g2)
          val removed = Dedup.bestQualityCanon(pairs, col("d1"), col("d2"),
              g2, col("doc_id"), col("n_chars"))
            .filter(col("node") =!= col("rep")).select("node")
          sv = CacheScope.unmanaged.persist(
            g2.join(removed, g2("doc_id") === col("node"), "left_anti")
              .withColumn("domain", concat(lit("site"),
                pmod(col("doc_id"), lit(300)), lit(".com"))))
          sv.count()
        }
        rm.stage(s"composite[$tag]: domain quota + per-domain report") {
          val kept = Relational.topKPerGroup(sv, Seq(col("domain")),
              Seq(col("n_chars").desc, col("doc_id")), 1000)
            .groupBy("domain").agg(count(lit(1)).as("n_kept"),
              sum("n_chars").as("kept_chars"))
          val rep = sv.groupBy("domain").agg(count(lit(1)).as("n_dedup"))
            .join(kept, Seq("domain"))
          noop(rep); rep.count()
        }
      }

    if (stages.contains('C'))
      composite("full", g =>
        Dedup.nearDuplicates(g, col("doc_id"), col("text"), 0.8, cfg))
    if (stages.contains('D'))
      composite("collapsed", g =>
        Dedup.nearDuplicatesCollapsed(g, col("doc_id"), col("text"), 0.8, cfg))
    }
    spark.stop()
  }
}
