package graft.tools

import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashConfig}
import graft.functions.TextFunctions
import graft.operators.{CacheScope, Relational, Sampling}
import graft.sources.Tables
import graft.text.{LanguageModel, TextAnalysis, TfIdf, WeightedSentiment}
import graft.tools.Stress.{inflate, Params}
import graft.tools.RunMetrics.noop

/** [[Stress]] scenarios of the dedup family and the composites built on
  * it (q106 curation, q123 web corpus). */
object DedupScenarios {
  private val fastCfg = MinHashConfig.generated(64, 16, portable = false)

  private def documents(spark: SparkSession, p: Params): DataFrame =
    Tables.documents(spark, p.sfDir).select("doc_id", "text")

  /** Copies of `base` with ids offset by 1e6 per copy and the text kept:
    * every doc sits in a `copies`-strong exact-duplicate class. */
  private def copiesOf(base: DataFrame, copies: Long): DataFrame =
    inflate(base, copies)((col("doc_id") + col("i") * 1000000L).as("doc_id"), col("text"))

  /** The text/dedup operators on `copies` offset copies of the documents
    * table. The corpus is pathological on purpose: every doc sits in a
    * `copies`-strong duplicate class, so exact verification must score
    * C(copies, 2) pairs per base doc — candidates-only isolates the LSH
    * core from that irreducible verify mass. The incremental shape indexes
    * the corpus once and classifies one documents-sized batch against it:
    * the steady-state cost per batch is the classify number. */
  def dedupOps(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val copies = p("copies")
    val base = documents(spark, p)
    val corpus = copiesOf(base, copies)
    println(s"[stress] corpus: ${corpus.count()} docs ($copies copies of ${p.sfDir})")
    val idxDir = p.dir("idx")
    val delta = base.select((col("doc_id") + copies * 1000000L).as("doc_id"), col("text"))
    Seq[(String, () => Unit)](
      "exact dedup (xxhash64 groups)" -> (() =>
        noop(Dedup.exactGroups(corpus, col("doc_id"), col("text")))),
      "minhash signatures 64-perm xxhash" -> (() =>
        noop(Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), fastCfg))),
      "LSH candidates-only 64-perm/16-band" -> (() =>
        noop(Dedup.lshCandidates(
          Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), fastCfg), fastCfg))),
      "LSH near-dup 64/16 (verifies ~1M true pairs)" -> (() =>
        noop(Dedup.nearDuplicates(corpus, col("doc_id"), col("text"), 0.8, fastCfg))),
      "simhash hamming near-dup (60-bit, fastHash)" -> (() =>
        noop(Dedup.simhashNearDup(corpus, col("doc_id"), col("text"),
          hash = TextFunctions.fastHash))),
      "tf-idf top-5 per doc" -> (() =>
        noop(TfIdf.topKPerDoc(corpus, col("doc_id"), TextFunctions.tokens(col("text")), 5))),
      s"dedup index build ($copies×corpus, 64/16)" -> (() =>
        Dedup.buildIndex(corpus, col("doc_id"), col("text"), fastCfg)
          .write.mode("overwrite").parquet(idxDir)),
      "incremental classify (1 batch vs stored index)" -> (() =>
        noop(Dedup.incrementalDedupAgainstIndex(spark.read.parquet(idxDir),
          delta, col("doc_id"), col("text"), 0.8, fastCfg))),
      // every span's posting list is >= `copies` long here, so the
      // frequency cap must clear copies × (planted df) or the result is
      // empty — 200 keeps all real postings while bounding boilerplate
      "span overlap k=8 (posting joins, ~1M true pairs)" -> (() =>
        noop(Dedup.sharedSpanPairs(corpus, col("doc_id"), col("text"),
          k = 8, maxDocsPerSpan = 200L, portable = false)))
    ).foreach { case (label, run) =>
      spark.catalog.clearCache() // no stage reads another's persisted frames
      rm.stage(label)(run())
    }
  }

  /** The incremental dedup path over bases of `copies`·2^s copies of the
    * documents table (s < steps): build the persistable index once per
    * base, then classify three documents-sized delta batches against the
    * stored parquet index. Index build should scale ~linearly with the
    * base; per-batch classify should be flat across batches (nothing
    * accumulates) and read only base band rows, never base text. */
  def incremental(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val base = documents(spark, p)
    val baseN = base.count()
    (0 until p.int("steps")).map(p("copies") << _).foreach { copies =>
      spark.catalog.clearCache()
      val corpus = copiesOf(base, copies)
      val idxDir = p.dir(s"idx_$copies")
      rm.stage(s"base=${copies * baseN} index build")(
        Dedup.buildIndex(corpus, col("doc_id"), col("text"), fastCfg)
          .write.mode("overwrite").parquet(idxDir))
      val index = spark.read.parquet(idxDir)
      (1 to 3).foreach { b =>
        val delta = base.select(
          (col("doc_id") + (1000 + b) * 1000000L).as("doc_id"), col("text"))
        rm.stage(s"base=${copies * baseN} batch $b classify")(noop(
          Dedup.incrementalDedupAgainstIndex(index, delta,
            col("doc_id"), col("text"), 0.8, fastCfg)))
      }
    }
  }

  /** `n` docs of 40 hex tokens in 10-doc families; `tok(j)` picks the
    * family member's j-th token (a column over `id`). */
  private def tokenDocs(spark: SparkSession, n: Long)(tok: Int => Column) =
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 40).map(tok): _*).as("text"))

  /** Exact-verified LSH near-dup vs signature-agreement estimation on one
    * corpus of 10-doc families where member m perturbs m of its base's 40
    * tokens (true Jaccard ≈ 0.62–1.0): [[Dedup.nearDuplicates]] re-shingles
    * candidate text, [[Dedup.nearDuplicatesEstimated]] at the matching
    * 52/64 agreement floor never touches text after the signature pass.
    * The estimate's miss/extra rate vs exact is the variance the cost
    * saving buys. */
  def estimate(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val base = col("id") - pmod(col("id"), lit(10L))
    val m = pmod(col("id"), lit(10L))
    val corpus = tokenDocs(spark, p("docs")) { j =>
      when(lit(j.toLong) < m, hex(xxhash64(lit("perturb"), col("id"), lit(j))))
        .otherwise(hex(xxhash64(lit(j), base, pmod(base, lit(977L)))))
    }.persist()
    corpus.count()
    val cfg = MinHashConfig.generated(64, 16)
    def exact(sc: CacheScope, t: Double) =
      Dedup.nearDuplicates(corpus, col("doc_id"), col("text"), t, cfg, sc)
    def estimated(sc: CacheScope) =
      Dedup.nearDuplicatesEstimated(corpus, col("doc_id"), col("text"), 52, cfg, sc)
    val exactPairs = rm.stage("exact_verify_j0.8")(
      Using.resource(new CacheScope)(exact(_, 0.8).count()))
    val estPairs = rm.stage("estimated_52of64")(
      Using.resource(new CacheScope)(estimated(_).count()))
    // agreement between the two verdicts on the same candidate universe
    Using.resource(new CacheScope) { sc =>
      val ex = exact(sc, 0.8).select("d1", "d2")
      val es = estimated(sc).select("d1", "d2")
      val both = ex.intersect(es).count()
      println(s"[estimate] overlap: both=$both exact_only=${exactPairs - both} " +
        s"est_only=${estPairs - both}")
      // exact J of the est-only pairs (passed 52/64 but true J < 0.8):
      // the flip band the estimate's variance predicts
      val flipJ = es.except(ex).join(exact(sc, 0.01), Seq("d1", "d2"))
        .agg(min("jaccard").as("min_j"), max("jaccard").as("max_j")).collect()(0)
      println(f"[estimate] est_only true-J range: " +
        f"[${flipJ.getDouble(0)}%.3f, ${flipJ.getDouble(1)}%.3f]")
    }
  }

  /** Break-even of the exact-dup presence gate in
    * [[Dedup.nearDuplicatesCollapsed]]: one corpus at 0% / 10% / 30%
    * planted exact dups, through the plain and the gated collapsed
    * operator, cold. Dup-free must stay within noise of plain (one extra
    * 1-row aggregate over the persisted keyed frame); dup-heavy keeps the
    * collapse win. */
  def collapseGate(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val n = p("docs")
    for (dupPct <- Seq(0, 10, 30)) {
      // ids with id%10 <= dupPct/10 share their family base's text
      val base = when(pmod(col("id"), lit(10L)) <= lit(dupPct / 10L),
        col("id") - pmod(col("id"), lit(10L))).otherwise(col("id"))
      val c = tokenDocs(spark, n)(j => hex(xxhash64(lit(j), base, pmod(base, lit(977L)))))
        .persist()
      val distinctTexts = c.select("text").distinct().count()
      println(s"[gate] dup=$dupPct% -> ${"%,d".format(n)} docs, " +
        s"${"%,d".format(distinctTexts)} distinct texts")
      rm.stage(s"plain_dup$dupPct")(Using.resource(new CacheScope)(sc =>
        Dedup.nearDuplicates(c, col("doc_id"), col("text"), 0.8,
          MinHashConfig.OraclePinned, sc).count()))
      rm.stage(s"collapsed_dup$dupPct")(Using.resource(new CacheScope)(sc =>
        Dedup.nearDuplicatesCollapsed(c, col("doc_id"), col("text"), 0.8,
          MinHashConfig.OraclePinned, sc).count()))
      c.unpersist()
    }
  }

  /** The posting-list frequency cap on 60-bit signatures with ONE
    * corpus-common band value (`hot_pct`% of docs share band 0) — the
    * near-empty-doc simhash shape the cap exists for. From one banding
    * frame: pre- and post-cap candidate mass Σ C(|bucket|, 2) by
    * aggregation (the uncapped self-join is never materialized), the
    * [[Dedup.bandPostingAudit]] census, and the full capped
    * [[Dedup.simhashNearDupFromSigs]] pipeline, feasible only because of
    * the cap. */
  def capBands(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val n = p("docs")
    val hotPct = p("hot_pct")
    val raw = xxhash64(lit("sig"), col("id")).bitwiseAND(lit((1L << 60) - 1))
    val sigs = spark.range(n).select(col("id").as("doc"),
      when(pmod(col("id"), lit(100L / hotPct)) === 0,
        raw.bitwiseAND(lit(~0x7FFFL)).bitwiseOR(lit(0x1ABCL)))
        .otherwise(raw).as("simhash"))
      .persist()
    println(s"[cap] ${"%,d".format(n)} sigs, ${hotPct}% sharing band0=0x1ABC " +
      s"(${"%,d".format(n * hotPct / 100)} postings in the hot bucket)")
    // the engine's simhash banding at maxHamming=3: 4 bands x 15 bits
    val bands = sigs.select(col("doc"), posexplode(array((0 until 4).map(b =>
      shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL))): _*))
      .as(Seq("band_idx", "band_val")))
    candidateMass(rm, "cap", bands.groupBy("band_idx", "band_val")
      .agg(count(lit(1)).as("np")).persist())
    rm.stage("band_audit") {
      val a = Dedup.bandPostingAudit(bands, Seq("band_idx", "band_val"), 1000L)
        .agg(count(lit(1)), count_if(col("capped")), max("n_postings")).head
      println(f"[cap]   buckets>=2=${a.getLong(0)}%,d capped=${a.getLong(1)}%,d " +
        f"max_postings=${a.getLong(2)}%,d")
    }
    rm.stage("capped_neardup_pipeline") {
      Dedup.simhashNearDupFromSigs(sigs, maxHamming = 3,
        bits = 60, maxPostings = 1000L).count()
    }
  }

  /** The `candidate_mass` stage of the posting-cap scenarios: pre- and
    * post-cap (1000) pair mass over per-bucket posting counts `np`. */
  private[tools] def candidateMass(rm: RunMetrics, tag: String, counts: DataFrame): Unit =
    rm.stage("candidate_mass") {
      // np*(np-1) is even, so the div is exact; cast keeps it integral
      val c2 = (col("np") * (col("np") - 1) / 2).cast("long")
      val m = counts.agg(
        sum(c2).cast("long").as("pre"),
        sum(when(col("np") <= 1000, c2).otherwise(0L)).cast("long").as("post")).head
      println(f"[$tag]   pre-cap candidates=${m.getLong(0)}%,d  " +
        f"post-cap candidates=${m.getLong(1)}%,d  " +
        f"(${m.getLong(0).toDouble / math.max(m.getLong(1), 1)}%,.0fx reduction)")
    }

  /** The q106 five-stage curation composite stage by stage on salted
    * copies of the documents table (unique docs, the realistic shape for
    * gating/DSIR) with an exact duplicate planted every 20th doc (~5%
    * duplicate mass), each stage's shuffle records read off
    * [[RunMetrics]]: no stage may go super-linear in the corpus. Stages
    * 1b/1c are standalone baselines that do not feed the survivor chain:
    * the safety gate, and the 20-term substring blocklist through the
    * Aho–Corasick DFA vs the regexp/replace folds it replaced. */
  def curation(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val copies = p("copies")
    val corpus = inflate(Tables.documents(spark, p.sfDir).select("doc_id", "lang", "text"),
      copies)((col("doc_id") + col("i") * 1000000L).as("doc_id"), col("lang"),
      when(col("i") === 0, col("text"))
        .when(pmod(col("doc_id"), lit(20)) === 0, col("text")) // planted exact dup
        .otherwise(concat(col("text"), lit(" c"), col("i"))).as("text"))
    println(s"[curation] corpus: ${corpus.count()} docs " +
      s"($copies salted copies of ${p.sfDir}, ~5% planted dups)")

    // 1: canonicalize + C4 gates (per-row projection, no shuffle)
    val canonical = corpus.select(col("doc_id"), col("lang"),
      TextFunctions.canonicalize(col("text")).as("text"))
    val gated = CacheScope.unmanaged.persist(
      TextAnalysis.withRuleFlags(canonical, col("text"))
        .filter(!(col("fail_min_tokens") || col("fail_word_len") ||
          col("fail_repetition") || col("fail_stopwords")))
        .select("doc_id", "lang", "text"))
    rm.stage("1 canonicalize+gates")(gated.count())
    rm.stage("1b safety gate (standalone)")(
      TextAnalysis.withSafetyGate(canonical, col("text"),
        Seq("dup"), Seq("slow", "broken"), softPermille = 80L)
        .filter(col("safety") === "pass").count())
    val blocklist = Seq("art", "rea", "dup", "merg", "spark", "windo",
      "batc", "strea", "filt", "cust", "vecto", "colum", "valu", "quer",
      "tabl", "scan", "sort", "group", "lin", "bigx")
    def hits(label: String)(h: Column) =
      rm.stage(s"1c substring $label (20 terms)")(
        canonical.select(h.as("h")).filter(col("h") > 0).count())
    def fold(strip: String => Column) =
      blocklist.map(t => (length(col("text")) - length(strip(t))) / t.length).reduce(_ + _)
    hits("DFA")(TextFunctions.substringHits(col("text"), blocklist))
    hits("fold/regexp")(fold(t => regexp_replace(col("text"),
      java.util.regex.Pattern.quote(t), "")))
    hits("fold/replace")(fold(t => replace(col("text"), lit(t), lit(""))))

    // 2: exact dedup keepers (ONE shuffle on the content hash)
    val keepers = CacheScope.unmanaged.persist(
      Dedup.exactGroups(gated, col("doc_id"), col("text"), md5)
        .select(col("keeper").as("doc_id")))
    rm.stage("2 dedup keepers (md5)")(keepers.count())
    // 3: survivors semi-join (shuffle on the 8-byte doc id)
    val surv = CacheScope.unmanaged.persist(
      gated.join(keepers, Seq("doc_id"), "left_semi"))
    rm.stage("3 survivors semi-join")(surv.count())
    // 4: DSIR importance weights (ONE doc-token shuffle feeds both LMs)
    val iw = CacheScope.unmanaged.persist(
      LanguageModel.importanceWeights(
        surv, col("doc_id"), TextFunctions.tokens(col("text")), col("lang") === "en"))
    rm.stage("4 DSIR importance weights")(iw.count())
    // 5: deterministic weighted draw (TakeOrderedAndProject)
    rm.stage("5 weighted draw top-40")(
      Sampling.weightedTopN(iw, col("doc"), col("iw"), 40)
        .join(surv.select(col("doc_id").as("sid"), col("lang")), Seq("sid"))
        .count())
  }

  private val gateW: Seq[(String, Double)] = Seq(
    "spark" -> 0.5, "fast" -> 0.4, "slow" -> -0.45, "dup" -> -0.5)

  /** Best-quality election over worst-case cluster mass: 20 unsalted
    * copies put every doc in a 20-strong near-dup class, so pairs, CC,
    * the quality join and the per-canon election window carry every row. */
  def webcorpusElection(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val clustered = copiesOf(documents(spark, p), 20)
    val n = clustered.count()
    println(s"[webcorpus] clustered corpus: $n docs " +
      "(20 copies -- every doc in a 20-strong near-dup class)")
    rm.stage(s"pairs + CC + best-quality election ($n docs)") {
      val pairs = Dedup.nearDuplicates(clustered, col("doc_id"), col("text"), 0.8, fastCfg)
      noop(Dedup.bestQualityCanon(pairs, col("d1"), col("d2"),
        clustered.select(col("doc_id"), length(col("text")).as("q")),
        col("doc_id"), col("q")))
    }
  }

  /** The per-row logistic gate and the 300-domain top-1000 quota over 200
    * salted (unique) copies, where the rank ≤ N filter must prune
    * map-side (WindowGroupLimit) for the window stage to stay small. */
  def webcorpusGateQuota(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val corpus = inflate(documents(spark, p), 200)(
      (col("doc_id") + col("i") * 1000000L).as("doc_id"),
      concat(col("text"), lit(" c"), col("i")).as("text"))
    val n = corpus.count()
    println(s"[webcorpus] unique corpus: $n docs (salted copies)")
    val gated = CacheScope.unmanaged.persist(
      WeightedSentiment(gateW, 0.0).score(corpus, col("text"))
        .filter(col("sentiment") === "positive")
        .select("doc_id", "text"))
    rm.stage(s"classifier gate, per-row logistic ($n docs)")(gated.count())
    // the narrow (doc_id, q, domain) projection is materialized so the
    // quota timing isolates the rank window from the gate
    val withDomain = CacheScope.unmanaged.persist(
      gated.select(col("doc_id"), length(col("text")).as("q"),
        TextFunctions.registeredDomain(concat(lit("www.site"),
          pmod(col("doc_id"), lit(300)), lit(".com"))).as("domain")))
    rm.stage("domain projection materialized")(withDomain.count())
    rm.stage("domain quota: top-1000 per domain, 300 domains")(
      noop(Relational.topKPerGroup(withDomain, Seq(col("domain")),
        Seq(col("q").desc, col("doc_id")), 1000)))
  }

  /** The FULL q123 composite (gate → near-dup + best-rep election →
    * domain quota → per-domain report) the way q123 chains it, through
    * plain LSH or, `collapsed`, through [[Dedup.nearDuplicatesCollapsed]].
    * Corpus: `copies` per base doc where each run of `group` consecutive
    * copies shares a 30-token salt — group members are exact dups (J=1),
    * different groups fall below the 0.8 threshold (30 fresh shingles per
    * side cap J at ~0.65) — so the dedup stage carries real mass. Growing
    * `copies` at fixed `group` multiplies distinct texts and the
    * cross-group near-miss structure, which is quadratic in groups per
    * base; growing `group` multiplies only duplication, which the
    * collapse absorbs before LSH runs. */
  def webcorpusComposite(collapsed: Boolean)(
      spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val copies = p("copies")
    val group = p.int("group")
    // the salt is keyed on the base id under a name distinct from the
    // output alias, so it cannot capture the per-copy id of the same select
    val famSalt = array_join(transform(sequence(lit(0), lit(29)),
      j => concat(lit("s"), col("base_id"), lit("g"),
        (col("i") / group).cast("int"), lit("t"), j)), " ")
    val families = inflate(documents(spark, p).select(col("doc_id").as("base_id"), col("text")),
      copies)((col("base_id") + col("i") * 1000000L).as("doc_id"),
      concat(col("text"), lit(" "), famSalt).as("text"),
      length(concat(col("text"), lit(" "), famSalt)).as("n_chars"))
    println(s"[webcorpus] composite corpus: ${families.count()} docs " +
      s"($group-member exact-dup families, ${copies / group} groups per base doc)")
    val tag = if (collapsed) "collapsed" else "full"
    def nearDup(g: DataFrame) =
      if (collapsed) Dedup.nearDuplicatesCollapsed(g, col("doc_id"), col("text"), 0.8, fastCfg)
      else Dedup.nearDuplicates(g, col("doc_id"), col("text"), 0.8, fastCfg)

    rm.stage(s"composite[$tag]: all three stages") {
      // lazy: each frame is built (election loop included) inside its stage
      lazy val g2 = CacheScope.unmanaged.persist(
        WeightedSentiment(gateW, 0.0).score(families, col("text"))
          .filter(col("sentiment") === "positive")
          .select("doc_id", "text", "n_chars"))
      rm.stage(s"composite[$tag]: classifier gate (persist barrier)")(g2.count())
      lazy val sv = {
        val removed = Dedup.bestQualityCanon(nearDup(g2), col("d1"), col("d2"),
            g2, col("doc_id"), col("n_chars"))
          .filter(col("node") =!= col("rep")).select("node")
        CacheScope.unmanaged.persist(
          g2.join(removed, g2("doc_id") === col("node"), "left_anti")
            .withColumn("domain", concat(lit("site"),
              pmod(col("doc_id"), lit(300)), lit(".com"))))
      }
      rm.stage(s"composite[$tag]: near-dup + election -> survivors")(sv.count())
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
  }
}
