package graft.dedup

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.sources.Tables

class DedupSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sfDir).cache()

  test("identical docs get identical minhash signatures") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df, col("doc_id"), col("text"))
      .orderBy("doc").collect()
    assert((0 to 3).forall(i => sigs(0).getLong(i + 1) == sigs(1).getLong(i + 1)))
  }

  test("lsh finds the corpus's planted near-dup pairs") {
    val nd = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), 0.8)
    val n = nd.count()
    assert(n >= 20 && n <= 30, s"expected ~25 planted pairs, got $n")
    assert(nd.filter($"jaccard" < 0.8).count() == 0)
  }

  test("CacheScope releases the pipeline-internal persisted frames on close") {
    // handle semantics on a frame we can observe directly
    val scope = new graft.operators.CacheScope()
    val probe = docs.select("doc_id")
    val persisted = scope.persist(probe)
    persisted.count()
    assert(persisted.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "persist must register the frame while the scope is open")
    // and a full pipeline run under the scope still yields the result
    val n = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), 0.8,
      MinHashConfig.OraclePinned, scope).count()
    assert(n > 0)
    scope.close()
    assert(persisted.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "closing the scope must unpersist every tracked frame")
    scope.close() // idempotent
  }

  test("the shared unmanaged scope keeps no reference to a frame it persisted") {
    // persist and release inside a helper so no stack slot here holds it
    def persistAndRelease(): java.lang.ref.WeakReference[org.apache.spark.sql.DataFrame] = {
      val df = graft.operators.CacheScope.unmanaged.persist(docs.select("doc_id"))
      df.count()
      df.unpersist(blocking = true)
      new java.lang.ref.WeakReference(df)
    }
    val ref = persistAndRelease()
    var tries = 0
    while (ref.get != null && tries < 50) { System.gc(); Thread.sleep(20); tries += 1 }
    assert(ref.get == null,
      "a frame persisted through the unmanaged scope must be collectable once unpersisted")
  }

  test("jaccardPairs agrees with LSH-verified jaccard on planted pairs") {
    val exact = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), minIntersection = 2L)
      .filter($"jaccard" >= 0.8).select("d1", "d2", "jaccard")
    val lsh = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), 0.8)
      .select($"d1", $"d2", $"jaccard".as("j2"))
    // every LSH pair appears in the exact set with the same score
    val joined = lsh.join(exact, Seq("d1", "d2"))
    assert(joined.count() == lsh.count())
    assert(joined.filter(abs($"jaccard" - $"j2") > 1e-12).count() == 0)
  }

  test("simhash: near-dup docs are close in hamming distance, random docs far") {
    val sh = Dedup.simhash16(docs, col("doc_id"), col("text"))
    val pairs = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), 0.9)
      .select("d1", "d2")
    def ham = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      bit_count(a.bitwiseXOR(b))
    val nearHam = pairs
      .join(sh.select($"doc".as("d1"), $"simhash".as("s1")), "d1")
      .join(sh.select($"doc".as("d2"), $"simhash".as("s2")), "d2")
      .agg(avg(ham($"s1", $"s2"))).head.getDouble(0)
    val randHam = sh.as("a").crossJoin(sh.as("b"))
      .filter($"a.doc" < $"b.doc" && ($"a.doc" + $"b.doc") % 97 === 0)
      .agg(avg(ham($"a.simhash", $"b.simhash"))).head.getDouble(0)
    assert(nearHam < randHam, s"near=$nearHam rand=$randHam")
  }

  test("64-perm/16-band generated config: recall on planted pairs >= pinned 4-perm config") {
    // 16 bands × 4 rows: P[candidate | j = 0.8] = 1-(1-0.8^4)^16 ≈ 0.9997,
    // so the wide config must see at least the pairs the toy config finds.
    val wide = MinHashConfig.generated(64, 16)
    assert(wide.rowsPerBand == 4 && wide.perms.size == 64)
    assert(wide.perms.distinct.size == 64, "generated perms must be distinct")
    val pinned = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), 0.8)
      .select("d1", "d2")
    val wideNd = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), 0.8, wide)
      .select("d1", "d2")
    assert(pinned.exceptAll(wideNd).count() == 0,
      "wide config missed pairs the pinned config found")
  }

  test("fast-hash (xxhash64) config finds the planted pairs with true-jaccard verification") {
    val fast = MinHashConfig.OraclePinned.copy(portable = false)
    val nd = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), 0.8, fast)
    val n = nd.count()
    assert(n >= 20 && n <= 30, s"expected ~25 planted pairs, got $n")
    assert(nd.filter($"jaccard" < 0.8).count() == 0)
  }

  test("simhashNearDup equals brute-force hamming pairs (pigeonhole is exact)") {
    val sh = Dedup.simhashN(docs, col("doc_id"), col("text"), 60)
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .filter($"a.doc" < $"b.doc")
      .withColumn("hamming",
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("long"))
      .filter($"hamming" <= 3)
      .select($"a.doc".as("d1"), $"b.doc".as("d2"), $"hamming")
    val banded = Dedup.simhashNearDup(docs, col("doc_id"), col("text"))
    assert(banded.exceptAll(brute).count() == 0, "banded emitted a non-pair")
    assert(brute.exceptAll(banded).count() == 0, "banding missed a within-radius pair")
  }

  test("contamination: an eval doc duplicated from train has overlap 1.0, others < 1") {
    // plant: eval doc 900001 is an exact copy of train doc 0's text
    val train = docs.filter($"doc_id" % 2 === 0).select("doc_id", "text")
    val planted = train.filter($"doc_id" === 0)
      .select(lit(900001L).as("doc_id"), $"text")
    val eval_ = docs.filter($"doc_id" % 2 === 1).select("doc_id", "text")
      .union(planted)
    val c = Dedup.contamination(train, col("doc_id"), col("text"),
      eval_, col("doc_id"), col("text"))
    assert(c.filter($"doc" === 900001L).head.getDouble(3) == 1.0)
    // ratio is well-formed for every eval doc
    assert(c.filter($"overlap" < 0 || $"overlap" > 1).count() == 0)
    assert(c.count() == eval_.count())
  }

  test("exactGroups: dup rows collapse to min id") {
    val df = Seq((5L, "t"), (3L, "t"), (9L, "u")).toDF("doc_id", "text")
    val g = Dedup.exactGroups(df, col("doc_id"), col("text"))
      .orderBy("keeper").collect()
    assert(g.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((3L, 2L), (9L, 1L)))
  }

  test("connectedComponents: chain needs multi-round propagation, clique one") {
    // 1-2-3-4-5 chain (diameter 4) + {10,11,12} clique + isolated pair
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)).toDF("d1", "d2")
    val cc = Dedup.connectedComponents(pairs, col("d1"), col("d2"))
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cc == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents throws rather than returning a partial clustering") {
    // a 6-node path has diameter 5 — maxIter=2 cannot converge
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("d1", "d2")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(path, col("d1"), col("d2"), maxIter = 2)
    }
  }

  test("connectedComponents matches a driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(20260812L)
    for (_ <- 1 to 3) {
      val nNodes = 30 + rnd.nextInt(40)
      val edges = Seq.fill(25 + rnd.nextInt(40))(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      // reference: classic union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
        // union-find roots are min-id only per union order; canonicalize
        .groupBy(_._2).flatMap { case (_, m) =>
          val members = m.keys.toSeq; members.map(_ -> members.min)
        }
      val got = Dedup.connectedComponents(edges.toDF("d1", "d2"), col("d1"), col("d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"nodes=$nNodes edges=${edges.size}")
      // the star-contraction fallback must agree on the same graphs
      val gotStar = Dedup.starComponents(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotStar == want, s"star: nodes=$nNodes edges=${edges.size}")
    }
  }

  test("high-diameter fallback: a 10,000-node chain clusters via star contraction") {
    // diameter 9,999 — min-label propagation alone would need 10k rounds;
    // the switchAfter=8 handoff to starComponents finishes in O(log n)
    val n = 10000L
    val chain = spark.range(n - 1).select(col("id").as("d1"), (col("id") + 1L).as("d2"))
    val cc = Dedup.connectedComponents(chain, col("d1"), col("d2"))
    assert(cc.count() == n)
    assert(cc.filter($"canon" =!= 0L).count() == 0, "all nodes must label to the chain min")
  }

  test("connectedComponents clusters the corpus's planted near-dup pairs") {
    val pairs = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), 0.8)
    val cc = Dedup.connectedComponents(pairs, col("d1"), col("d2"))
    // every canonical id is a member of its own cluster, and no cluster
    // has a member smaller than its canon
    assert(cc.filter($"node" === $"canon").count() == cc.select("canon").distinct().count())
    assert(cc.filter($"node" < $"canon").count() == 0)
  }

  test("bestQualityCanon elects the highest-quality member, ties to min id") {
    // cluster {1,2,3} (chain): 3 has the best quality → rep=3 for all;
    // cluster {10,11}: tied quality → min id 10 wins; 99 is unclustered
    // and must not appear in the output at all
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val quality = Seq((1L, 10L), (2L, 10L), (3L, 50L),
      (10L, 7L), (11L, 7L), (99L, 100L)).toDF("id", "q")
    val m = Dedup.bestQualityCanon(pairs, col("d1"), col("d2"),
        quality, col("id"), col("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(m == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 10L -> 10L, 11L -> 10L))
  }

  test("bestQualityCanon fails loudly when quality misses a clustered id") {
    val pairs = Seq((1L, 2L)).toDF("d1", "d2")
    val quality = Seq((1L, 5L)).toDF("id", "q") // id 2 uncovered
    val e = intercept[Exception] {
      Dedup.bestQualityCanon(pairs, col("d1"), col("d2"),
        quality, col("id"), col("q")).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("no quality row for clustered id 2"), messages)
  }

  test("bestQualityCanon deletion keeps one doc per cluster plus all singletons") {
    val d = docs
    val pairs = Dedup.nearDuplicates(d, col("doc_id"), col("text"), 0.8)
    val mapping = Dedup.bestQualityCanon(pairs, col("d1"), col("d2"),
      d, col("doc_id"), col("n_chars"))
    // exactly one representative per cluster, and it is a member
    assert(mapping.filter($"node" === $"rep").count() ==
      mapping.select("canon").distinct().count())
    val removed = mapping.filter($"node" =!= $"rep").select("node")
    val kept = d.join(removed, d("doc_id") === col("node"), "left_anti")
    assert(kept.count() == d.count() - removed.count())
    // the kept member of each cluster has the cluster-max quality
    val bad = mapping.groupBy("canon")
      .agg(max("quality").as("mx"),
        max(when($"node" === $"rep", $"quality")).as("repq"))
      .filter($"mx" =!= $"repq")
    assert(bad.isEmpty)
  }

  test("incrementalDedup classifies exact, near, and fresh delta docs") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "red green blue yellow purple orange pink white")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),       // exact
      (11L, "one two three four five six seven eight nine extra"),  // near
      (12L, "totally fresh words that never appeared before here"), // kept
      (13L, "totally fresh words that never appeared before here")  // delta-internal dup: kept
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(base, col("doc_id"), col("text"),
        delta, col("doc_id"), col("text"), 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(10L -> "exact_dup", 11L -> "near_dup",
      12L -> "kept", 13L -> "kept"), got.toString)
  }

  test("incrementalDedupAgainstIndex: parquet round-trip matches one-shot") {
    val d = docs.select("doc_id", "text")
    val delta = d.filter(col("doc_id") % 4 === 1)
    val base = d.filter(col("doc_id") % 4 =!= 1)
    val dir = tempDir("graft_idx").toString
    Dedup.buildIndex(base, col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(dir)
    val fromIndex = Dedup.incrementalDedupAgainstIndex(
        spark.read.parquet(dir), delta, col("doc_id"), col("text"), 0.8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val oneShot = Dedup.incrementalDedup(base, col("doc_id"), col("text"),
        delta, col("doc_id"), col("text"), 0.8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fromIndex == oneShot)
    assert(fromIndex.values.exists(_ == "near_dup"))
  }

  test("incrementalDedupAgainstIndex rejects an index built with a different config") {
    val d = docs.select("doc_id", "text")
    val base = d.filter(col("doc_id") % 4 =!= 1)
    val delta = d.filter(col("doc_id") % 4 === 1)
    val idx = Dedup.buildIndex(base, col("doc_id"), col("text"),
      graft.dedup.MinHashConfig.generated(8, 4))
    // wrong width: schema check trips before any job runs
    val e1 = intercept[IllegalArgumentException] {
      Dedup.incrementalDedupAgainstIndex(idx, delta, col("doc_id"), col("text"), 0.8)
    }
    assert(e1.getMessage.contains("mh columns"))
    // same width, different perm family: the stamped fingerprint trips
    val e2 = intercept[IllegalArgumentException] {
      Dedup.incrementalDedupAgainstIndex(idx, delta, col("doc_id"), col("text"), 0.8,
        graft.dedup.MinHashConfig.generated(8, 2))
    }
    assert(e2.getMessage.contains("fingerprint"))
    // matching config passes
    assert(Dedup.incrementalDedupAgainstIndex(idx, delta, col("doc_id"), col("text"), 0.8,
      graft.dedup.MinHashConfig.generated(8, 4)).count() == delta.count())
  }

  test("buildIndex keeps sub-shingle docs visible to the exact-dup check") {
    val base = Seq((1L, "only two"), (2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val idx = Dedup.buildIndex(base, col("doc_id"), col("text"))
    assert(idx.count() == 2, "short doc must keep an index row")
    assert(idx.filter(col("mh0").isNull).count() == 1)
    val delta = Seq((10L, "only two"), (11L, "three word doc")).toDF("doc_id", "text")
    val got = Dedup.incrementalDedupAgainstIndex(idx, delta,
        col("doc_id"), col("text"), 0.8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(10L -> "exact_dup", 11L -> "kept"), got.toString)
  }

  test("incrementalDedup flags planted pairs straddling the corpus split") {
    val d = docs.select("doc_id", "text")
    val delta = d.filter(col("doc_id") % 4 === 1)
    val base = d.filter(col("doc_id") % 4 =!= 1)
    val st = Dedup.incrementalDedup(base, col("doc_id"), col("text"),
        delta, col("doc_id"), col("text"), 0.8)
    assert(st.count() == delta.count(), "one status row per delta doc")
    // at least one planted near-pair straddles any fixed doc_id split of
    // the sf corpus; none of the originals is an exact dup
    assert(st.filter($"status" === "near_dup").count() >= 1)
    assert(st.filter($"status" === "exact_dup").count() == 0)
  }

  test("sharedSpanPairs finds a pasted paragraph and counts distinct spans") {
    val span = "alpha bravo charlie delta echo foxtrot golf hotel india" // 9 tokens
    val df = Seq(
      (1L, s"intro words here $span closing remarks"),
      (2L, s"totally different frame $span and other tail content"),
      (3L, "unrelated text with no overlap at all whatsoever here")
    ).toDF("doc_id", "text")
    val got = Dedup.sharedSpanPairs(df, col("doc_id"), col("text"), k = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // a 9-token shared run contains exactly two distinct 8-token spans
    assert(got == Map((1L, 2L) -> 2L), s"got $got")
  }

  test("sharedSpanPairs drops boilerplate spans past the frequency cap") {
    val boiler = "one two three four five six seven eight"
    val df = (1L to 6L).map(i => (i, s"doc $i header $boiler footer $i"))
      .toDF("doc_id", "text")
    // the span occurs in 6 docs; cap at 5 -> no pair may survive
    assert(Dedup.sharedSpanPairs(df, col("doc_id"), col("text"),
      k = 8, maxDocsPerSpan = 5L).count() == 0)
    // raising the cap reinstates all 15 pairs
    assert(Dedup.sharedSpanPairs(df, col("doc_id"), col("text"),
      k = 8, maxDocsPerSpan = 6L).count() == 15)
  }

  test("sharedSpanPairs on the corpus matches the planted near-dup signal") {
    val pairs = Dedup.sharedSpanPairs(docs, col("doc_id"), col("text"), k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // q37's shingle-Jaccard >= 0.5 pairs all share long runs; span overlap
    // must recover the same planted structure (~25 pairs at any sf)
    assert(pairs.size >= 20 && pairs.size <= 35, s"got ${pairs.size} pairs")
  }

  private def decon(train: Seq[(Long, String)], eval: Seq[String], k: Int) =
    Dedup.decontaminateSpans(
        train.toDF("doc_id", "text"), col("doc_id"), col("text"),
        eval.map(Tuple1(_)).toDF("text"), col("text"), k)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

  test("decontaminateSpans cuts exactly the eval-gram-covered positions") {
    // eval holds "c d e": the single matching 3-gram starts at token 2,
    // so tokens 2-4 (c d e) are cut and the rest re-join in order
    val out = decon(Seq(1L -> "a b c d e f"), Seq("x y c d e z"), k = 3)
    assert(out.head == ((1L, 6L, 3L, "a b f")), out.head.toString)
  }

  test("decontaminateSpans merges overlapping hit spans") {
    // both 3-grams of "a b c d" occur in eval; their spans overlap on
    // b,c — covered set is all four tokens, once each
    val out = decon(Seq(1L -> "a b c d"), Seq("a b c", "b c d"), k = 3)
    assert(out.head == ((1L, 4L, 4L, "")), out.head.toString)
  }

  test("decontaminateSpans passes clean docs through untouched") {
    val out = decon(Seq(1L -> "p q r s", 2L -> "a b c d e"),
      Seq("a b c"), k = 3)
    assert(out(0) == ((1L, 4L, 0L, "p q r s")), out(0).toString)
    // doc 2 loses its matched gram but keeps the tail
    assert(out(1) == ((2L, 5L, 3L, "d e")), out(1).toString)
  }

  private def exsub(docs: Seq[(Long, String)], k: Int) =
    Dedup.dedupExactSubstrings(docs.toDF("doc_id", "text"),
        col("doc_id"), col("text"), k)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

  test("dedupExactSubstrings keeps the first occurrence, cuts the rest") {
    // the 3-gram (a b c) appears in both docs; doc 1 holds the globally
    // first occurrence and keeps it, doc 2 loses its copy
    val out = exsub(Seq(1L -> "a b c d e", 2L -> "x a b c y"), k = 3)
    assert(out(0) == ((1L, 5L, 0L, "a b c d e")), out(0).toString)
    assert(out(1) == ((2L, 5L, 3L, "x y")), out(1).toString)
  }

  test("dedupExactSubstrings cuts within-doc repeats too") {
    // "a b c a b c": the second (a b c) run duplicates the first inside
    // one document — positions 3-5 cut
    val out = exsub(Seq(1L -> "a b c a b c"), k = 3)
    assert(out.head == ((1L, 6L, 3L, "a b c")), out.head.toString)
  }

  test("dedupExactSubstrings first-occurrence order is (doc_id, position)") {
    // same gram in docs 2 and 5: doc 2 wins regardless of input order
    val out = exsub(Seq(5L -> "p q r", 2L -> "z p q r"), k = 3)
    assert(out(0) == ((2L, 4L, 0L, "z p q r")), out(0).toString)
    assert(out(1) == ((5L, 3L, 3L, "")), out(1).toString)
  }

  test("dedupExactSubstrings on the corpus scrubs the planted boilerplate") {
    val out = Dedup.dedupExactSubstrings(docs, $"doc_id", $"text", k = 10)
      .cache()
    assert(out.count() == docs.count(), "one row per doc")
    val scrubbed = out.filter($"n_removed" > 0)
    // each planted near-dup pair shares >=10-token runs; the later doc
    // of each pair must lose them
    assert(scrubbed.count() >= 20, s"got ${scrubbed.count()} scrubbed docs")
    assert(out.filter($"n_removed" > $"n_tokens").count() == 0)
    out.unpersist()
  }

  test("decontaminateSpans on the corpus: planted pairs lose mass, others don't") {
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val out = Dedup.decontaminateSpans(even, $"doc_id", $"text",
      odd, $"text", k = 5).cache()
    assert(out.count() == even.count(), "one row per train doc")
    val scrubbed = out.filter($"n_removed" > 0)
    // the planted near-dup pairs straddling the split must surface
    assert(scrubbed.count() > 0, "planted cross-split spans must be cut")
    // removal is bounded by doc size and clean docs keep every token
    assert(out.filter($"n_removed" > $"n_tokens").count() == 0)
    val clean0 = out.filter($"n_removed" === 0)
      .select(size(split($"clean_text", " ")).as("n"), $"n_tokens")
    assert(clean0.filter($"n" =!= $"n_tokens").count() == 0,
      "untouched docs must keep every token")
    out.unpersist()
  }

  test("leakageSafeSplit: no near-dup pair straddles the split; singletons self-cluster") {
    val split = Dedup.leakageSafeSplit(docs, $"doc_id", $"text", 0.8).cache()
    assert(split.count() == docs.count(), "one row per doc")
    // the defining property: both ends of every near-dup pair land on
    // the same side (and in the same cluster)
    val pairs = Dedup.nearDuplicates(docs, $"doc_id", $"text", 0.8)
    val straddle = pairs
      .join(split.select($"doc_id".as("d1"), $"split".as("s1"),
        $"cluster".as("c1")), "d1")
      .join(split.select($"doc_id".as("d2"), $"split".as("s2"),
        $"cluster".as("c2")), "d2")
    assert(straddle.filter($"s1" =!= $"s2" || $"c1" =!= $"c2").count() == 0,
      "near-dup pairs must never straddle the train/eval boundary")
    // docs in no pair are their own singleton cluster
    val inPairs = pairs.select($"d1".as("doc_id"))
      .union(pairs.select($"d2")).distinct()
    val singletons = split.join(inPairs, Seq("doc_id"), "left_anti")
    assert(singletons.filter($"cluster" =!= $"doc_id").count() == 0)
    // the bucket rule: eval iff cluster % 10 == 0, both sides non-empty
    assert(split.filter(($"cluster" % 10 === 0) =!= ($"split" === "eval"))
      .count() == 0)
    assert(split.filter($"split" === "eval").count() > 0)
    assert(split.filter($"split" === "train").count() > 0)
    split.unpersist()
  }

  test("sourceOverlapMatrix: hand-computed containment; zero-overlap pairs absent") {
    // A/B share the shingle (a b c); C shares nothing with either
    val df = Seq((1L, "A", "a b c d"), (2L, "B", "a b c e"),
      (3L, "C", "x y z w")).toDF("id", "src", "text")
    val m = Dedup.sourceOverlapMatrix(df, col("id"), col("text"), col("src"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(m.keySet == Set(("A", "B")),
      s"only the sharing pair may appear, got ${m.keySet}")
    assert(m(("A", "B")) == ((1L, 2L, 2L, 0.5)), s"got ${m(("A", "B"))}")
  }

  test("sourceOverlapMatrix on the corpus: ratios in (0,1], pairs ordered") {
    val source = when($"doc_id" % 2 === 0, "even").otherwise("odd")
    val m = Dedup.sourceOverlapMatrix(docs.withColumn("source", source),
      $"doc_id", $"text", $"source").cache()
    assert(m.filter($"s1" >= $"s2").count() == 0, "pairs must be s1 < s2")
    assert(m.filter($"overlap" <= 0 || $"overlap" > 1).count() == 0)
    assert(m.filter($"n_shared" > least($"n_s1", $"n_s2")).count() == 0,
      "shared mass cannot exceed either side")
    m.unpersist()
  }

  test("cdcChunks: chunks tile each doc; boundaries survive prefix insertion") {
    val base = (0 until 200).map(i => s"t${i % 50}").mkString(" ")
    val prefixed = (0 until 10).map(i => s"p$i").mkString(" ") + " " + base
    val df = Seq((1L, base), (2L, prefixed)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(df, $"doc_id", $"text", k = 8, divisor = 8)
      .orderBy($"doc_id", $"s").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(4)))
    for (doc <- Seq(1L, 2L)) {
      val spans = ch.filter(_._1 == doc)
      val n = if (doc == 1L) 200 else 210
      assert(spans.head._2 == 1 && spans.last._3 == n,
        s"doc $doc chunks must start at 1 and end at $n")
      assert(spans.sliding(2).forall {
        case Array(a, b) => b._2 == a._3 + 1; case _ => true
      }, s"doc $doc spans must be contiguous")
      val rebuilt = spans.map(_._4).mkString(" ")
      val orig = if (doc == 1L) base else prefixed
      assert(rebuilt == orig, s"doc $doc chunks must tile the original text")
      assert(spans.length > 3, s"doc $doc should cut several chunks at divisor 8")
    }
    // the CDC property: every doc-1 chunk except the first survives a
    // 10-token prefix insertion verbatim (fixed-size chunking loses all)
    val c1 = ch.filter(_._1 == 1L).map(_._4)
    val c2 = ch.filter(_._1 == 2L).map(_._4).toSet
    val lost = c1.drop(1).filterNot(c2.contains)
    assert(lost.isEmpty,
      s"content-defined boundaries must realign after the junction: lost $lost")
  }

  test("winnowing: selection is consistent, dense ~2/(w+1), guarantee holds") {
    import graft.functions.TextFunctions.{shingleHashArray, tokens}
    val shared = (0 until 30).map(i => s"s$i").mkString(" ")
    val df = Seq(
      (1L, s"alpha beta gamma $shared delta"),
      (2L, s"x1 y2 $shared z3 w4 v5"),
      (3L, "too short"),        // < k tokens after split? 2 tokens < 3 → no rows
      (4L, "just four tokens here")). // 4 tokens → 2 shingles < w → one window
      toDF("doc_id", "text")
    val fp = Dedup.winnowing(df, $"doc_id", $"text", k = 3, w = 4).cache()
    // every selected (p, sh) really is the hash at that position
    val hs = df.select($"doc_id",
        shingleHashArray(tokens($"text"), 3, portable = true).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val rows = fp.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (d, p, sh) => hs(d)(p.toInt - 1) == sh },
      "selected hash must sit at its claimed position")
    // the winnowing guarantee: a shared >= w+k-1 token run yields at
    // least one identical fingerprint hash in both docs
    val s1 = rows.filter(_._1 == 1L).map(_._3).toSet
    val s2 = rows.filter(_._1 == 2L).map(_._3).toSet
    assert((s1 & s2).nonEmpty, "shared 30-token run must share a fingerprint")
    // selection is sparse: at most one fingerprint per window start
    val n1 = rows.count(_._1 == 1L)
    assert(n1 <= hs(1L).size - 3 && n1 >= hs(1L).size / 5,
      s"density out of range: $n1 of ${hs(1L).size} positions")
    // degenerate docs
    assert(!rows.exists(_._1 == 3L), "docs with no shingles emit no rows")
    assert(rows.count(_._1 == 4L) == 1, "fewer shingles than w → one window")
    fp.unpersist()
  }
}
