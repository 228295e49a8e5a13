package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalacheck.{Gen, Prop, Test}

import graft.SparkSpec
import graft.functions.TextFunctions
import graft.functions.expressions.MinHashSketch

/** The per-row [[MinHashSketch]] against the flat formulation it replaced:
  * (doc, sh) rows from `shingleHashes`, grouped by doc, one
  * `min((a·(sh % P) + b) % P)` per permutation and a `collect_set` —
  * kept here as the reference implementation. */
class MinHashSketchSpec extends SparkSpec {
  import spark.implicits._

  private val configs: Seq[(String, MinHashConfig)] = for {
    (name, cfg) <- Seq("pinned" -> MinHashConfig.OraclePinned,
      "generated(64,16)" -> MinHashConfig.generated(64, 16))
    portable <- Seq(true, false)
  } yield s"$name portable=$portable" -> cfg.copy(portable = portable)

  /** doc → (signature, shingle set) for docs with at least k tokens. */
  private def reference(df: DataFrame, cfg: MinHashConfig): Map[Long, (Seq[Long], Set[Long])] = {
    val P = TextFunctions.MinHashP
    val aggs = cfg.perms.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * (col("sh") % P) + lit(b)) % P).as(s"mh$i")
    } :+ collect_set(col("sh")).as("shs")
    val n = cfg.perms.size
    Dedup.shingleHashes(df, col("doc_id"), col("text"), cfg.shingleK, cfg.portable)
      .groupBy("doc").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> ((1 to n).map(r.getLong), r.getSeq[Long](n + 1).toSet))
      .toMap
  }

  /** doc → the sketch's (sig, shs), None for a null sketch. */
  private def sketched(df: DataFrame, cfg: MinHashConfig): Map[Long, Option[(Seq[Long], Seq[Long])]] = {
    val sk: Column = Bridge.column(MinHashSketch(
      Bridge.expression(TextFunctions.tokens(col("text"))), cfg.shingleK, cfg.perms, cfg.portable))
    df.select(col("doc_id"), sk.as("sk")).collect()
      .map { r =>
        r.getLong(0) -> Option(r.getStruct(1)).map(s => (s.getSeq[Long](0), s.getSeq[Long](1)))
      }
      .toMap
  }

  /** Texts over a small vocabulary (a one-word vocabulary repeats every
    * shingle), plus null, empty, blank and sub-k texts. */
  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf("", "   ", "one", "one two").map(Some(_)),
    8 -> (for {
      vocab <- Gen.chooseNum(1, 12)
      len <- Gen.chooseNum(0, 30)
      ws <- Gen.listOfN(len, Gen.chooseNum(0, vocab - 1).map(i => s"w$i"))
    } yield Some(ws.mkString(" "))))

  private val corpus: Gen[Seq[(Long, Option[String])]] =
    Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, text))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  test("sketch sig/shs equal the flat groupBy reference; null exactly for sub-k docs") {
    val prop = Prop.forAllNoShrink(corpus) { docs =>
      val df = docs.toDF("doc_id", "text")
      configs.forall { case (name, cfg) =>
        val ref = reference(df, cfg)
        val got = sketched(df, cfg)
        val ok = docs.forall { case (id, _) =>
          (ref.get(id), got(id)) match {
            case (None, None) => true
            case (Some((sig, set)), Some((gSig, gShs))) =>
              gSig == sig && gShs.toSet == set && gShs == gShs.sorted.distinct
            case _ => false
          }
        }
        if (!ok) println(s"[sketch] mismatch under $name on $docs")
        ok
      }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("minhashSignatures and buildIndex expose the sketch under their public schemas") {
    val df = Seq((1L, Some("a b c d e f")), (2L, Some("two words")), (3L, None: Option[String]))
      .toDF("doc_id", "text")
    val cfg = MinHashConfig.OraclePinned
    val ref = reference(df, cfg)
    val sigs = Dedup.minhashSignatures(df, col("doc_id"), col("text"), cfg)
    assert(sigs.columns.toSeq == "doc" +: (0 to 3).map(i => s"mh$i"))
    assert(sigs.collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap ==
      ref.map { case (d, (sig, _)) => d -> sig })
    val idx = Dedup.buildIndex(df, col("doc_id"), col("text"), cfg)
    assert(idx.columns.toSeq ==
      (Seq("doc", "content_hash") ++ (0 to 3).map(i => s"mh$i") ++ Seq("shs", "_cfg")))
    val rows = idx.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), "sub-k and null docs keep an index row")
    assert(rows(1L).getSeq[Long](6).toSet == ref(1L)._2)
    assert((2 to 6).forall(i => rows(2L).isNullAt(i) && rows(3L).isNullAt(i)))
  }
}
