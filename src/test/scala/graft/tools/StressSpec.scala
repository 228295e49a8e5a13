package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The [[Stress]] scenario table, without Spark: names resolve, both tiers
  * are declared, and the smoke tier never outgrows the full one. */
class StressSpec extends AnyFunSuite {
  private val names = Stress.scenarios.map(_.name)

  test("scenario names are unique and never shadow a set") {
    assert(names.distinct == names)
    assert(names.toSet.intersect(Stress.sets.keySet).isEmpty)
  }

  test("every set expands to known scenarios; all is the whole table") {
    Stress.sets.keys.foreach { set =>
      val got = Stress.expand(set).map(_.name)
      assert(got.nonEmpty && got.forall(names.contains), set)
    }
    assert(Stress.expand("all").map(_.name) == names)
    assert(Stress.expand("dedup").map(_.name) == Seq("dedup_ops", "incremental",
      "estimate", "collapse_gate", "cap_bands", "webcorpus_election",
      "webcorpus_gate_quota", "webcorpus_composite", "webcorpus_collapsed"))
    assert(Stress.expand("loops").map(_.name) ==
      Seq("graph", "hierarchy", "bpe", "wordpiece", "unigram"))
    // a comma list runs each scenario once, in first-named order
    assert(Stress.expand("bpe, loops").map(_.name) ==
      Seq("bpe", "graph", "hierarchy", "wordpiece", "unigram"))
  }

  test("every scenario declares both tiers, and no smoke scale exceeds its full scale") {
    Stress.scenarios.foreach { sc =>
      assert(sc.reason.nonEmpty, sc.name)
      assert(sc.smoke.keySet == sc.full.keySet, sc.name)
      sc.smoke.foreach { case (k, v) =>
        assert(v > 0 && v <= sc.full(k), s"${sc.name}.$k: smoke $v, full ${sc.full(k)}")
      }
    }
  }

  test("an unknown name fails with a message listing the valid names") {
    val e = intercept[IllegalArgumentException](Stress.expand("graph,nosuch"))
    assert(e.getMessage.contains("'nosuch'"))
    (names ++ Stress.sets.keys).foreach(n => assert(e.getMessage.contains(n), n))
  }
}
