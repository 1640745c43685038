package graft

import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md's pick list names each query once, and its masking leaves
  * no JVM- or session-assigned name in a plan. */
class PlansSpec extends AnyFunSuite {

  test("a repeated pick name fails, naming the repeat") {
    val e = intercept[IllegalArgumentException] {
      Plans.requireDistinct(Seq("q1", "q45_basket_lift", "q2", "q45_basket_lift"))
    }
    assert(e.getMessage.contains("q45_basket_lift"))
    Plans.requireDistinct(Seq("q1", "q2"))
  }

  test("the Plans object itself starts: its picks are distinct") {
    assert(Plans != null)
  }

  test("session names are masked, expr ids are kept") {
    val plan = "Scan parquet spark_catalog.default.graft_b_basket_69e36c38 " +
      "[l_orderkey#7605L] [file:/tmp/graft_buckets_8421609593644617862/basket] " +
      "MapPartitions graft.X$$Lambda$5738/0x00007f1b0c2e1a30@77065121"
    assert(Fingerprints.maskSessionNames(plan) ===
      "Scan parquet spark_catalog.default.graft_b_basket [l_orderkey#7605L] " +
        "[file:/tmp/graft_buckets_N/basket] MapPartitions graft.X$$Lambda")
  }
}
