package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/** The PLANS.md normalizer (r16 ADVICE): nondeterministic tokens —
  * exprIds, plan_id values, RDD ids, JVM lambda addresses — must map to stable
  * placeholders so regenerated artifacts diff clean when structure is
  * unchanged, while genuinely different structures still differ. */
class PlanNormalizeSpec extends AnyFunSuite {

  private def n(s: String) = graft.Plans.normalize(s)

  test("exprIds become first-appearance ordinals") {
    assert(n("Project [a#4317L, b#92, a#4317L]") ===
      "Project [a#1L, b#2, a#1L]")
  }

  test("two dumps of the same structure normalize identically") {
    val run1 = "Exchange hashpartitioning(k#881, 32), [plan_id=1021]\n+- Scan [k#881, v#904]"
    val run2 = "Exchange hashpartitioning(k#17, 32), [plan_id=4]\n+- Scan [k#17, v#23]"
    assert(n(run1) === n(run2))
  }

  test("different structures still differ after normalization") {
    assert(n("SortMergeJoin [k#1]") !== n("BroadcastHashJoin [k#1]"))
  }

  test("lambda addresses are replaced") {
    val s = n("udf(Lambda$3412/0x00007f3c5d2@4f2a1b33)")
    assert(!s.matches(".*0x[0-9a-f]+.*"), s)
  }

  test("hex and decimal lambda forms both normalize") {
    val hex = "Arguments: a.CorpusOps$$$Lambda$3412/0x00007f3c5d2@4f2a1b33, obj#7"
    val dec = "Arguments: a.CorpusOps$$$Lambda$3412/1626877848@4f2a1b33, obj#7"
    assert(n(hex) === "Arguments: a.CorpusOps$$$LAMBDA, obj#1")
    assert(n(dec) === n(hex))
    assert(n("udf(Lambda$57/1626877848)") === "udf(LAMBDA)")
  }

  test("RDD ids become a placeholder") {
    val early = "MapPartitionsRDD[37] at localCheckpoint at Staging.scala:37, ExistingRDD"
    val late = "MapPartitionsRDD[392] at localCheckpoint at Staging.scala:37, ExistingRDD"
    assert(n(early) === "MapPartitionsRDD[N] at localCheckpoint at Staging.scala:37, ExistingRDD")
    assert(n(late) === n(early))
    assert(n("ParallelCollectionRDD[5]") === "ParallelCollectionRDD[N]")
  }

  test("idempotent") {
    val s = "Filter (x#55 > y#3) [plan_id=88] Lambda$9/0xab@cd"
    assert(n(n(s)) === n(s))
  }
}
