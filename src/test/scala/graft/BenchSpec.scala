package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's calm-reference eligibility rule — pure string-level
  * logic, testable without a session. */
class BenchSpec extends AnyFunSuite {

  private val base =
    """{"metric":"total","value":10.0,"unit":"sec","queries":{"q1_agg":0.2}"""

  test("records with errors or a failed floor gate are never references") {
    assert(Bench.calmEligible(base + ""","errors":{},"remeasured":{}}"""))
    assert(!Bench.calmEligible(base + ""","errors":{"q":"boom"},"remeasured":{}}"""))
    assert(!Bench.calmEligible(
      base + ""","errors":{},"remeasured":{},"floor_gate":{"applies":true,"passed":false}}"""))
    assert(Bench.calmEligible(
      base + ""","errors":{},"remeasured":{},"floor_gate":{"applies":true,"passed":true}}"""))
  }

  test("confirmed remeasures keep a record eligible; shrunken ones disqualify it") {
    // CONFIRMED: the remeasure reproduced the recorded sample (within
    // 80%) — the query's genuine cost moved past a dead-epoch ref, and
    // the record must be allowed to REFRESH that ref (the r12
    // stale-ref ratchet fix)
    val confirmed = base +
      ""","errors":{},"remeasured":{"events_rfm":{"recorded":0.82,"calm_ref":0.20,"value":0.81}}}"""
    assert(Bench.calmEligible(confirmed))
    // SHRANK: the remeasure came back well under the recorded sample —
    // the window was genuinely noisy, so the record stays out
    val shrank = base +
      ""","errors":{},"remeasured":{"ta_tfidf":{"recorded":8.1,"calm_ref":1.0,"value":1.1}}}"""
    assert(!Bench.calmEligible(shrank))
    // mixed: one shrunken entry poisons the record
    val mixed = base + ""","errors":{},"remeasured":{""" +
      """"events_rfm":{"recorded":0.82,"calm_ref":0.20,"value":0.81},""" +
      """"ta_tfidf":{"recorded":8.1,"calm_ref":1.0,"value":1.1}}}"""
    assert(!Bench.calmEligible(mixed))
  }

  test("records predating the errors/remeasured fields stay eligible") {
    assert(Bench.calmEligible(base + "}"))
  }

  test("effectiveFloors: static under calm epochs, proportional under drift, capped when degraded") {
    val static0 = Map("q1_agg" -> 0.85, "mr_wc" -> 0.60)
    // session at/under the calibration epoch: static floors hold exactly
    assert(Bench.effectiveFloors(static0, Map("q1_agg" -> 0.30, "mr_wc" -> 0.28)) == static0)
    // missing medians (gate not applying / calibration skipped): static
    assert(Bench.effectiveFloors(static0, Map.empty) == static0)
    // the r12 failure shape: broad-band drift puts mr_wc's session
    // median at 0.55 s — threshold widens to 1.6x the median, so the
    // 0.90 s interior samples that voided BENCH_r12.json now read as
    // the epoch's own level (0.88 <= 0.90 is still above; the REAL r12
    // interiors were 0.33/0.90 with a calm median ~0.35 — the point is
    // proportionality, pinned here at the arithmetic level)
    val drifted = Bench.effectiveFloors(static0, Map("q1_agg" -> 0.70, "mr_wc" -> 0.55))
    assert(math.abs(drifted("q1_agg") - 1.12) < 1e-9) // 1.6 x 0.70
    assert(math.abs(drifted("mr_wc") - 0.88) < 1e-9)  // 1.6 x 0.55
    // degraded session: the 3x-static cap holds — no self-calibrated pass
    val degraded = Bench.effectiveFloors(static0, Map("q1_agg" -> 9999.0, "mr_wc" -> 9999.0))
    assert(degraded("q1_agg") == 0.85 * 3.0 && degraded("mr_wc") == 0.60 * 3.0)
  }

  test("beyondDocumentedBand: trips past 1.4x the calm anchor, not inside the reboot band") {
    val static0 = Map("q1_agg" -> 0.85, "mr_wc" -> 0.60)
    // calm anchors are floor/headroom = 0.531 / 0.375; the documented
    // reboot band tops out at 1.40x over them (0.744 / 0.525)
    assert(!Bench.beyondDocumentedBand(static0,
      Map("q1_agg" -> 0.70, "mr_wc" -> 0.50)), "inside the band must not trip")
    assert(Bench.beyondDocumentedBand(static0,
      Map("q1_agg" -> 0.80, "mr_wc" -> 0.50)),
      "one floor query past the band trips the engine-regression flag")
    assert(!Bench.beyondDocumentedBand(static0, Map.empty),
      "missing medians (calibration skipped) must not trip")
  }

  test("normalizePlan: RewriteDistinctAggregates gid permutations collapse, real changes do not") {
    // the full permutation family from one observed flap (2026-08-16):
    // key order in keys=[...]/hashpartitioning, the Expand projection
    // rows, and the gid literal each FILTER pairs with all swap together
    val runA =
      """HashAggregate(keys=[], functions=[partial_count(a#1) FILTER (WHERE (gid#9 = 1)), partial_count(b#2) FILTER (WHERE (gid#9 = 2))])
        |+- HashAggregate(keys=[a#1, b#2, gid#9], functions=[count(1)])
        |   +- Exchange hashpartitioning(a#1, b#2, gid#9, 32), ENSURE_REQUIREMENTS, [plan_id=11]
        |      +- Expand [[a#1, null, 1], [null, b#2, 2]], [a#1, b#2, gid#9]""".stripMargin
    val runB =
      """HashAggregate(keys=[], functions=[partial_count(a#1) FILTER (WHERE (gid#9 = 2)), partial_count(b#2) FILTER (WHERE (gid#9 = 1))])
        |+- HashAggregate(keys=[b#2, a#1, gid#9], functions=[count(1)])
        |   +- Exchange hashpartitioning(b#2, a#1, gid#9, 32), ENSURE_REQUIREMENTS, [plan_id=11]
        |      +- Expand [[null, b#2, 1], [a#1, null, 2]], [b#2, a#1, gid#9]""".stripMargin
    assert(Bench.normalizePlan(runA) == Bench.normalizePlan(runB),
      "cosmetic gid permutations must fingerprint identically")
    // a REAL change on a gid line (a third distinct column) still moves it
    val runC = runB.replace("keys=[b#2, a#1, gid#9]", "keys=[b#2, a#1, c#3, gid#9]")
    assert(Bench.normalizePlan(runA) != Bench.normalizePlan(runC))
    // gid-free plans are untouched (the fp epoch survives for them)
    val plain = "Exchange hashpartitioning(b#2, a#1, 32), [plan_id=4]"
    assert(Bench.normalizePlan(plain).contains("hashpartitioning(b#x, a#x, 32)"))
    // a USER column merely ending in "gid" must not trigger the
    // canonicalization — only the rewrite's standalone gid column does
    val userCol = "HashAggregate(keys=[orig_gid#7, a#1], functions=[count(1)])"
    assert(Bench.normalizePlan(userCol)
      .contains("HashAggregate(keys=[orig_gid#x, a#x], functions=[count(1)])"))
  }

  test("normalizePlan: lambda-variable fresh-name counters collapse, user names and real changes do not") {
    // the stream_hll flap, verbatim shape (diffed 2026-08-16): the
    // Column-API zip_with lambda's variable names carry a JVM-global
    // counter — x_5/y_6 in one run composition, x_9/y_10 in another,
    // same plan otherwise
    val runA = "Project [zip_with(ra#3, rb#4, lambdafunction(greatest(lambda x_5#11, lambda y_6#12), lambda x_5#11, lambda y_6#12, false)) AS regs#13]"
    val runB = "Project [zip_with(ra#3, rb#4, lambdafunction(greatest(lambda x_9#21, lambda y_10#22), lambda x_9#21, lambda y_10#22, false)) AS regs#13]"
    assert(Bench.normalizePlan(runA) == Bench.normalizePlan(runB),
      "lambda fresh-name counters must fingerprint identically")
    // a REAL change inside the lambda body still moves the fp
    val runC = runB.replace("greatest", "least")
    assert(Bench.normalizePlan(runA) != Bench.normalizePlan(runC))
    // SQL-parsed lambdas keep user-written names (no counter) — untouched
    val sqlLambda = "aggregate(regs#3, 0, lambdafunction((lambda acc#5 + lambda r#6), lambda acc#5, lambda r#6, false))"
    assert(Bench.normalizePlan(sqlLambda)
      .contains("lambda acc#x") , "counter-free lambda names stay verbatim")
    // a user column that happens to end in _N is never `lambda `-prefixed
    // and must not be rewritten
    val userCol2 = "Filter (x_9#7 > 5)"
    assert(Bench.normalizePlan(userCol2).contains("x_9#x"))
  }

  test("normalizePlan: RDD ids, call-site lines and formatted stage and codegen ids collapse, real changes do not") {
    // a checkpointed scan names its RDD: the id depends on which gates
    // ran earlier in the JVM, the line on edits above the call site
    val runA = "Scan ExistingRDD[doc_id#1L,label#2L], MapPartitionsRDD[1021] at localCheckpoint at Dedup.scala:1392, ExistingRDD"
    val runB = "Scan ExistingRDD[doc_id#7L,label#8L], MapPartitionsRDD[87] at localCheckpoint at Dedup.scala:1410, ExistingRDD"
    assert(Bench.normalizePlan(runA) == Bench.normalizePlan(runB),
      "RDD ids and call-site lines must not tell two plans apart")
    val runC = runB.replace("Scan ExistingRDD", "Filter isnotnull(doc_id#7L)\n+- Scan ExistingRDD")
    assert(Bench.normalizePlan(runA) != Bench.normalizePlan(runC))
    // the formatted explain's stage and codegen ids collapse too; a
    // limit's bare-number arguments do not
    def stage(id: Int, codegen: Int) =
      s"(28) ShuffleQueryStage\nOutput [2]: [g#1, sum#2]\nArguments: $id\n\n" +
        s"(30) HashAggregate [codegen id : $codegen]\n\n(31) CollectLimit\nArguments: 10"
    assert(Bench.normalizePlan(stage(5, 17)) == Bench.normalizePlan(stage(6, 16)))
    assert(Bench.normalizePlan(stage(5, 17)) !=
      Bench.normalizePlan(stage(5, 17).replace("Arguments: 10", "Arguments: 20")))
  }
}
