package graft.tools

import graft.SparkSpec

/** The plan-budget contract: PLAN_BUDGET.json must cover the WHOLE
  * query surface (a new query without a budget is a gap the audit
  * can't see), parse round-trip must hold, and live-audited cheap
  * queries must sit within their pinned budgets — the in-suite
  * canary for the full `Test/runMain graft.tools.PlanAudit` check.
  */
class PlanAuditSpec extends SparkSpec {

  private lazy val (sf, budget) = PlanAudit.readBudget(PlanAudit.BudgetFile)

  test("PLAN_BUDGET.json parses and covers every SparkEntry query") {
    assert(sf == "sf0.01", s"budget pinned at $sf")
    val queries = graft.SparkEntry.queries.keySet
    val missing = queries.diff(budget.keySet)
    val stale = budget.keySet.diff(queries)
    assert(missing.isEmpty,
      s"queries without a plan budget (run PlanAudit --write and " +
        s"review the diff): ${missing.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"budgets for queries that no longer exist: " +
        stale.toSeq.sorted.mkString(", "))
  }

  test("live audit of representative queries stays within budget " +
      "(AQE off, the PlanAudit configuration)") {
    val names = Seq("q01_pricing_summary", "q05_star_join")
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try names.foreach { n =>
      val c = PlanAudit.counts(graft.SparkEntry.queries(n)(
        spark, "/root/testdata/sf0.01").queryExecution.executedPlan)
      val r = c.regressions(budget(n))
      assert(r.isEmpty, s"$n regressed: ${r.mkString("; ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("--budget followed by another flag fails with the usage string") {
    val e = intercept[IllegalArgumentException](
      PlanAudit.parseArgs(Array("/sf/sf0.01", "--budget", "--write")))
    assert(e.getMessage.contains(PlanAudit.Usage))
  }

  test("a trailing --budget without a file fails with the usage string") {
    val e = intercept[IllegalArgumentException](
      PlanAudit.parseArgs(Array("/sf/sf0.01", "q01_x", "--budget")))
    assert(e.getMessage.contains(PlanAudit.Usage))
    // the well-formed spelling still parses
    assert(PlanAudit.parseArgs(
        Array("/sf/sf0.01", "--budget", "b.json", "--write", "q01_x")) ==
      PlanAudit.Args("/sf/sf0.01", write = true, "b.json", Set("q01_x")))
  }

  test("budgets pin the standing plan claims: no unpartitioned " +
      "windows or cartesian shapes outside the documented carve-outs") {
    // the carve-outs are small and named; growth in either list is a
    // review event, not a silent drift
    val withCartesian = budget.filter(_._2.cj > 0)
    assert(withCartesian.size <= 60,
      s"cartesian/BNLJ budgets ballooned: ${withCartesian.size}")
    val withUnpartWindow = budget.filter(_._2.uw > 0)
    assert(withUnpartWindow.size <= 30,
      s"unpartitioned-window budgets ballooned: ${withUnpartWindow.size}")
    // every budget row is self-consistent (non-negative already by
    // regex; scans present for almost all — driver-DF presentations
    // may read zero files)
    assert(budget.values.forall(c => c.ex >= 0 && c.sc >= 0))
  }
}
