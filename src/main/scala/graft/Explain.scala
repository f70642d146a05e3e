package graft

/** Plan inspector: EXECUTES the named queries (all registered queries if
  * none given) through [[Metrics.run]] and reads the executed plan's
  * `FileSourceScan` nodes back with their `numOutputRows` metric — the
  * check that no query re-reads a table more often than its design claims.
  *
  * Every run is checked against [[ScanBudget]]: a query whose executed
  * plan scans a governed table more times than its budgeted design floor
  * fails the process (exit 2) with a loud listing — plan regressions break
  * the regeneration command itself instead of aging silently inside the
  * committed artifact.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  *  - `SPARK_GRAFT_PLANS_OUT=PLANS.md` additionally writes the full
  *    plan-audit artifact (header + one row per query) — the one-command
  *    PLANS.md regeneration.
  *  - `EXPLAIN_FULL=1` prints each formatted physical plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val selected = SparkEntry.select(
      Option.when(args.length > 1)(args.drop(1).mkString(",")))
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Committed exact-count pin: ScanBudget's exceptions are documented
    // UPPER bounds, so a plan that regressed from 1 scan to 2 under a
    // 2-scan floor would pass them. This file records the regenerated
    // ACTUAL counts; any regeneration over the same sf whose counts
    // differ — in either direction — fails, so a drift must be
    // acknowledged by regenerating the pin
    // (SPARK_GRAFT_BUDGET_OUT=SCANBUDGET.json) in the same commit. The
    // pin is per query, so a focused run checks its own queries too.
    val budgetPinPath = "SCANBUDGET.json"
    val pinned: Map[String, Map[String, Int]] =
      ScanBudgetPin.read(budgetPinPath, new java.io.File(sfDir).getName)
    var violations = List.empty[String]
    var governed = List.empty[(String, Map[String, Int])]
    val rows = selected.map { q =>
      val df = q.fn(spark, sfDir)
      // PlanScans runs the frame and reads each scan node's
      // numOutputRows metric off the plan that ran (static plan text
      // over-counts). Operator-owned artifact dirs carry run-unique
      // suffixes (q91's temp index, q84's fingerprint-keyed store) —
      // normalize them so regenerated PLANS.md rows diff cleanly.
      def artifactName(n: String): String =
        n.replaceAll("([0-9a-f]{16,}|\\d{8,})$", "<id>")
      val raw = PlanScans.executedScans(df)
      val executed = raw.map { case (t, n) => artifactName(t) -> n }
      val desc = executed
        .map { case (t, n) => s"$t=$n" }.mkString(", ")
      println(s"==== ${q.name}: rows actually read per scan: $desc")
      // Budget check: executed scan NODES per governed table vs the
      // design floor (PlanScans.violations — the same check the test
      // suite pins). Artifact paths are not governed and pass through.
      PlanScans.violations(q.name, raw).foreach { v =>
        System.err.println(s"[explain] BUDGET EXCEEDED $v")
        violations ::= v
      }
      val counts = PlanScans.governedCounts(raw)
      governed ::= q.name -> counts
      pinned.get(q.name).foreach { exp =>
        if (exp != counts) {
          val v = s"${q.name}: scan counts drifted from $budgetPinPath " +
            s"(pinned $exp, executed $counts) — plan change must " +
            "regenerate the pin"
          System.err.println(s"[explain] PIN DRIFT $v")
          violations ::= v
        }
      }
      if (sys.env.get("EXPLAIN_FULL").contains("1")) df.explain("formatted")
      spark.catalog.clearCache()
      q.name -> desc
    }
    sys.env.get("SPARK_GRAFT_BUDGET_OUT").foreach { out =>
      ScanBudgetPin.write(out, new java.io.File(sfDir).getName,
        governed.reverse)
      println(s"[explain] wrote ${governed.size} budget rows to $out")
    }
    sys.env.get("SPARK_GRAFT_PLANS_OUT").foreach { out0 =>
      // A plan-regressed build must NOT overwrite the committed artifact
      // (its header says so) — divert to a .rej path the operator can diff.
      val out = if (violations.isEmpty) out0 else s"$out0.rej"
      if (violations.nonEmpty)
        System.err.println(
          s"[explain] budget violations — writing $out instead of $out0")
      val header =
        s"""# PLANS — executed-plan scan audit (full registry, ${new java.io.File(sfDir).getName})
           |
           |Produced by `SPARK_GRAFT_PLANS_OUT=PLANS.md runMain graft.Explain
           |$sfDir`: each registered query is EXECUTED and its plan's
           |`FileSourceScan` nodes are read back with their `numOutputRows`
           |metric — the per-round proof that no query re-reads a table more
           |often than its design claims. Every row is CHECKED against the
           |machine-readable design floors in `ScanBudget.scala` during
           |generation (exit 2 on excess), so this artifact cannot be
           |regenerated from a plan-regressed build.
           |
           |How to read the numbers:
           |
           |- **One entry per executed scan node.** Two entries = two passes
           |  over that table, by design (e.g. the OUT⋈IN transfer self-join
           |  q16/q17, CDC diffs q38/q39, command+snapshot ledger paths
           |  q34–q36 — each such floor is an explicit `ScanBudget.exceptions`
           |  entry).
           |- **`=2N` on a single scan** (e.g. 1000 on the 500-row documents
           |  table): the registered closure ends in a global `orderBy` for
           |  oracle-compare presentation, and Spark's range partitioner
           |  SAMPLES the input before the real pass. Where that sort wraps a
           |  nontrivial operator the bench times the unordered shape instead
           |  (`bench_shape: "api"` in the bench artifact).
           |- **Generator queries (q40/q44/q45/q53–q55) show no file scans** —
           |  they synthesize from `spark.range`, which is the point.
           |- **Non-table paths** (q84's stored-history artifact, q91's
           |  maintained cell index) are the operators' own bounded artifacts
           |  — budget-exempt, listed for completeness.
           |- **Dimension scans** (part/supplier/orders) appear beside the
           |  fact scan for the join enrichment queries — broadcast sides,
           |  scanned once.
           |
           || Query | Scans (table=rows actually read) |
           ||---|---|
           |""".stripMargin
      val body = rows.map { case (n, d) => s"| $n | $d |" }.mkString("\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (header + body + "\n").getBytes("UTF-8"))
      println(s"[explain] wrote ${rows.size} rows to $out")
    }
    spark.stop()
    if (violations.nonEmpty) {
      System.err.println(
        s"[explain] ${violations.size} scan-budget violation(s):")
      violations.reverse.foreach(v => System.err.println(s"[explain]   $v"))
      sys.exit(2)
    }
  }
}
