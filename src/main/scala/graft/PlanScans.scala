package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Executed-plan scan inspection shared by [[Explain]] (the PLANS.md
  * generator + budget gate) and the test suite's budget pins — one
  * walker, so the artifact and the specs cannot disagree about what
  * counts as a scan.
  *
  * Counting contract (the [[ScanBudget]] semantics): distinct executed
  * `FileSourceScan` NODES, identity-deduped (a reused exchange/stage
  * appears at several tree positions but executed once; two distinct
  * scans with equal row counts must still both count), descending
  * through AQE stages and cached-plan internals. */
object PlanScans {

  /** All executed file scans under `p`, identity-deduped. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case c: InMemoryTableScanExec => walk(c.relation.cachedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(walk)
    }
    walk(p).groupBy(System.identityHashCode(_)).values.map(_.head).toSeq
  }

  /** Materialize `df` through [[Metrics.run]] and return each scan of
    * the recorded plan — the plan that ran, so its metrics are the rows
    * actually read — as (root-path name, rows read). */
  def executedScans(df: DataFrame): Seq[(String, Long)] =
    scans(Metrics.run(df.sparkSession)(df).plan)
      .map(f => f.relation.location.rootPaths.headOption
        .map(_.getName).getOrElse("?")
        -> f.metrics("numOutputRows").value)
      .sorted

  /** Scan-node count per governed TABLE (suffix-stripped, artifact paths
    * excluded) — the quantity [[ScanBudget.maxScans]] bounds. */
  def governedCounts(executed: Seq[(String, Long)]): Map[String, Int] =
    executed
      .groupBy(_._1.stripSuffix(".parquet"))
      .filter { case (t, _) => ScanBudget.governed(t) }
      .map { case (t, nodes) => t -> nodes.size }

  /** Budget violations from an [[executedScans]] listing (empty = within
    * budget). Takes the listing, not the frame, so one execution serves
    * both the report and the gate. */
  def violations(name: String, executed: Seq[(String, Long)]): Seq[String] =
    governedCounts(executed).toSeq.collect {
      case (t, n) if n > ScanBudget.maxScans(name, t) =>
        s"$name: $t scanned ${n}x (budget ${ScanBudget.maxScans(name, t)})"
    }
}
