package graft

/** Per-stage measurement harness (optimization guide §1: decide whether a
  * query's time goes to scan, exchange, or compute BEFORE touching the
  * plan; the Spark UI is disabled in this sandbox, so this main prints
  * the same stage table the UI's stage page would show).
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <queryName> [warm] [timed]
  *
  * Runs the registered query `warm` untimed times (JIT/codegen/footer
  * warm-up, default 1), then `timed` measured times (default 1), with the
  * bench's exact materialization ([[Metrics.run]], cache cleared between
  * runs). For every stage of the measured runs prints: stage id, wall ms,
  * executor-run ms (Σ task run time), GC ms, input bytes/rows, shuffle
  * read/write bytes, task count, and the callsite — the evidence for
  * plan-shape claims in OPTIMIZATION_r17.md. Measurement tooling only:
  * never part of a query path.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val q = SparkEntry.select(Some(args(1))) match {
      case Seq(one) => one
      case many => sys.error(
        s"ProfileQuery profiles one query, got ${many.map(_.name).mkString(", ")}")
    }
    val warm = if (args.length > 2) args(2).toInt else 1
    val timed = if (args.length > 3) args(3).toInt else 1
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def runOnce(): Metrics.Sample = {
      val s = Metrics.run(spark)(q.timed(spark, sfDir))
      spark.catalog.clearCache()
      s
    }
    (1 to warm).foreach(_ => runOnce())
    val samples = (1 to timed).map(_ => runOnce())
    val walls = samples.map(_.wallSec)
    val rows = samples.flatMap(_.stages)

    println(f"== ${q.name}: timed ${walls.map(w => f"$w%.3f").mkString(", ")} s " +
      s"(over $timed run(s); ${rows.size} stages)")
    println(f"${"stage"}%5s ${"wall_ms"}%8s ${"run_ms"}%8s ${"gc_ms"}%6s " +
      f"${"in_MB"}%8s ${"in_rows"}%10s ${"shR_MB"}%8s ${"shW_MB"}%8s " +
      f"${"tasks"}%5s  site")
    rows.sortBy(-_.wallMs).foreach { r =>
      println(f"${r.id}%5d ${r.wallMs}%8d ${r.runMs}%8d ${r.gcMs}%6d " +
        f"${r.inBytes / 1e6}%8.2f ${r.inRows}%10d ${r.shuffleRead / 1e6}%8.2f " +
        f"${r.shuffleWrite / 1e6}%8.2f ${r.tasks}%5d  ${r.site}")
    }
    val tot = rows.map(_.wallMs).sum
    println(f"== stage wall total ${tot}ms, stages ${rows.size}, " +
      f"executor-run ${rows.map(_.runMs).sum}ms, " +
      f"gc ${rows.map(_.gcMs).sum}ms, " +
      f"shuffleR ${rows.map(_.shuffleRead).sum / 1e6}%.1f MB")
    spark.stop()
  }
}
