package graft
import org.apache.spark.sql.SparkSession

/** Registry benchmark: runs every headline query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query is FULLY materialized by [[Metrics.run]]
  * (a noop-sink write: every column computed, nothing collected). Failures
  * are reported per-query as -1 and make the process exit nonzero: a broken
  * query must never read as a fast one.
  *
  * Measurement protocol — no timed sample is the process's first execution
  * of anything:
  *  - one untimed warm-up run precedes the loop (JVM/codegen/parquet-footer
  *    warm-up would otherwise land on whichever query runs first);
  *  - every query runs SPARK_GRAFT_BENCH_RUNS times (default 3); the
  *    headline "queries"/"value" numbers are the per-query MIN (the plan's
  *    cost, free of one-off JIT/IO/GC noise) and "queries_max" keeps the
  *    worst run visible so a real instability can't hide behind the min;
  *  - the cache is cleared between runs (Scale.prefixSum's caller
  *    contract) so no run benefits from a predecessor's persisted blocks;
  *  - the LLM-pipeline operators (dedup/fingerprint/ANN — not part of the
  *    reference-report baseline) are timed the same way and reported under
  *    "aux_queries", OUTSIDE the gate total.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // SPARK_GRAFT_BENCH_ONLY=q27_…,…: focused re-timing of a
    // comma-separated EXACT-name subset (perf-iteration tooling; a full run
    // never sets it), selected by SparkEntry.select: an unknown name fails
    // the run instead of timing an empty set whose zero total could be
    // misread as a perf win; it fails before any session starts.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val chosen = SparkEntry.select(only)
    // `local[n]` never serializes an exchange, so
    // SPARK_GRAFT_MASTER=local-cluster[w,c,mem] runs the SAME bench against
    // real worker JVMs (session contract shared with HashCheck via
    // [[Sessions]] — including the executor-jar wiring).
    val master = Sessions.master
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(
      s"[bench] heap=${Runtime.getRuntime.maxMemory() / (1 << 20)}MiB " +
        s"cpus=$cpus runs=$runs")

    // Aux = every registered non-headline query, derived from the registry
    // itself, so a new query cannot drop out of timing.
    val headline = chosen.filter(_.headline)
    // benchSkip twins stay out of the ROUTINE aux run but an explicit
    // BENCH_ONLY naming still times them.
    val aux = chosen.filterNot(_.headline)
      .filter(q => only.isDefined || !q.benchSkip)
    val skipped = SparkEntry.registry
      .filter(q => q.benchSkip && only.isEmpty).map(_.name)

    // Calibration probe: a FIXED synthetic job — hash over a 50M range,
    // one exchange, one agg; no input data, no query code — timed
    // min-of-3. The same code measures differently on different days (the
    // host's effective throughput moves while same-day old-vs-new code
    // differs by ≈0), so `calib_sec` is the per-artifact throughput anchor
    // and `value_norm` (= value / calib_sec) the comparable headline.
    //
    // Ordering: the probe runs FIRST — its first run doubles as the
    // JVM-wide throwaway (noop writer, codegen/JIT of the exchange
    // machinery) — then the query warm-up, then the timed loop, so no
    // timed sample is ever the process's first execution of anything, and
    // the warm-up absorbs the GC debt of the probe's three 50M-row
    // allocation bursts before the clock starts (a first timed query right
    // after the probe once caught a 9.7 s max).
    val calibSec: Double = try {
      (1 to 3).map { _ =>
        Metrics.run(spark)(spark.range(0, 50000000L, 1, cpus.toInt)
          .selectExpr("xxhash64(id) AS h")
          .repartition(cpus.toInt)
          .selectExpr("bit_xor(h) AS s")) // overflow-free under ANSI
          .wallSec
      }.min
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] calibration probe failed: $e")
        -1.0
    }
    System.err.println(s"[bench] calib_sec=$calibSec")

    // Untimed setup pass: one-time artifacts a query reads but whose
    // build is not that query's cost — q84's stored-history parquet
    // (built lazily inside the first timed sample, it would inflate
    // queries_max/GC attribution, and a runs=1 invocation would time the
    // build as query cost).
    try graft.ops.History.ensureStored(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] q84 stored-table setup failed: $e") }
    // Untimed: train-once quantizer warm-up for the IVF serve queries —
    // q83 times TRAINING cold every run; q85/q91 time SERVING against
    // the driver-memoized model (Ann.trainedCents scaladoc). Without this
    // the first timed q85 sample pays the one-time train and trips the
    // unstable flag as a fake stall.
    if ((headline ++ aux).exists(q =>
        q.name == "q85_ivf_serve_trained" || q.name == "q91_ivf_serve_index"))
      try graft.ops.Ann.warmTrained(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] IVF trained-model warm-up failed: $e") }
    // Untimed: q101's sized-k quantizer (the first timed sample otherwise
    // pays the one-time k≈√n training + hierarchy prologue and trips the
    // unstable flag as a fake stall).
    if ((headline ++ aux).exists(_.name == "q101_semdedup_auto"))
      try graft.ops.Ann.warmSemDedupAuto(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] q101 sized-quantizer warm-up failed: $e") }
    // Untimed: the PQ codebook the quantized-ANN serves read (a train-once
    // artifact memoized like the quantizer).
    if ((headline ++ aux).exists(q => Set("q154_ann_pq", "q158_ann_ivfpq",
        "q163_pq_recall", "q164_ivfpq_recall", "q165_pq_index_serve",
        "q166_pq_index_increment").contains(q.name)))
      // q166 trains under a CUT-KEYED memo key; warm that codebook too
      // when it is in the benched set (otherwise its first timed sample
      // still pays PQ Lloyd training).
      try graft.ops.Ann.warmPq(spark, sfDir, incrementCut =
        (headline ++ aux).exists(_.name == "q166_pq_index_increment"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] PQ codebook warm-up failed: $e") }

    // Untimed warm-up: the first TIMED query end-to-end (the first aux
    // query under a BENCH_ONLY subset with no headline selection, so an
    // empty-headline run still gets one), between the probe and the clock.
    try {
      (headline ++ aux).headOption
        .foreach(q => Metrics.run(spark)(q.timed(spark, sfDir)))
      spark.catalog.clearCache()
    } catch { case _: Throwable => () }

    var failed = List.empty[String]
    /** Cumulative (busyJiffies, stealJiffies) from /proc/stat — the VM
      * noisy-neighbor detector. Headline drift between artifacts of the
      * same code is neither plan cost (identical plans re-run at the old
      * numbers) nor GC (~30 ms); on a shared-host VM the remaining
      * candidate is host contention, so the artifact records steal beside
      * GC and a comparison starts from evidence. */
    def cpuJiffies(): (Long, Long) =
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        val parts =
          try f.getLines().next().split("\\s+").drop(1).map(_.toLong)
          finally f.close()
        val idle = parts(3) + parts(4) // idle + iowait
        (parts.sum - idle, if (parts.length > 7) parts(7) else 0L)
      } catch { case _: Throwable => (0L, 0L) }
    /** Per-query measurement: (min s, max s, gc ms at the min run, gc ms
      * at the max run, shuffle bytes read and written at the min run); -1s
      * on failure. GC deltas ATTRIBUTE drift: a query whose max-run wall
      * time spikes while its max-run GC spikes with it is an environment
      * stall, not a plan regression. Times `q.timed` — the operator's API
      * shape; a registered closure's compare-only orderBy (see
      * [[Query.benchFn]]) is not operator cost. */
    def time(q: Query): (Double, Double, Long, Long, Long, Long) = {
      System.err.println(s"[bench] timing ${q.name}")
      val samples = (1 to runs).map { _ =>
        try {
          val s = Metrics.run(spark)(q.timed(spark, sfDir))
          spark.catalog.clearCache()
          (s.wallSec, s.gcMs, s.shuffleRead, s.shuffleWrite)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED: $e")
            failed ::= q.name
            spark.catalog.clearCache()
            (-1.0, 0L, 0L, 0L)
        }
      }
      if (samples.exists(_._1 < 0)) (-1.0, -1.0, 0L, 0L, 0L, 0L)
      else {
        val mn = samples.minBy(_._1); val mx = samples.maxBy(_._1)
        (mn._1, mx._1, mn._2, mx._2, mn._3, mn._4)
      }
    }

    val jif0 = cpuJiffies()
    val results = headline.map(q => q.name -> time(q))
    val auxResults = aux.map(q => q.name -> time(q))
    val jif1 = cpuJiffies()
    // steal as % of the machine's busy jiffies over the whole run:
    // >1–2% means the host contended the guest and walls are inflated.
    val stealPct =
      if (jif1._1 - jif0._1 <= 0) -1.0
      else math.round(
        (jif1._2 - jif0._2) * 10000.0 / (jif1._1 - jif0._1)) / 100.0

    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // JSON string escaper: a quote or backslash in sfDir or master must
    // not corrupt either output line.
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val total =
      results.collect { case (_, (mn, _, _, _, _, _)) if mn >= 0 => mn }.sum
    val qs = jmap(results.map { case (k, (mn, _, _, _, _, _)) => k -> mn })
    val qsMax = jmap(results.map { case (k, (_, mx, _, _, _, _)) => k -> mx })
    val auxQs = jmap(auxResults.map { case (k, (mn, _, _, _, _, _)) => k -> mn })
    // GC attribution: [gc at the min run, gc at the max run] in ms.
    val gcJson = (results ++ auxResults)
      .map { case (k, (_, _, gMn, gMx, _, _)) => s"\"$k\":[$gMn,$gMx]" }
      .mkString("{", ",", "}")
    // Shuffle volume at the min run: [bytes read, bytes written] — the
    // measured exchange evidence that plan shapes alone cannot give.
    val shuffleJson = (results ++ auxResults)
      .map { case (k, (_, _, _, _, sr, sw)) => s"\"$k\":[$sr,$sw]" }
      .mkString("{", ",", "}")
    // Stability guard: an environment stall (the r2/r3 GC-spike class of
    // failure) shows up as one run far above the plan's cost. Flag any
    // query whose max exceeds 3× its min by more than a second so a
    // reintroduced stall fails LOUDLY in the artifact instead of silently
    // re-inflating totals.
    val unstable = (results ++ auxResults).collect {
      case (k, (mn, mx, _, _, _, _))
        if mn >= 0 && mx > 3 * mn && mx - mn > 1.0 => k
    }
    unstable.foreach(k => System.err.println(
      s"[bench] UNSTABLE $k: max > 3x min — environment stall suspected"))
    val unstableJson = unstable.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Contention guard: the max-vs-min rule above compares runs to each
    // other, so a UNIFORMLY slow window — every run inflated by host
    // contention — would pass it (one artifact showed steal 2.32%, calib
    // 14.9 s vs a same-day 2.6–2.9 s band, and `unstable: []`). This guard
    // is CALIB-RELATIVE instead: the artifact self-labels `contended` when
    // whole-run steal exceeds 1% or the probe's cpu-seconds exceed
    // CALIB_TOLERANCE× the committed healthy band, so a contended artifact
    // cannot look normal and the operator can re-run instead of grading
    // the hypervisor.
    // Committed reference for the calibration probe, in CPU-SECONDS
    // (calib_sec × worker threads): the probe is embarrassingly parallel,
    // so its total CPU work is machine-size-invariant — a one-day backfill
    // band (2.63–2.94 s at 32 threads) puts a healthy host at 84–94
    // cpu-sec; a slow day measured ~195 and a contended artifact ~476.
    val CALIB_REF_CPUSEC = 90.0
    val CALIB_TOLERANCE = 2.0
    val calibCpuSec =
      if (calibSec > 0) math.round(calibSec * cpus.toInt * 100.0) / 100.0
      else -1.0
    val contended = stealPct > 1.0 ||
      calibCpuSec > CALIB_TOLERANCE * CALIB_REF_CPUSEC
    if (contended) System.err.println(
      s"[bench] CONTENDED window: steal=$stealPct% " +
        s"calib_cpusec=$calibCpuSec (healthy ~$CALIB_REF_CPUSEC) — " +
        "wall times are inflated by the host, not the plans; re-run " +
        "in a quiet window before comparing raw seconds")
    // Measurement provenance: queries timed on a benchFn measure the
    // operator's API shape, not the registered compare closure — flag them
    // so artifact diffs see the measurement change, and record which twins
    // were skipped entirely.
    val shapeJson = (headline ++ aux).filter(_.benchFn.isDefined)
      .map(q => "\"" + q.name + "\":\"api\"").mkString("{", ",", "}")
    val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val heapMib = Runtime.getRuntime.maxMemory() / (1 << 20)
    // The headline comparable across artifacts — one field to compare.
    val valueNorm =
      if (calibSec > 0) math.round(total / calibSec * 1000.0) / 1000.0
      else -1.0
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""queries_max":$qsMax,"aux_queries":$auxQs,"runs":$runs,""" +
        s""""unstable":$unstableJson,"bench_shape":$shapeJson,""" +
        s""""bench_skipped":$skippedJson,"gc_ms":$gcJson,""" +
        s""""shuffle_bytes":$shuffleJson,"master":${jstr(master)},""" +
        s""""heap_mib":$heapMib,"cpus":$cpus,"steal_pct":$stealPct,""" +
        s""""calib_sec":$calibSec,"calib_cpusec":$calibCpuSec,""" +
        s""""contended":$contended,"value_norm":$valueNorm,""" +
        s""""sf":${jstr(sfDir)}}"""
    // Durable artifact FIRST: a tail-captured stdout window can truncate
    // the total, so the file is the self-contained record regardless of
    // how stdout is captured.
    // A focused BENCH_ONLY run lands in its own file: the committed
    // BENCH_LAST.json is the FULL-registry record, and a perf-iteration
    // subset overwriting it once shipped a 0.0-total artifact.
    val defaultOut =
      if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_LAST.json"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write $out: $e")
    }
    println(json)
    // Bounded aux spotlight: a consumer that keeps only the final ~2 KB of
    // stdout sees the summary line below, which carries the headline map
    // only, so the aux queries would be invisible to it. This SECOND
    // bounded line (~550 B) surfaces the slowest TOP-12 aux entries inside
    // that window. It is printed BEFORE the summary line, which stays LAST
    // and parseable whole; the full aux map lives in the durable artifact
    // file regardless. Additive stdout only — the timed region is
    // untouched.
    val auxMins = auxResults.collect {
      case (k, (mn, _, _, _, _, _)) if mn >= 0 => k -> mn
    }
    if (auxMins.nonEmpty) {
      val top = auxMins.sortBy { case (_, v) => -v }.take(12)
      val auxTotal = math.round(auxMins.map(_._2).sum * 1000.0) / 1000.0
      println(s"""{"aux_top":${jmap(top)},"aux_total":$auxTotal,""" +
        s""""aux_n":${auxMins.size},"summary":false}""")
    }
    // Compact summary LAST: the full line above is ~20 KB for the
    // 174-query registry, and a consumer that captures only the final
    // ~2000 chars of stdout would land MID-LINE. This line keeps the
    // required fields (metric/value/unit/queries/sf) with the headline
    // query map only (~1 KB), so it always fits that window whole; the
    // full record lives in the artifact file either way.
    // Size guard: when the full headline map would push the line past
    // ~1.5 KB, keep only the slowest TOP-N entries (the ones a reader
    // compares first) and say how many were dropped — a grown headline
    // set must not break the "always fits the window" guarantee.
    def summaryLine(queriesJson: String, dropped: Int): String =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""queries":$queriesJson,"queries_dropped":$dropped,""" +
        s""""runs":$runs,"master":${jstr(master)},"heap_mib":$heapMib,""" +
        s""""cpus":$cpus,"steal_pct":$stealPct,"calib_sec":$calibSec,""" +
        s""""contended":$contended,"value_norm":$valueNorm,""" +
        s""""summary":true,"sf":${jstr(sfDir)}}"""
    val fullSummary = summaryLine(qs, 0)
    println(
      if (fullSummary.length <= 1500) fullSummary
      else {
        val mins = results.map { case (k, (mn, _, _, _, _, _)) => k -> mn }
        val top = mins.sortBy { case (_, v) => -v }.take(20)
        summaryLine(jmap(top), mins.size - top.size)
      })
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
    // Opt-in hard gate: a stalled environment otherwise exits green and
    // downstream tooling must remember to read the field.
    if (unstable.nonEmpty &&
        sys.env.get("SPARK_GRAFT_FAIL_UNSTABLE").exists(_.nonEmpty))
      sys.exit(2)
    // Same opt-in hard gate for host contention: a wrapper that must not
    // publish a contended artifact sets this and retries in a quiet
    // window (the artifact itself always carries the `contended` label).
    if (contended &&
        sys.env.get("SPARK_GRAFT_FAIL_CONTENDED").exists(_.nonEmpty))
      sys.exit(2)
  }
}
