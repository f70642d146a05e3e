package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional subset for local iteration (comma-separated exact names,
    // SparkEntry.select); unset, the dump is the full registry.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
    val selected = SparkEntry.select(only)
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query dump status, recorded for the durable machine-readable
    // result file below: a log tail can be truncated away, a FILE cannot.
    // Row counts are counted on the dump write itself
    // ([[sources.Sinks.counted]], below the coalesce so it runs in the
    // write's one result stage); no dump is read back to count it.
    val status = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { q =>
      val name = q.name
      try {
        val (counted, rows) = sources.Sinks.counted(q.fn(spark, sfDir))
        counted.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        status(name) = s"""{"status":"dumped","rows":${rows.value}}"""
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        status(name) = s"""{"status":"failed"}"""
      }
      // release the query's cached blocks before the next one
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in oracle SQL would otherwise make a reader's
    // json.load fail and silently drop every correctness record.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Durable result record, the BENCH_LAST.json pattern: written to the
    // dump dir AND (full-registry runs only) a repo-root VERIFY_LAST.json,
    // then printed as ONE stdout line — whichever channel the driver
    // captures, the record survives log truncation.
    val nFail = status.valuesIterator.count(_.contains("failed"))
    val result =
      s"""{"n_queries":${status.size},"n_failed":$nFail,"sf":${q(sfDir)},""" +
        s""""queries":${status.map { case (k, v) => s"${q(k)}:$v" }
          .mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(s"$outDir/verify_result.json"), result)
    // Root-file placement: a bare relative path would land wherever the
    // JVM was launched; resolve against the repo root — the
    // nearest ancestor of CWD holding build.sbt — so a wrapper launched
    // from a subdirectory still refreshes the committed VERIFY_LAST.json.
    // SPARK_GRAFT_VERIFY_OUT (absolute or relative-to-CWD) overrides.
    def repoRoot: java.nio.file.Path = {
      var d = Paths.get("").toAbsolutePath
      while (d != null && !Files.exists(d.resolve("build.sbt")))
        d = d.getParent
      if (d == null) Paths.get("").toAbsolutePath else d
    }
    val rootOut = sys.env.getOrElse("SPARK_GRAFT_VERIFY_OUT",
      if (only.isEmpty) repoRoot.resolve("VERIFY_LAST.json").toString else "")
    if (rootOut.nonEmpty)
      try Files.writeString(Paths.get(rootOut), result + "\n")
      catch { case e: Exception =>
        System.err.println(s"[verify] could not write $rootOut: $e") }
    println(result)
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
