package graft
import org.apache.spark.sql.SparkSession

/** Cross-master result-identity check (round-11 verdict item 1's hash
  * half): runs the named registered queries under whatever master
  * `SPARK_GRAFT_MASTER` selects and prints ONE canonical digest per
  * query — every row rendered to a field-delimited string, the row
  * multiset sorted, md5 over the sorted stream. A `local[32]` run and a
  * `local-cluster[w,c,mem]` run of the same build can then be diffed
  * line for line: equal digests prove the SERIALIZED cross-JVM
  * exchanges (real worker JVMs, loopback shuffle, kryo/java round
  * trips) produce byte-identical results — the multi-JVM claim
  * SCALING.md's A/B table makes about wall time, extended to
  * correctness. Sorting makes the digest partitioning-independent
  * (cross-mode plans legitimately differ in output order); duplicates
  * are preserved (multiset, not set).
  *
  * Usage: `SPARK_GRAFT_MASTER=local-cluster[4,8,2048]
  * runMain graft.HashCheck <sfDir> <q1,q2,...>` (local-cluster needs
  * the packaged jar, same contract as [[Bench]]).
  */
object HashCheck {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: HashCheck <sfDir> <q1,q2,...>  (set SPARK_GRAFT_MASTER " +
        "to compare masters; local-cluster needs SPARK_HOME + " +
        "SPARK_SCALA_VERSION + a packaged jar)")
    val Array(sfDir, names) = args
    val selected = SparkEntry.select(Some(names))
    val master = Sessions.master
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    selected.foreach { q =>
      // fields joined on U+0001: without a delimiter ("12","3") and
      // ("1","23") would render identically and a cross-JVM
      // column-boundary shift could hash equal — the exact drift class
      // this tool exists to catch. null renders as the ∅ sentinel
      // (boundaries stay exact under the delimiter).
      val rows = q.fn(spark, sfDir).collect().map(_.toSeq.map {
        case null => "∅"
        case d: java.math.BigDecimal => d.toPlainString
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case x => x.toString
      }.mkString("\u0001")).sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      println(s"HASH ${q.name} ${md.digest().map("%02x".format(_)).mkString}" +
        s" rows=${rows.length} master=$master")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
