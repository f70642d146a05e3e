package perfbench

import org.apache.spark.sql.DataFrame

/** Order-insensitive content digest of a result: every row rendered to
  * fields joined by U+0001 (null as ∅, decimals in plain notation,
  * binary as hex), the row multiset sorted, md5 over the sorted lines —
  * the canonical form `graft.HashCheck` prints, so the two agree. */
object Digest {

  def render(fields: Seq[Any]): String = fields.map {
    case null => "∅"
    case d: java.math.BigDecimal => d.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }.mkString("\u0001")

  /** (row count, md5 hex) of the given rendered rows. */
  def ofLines(lines: Seq[String]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (lines.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  def of(df: DataFrame): (Long, String) =
    ofLines(df.collect().toSeq.map(r => render(r.toSeq)))
}
