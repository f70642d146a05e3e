package perfbench

/** Maps a Spark action to the report it served, from the paths its
  * executed plan writes and reads. Pure path logic, so it holds however
  * the pipeline orders or overlaps its actions. */
object Attribution {

  /** Suffixes the sinks add beside a report while swapping it in place. */
  private val SideSuffixes = Seq(".staging", ".old")

  /** Normalise a path or URI to a plain absolute path without a trailing
    * slash (`file:/a/b/` → `/a/b`). */
  def normalise(p: String): String = {
    val noScheme = p.replaceFirst("^file:(//)?", "")
    val abs = if (noScheme.startsWith("/")) noScheme else "/" + noScheme
    abs.replaceAll("/+", "/").stripSuffix("/")
  }

  /** The report directory `path` belongs to under `outDir`, with the
    * sinks' side suffixes folded onto the report, or None when `path`
    * is not under `outDir`. */
  def reportOf(outDir: String, path: String): Option[String] = {
    val root = normalise(outDir) + "/"
    val p = normalise(path) + "/"
    if (!p.startsWith(root) || p == root) None
    else {
      val first = p.substring(root.length).takeWhile(_ != '/')
      Some(SideSuffixes.find(first.endsWith).fold(first)(first.stripSuffix))
    }
  }

  /** The report an action served: its write target when it writes under
    * `outDir`, else the first report it reads there; None for actions
    * outside the output tree (input probes, fixture work). */
  def attribute(
      outDir: String, writePath: Option[String],
      readPaths: Seq[String]): Option[String] =
    writePath.flatMap(reportOf(outDir, _))
      .orElse(readPaths.flatMap(reportOf(outDir, _)).sorted.headOption)

  /** The input table a scan reads: `<dataDir>/<name>.parquet[/...]` →
    * `name`. */
  def tableOf(dataDir: String, path: String): Option[String] = {
    val root = normalise(dataDir) + "/"
    val p = normalise(path)
    if (!p.startsWith(root)) None
    else Some(p.substring(root.length).takeWhile(_ != '/')
      .stripSuffix(".parquet")).filter(_.nonEmpty)
  }
}
