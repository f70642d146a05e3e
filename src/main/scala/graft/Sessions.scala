package graft
import org.apache.spark.sql.SparkSession

/** The one session contract every main builds through ([[Verify]],
  * [[Bench]], [[Explain]], [[ProfileQuery]], [[HashCheck]], [[ScaleGen]]):
  * master from `SPARK_GRAFT_MASTER` (default `local[SPARK_GRAFT_CPUS]`),
  * shuffle partitions = worker threads, UTC session time, no UI, graft
  * extensions registered — and for `local-cluster` masters the packaged
  * graft jar on the executor classpath (`sbt package` output, or
  * `SPARK_GRAFT_JAR`). One definition, so a "same build, two masters"
  * comparison can never drift on session config between the tools. */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  def builder(): SparkSession.Builder = {
    val m = master
    val b = SparkSession.builder()
      .master(m)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the standard extensions path: native expressions as SQL functions
      .config("spark.sql.extensions", "graft.GraftExtensions")
    if (m.startsWith("local-cluster")) {
      val jar = sys.env.get("SPARK_GRAFT_JAR").orElse {
        val dir = new java.io.File("target/scala-2.13")
        Option(dir.listFiles()).flatMap(_.find(f =>
          f.getName.endsWith(".jar") && !f.getName.contains("sources")))
          .map(_.getAbsolutePath)
      }.getOrElse(sys.error(
        "local-cluster master needs the packaged graft jar: run `sbt " +
          "package` or set SPARK_GRAFT_JAR"))
      b.config("spark.jars", jar)
    }
    b
  }
}
