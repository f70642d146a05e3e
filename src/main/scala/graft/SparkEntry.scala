package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named [[Query]]: a Spark DataFrame program over the testdata dir plus
  * (where SQL-expressible) a DuckDB oracle — the driver hash-compares the
  * two at sf0.01.
  */
object SparkEntry {

  /** All registered operator queries, in module order. */
  val registry: Seq[Query] =
    ops.Financial.all ++ ops.Inventory.all ++ ops.Movement.all ++
      ops.Warehouse.all ++ ops.Quality.all ++ ops.TextPipeline.all ++
      ops.Ann.all ++ ops.Udtf.all ++ ops.Ingest.all ++
      ops.Incremental.all ++ ops.Generator.all ++ ops.Multimodal.all ++
      functions.Format.all ++ ops.Terms.all ++ ops.Sampling.all ++
      ops.Events.all ++ ops.Scrub.all ++ ops.History.all ++
      ops.SqlSurface.all ++ ops.Retrieval.all ++ ops.Sketch.all ++
      ops.Classify.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Financial.abcAnalysis(spark, "/root/testdata/sf0.001")

  /** The registered queries a main was asked to run, in registry order:
    * every query when `names` is None, else exactly the comma-separated
    * names. Names match exactly (a prefix like "q5" selects nothing), and
    * an unknown name or an empty list fails with the offending names, so
    * a typo can never run zero queries and read as a pass. */
  def select(names: Option[String]): Seq[Query] = names.fold(registry) { spec =>
    val wanted = spec.split(',').map(_.trim).filter(_.nonEmpty).toSet
    require(wanted.nonEmpty, s"empty query selection \"$spec\"")
    val unknown = wanted -- registry.map(_.name)
    require(unknown.isEmpty, "query names not in the registry: " +
      unknown.toSeq.sorted.mkString(", "))
    registry.filter(q => wanted(q.name))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
