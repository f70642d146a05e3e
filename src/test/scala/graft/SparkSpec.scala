package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local SparkSession per JVM and tmp-dir fixture
  * tables shaped like the driver testdata (TESTDATA.md), so operator
  * functions run unchanged against hand-built micro-fixtures — the same
  * pattern as the reference's pytest fixtures
  * (`wsm/etl_pipeline/tests/test_transformations.py:7-41`). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // saveAsTable targets (bucketed-join tests) land in a tmp warehouse,
    // not ./spark-warehouse inside the repo.
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.catalog.clearCache()

  /** Parquet schema-inference jobs `run` starts: the jobs outside any SQL
    * execution. */
  def schemaInferences(run: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val inferences = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.sql.execution.id") == null)
          inferences.incrementAndGet()
    }
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      run
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    inferences.get
  }

  /** Write fixture tables into a fresh dir laid out like an sfDir
    * (`<dir>/<table>.parquet`), return the dir path. */
  def fixtureDir(tables: (String, DataFrame)*): String = {
    val dir: Path = Files.createTempDirectory("graft-fixture")
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$name.parquet")
    }
    dir.toString
  }

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}

/** A lineitem-shaped fixture row (column names match the testdata). */
final case class Li(
    l_orderkey: Long,
    l_partkey: Long,
    l_suppkey: Long,
    l_linenumber: Int = 1,
    l_quantity: Double,
    l_extendedprice: Double,
    l_discount: Double,
    l_tax: Double,
    l_returnflag: String,
    l_linestatus: String,
    l_shipdate: java.sql.Timestamp)

object Li {
  /** Minimal constructor: one movement of `qty` at unit value such that
    * extendedprice is the row's revenue contribution (discount/tax 0). */
  def apply(part: Long, supp: Long, qty: Double, price: Double,
      flag: String, shipdate: java.sql.Timestamp): Li =
    Li(l_orderkey = part * 1000 + supp, l_partkey = part, l_suppkey = supp,
      l_quantity = qty, l_extendedprice = price, l_discount = 0.0,
      l_tax = 0.0, l_returnflag = flag, l_linestatus = "O",
      l_shipdate = shipdate)
}

/** A documents-shaped fixture row. */
final case class Doc(
    doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

object Doc {
  def apply(id: Long, text: String, lang: String = "en",
      source: String = "src0"): Doc =
    Doc(id, text, lang, source, text.length.toLong)
}

/** An embeddings-shaped fixture row. */
final case class Emb(vec_id: Long, embedding: Seq[Float], label: Int)

/** An events-shaped fixture row (top level: Spark encoders cannot
  * instantiate classes nested inside a test suite). */
final case class Ev(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)
