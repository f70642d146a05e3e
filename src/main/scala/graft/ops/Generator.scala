package graft.ops

import graft.{Dx, Query}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic data generator (P9) — the Spark-native analog of the
  * reference's Faker pipeline (`wsm/data_generator/generate_data.py:
  * 54-364`: weighted movement types, 80/20 hot products, seasonal dates,
  * 5% DQ noise), built on `spark.range(n)` + pure modular arithmetic so
  * that (a) any scale factor generates in parallel with NO driver-side
  * state or RNG (SURVEY §2.10 P9), and (b) the whole generator is
  * ANSI-SQL-expressible, giving it a full DuckDB oracle over `range(n)` —
  * a generator whose output can't be cross-checked is a generator whose
  * bugs become "data".
  *
  * Mixing uses two chained Lehmer steps mod 2³¹−1 (products stay well
  * under 2⁶³, safe under ANSI overflow checking in both engines).
  * Distribution shapes mirror the reference:
  *  - movement_type weights 45/35/10/5/5 (IN/OUT/TRANSFER/ADJ/RETURN);
  *  - hot products: 20% of ids receive 80% of rows via a skew gate;
  *  - dates: two-year window with a triangular (sum-of-two-uniforms)
  *    seasonality peak;
  *  - DQ noise: 5% of rows get the 9999999 sentinel reference id
  *    (exactly what F1 quarantines).
  */
object Generator {

  val DEFAULT_ROWS = 10000L
  private val P = 2147483647L // 2^31 − 1

  /** Column-expression pipeline shared by the Spark and SQL twins. The
    * `i` placeholder is the row index column name. */
  private object Mix {
    def x(i: String) = s"(($i * 48271 + 11) % $P)"
    def y(i: String) = s"((${x(i)} * 16807 + 7) % $P)"
    def z(i: String) = s"((${y(i)} * 69621 + 3) % $P)"
    // A fourth chained step: attributes drawn from w must not share modular
    // structure with y-based draws (y%100 and y%1000 agree mod 100 —
    // deriving two "independent" attributes from y couples them; the extra
    // Lehmer multiply scrambles residue classes the way a fresh PRNG draw
    // would in the reference).
    def w(i: String) = s"((${z(i)} * 48271 + 11) % $P)"
  }

  /** Deterministic synthetic stock movements. */
  def movements(spark: SparkSession, n: Long = DEFAULT_ROWS): DataFrame = {
    val x = Mix.x("id"); val y = Mix.y("id"); val z = Mix.z("id")
    spark.range(n).select(
      col("id").as("movement_id"),
      // 80/20 skew: rows gated into the hot 20% of the id space 80% of
      // the time (generate_data.py:114-117 hot-product analog).
      expr(s"""CASE WHEN $x % 10 < 8 THEN $y % 1000
              |     ELSE 1000 + ($y % 4000) END""".stripMargin)
        .as("product_id"),
      expr(s"$z % 10").as("warehouse_id"),
      expr(s"""CASE WHEN $y % 100 < 45 THEN 'IN'
              |     WHEN $y % 100 < 80 THEN 'OUT'
              |     WHEN $y % 100 < 90 THEN 'TRANSFER'
              |     WHEN $y % 100 < 95 THEN 'ADJUSTMENT'
              |     ELSE 'RETURN' END""".stripMargin).as("movement_type"),
      // OUT flows are negative (C11 sign convention of the ledger).
      expr(s"""CASE WHEN $y % 100 >= 45 AND $y % 100 < 80
              |     THEN -(($x % 50) + 1) ELSE ($x % 50) + 1 END""".stripMargin)
        .as("quantity"),
      // Triangular seasonality: sum of two uniforms over a 2-year span.
      expr(s"DATE '2022-01-01' + CAST((($x % 365) + ($z % 366)) AS INT)")
        .as("movement_date"),
      // 5% DQ-noise sentinel (the invalid_reference F1 rule's target).
      expr(s"""CASE WHEN $z % 20 = 0 THEN 9999999
              |     ELSE $x % 100000 END""".stripMargin).as("reference_id"))
  }

  // ------------------------------------------------------- master data
  // The reference generates 4 master tables + 2 order families + the
  // movements fact (`generate_data.py:54-364`). Masters are pure
  // projections over `range(n)`; the same Lehmer mixes drive every
  // attribute so any scale factor reproduces bit-identically.

  val DEFAULT_PRODUCTS = 5000L
  val DEFAULT_WAREHOUSES = 10L
  val DEFAULT_ORDERS = 2000L
  val DEFAULT_TRANSFERS = 1000L
  val DEFAULT_CATEGORIES = 50L
  val DEFAULT_SUPPLIERS = 200L

  /** Categories master (`generate_data.py:58-67`: id, faker name,
    * description) — deterministic string analogs; ids 0..n−1 match the
    * `category_id` domain [[products]] draws from, so the FK is closed
    * by construction (GeneratorSpec "FK closure" pins every master
    * domain, and q53 consumes the join). */
  def categories(spark: SparkSession, n: Long = DEFAULT_CATEGORIES): DataFrame = {
    val x = Mix.x("id")
    spark.range(n).select(
      col("id").as("category_id"),
      expr("concat('Category-', lpad(CAST(id AS STRING), 3, '0'))").as("name"),
      expr(s"concat('category description ', CAST($x % 1000 AS STRING))")
        .as("description"))
  }

  /** Suppliers master (`generate_data.py:69-81`: id, company, contact,
    * email, phone, address) — same deterministic construction; ids match
    * the `supplier_id` domain of [[products]] and [[orders]]. */
  def suppliers(spark: SparkSession, n: Long = DEFAULT_SUPPLIERS): DataFrame = {
    val x = Mix.x("id"); val y = Mix.y("id"); val z = Mix.z("id")
    spark.range(n).select(
      col("id").as("supplier_id"),
      expr("concat('Supplier-', lpad(CAST(id AS STRING), 4, '0'))").as("name"),
      expr(s"concat('Contact ', CAST($x % 500 AS STRING))").as("contact_person"),
      expr("concat('supplier', CAST(id AS STRING), '@example.com')").as("email"),
      expr(s"concat('+62-', lpad(CAST($z % 10000000 AS STRING), 7, '0'))")
        .as("phone"),
      expr(s"concat('Street ', CAST($x % 100 AS STRING), ', City-', " +
        s"CAST($y % 50 AS STRING))").as("address"))
  }

  /** Products master (`generate_data.py:84-109`): SKU, category (50),
    * supplier (200), 2-dp unit cost. */
  def products(spark: SparkSession, n: Long = DEFAULT_PRODUCTS): DataFrame = {
    val x = Mix.x("id"); val y = Mix.y("id"); val z = Mix.z("id")
    spark.range(n).select(
      col("id").as("product_id"),
      expr(s"concat('SKU-', lpad(CAST(id AS STRING), 8, '0'))").as("sku"),
      expr(s"$x % 50").as("category_id"),
      expr(s"$y % 200").as("supplier_id"),
      // 2-dp price in [1.00, 500.99] — decimal-safe for Dx sums.
      expr(s"CAST(($z % 50000) + 100 AS DOUBLE) / 100.0").as("unit_cost"))
  }

  /** Warehouses master (`generate_data.py:111-125`). */
  def warehouses(spark: SparkSession, n: Long = DEFAULT_WAREHOUSES): DataFrame = {
    val x = Mix.x("id")
    spark.range(n).select(
      col("id").as("warehouse_id"),
      expr(s"concat('WH-', CAST(id AS STRING))").as("name"),
      expr(s"concat('LOC-', lpad(CAST($x % 100 AS STRING), 2, '0'))")
        .as("location_code"))
  }

  // ----------------------------------------------------- orders + details

  /** Discretized Poisson(3) detail count clipped to [1, 8] — the
    * reference draws `np.random.poisson(3)` details per order
    * (`generate_data.py:154,192`); here the CDF is a when-ladder over a
    * uniform Lehmer draw (thresholds = cumulative pmf ×1000), identical
    * in both engines. */
  private def poissonLadder(u: String): String =
    s"""CASE WHEN $u < 199 THEN 1
       |     WHEN $u < 423 THEN 2
       |     WHEN $u < 647 THEN 3
       |     WHEN $u < 815 THEN 4
       |     WHEN $u < 916 THEN 5
       |     WHEN $u < 966 THEN 6
       |     WHEN $u < 988 THEN 7
       |     ELSE 8 END""".stripMargin

  /** Order headers (`generate_data.py:127-160`): supplier, warehouse,
    * seasonal order date, weighted status, Poisson-analog detail count. */
  def orders(spark: SparkSession, n: Long = DEFAULT_ORDERS): DataFrame = {
    val x = Mix.x("id"); val y = Mix.y("id"); val z = Mix.z("id")
    val w = Mix.w("id")
    spark.range(n).select(
      col("id").as("po_id"),
      expr(s"$x % 200").as("supplier_id"),
      expr(s"$z % 10").as("warehouse_id"),
      expr(s"DATE '2022-01-01' + CAST((($x % 365) + ($z % 366)) AS INT)")
        .as("order_date"),
      // status weights mirror the reference enum distribution
      // (PENDING/PROCESSING/SHIPPED/COMPLETED/CANCELLED).
      expr(s"""CASE WHEN $y % 100 < 15 THEN 'PENDING'
              |     WHEN $y % 100 < 30 THEN 'PROCESSING'
              |     WHEN $y % 100 < 55 THEN 'SHIPPED'
              |     WHEN $y % 100 < 90 THEN 'COMPLETED'
              |     ELSE 'CANCELLED' END""".stripMargin).as("status"),
      // n_details from the w-chain, NOT y: y%100 (status) and y%1000 agree
      // mod 100, which would forbid e.g. a PENDING order from ever having
      // 8 lines — the reference draws status and poisson(3) independently.
      expr(poissonLadder(s"($w % 1000)")).as("n_details"))
  }

  /** Detail lines: each order explodes into `n_details` rows; per-line
    * attributes mix (po_id, line_no) so lines are independent draws. The
    * UNIQUE(po_id, product_id) reference constraint maps to distinct
    * product offsets per line. Quantity > 0 (the order-details CHECK). */
  def orderDetails(spark: SparkSession, n: Long = DEFAULT_ORDERS): DataFrame = {
    val d = orders(spark, n)
      .select(col("po_id"), col("warehouse_id"),
        explode(expr("sequence(1, n_details)")).as("line_no"))
    val k = s"(po_id * 8 + line_no)"
    val lx = Mix.x(k); val ly = Mix.y(k)
    d.select(
      col("po_id"), col("line_no"), col("warehouse_id"),
      // line_no offset keeps (po_id, product_id) unique within an order
      expr(s"($lx % 625) * 8 + line_no - 1").as("product_id"),
      expr(s"($ly % 50) + 1").as("quantity"),
      expr(s"CAST(($lx % 50000) + 100 AS DOUBLE) / 100.0").as("unit_price"))
  }

  // -------------------------------------------------------- transfers

  /** Paired TRANSFER legs (`generate_data.py:279-313`): each transfer id
    * explodes into exactly two ledger rows — OUT (−q at the source) and
    * IN (+q at the destination, destination ≠ source by construction) —
    * so legs sum to ZERO per reference id (the P2 invariant the
    * reference's own tests eyeball and IngestSpec pins). */
  def transfers(spark: SparkSession, n: Long = DEFAULT_TRANSFERS): DataFrame = {
    val x = Mix.x("id"); val y = Mix.y("id"); val z = Mix.z("id")
    spark.range(n)
      .select(
        col("id").as("reference_id"),
        expr(s"$y % 5000").as("product_id"),
        expr(s"$z % 10").as("from_warehouse_id"),
        // destination = source + 1..9 (mod 10): never equal to source
        expr(s"($z % 10 + ($x % 9) + 1) % 10").as("to_warehouse_id"),
        expr(s"($x % 50) + 1").as("quantity"),
        expr(s"DATE '2022-01-01' + CAST((($x % 365) + ($z % 366)) AS INT)")
          .as("movement_date"))
      .select(
        col("reference_id"), col("product_id"), col("movement_date"),
        explode(array(
          struct(col("from_warehouse_id").as("warehouse_id"),
            (-col("quantity")).as("quantity"),
            lit("OUT").as("leg")),
          struct(col("to_warehouse_id").as("warehouse_id"),
            col("quantity").as("quantity"),
            lit("IN").as("leg")))).as("l"))
      .select(
        col("reference_id"), col("product_id"),
        col("l.warehouse_id").as("warehouse_id"),
        lit("TRANSFER").as("movement_type"),
        col("l.quantity").as("quantity"),
        col("l.leg").as("leg"),
        col("movement_date"))
  }

  // ------------------------------------------- fixture-schema export
  // The reference closes its lifecycle generator → warehouse → ETL →
  // reports (`generate_data.py:528-556` writing the tables `main.py:
  // 51-115` then reads). The engine's equivalent: project the generated
  // warehouse into the two FIXTURE tables the twelve Pipeline reports
  // consume (`lineitem` + `events` — the reports read nothing else), so
  // `Pipeline.run(spark, <exported dir>, out)` executes the same loop
  // end-to-end. The mapping is the declared dictionary between the
  // warehouse domain and the engine's fixture domain; every expression is
  // arithmetic over the same Lehmer mixes, so DuckDB replays it exactly
  // (q55 oracle-checks the event mapping + DQ ladder over generated data).

  /** Generated `events` in fixture schema. movement_type maps onto the
    * fixture event vocabulary (the five [[graft.ops.Warehouse.EVENT_TYPES]]
    * pivot values): IN→view, OUT→purchase, TRANSFER→click,
    * ADJUSTMENT→error, RETURN→signup. `value` scales |quantity| by a
    * fresh draw (purchases cross Movement's ≥150 hot-value cut), with a
    * ~1% slice forced below 1.0 so the invalid_value DQ rule fires on
    * generated data; the generator's 5% DQ-noise rows carry the props
    * sentinel k=99 — exactly what the F1 rule quarantines, closing the
    * reference's generate-noise→DQ-filters-it loop. */
  def fixtureEvents(spark: SparkSession, n: Long = DEFAULT_ROWS): DataFrame = {
    val x = Mix.x("movement_id")
    movements(spark, n).select(
      col("movement_id").as("event_id"),
      col("movement_date").cast("timestamp").as("ts"),
      col("reference_id").as("user_id"),
      expr("""CASE movement_type WHEN 'IN' THEN 'view'
              |     WHEN 'OUT' THEN 'purchase'
              |     WHEN 'TRANSFER' THEN 'click'
              |     WHEN 'ADJUSTMENT' THEN 'error'
              |     ELSE 'signup' END""".stripMargin).as("event_type"),
      expr(s"""CASE WHEN $x % 97 = 0 THEN 0.5
              |     ELSE CAST(abs(quantity) * (1 + $x % 20) AS DOUBLE)
              |END""".stripMargin).as("value"),
      // normal rows: k = user_id % 50 < 50, never the 99 sentinel
      expr("""concat('{"k":', CAST(CASE WHEN reference_id = 9999999 THEN 99
              |     ELSE reference_id % 50 END AS STRING), '}')""".stripMargin)
        .as("props"))
  }

  /** Generated `lineitem` in fixture schema: order detail lines enriched
    * with header status/date, UNIONed with the paired [[transfers]] legs.
    *
    * Order lines: returnflag CANCELLED→'R', COMPLETED→'A', else 'N'
    * (Inventory's logged-movement set is {'A','R'}); linestatus
    * COMPLETED/SHIPPED→'F' else 'O' (the valuation's completed-cost-pool
    * cut). Ship date = order date + line offset.
    *
    * Transfer legs: the fixture convention reads same-(orderkey, partkey)
    * R+A row pairs as the two legs of one transfer (Warehouse J2) —
    * (po_id, product_id) is UNIQUE within an order, so order lines can
    * never pair; the generator's [[transfers]] (built around exactly that
    * P2 pairing) supply them under an offset orderkey space, OUT→'R',
    * IN→'A', linestatus 'O' so legs never enter the completed cost pool. */
  def fixtureLineitem(spark: SparkSession, n: Long = DEFAULT_ORDERS,
      nTransfers: Long = DEFAULT_TRANSFERS): DataFrame = {
    // po ids are 0..n−1; transfer-leg orderkeys start at max(base, n), so
    // the two key spaces stay disjoint AT ANY SCALE and the
    // same-(orderkey, partkey) R+A pairing convention can never fabricate
    // false transfer pairs (round-6 advice; the previous fixed-base
    // require() capped generation at 1M orders, which the round-7
    // scale-bench mandate outgrew — at the default n the base, and thus
    // every orderkey, is bit-identical to before).
    val base = math.max(TRANSFER_ORDERKEY_BASE, n)
    val k = "(po_id * 8 + line_no)"
    val lz = Mix.z(k); val lw = Mix.w(k)
    val orderLines = orderDetails(spark, n)
      .join(broadcast(orders(spark, n).select(
        col("po_id"), col("status"), col("order_date"))), Seq("po_id"))
      .select(
        col("po_id").as("l_orderkey"),
        col("product_id").as("l_partkey"),
        col("warehouse_id").as("l_suppkey"),
        col("line_no").cast("int").as("l_linenumber"),
        col("quantity").cast("double").as("l_quantity"),
        (col("quantity") * col("unit_price")).as("l_extendedprice"),
        expr(s"CAST($lz % 11 AS DOUBLE) / 100.0").as("l_discount"),
        expr(s"CAST($lw % 9 AS DOUBLE) / 100.0").as("l_tax"),
        expr("""CASE status WHEN 'CANCELLED' THEN 'R'
                |     WHEN 'COMPLETED' THEN 'A' ELSE 'N' END""".stripMargin)
          .as("l_returnflag"),
        expr("""CASE WHEN status IN ('COMPLETED', 'SHIPPED') THEN 'F'
                |     ELSE 'O' END""".stripMargin).as("l_linestatus"),
        expr("CAST(order_date + CAST(line_no - 1 AS INT) AS TIMESTAMP)")
          .as("l_shipdate"))
    val legs = transfers(spark, nTransfers).select(
      (lit(base) + col("reference_id")).as("l_orderkey"),
      col("product_id").as("l_partkey"),
      col("warehouse_id").as("l_suppkey"),
      when(col("leg") === "OUT", 1).otherwise(2).cast("int")
        .as("l_linenumber"),
      abs(col("quantity")).cast("double").as("l_quantity"),
      (abs(col("quantity")) * lit(10.0)).as("l_extendedprice"),
      lit(0.0).as("l_discount"),
      lit(0.0).as("l_tax"),
      when(col("leg") === "OUT", "R").otherwise("A").as("l_returnflag"),
      lit("O").as("l_linestatus"),
      col("movement_date").cast("timestamp").as("l_shipdate"))
    orderLines.unionByName(legs)
  }

  /** Transfer legs live above every po_id so the two key spaces never
    * collide (po ids are 0..n−1). */
  val TRANSFER_ORDERKEY_BASE = 1000000L

  // ------------------------------------------- corpus fixture tables
  // The LLM-pipeline operators (dedup/ANN/curation) read `documents` and
  // `embeddings`; for the scale-proof bench (round-7 verdict item 1) the
  // generator must synthesize BOTH at any size with the same pure-
  // arithmetic discipline as the warehouse tables — deterministic,
  // parallel over `spark.range`, and DuckDB-replayable so the
  // construction itself carries an oracle (q86/q87).

  val DEFAULT_DOCS = 500L
  val DEFAULT_VECS = 200L
  val EMBED_DIM = 64 // the testdata embedding width (Ann.EMBED_DIM)

  /** 32-word vocabulary — warehouse-flavored, index-stable. */
  private val VOCAB = Seq(
    "stock", "move", "ship", "order", "part", "supply", "count", "audit",
    "batch", "daily", "level", "value", "cost", "unit", "total", "zone",
    "rack", "bin", "scan", "pick", "pack", "load", "dock", "route",
    "cycle", "check", "item", "gross", "net", "open", "hold", "close")

  private def vocabSpark: String =
    VOCAB.map("'" + _ + "'").mkString("array(", ", ", ")")
  private def vocabDuck: String =
    VOCAB.map("'" + _ + "'").mkString("([", ", ", "])")

  /** Duplicate-plant rule shared by both engines: ids ≡ 7 (mod 11) copy a
    * nearby natural doc's text EXACTLY (exact-dup class, what q21/q57
    * drop); ids ≡ 8 (mod 11) copy one and append a single word (near-dup
    * class, what MinHash/SimHash candidates catch). Copy targets are
    * ≡ 0..6 (mod 11) by construction — never themselves re-seeded, so
    * copies are true fixpoints, not chains. */
  private def seedExpr(i: String): String = {
    val x = Mix.x(i)
    s"""CASE WHEN $i % 11 = 7 AND $i >= 11 THEN $i - 7 + ($x % 7)
       |     WHEN $i % 11 = 8 AND $i >= 11 THEN $i - 8 + ($x % 7)
       |     ELSE $i END""".stripMargin
  }

  /** The two engines' word-list comprehension openers (Spark `sequence`
    * is inclusive-stop, DuckDB `range` exclusive-stop — same j domain). */
  private def rangeLambda(fn: String, nw: String): String = fn match {
    case "spark" => s"transform(sequence(0, CAST($nw AS INT) - 1)"
    case _ => s"list_transform(range(0, $nw)"
  }

  /** Per-(seed, j) token: a vocab word with a numeric suffix — an
    * effective token space of 32·997 ≈ 32k, i.e. real-corpus shingle
    * diversity. Two deliberate choices, both scale-load-bearing:
    *
    *  - NONLINEAR draw. Every [[Mix]] chain is linear in its input, so
    *    any chain over `(seed·100003 + j)` steps by a CONSTANT mod the
    *    vocab size as j advances — the first cut generated docs that were
    *    rotations of one 32-word cycle: 518 distinct 3-shingles across 5k
    *    docs, max shingle df 3279, ≈398M inverted-index candidate pairs
    *    (vs 27k shingles / max df 25 / 1.3M pairs in the testdata corpus
    *    of the same size), and the shingle/MinHash dedup family measured
    *    218 s at gen1x. Squaring the Lehmer value mod P makes the draw
    *    quadratic in j, restoring shingle spread.
    *  - INDEPENDENT residues. The suffix divides by 64 before its
    *    modulus so word and suffix share no modular structure (the
    *    [[Mix.w]] rationale).
    *
    * Cross-engine: t < P ≈ 2.15e9 ⇒ t² < 4.7e18 fits BIGINT in both
    * engines; `DIV`/`//` keep the division integral (a double round-trip
    * would be exact here but the integer form proves it). */
  private def tokenExpr(fn: String, seed: String): String = {
    val t = Mix.x(s"(($seed) * 100003 + j)")
    val u = s"(($t * $t) % $P)"
    fn match {
      case "spark" =>
        s"concat(element_at($vocabSpark, CAST(1 + ($u % 32) AS INT)), " +
          s"'-', CAST((($u) DIV 64) % 997 AS STRING))"
      case _ =>
        s"($vocabDuck[1 + ($u % 32)] || '-' || " +
          s"CAST((($u) // 64) % 997 AS VARCHAR))"
    }
  }

  /** Generated `documents` in fixture schema (doc_id, text, lang, source,
    * n_chars): deterministic word-sequence text with planted exact and
    * near duplicates, 5-language metadata drawn per SEED (copies share
    * the original's language, as real mirrors do) and 20 sources drawn
    * per DOC (the same text arriving from different sources — exactly
    * the situation content-hash dedup exists for). */
  def fixtureDocuments(spark: SparkSession, n: Long = DEFAULT_DOCS): DataFrame = {
    val seed = "doc_seed"
    val body = s"array_join(${rangeLambda("spark", s"(30 + (${Mix.w(seed)} % 70))")}, " +
      s"j -> ${tokenExpr("spark", seed)}), ' ')"
    val x = Mix.x("id")
    val z = Mix.z(seed)
    val w = Mix.w("id")
    spark.range(n)
      .selectExpr("id", s"${seedExpr("id")} AS $seed")
      .selectExpr(
        "id AS doc_id",
        s"""CASE WHEN id % 11 = 8 AND id >= 11
           |     THEN concat($body, ' ', element_at($vocabSpark,
           |                 CAST(1 + ($x % 32) AS INT)))
           |     ELSE $body END AS text""".stripMargin,
        s"""CASE WHEN $z % 100 < 40 THEN 'en'
           |     WHEN $z % 100 < 60 THEN 'de'
           |     WHEN $z % 100 < 75 THEN 'es'
           |     WHEN $z % 100 < 90 THEN 'fr'
           |     ELSE 'zh' END AS lang""".stripMargin,
        s"concat('src', CAST($w % 20 AS STRING)) AS source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
  }

  /** q86: corpus-generator check — per-language doc counts, char totals
    * and DISTINCT-text counts (the dup plant surfaced as data: distinct <
    * total exactly where the ≡7/≡8 (mod 11) copies landed). The DuckDB
    * oracle regenerates every text string from `range(n)` and must agree
    * byte-for-byte for the distinct counts to match. */
  def documentSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fixtureDocuments(spark)
      .groupBy($"lang")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum($"n_chars").cast("long").as("total_chars"),
        countDistinct($"text").as("n_unique_texts"))
      .orderBy($"lang")
  }

  private val documentSummaryOracle = {
    val seed = "doc_seed"
    val body = s"array_to_string(${rangeLambda("duck", s"(30 + (${Mix.w(seed)} % 70))")}, " +
      s"j -> ${tokenExpr("duck", seed)}), ' ')"
    val x = Mix.x("i")
    val z = Mix.z(seed)
    s"""WITH s AS (
       |  SELECT i, ${seedExpr("i")} AS $seed FROM range($DEFAULT_DOCS) r(i)
       |), d AS (
       |  SELECT i,
       |         CASE WHEN i % 11 = 8 AND i >= 11
       |              THEN $body || ' ' || $vocabDuck[1 + ($x % 32)]
       |              ELSE $body END AS text,
       |         CASE WHEN $z % 100 < 40 THEN 'en'
       |              WHEN $z % 100 < 60 THEN 'de'
       |              WHEN $z % 100 < 75 THEN 'es'
       |              WHEN $z % 100 < 90 THEN 'fr'
       |              ELSE 'zh' END AS lang
       |  FROM s
       |)
       |SELECT lang,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       |       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique_texts
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Generated `embeddings` in fixture schema (vec_id, embedding
    * array<float>, label int): 10 labels, each element = a label-keyed
    * centroid offset plus per-(vector, position) noise — so vectors of a
    * label genuinely cluster (IVF/k-means training has structure to find)
    * while every value stays a pure Lehmer function. Elements round
    * through FLOAT exactly once (the fixture schema's width), identically
    * in both engines.
    *
    * Two deliberate shape constraints, learned from the first cut:
    *  - centroid offsets are WEAK relative to noise (±0.083 vs ±0.2):
    *    clusters must be findable by k-means yet must NOT collapse the
    *    SRP-LSH sign buckets — tightly-clustered vectors all share a
    *    signature, degenerating the q47/q58 bucket join quadratic
    *    (measured 24 s at 2k vectors before the reweight);
    *  - the SAME ≡7/≡8 (mod 11) seed rule as [[fixtureDocuments]] plants
    *    exact-duplicate vectors (cosine 1) and near-duplicates (a +5e-4
    *    uniform shift, cosine ≈ 0.9999), so embedding-dedup has true
    *    positives at every scale instead of relying on background
    *    cluster overlap. */
  def fixtureEmbeddings(spark: SparkSession, n: Long = DEFAULT_VECS,
      dim: Int = EMBED_DIM, nClusters: Int = 10): DataFrame = {
    // nClusters (round-9 verdict item 3): the default 10 pins the q87
    // construction oracle, but a FIXED cluster count makes in-cluster
    // density — and every density-sensitive operator's candidate volume —
    // grow quadratically with n by construction (SCALING.md's
    // fixed-cluster-fixture caveat). A realistic corpus's topic count
    // grows with the corpus; ScaleGen's `grow` mode passes
    // max(10, n/20000) so per-cluster density stays bounded.
    require(nClusters > 0, s"nClusters must be positive, got $nClusters")
    val seed = "vec_seed"
    val label = s"(${Mix.y(seed)} % $nClusters)"
    val c = s"((${Mix.x(s"(($label) * $dim + j + 1)")} % 1000) - 500) / 6000.0"
    val noise = s"((${Mix.z(s"(($seed) * $dim + j + 7)")} % 1000) - 500) / 2500.0"
    val shift = "(CASE WHEN id % 11 = 8 AND id >= 11 THEN 0.0005 ELSE 0.0 END)"
    spark.range(n)
      .selectExpr("id", s"${seedExpr("id")} AS $seed")
      .selectExpr(
        "id AS vec_id",
        s"transform(sequence(0, ${dim - 1}), j -> CAST(($c) + ($noise) + $shift AS FLOAT)) AS embedding",
        s"CAST($label AS INT) AS label")
  }

  /** q87: embedding-generator check — per-label vector counts and a
    * fixed-point decimal sum over every element (1e-6 quantum, the q83
    * exactness device), proving the float-rounded cluster construction
    * reproduces bit-identically cross-engine. */
  def embeddingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fixtureEmbeddings(spark)
      .select($"vec_id", $"label", explode($"embedding").as("x"))
      .groupBy($"label")
      .agg(
        countDistinct($"vec_id").as("n_vecs"),
        count(lit(1)).cast("long").as("n_elems"),
        Dx.dsum(Dx.grid($"x".cast("double"), Dx.E6)).as("sum_fp"))
      .orderBy($"label")
  }

  private val embeddingSummaryOracle = {
    val seed = "vec_seed"
    val label = s"(${Mix.y(seed)} % 10)"
    val c = s"((${Mix.x(s"(($label) * $EMBED_DIM + j + 1)")} % 1000) - 500) / 6000.0"
    val noise = s"((${Mix.z(s"(($seed) * $EMBED_DIM + j + 7)")} % 1000) - 500) / 2500.0"
    val shift = "(CASE WHEN i % 11 = 8 AND i >= 11 THEN 0.0005 ELSE 0.0 END)"
    s"""WITH s AS (
       |  SELECT i, ${seedExpr("i")} AS $seed FROM range($DEFAULT_VECS) r(i)
       |), v AS (
       |  SELECT i AS vec_id, $label AS label,
       |         unnest(list_transform(range(0, $EMBED_DIM),
       |           j -> CAST(($c) + ($noise) + $shift AS FLOAT))) AS x
       |  FROM s
       |)
       |SELECT CAST(label AS INT) AS label,
       |       CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
       |       CAST(COUNT(*) AS BIGINT) AS n_elems,
       |       CAST(SUM(CAST(${Dx.sqlGrid("CAST(x AS DOUBLE)", "1000000")}
       |                AS ${Dx.SqlDec})) AS DOUBLE) AS sum_fp
       |FROM v GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Write the full generated warehouse to `dir`: the six native
    * warehouse tables (masters + order family + facts) AND the two
    * fixture-schema projections, laid out like an sfDir — so
    * `Pipeline.run(spark, dir, out)` (and any registered operator) runs
    * directly over generator output. PipelineSpec drives the loop
    * end-to-end; returns rows written per table. */
  def writeWarehouse(spark: SparkSession, dir: String): Map[String, Long] = {
    val tables: Seq[(String, DataFrame)] = Seq(
      "categories" -> categories(spark),
      "suppliers" -> suppliers(spark),
      "products" -> products(spark),
      "warehouses" -> warehouses(spark),
      "movements" -> movements(spark),
      "orders" -> orders(spark),
      "order_details" -> orderDetails(spark),
      "transfers" -> transfers(spark),
      "lineitem" -> fixtureLineitem(spark),
      "events" -> fixtureEvents(spark),
      "documents" -> fixtureDocuments(spark),
      "embeddings" -> fixtureEmbeddings(spark))
    tables.map { case (name, df) =>
      graft.sources.Sinks.writeParquet(df, s"$dir/$name.parquet")
      name -> spark.read.parquet(s"$dir/$name.parquet").count()
    }.toMap
  }

  /** q53: revenue per category over the generated masters — detail lines
    * ⋈ products ⋈ categories (the FK chain the masters exist for; a
    * broken closure drops rows and the oracle catches it). Both
    * dimensions broadcast — the J5 shape over generated data. */
  def categoryRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orderDetails(spark)
      .join(broadcast(products(spark)
        .select($"product_id", $"category_id")), Seq("product_id"))
      .join(broadcast(categories(spark)
        .select($"category_id", $"name")), Seq("category_id"))
      .groupBy($"category_id", $"name")
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum($"quantity").cast("long").as("total_quantity"),
        Dx.dsum2($"quantity" * $"unit_price").as("revenue"))
      .orderBy($"category_id")
  }

  private val categoryRevenueOracle = {
    val w = Mix.w("i")
    val k = "(po_id * 8 + line_no)"
    val lx = Mix.x(k); val ly = Mix.y(k)
    val px = Mix.x("i")
    s"""WITH hdr AS (
       |  SELECT i AS po_id, ${poissonLadder(s"($w % 1000)")} AS n_details
       |  FROM range($DEFAULT_ORDERS) r(i)
       |), det AS (
       |  SELECT po_id, unnest(range(1, n_details + 1)) AS line_no FROM hdr
       |), lines AS (
       |  SELECT ($lx % 625) * 8 + line_no - 1 AS product_id,
       |         ($ly % 50) + 1 AS quantity,
       |         CAST(($lx % 50000) + 100 AS DOUBLE) / 100.0 AS unit_price
       |  FROM det
       |), prod AS (
       |  SELECT i AS product_id, $px % 50 AS category_id
       |  FROM range($DEFAULT_PRODUCTS) r(i)
       |), cat AS (
       |  SELECT i AS category_id,
       |         concat('Category-', lpad(CAST(i AS VARCHAR), 3, '0')) AS name
       |  FROM range($DEFAULT_CATEGORIES) r(i)
       |)
       |SELECT c.category_id AS category_id, c.name AS name,
       |       CAST(COUNT(*) AS BIGINT) AS n_lines,
       |       CAST(SUM(quantity) AS BIGINT) AS total_quantity,
       |       ${Dx.sqlDsum2("quantity * unit_price")} AS revenue
       |FROM lines l
       |JOIN prod p ON l.product_id = p.product_id
       |JOIN cat c ON p.category_id = c.category_id
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  /** q54: per-supplier order book over the generated masters — headers ⋈
    * suppliers, status mix, Poisson line totals, date bounds. */
  def supplierOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orders(spark)
      .join(broadcast(suppliers(spark)
        .select($"supplier_id", $"name", $"email")), Seq("supplier_id"))
      .groupBy($"supplier_id", $"name", $"email")
      .agg(
        count(lit(1)).cast("long").as("n_orders"),
        count(when($"status" === "COMPLETED", lit(1))).cast("long")
          .as("n_completed"),
        sum($"n_details").cast("long").as("n_lines"),
        min($"order_date").cast("timestamp").as("first_order"),
        max($"order_date").cast("timestamp").as("last_order"))
      .orderBy($"supplier_id")
  }

  private val supplierOrdersOracle = {
    val x = Mix.x("i"); val y = Mix.y("i"); val z = Mix.z("i")
    val w = Mix.w("i")
    s"""WITH hdr AS (
       |  SELECT $x % 200 AS supplier_id,
       |         CASE WHEN $y % 100 < 15 THEN 'PENDING'
       |              WHEN $y % 100 < 30 THEN 'PROCESSING'
       |              WHEN $y % 100 < 55 THEN 'SHIPPED'
       |              WHEN $y % 100 < 90 THEN 'COMPLETED'
       |              ELSE 'CANCELLED' END AS status,
       |         ${poissonLadder(s"($w % 1000)")} AS n_details,
       |         DATE '2022-01-01' + CAST((($x % 365) + ($z % 366)) AS INT)
       |           AS order_date
       |  FROM range($DEFAULT_ORDERS) r(i)
       |), sup AS (
       |  SELECT i AS supplier_id,
       |         concat('Supplier-', lpad(CAST(i AS VARCHAR), 4, '0')) AS name,
       |         concat('supplier', CAST(i AS VARCHAR), '@example.com') AS email
       |  FROM range($DEFAULT_SUPPLIERS) r(i)
       |)
       |SELECT s.supplier_id AS supplier_id, s.name AS name, s.email AS email,
       |       CAST(COUNT(*) AS BIGINT) AS n_orders,
       |       CAST(COUNT(CASE WHEN status = 'COMPLETED' THEN 1 END) AS BIGINT)
       |         AS n_completed,
       |       CAST(SUM(n_details) AS BIGINT) AS n_lines,
       |       CAST(MIN(order_date) AS TIMESTAMP) AS first_order,
       |       CAST(MAX(order_date) AS TIMESTAMP) AS last_order
       |FROM hdr h JOIN sup s ON h.supplier_id = s.supplier_id
       |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
  }

  /** q55: the DQ ladder over GENERATED events — quarantine counts per
    * disposition. Proves the fixture-event mapping (vocabulary, value
    * scaling, props sentinel) reproduces in both engines AND that the
    * generator's planted noise is exactly what F1/F2 catch. */
  def generatedDqSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fixtureEvents(spark)
      .groupBy(Quality.dqIssue.as("dq_issue"))
      .agg(count(lit(1)).cast("long").as("n_rows"))
      .orderBy($"dq_issue")
  }

  /** Oracle select items `movement_type` and `quantity` of the fixture
    * movement at row `i`, as [[movements]] draws them. */
  private val movementTypeQtySql = {
    val x = Mix.x("i"); val y = Mix.y("i")
    s"""CASE WHEN $y % 100 < 45 THEN 'IN'
       |              WHEN $y % 100 < 80 THEN 'OUT'
       |              WHEN $y % 100 < 90 THEN 'TRANSFER'
       |              WHEN $y % 100 < 95 THEN 'ADJUSTMENT'
       |              ELSE 'RETURN' END AS movement_type,
       |         CASE WHEN $y % 100 >= 45 AND $y % 100 < 80
       |              THEN -(($x % 50) + 1) ELSE ($x % 50) + 1 END AS quantity""".stripMargin
  }

  private val generatedDqOracle = {
    val x = Mix.x("i"); val z = Mix.z("i")
    s"""WITH mv AS (
       |  SELECT i,
       |         $movementTypeQtySql,
       |         DATE '2022-01-01' + CAST((($x % 365) + ($z % 366)) AS INT)
       |           AS movement_date,
       |         CASE WHEN $z % 20 = 0 THEN 9999999
       |              ELSE $x % 100000 END AS reference_id
       |  FROM range($DEFAULT_ROWS) r(i)
       |), ev AS (
       |  SELECT CAST(movement_date AS TIMESTAMP) AS ts,
       |         CASE movement_type WHEN 'IN' THEN 'view'
       |              WHEN 'OUT' THEN 'purchase'
       |              WHEN 'TRANSFER' THEN 'click'
       |              WHEN 'ADJUSTMENT' THEN 'error'
       |              ELSE 'signup' END AS event_type,
       |         CASE WHEN $x % 97 = 0 THEN 0.5
       |              ELSE CAST(abs(quantity) * (1 + $x % 20) AS DOUBLE)
       |         END AS value,
       |         concat('{"k":', CAST(CASE WHEN reference_id = 9999999 THEN 99
       |              ELSE reference_id % 50 END AS VARCHAR), '}') AS props
       |  FROM mv
       |)
       |SELECT CASE WHEN CAST(json_extract_string(props, '$$.k') AS INT) = 99
       |            THEN 'invalid_reference'
       |            WHEN event_type IN ('purchase', 'signup') AND value < 1.0
       |            THEN 'invalid_value'
       |            WHEN ts > TIMESTAMP '${Quality.AS_OF}' THEN 'future_date'
       |            ELSE 'valid' END AS dq_issue,
       |       CAST(COUNT(*) AS BIGINT) AS n_rows
       |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q44: order-family generator check — per-status counts, detail-line
    * totals and exact decimal order value (proves headers, the Poisson
    * ladder, the detail explosion and per-line draws all reproduce). */
  def orderSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hdr = orders(spark)
    orderDetails(spark)
      .join(hdr.select($"po_id", $"status"), Seq("po_id"))
      .groupBy($"status")
      .agg(
        countDistinct($"po_id").as("n_orders"),
        count(lit(1)).cast("long").as("n_lines"),
        (count(lit(1)).cast("double") / countDistinct($"po_id"))
          .as("avg_lines_per_order"),
        sum($"quantity").cast("long").as("total_quantity"),
        Dx.dsum2($"quantity" * $"unit_price").as("total_value"))
      .orderBy($"status")
  }

  private val orderSummaryOracle = {
    val y = Mix.y("i"); val w = Mix.w("i")
    val k = "(po_id * 8 + line_no)"
    val lx = Mix.x(k); val ly = Mix.y(k)
    s"""WITH hdr AS (
       |  SELECT i AS po_id,
       |         CASE WHEN $y % 100 < 15 THEN 'PENDING'
       |              WHEN $y % 100 < 30 THEN 'PROCESSING'
       |              WHEN $y % 100 < 55 THEN 'SHIPPED'
       |              WHEN $y % 100 < 90 THEN 'COMPLETED'
       |              ELSE 'CANCELLED' END AS status,
       |         ${poissonLadder(s"($w % 1000)")} AS n_details
       |  FROM range($DEFAULT_ORDERS) r(i)
       |), det AS (
       |  SELECT po_id, status, unnest(range(1, n_details + 1)) AS line_no
       |  FROM hdr
       |), lines AS (
       |  SELECT po_id, status,
       |         ($ly % 50) + 1 AS quantity,
       |         CAST(($lx % 50000) + 100 AS DOUBLE) / 100.0 AS unit_price
       |  FROM det
       |)
       |SELECT status,
       |       CAST(COUNT(DISTINCT po_id) AS BIGINT) AS n_orders,
       |       CAST(COUNT(*) AS BIGINT) AS n_lines,
       |       CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT po_id) AS avg_lines_per_order,
       |       CAST(SUM(quantity) AS BIGINT) AS total_quantity,
       |       ${Dx.sqlDsum2("quantity * unit_price")} AS total_value
       |FROM lines GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q45: transfer-leg generator check — per-warehouse leg flows plus the
    * zero-sum invariant surfaced as data: net quantity per reference id
    * aggregates to exactly zero, OUT and IN leg counts match. */
  def transferSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    transfers(spark)
      .groupBy($"warehouse_id")
      .agg(
        count(when($"leg" === "OUT", lit(1))).cast("long").as("n_out_legs"),
        count(when($"leg" === "IN", lit(1))).cast("long").as("n_in_legs"),
        sum($"quantity").cast("long").as("net_quantity"),
        countDistinct($"reference_id").as("n_transfers"))
      .orderBy($"warehouse_id")
  }

  private val transferSummaryOracle = {
    val x = Mix.x("i"); val y = Mix.y("i"); val z = Mix.z("i")
    s"""WITH t AS (
       |  SELECT i AS reference_id,
       |         $y % 5000 AS product_id,
       |         $z % 10 AS from_warehouse_id,
       |         ($z % 10 + ($x % 9) + 1) % 10 AS to_warehouse_id,
       |         ($x % 50) + 1 AS quantity
       |  FROM range($DEFAULT_TRANSFERS) r(i)
       |), legs AS (
       |  SELECT reference_id, from_warehouse_id AS warehouse_id,
       |         -quantity AS quantity, 'OUT' AS leg FROM t
       |  UNION ALL
       |  SELECT reference_id, to_warehouse_id, quantity, 'IN' FROM t
       |)
       |SELECT warehouse_id,
       |       CAST(COUNT(CASE WHEN leg = 'OUT' THEN 1 END) AS BIGINT) AS n_out_legs,
       |       CAST(COUNT(CASE WHEN leg = 'IN' THEN 1 END) AS BIGINT) AS n_in_legs,
       |       CAST(SUM(quantity) AS BIGINT) AS net_quantity,
       |       CAST(COUNT(DISTINCT reference_id) AS BIGINT) AS n_transfers
       |FROM legs GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q40: end-to-end generator check — distribution summary by movement
    * type (counts, net quantity, date bounds, DQ-noise rows). */
  def summary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    movements(spark)
      .groupBy($"movement_type")
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum($"quantity").cast("long").as("net_quantity"),
        // surfaced as timestamps: Spark DATE parquet ↔ DuckDB DATE reach
        // pandas as different dtypes (date object vs Timestamp); midnight
        // timestamps compare cleanly.
        min($"movement_date").cast("timestamp").as("first_date"),
        max($"movement_date").cast("timestamp").as("last_date"),
        count(when($"reference_id" === 9999999, lit(1))).cast("long")
          .as("dq_noise_rows"))
      .orderBy($"movement_type")
  }

  private val summaryOracle = {
    val x = Mix.x("i"); val z = Mix.z("i")
    s"""WITH g AS (
       |  SELECT i,
       |         $movementTypeQtySql,
       |         DATE '2022-01-01' + CAST((($x % 365) + ($z % 366)) AS INT) AS movement_date,
       |         CASE WHEN $z % 20 = 0 THEN 9999999
       |              ELSE $x % 100000 END AS reference_id
       |  FROM range($DEFAULT_ROWS) r(i)
       |)
       |SELECT movement_type,
       |       CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       CAST(SUM(quantity) AS BIGINT) AS net_quantity,
       |       CAST(MIN(movement_date) AS TIMESTAMP) AS first_date,
       |       CAST(MAX(movement_date) AS TIMESTAMP) AS last_date,
       |       CAST(COUNT(CASE WHEN reference_id = 9999999 THEN 1 END) AS BIGINT) AS dq_noise_rows
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q40_generator_summary",
      "deterministic arithmetic data generator, distribution summary (P9)",
      (s, _) => summary(s, ""), Some(summaryOracle), headline = false),
    Query("q44_generator_orders",
      "order headers + Poisson-ladder detail explosion, per-status value summary (P9)",
      orderSummary, Some(orderSummaryOracle), headline = false),
    Query("q45_generator_transfers",
      "paired TRANSFER legs, per-warehouse flows + zero-sum invariant (P9/P2)",
      transferSummary, Some(transferSummaryOracle), headline = false),
    Query("q53_generated_category_revenue",
      "revenue per category over generated masters: details ⋈ products ⋈ categories (P9 FK chain, J5)",
      categoryRevenue, Some(categoryRevenueOracle), headline = false),
    Query("q54_generated_supplier_orders",
      "per-supplier order book over generated masters: headers ⋈ suppliers (P9)",
      supplierOrders, Some(supplierOrdersOracle), headline = false),
    Query("q55_generated_dq_summary",
      "DQ ladder over generated events: planted noise lands in quarantine (P9→F1/F2 loop)",
      generatedDqSummary, Some(generatedDqOracle), headline = false),
    Query("q86_generated_documents",
      "corpus generator: deterministic text with planted exact/near dups, per-lang distinct-text proof (P9)",
      documentSummary, Some(documentSummaryOracle), headline = false),
    Query("q87_generated_embeddings",
      "embedding generator: label-clustered float vectors, fixed-point element-sum proof (P9)",
      embeddingSummary, Some(embeddingSummaryOracle), headline = false))
}
