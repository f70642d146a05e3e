package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-path building blocks: distributed replacements for plans that
  * degenerate to a single task at large cardinalities.
  */
object Scale {

  /** Min-label connected components over an undirected edge list — the
    * fixpoint shared by the q60 text keep-list and the q92 embedding
    * cluster map (one loop, so the two verdicts cannot diverge).
    *
    * `undirected`: one row per edge, columns (a, b). Returns one row per
    * TOUCHED node: (node, comp) with comp = the component's minimum node
    * id. Per round: two candidate-sized shuffles for the edge
    * propagation PLUS one node-sized self-join for POINTER JUMPING —
    * the hash-min + path-doubling device of the MapReduce-CC literature
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * after the edge step lowers each node's label to the min over its
    * closed neighborhood, the jump step lowers it again to its LABEL'S
    * label (every label is itself a touched node, so the lookup is a
    * self-join), which doubles the distance a minimum travels per round.
    * Convergence is O(log diameter), not O(diameter) — load-bearing
    * because the capped mega-cluster evidence
    * ([[graft.ops.TextPipeline.shingleEvidence]]) is deliberately
    * chain-shaped (a 50k-member cluster arrives as rank chains, diameter
    * ~6k), and plain hash-min propagation measured >16 rounds there
    * while near-clique duplicate evidence converged in 2.
    * `localCheckpoint` per round bounds lineage (the standard Spark
    * iterate device); the driver-side convergence witness (an exact
    * decimal Σcomp riding the jump step's own materialization job — see
    * `materializeWithSum`) is iteration CONTROL, not data movement.
    * Fails LOUDLY if `maxIters` rounds don't converge rather than
    * returning a wrong labeling — with doubling, `maxIters` of k covers
    * a diameter of ~2^k. */
  def minLabelComponents(undirected: DataFrame, maxIters: Int): DataFrame = {
    import undirected.sparkSession.implicits._
    val edges = undirected
      .select(explode(array(
        struct(col("a").as("node"), col("b").as("nbr")),
        struct(col("b").as("node"), col("a").as("nbr")))).as("e"))
      .select($"e.node", $"e.nbr")
      .localCheckpoint()
    /** Exact Σcomp over a checkpointed labeling — the round's convergence
      * witness. Labels only ever DECREASE (min/least select among node
      * ids), so a round changed some label iff Σcomp strictly dropped;
      * DECIMAL(38,0) keeps the sum exact at any node count × id
      * magnitude (a double sum would saturate past 2^53 and miss a
      * 1-unit label drop). It rides the SAME job that materializes the
      * lazy checkpoint, so each round is two jobs (edge-step checkpoint +
      * jump/convergence); a per-round `next ⋈ comp` change count would
      * add one node-sized join (two exchanges) and a third job. */
    def materializeWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val ck = df.localCheckpoint(false)
      val s = ck.agg(coalesce(
        sum($"comp".cast(org.apache.spark.sql.types.DecimalType(38, 0))),
        lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head().getDecimal(0)
      (ck, s)
    }
    var (comp, compSum) = materializeWithSum(
      edges.select($"node").distinct().withColumn("comp", $"node"))
    var iters = 0
    var changed = true
    // <= not <: observing convergence costs one round AFTER the last
    // change, so a run using all maxIters moves still gets its
    // zero-change observation round instead of a spurious abort
    while (changed && iters <= maxIters) {
      val nbrComp = edges
        .join(comp.select($"node".as("nbr"), $"comp"), Seq("nbr"))
        .select($"node", $"comp")
      // Checkpointed EAGERLY before the self-join: the jump step consumes
      // `lowered` twice (probe and build side) in CONCURRENT map stages,
      // so a lazy cut would race both stages into recomputing the
      // union+groupBy edge subtree — the round's two candidate-sized
      // shuffles — per side.
      val lowered = comp.unionByName(nbrComp)
        .groupBy($"node").agg(min($"comp").as("comp"))
        .localCheckpoint()
      // pointer jump: comp' = min(comp, comp(comp)). Labels are always
      // ids of touched nodes (they originate as node ids and min only
      // selects among them), so the label's own row exists; the left
      // join + coalesce is belt-and-braces, not a semantic choice.
      val (next, nextSum) = materializeWithSum(lowered
        .join(lowered.select($"node".as("comp"), $"comp".as("comp2")),
          Seq("comp"), "left")
        .select($"node",
          least($"comp", coalesce($"comp2", $"comp")).as("comp")))
      changed = nextSum.compareTo(compSum) != 0
      comp = next
      compSum = nextSum
      iters += 1
    }
    require(!changed,
      s"component propagation did not converge in $maxIters rounds")
    lastComponentRounds = iters
    comp
  }

  /** Rounds the most recent [[minLabelComponents]] call on this JVM took
    * to converge (including the zero-change observation round) — a
    * measurement DIAGNOSTIC for the scaling harness (the SCALING_r16
    * fixpoint rows report wall time + rounds), not an API: concurrent
    * component runs overwrite each other and callers must not branch on
    * it. */
  @volatile var lastComponentRounds: Int = 0

  /** Distributed, exact running sum (and grand total) over a totally-ordered
    * input — the scalable replacement for
    * `sum(x).over(Window.orderBy(...))`, which Spark must execute as ONE
    * task holding the whole input.
    *
    * Two-pass partition prefix sum (SURVEY.md §4 "the one place a custom
    * physical approach may ever be warranted"):
    *
    *  1. range-partition by the sort key; each task computes its local
    *     ordered cumsum — no task ever sees more than one range partition;
    *  2. aggregate ONE row per partition (its sum), prefix-sum those few
    *     rows (trivially small: one row per shuffle partition), and
    *     broadcast-join each partition's exclusive offset back.
    *
    * `cum = local_cumsum + offset`; the grand total rides the same tiny
    * broadcast. The caller tracks an expensive input
    * ([[graft.Caches.track]]), so the range partitioner's sampling pass
    * and the shuffle map stage read its cache instead of re-running the
    * upstream plan.
    *
    * `order` must be a TOTAL order (add a key tiebreaker): if equal keys
    * straddle a partition boundary the local-cumsum+offset is still a valid
    * prefix sum for *some* tie order, but not necessarily the oracle's.
    * `value` should be an exact type (decimal/integral) — the rollup adds
    * partition sums in a different order than a sequential scan would.
    *
    * `smallInput`: a CALLER-DECLARED (static, no runtime probe — plan
    * construction stays side-effect-free, no driver-side action in any
    * query path) promise that the input is dimension-bounded (the ABC
    * input is one row per part; a time-series cumsum is calendar-bounded).
    * True ⇒ a plain single-partition window, no extra stages —
    * measured ~3× faster at sf0.1 where fixed overhead dominated. False
    * (default) ⇒ the distributed two-pass above. The ScalaCheck property
    * pins both paths bit-identical, which is what makes flipping the flag
    * at a new scale a config change rather than a correctness question.
    */
  def prefixSum(
      df: DataFrame,
      order: Seq[Column],
      value: Column,
      cumName: String,
      totName: String,
      smallInput: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    if (smallInput) {
      val cum = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      return df
        .withColumn(cumName, sum(value).over(cum))
        .withColumn(totName, sum(value).over(all))
    }

    val ranged = df
      .repartitionByRange(order: _*)
      .withColumn("__pid", spark_partition_id())

    // One row per partition → exclusive prefix offsets + grand total, via a
    // broadcast triangular cross-join over ≤ spark.sql.shuffle.partitions
    // rows (bounded by config, not data — n² on the partition COUNT is
    // trivial, and it avoids any unpartitioned window).
    val psums = ranged.groupBy($"__pid").agg(sum(value).as("__psum"))
    val offsets = psums
      .crossJoin(broadcast(
        psums.select($"__pid".as("__jpid"), $"__psum".as("__jpsum"))))
      .groupBy($"__pid")
      .agg(
        sum(when($"__jpid" < $"__pid", $"__jpsum")).as("__excl"),
        sum($"__jpsum").as("__tot"))
      .select(
        $"__pid",
        coalesce($"__excl", lit(0)).as("__off"),
        $"__tot")

    val local = Window
      .partitionBy($"__pid")
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(cumName, sum(value).over(local) + $"__off")
      .withColumn(totName, $"__tot")
      .drop("__pid", "__off", "__tot")
  }

  /** Candidate pairs of members sharing a key, with an optional
    * per-key occupancy cap: the one pair device of the near-dup
    * generators (SRP buckets, IVF cells, hot shingle buckets).
    *
    * `members` holds one row per (key, member). `cols` names the columns
    * a pair carries as (column, stem); the head is the member id. Output:
    * `<stem>_a` for every stem, then `<stem>_b` for every stem, one row
    * per pair, with id_a < id_b. Every carried column comes back beside
    * its own id.
    *
    *  - `occCap == Int.MaxValue` (unbounded): every pair inside a key, as
    *    the plain key self-join. `rank` is not called, so no rank is
    *    computed.
    *  - finite cap: `rank(members)` adds each member's 1-based in-key
    *    rank `rk`, in a locality-sensitive order the caller chooses so
    *    that near-duplicates sit at neighboring ranks. The output is
    *    every pair among the delegates (rk ≤ occCap), so a key at or
    *    under its budget yields exactly its unbounded pairs, plus each
    *    member's `chainW` rank successors past the cap, joined on the key
    *    itself. The chain keeps a dense cluster connected while the pair
    *    volume stays ≤ C(occCap, 2) per key + chainW·n. The two legs are
    *    disjoint (a chain pair's successor has rk > occCap), and a chain
    *    pair is generated once (ranks strictly increase along it).
    *
    * `probe`: the keys a member joins the delegate join on from the a
    * side (SRP's own bucket plus its 1-bit flips); by default its own
    * key. `bHint`: a join-strategy hint on the delegate join's b side.
    * The device persists nothing: a caller whose rank is worth reusing
    * tracks it inside `rank`. */
  def cappedPairs(
      members: DataFrame,
      key: String,
      cols: Seq[(String, String)],
      occCap: Int,
      chainW: Int,
      rank: DataFrame => DataFrame,
      probe: Option[Column] = None,
      bHint: Option[String] = None): DataFrame = {
    require(occCap >= chainW, s"occCap $occCap must be >= chainW $chainW")
    def side(s: String): Seq[Column] =
      cols.map { case (c, stem) => col(c).as(s"${stem}_$s") }
    def out(s: String): Seq[String] = cols.map { case (_, stem) => s"${stem}_$s" }
    val (idA, idB) = (col(out("a").head), col(out("b").head))
    def allPairs(m: DataFrame): DataFrame = {
      val b = m.select(side("b") :+ col(key): _*)
      m.select(side("a") :+ probe.fold(col(key))(explode(_)).as(key): _*)
        .join(bHint.fold(b)(b.hint(_)), Seq(key))
        .filter(idA < idB)
        .select((out("a") ++ out("b")).map(col): _*)
    }
    if (occCap == Int.MaxValue) return allPairs(members)
    val ranked = rank(members)
    val aCh = ranked.filter(col("rk") > occCap - chainW)
      .select(side("a") ++ Seq(col(key), col("rk"),
        explode(array((1 to chainW).map(lit): _*)).as("d")): _*)
      .withColumn("rk_b", col("rk") + col("d"))
      .filter(col("rk_b") > occCap)
    val bCh = ranked.select(side("b") ++ Seq(col(key), col("rk").as("rk_b")): _*)
    // ids along a chain edge are distinct, so the orientation is total
    def oriented(s: String, t: String): Seq[Column] =
      out(s).zip(out(t)).map { case (x, y) =>
        when(idA < idB, col(x)).otherwise(col(y)).as(x) }
    allPairs(ranked.filter(col("rk") <= occCap)).unionByName(
      aCh.join(bCh, Seq(key, "rk_b"))
        .select(oriented("a", "b") ++ oriented("b", "a"): _*))
  }

  /** SALTED shuffle join — the skew treatment for a fact⋈dim join whose
    * key distribution is pathological AND whose dim side is too large to
    * broadcast (the broadcast join is always the first resort; AQE's
    * skew-join split handles moderate skew between those two). The fact
    * side gets a deterministic salt in [0, nSalts) derived by hashing a
    * caller-chosen high-cardinality column (NOT a random number — retries
    * and speculative tasks must salt identically); the dim side is
    * replicated once per salt value via a single `explode` (dim×nSalts
    * rows — the memory price of the device, which is why nSalts stays
    * small). Joining on key ⧺ salt spreads one hot key's fact rows over
    * `nSalts` reducers while every fact row still meets exactly one
    * replica of its dim match — so salted ≡ plain inner join, row for
    * row, for ANY key distribution (the q79 driver entry proves it
    * against the plain-join DuckDB oracle).
    *
    * The join carries a `shuffle_hash` hint: at demo scale Spark would
    * broadcast the exploded dim (defeating the device being exercised);
    * at deploy scale a shuffled hash join is the plan this device exists
    * for — the replicated dim partitions stay build-side-sized, and the
    * salt bounds the largest fact partition at hot_key_rows / nSalts. */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      spread: Column,
      nSalts: Int = 16): DataFrame = {
    val salts = array((0 until nSalts).map(lit): _*)
    fact
      .withColumn("__salt", pmod(hash(spread), lit(nSalts)))
      .join(
        dim.withColumn("__salt", explode(salts)).hint("shuffle_hash"),
        keys :+ "__salt")
      .drop("__salt")
  }

  /** Two-stage SALTED aggregation — the skew treatment for a hash agg
    * whose key distribution is pathological (one hot key receiving a
    * large share of a 100 TB fact: its single reduce task dominates the
    * stage). Stage 1 aggregates (keys, salt) where the salt spreads one
    * key's rows over `nSalts` reducers — deterministic, derived by
    * hashing a caller-chosen high-cardinality column, NOT a random
    * number, so retries and re-runs see identical salts; stage 2
    * re-aggregates the `nSalts` partials per key. Correct for any
    * commutative+associative aggregate; pass exact types (decimal /
    * integral) if the final merge order must not matter — the q51 driver
    * entry proves salted ≡ direct against the DuckDB oracle.
    *
    * Spark's own partial aggregation already map-side-combines, which
    * handles MODERATE skew; salting is for the case where even combined
    * partials of the hot key overwhelm one reducer. AQE's skew handling
    * covers joins, not aggregations — this is the aggregation-side tool. */
  def saltedSum(
      df: DataFrame,
      keys: Seq[String],
      value: Column,
      spread: Column,
      outName: String,
      nSalts: Int = 16): DataFrame = {
    val keyCols = keys.map(col)
    df.groupBy(keyCols :+ pmod(hash(spread), lit(nSalts)).as("__salt"): _*)
      .agg(sum(value).as("__partial"))
      .groupBy(keyCols: _*)
      .agg(sum(col("__partial")).as(outName))
  }

}
