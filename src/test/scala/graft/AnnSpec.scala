package graft

import graft.ops.Ann

/** Planted-cluster fixture for similarity search: queries (vec_id < 8)
  * each have two near-identical companions (cosine ≈ 1) among the
  * non-query vectors; brute force must rank a companion first, and the
  * LSH path must recover companions through bucket + multi-probe (near-
  * identical vectors agree on every hyperplane sign, so they share a
  * bucket by construction). */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  private val DIM = 8

  /** Query q's base direction: axis q (mod DIM) + small fixed tilt. */
  private def base(q: Int): Array[Float] = {
    val v = Array.fill(DIM)(0.05f)
    v(q % DIM) = 1.0f
    v
  }

  private def jitter(v: Array[Float], eps: Float): Seq[Float] =
    v.zipWithIndex.map { case (x, i) => x + eps * (i % 3 - 1) }.toSeq

  private lazy val dir = fixtureDir(
    "embeddings" -> (
      // queries 0..7
      (0 until 8).map(q => Emb(q, base(q).toSeq, q)) ++
        // ids 8..23: coarse fillers, two per axis (eps 0.3 keeps them well
        // under the 0.95 near-dup cut vs queries/companions) — they double
        // as the IVF centroid set (vec_id in [8, 24)); 8..15 and 16..23
        // repeat the same directions, so (j, j+8) are exact duplicates.
        (8 until 24).map(j => Emb(j, jitter(base(j % 8), 0.3f), j % 8)) ++
        // companions 100+2q, 101+2q ≈ query q
        (0 until 8).flatMap(q => Seq(
          Emb(100 + 2 * q, jitter(base(q), 0.01f), q),
          Emb(101 + 2 * q, jitter(base(q), 0.02f), q)))
      ).toDF())

  test("brute-force top-k ranks the planted companions first") {
    val top = Ann.bruteForceTopK(spark, dir)
      .filter($"rnk" <= 2)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    (0 until 8).foreach { q =>
      assert(top(q.toLong) == Set(100L + 2 * q, 101L + 2 * q),
        s"query $q top-2 = ${top(q.toLong)}")
    }
  }

  test("cosines are in [-1, 1] and companions score ≈ 1") {
    val rows = Ann.bruteForceTopK(spark, dir).collect()
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-12))
    val top1 = rows.filter(_.getLong(3) == 1L)
    assert(top1.forall(_.getDouble(2) > 0.99))
  }

  test("LSH buckets recover the planted companions (recall on clusters)") {
    val lsh = Ann.lshTopK(spark, dir, DIM)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    (0 until 8).foreach { q =>
      val companions = Set(100L + 2 * q, 101L + 2 * q)
      assert((companions -- lsh.getOrElse(q.toLong, Set.empty)).isEmpty,
        s"query $q lost companions: ${lsh.getOrElse(q.toLong, Set.empty)}")
    }
  }

  test("embedding near-dup at 0.95 finds exactly the planted duplicates") {
    val pairs = Ann.embeddingNearDup(spark, dir, threshold = 0.95, dim = DIM)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected =
      // each cluster: query↔both companions + companion↔companion
      (0 until 8).flatMap { q =>
        Seq((q.toLong, 100L + 2 * q), (q.toLong, 101L + 2 * q),
          (100L + 2 * q, 101L + 2 * q))
      }.toSet ++
        // the identical filler twins
        (8 until 16).map(j => (j.toLong, j + 8L)).toSet
    assert(pairs == expected, s"got ${pairs.size} pairs")
  }

  test("capped near-dup ≡ exact all-pairs when no bucket exceeds the budget") {
    // fixture occupancies are far below OCC_CAP, so the capped plan must
    // be byte-identical to the uncapped one — the property that keeps
    // q88/q89 hash-green against the all-pairs oracle at fixture scale
    val exact = Ann.embeddingNearDup(spark, dir, threshold = 0.95, dim = DIM)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val capped = Ann.embeddingNearDupCapped(spark, dir,
      threshold = 0.95, dim = DIM)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(capped == exact)
    graft.Caches.releasePrefix("ann.")
  }

  test("capped near-dup bounds a dense bucket and keeps the cluster connected") {
    // one adversarially dense cluster: 40 near-identical vectors (the
    // round-9 scale-killer in miniature). occCap=8/chainW=3 must cut the
    // C(40,2)=780 all-pairs rerank to 28 delegate + 96 chain edges while
    // every member still reaches every other through the rank chain —
    // the MEMBER-recall contract the q60 keep-list consumes.
    val denseDir = fixtureDir(
      "embeddings" -> (0 until 40).map { id =>
        val v = base(0).zipWithIndex
          .map { case (x, i) => x + 0.001f * ((id * 7 + i) % 5 - 2) }
        Emb(100 + id, v.toSeq, 0)
      }.toDF())
    val occCap = 8
    val chainW = 3
    val pairs = Ann.embeddingNearDupCapped(spark, denseDir,
      threshold = 0.95, dim = DIM, occCap = occCap, chainW = chainW)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.Caches.releasePrefix("ann.")
    val exactPairs = 40 * 39 / 2
    val expectedCapped = occCap * (occCap - 1) / 2 + (40 - occCap) * chainW
    assert(pairs.size == expectedCapped,
      s"expected $expectedCapped capped pairs, got ${pairs.size} (exact would be $exactPairs)")
    assert(pairs.toSet.size == pairs.size, "pair stream must not duplicate")
    // union-find over the surviving edges: one component, all 40 members
    val parent = scala.collection.mutable.Map((100 until 140).map(i => i.toLong -> i.toLong): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val roots = (100 until 140).map(i => find(i.toLong)).toSet
    assert(roots.size == 1,
      s"dense cluster fragmented into ${roots.size} components")
  }

  test("occCap recall floor survives via the rank chain (fails if CHAIN_W were 0)") {
    // Round-11 verdict item 4 — the adversarial boundary SCALING.md
    // argues from, pinned: ONE cluster at 6× the cap whose true near-dup
    // pairs exist at rank distances far beyond the chain window (rank 9
    // vs rank 48 is a 0.95+ pair at distance 39). Pair recall inside the
    // bucket is the documented ≈(occCap/m)² trade; MEMBER recall — does
    // every cluster member survive into ≥1 pair, the quantity the q60
    // drop-set consumes — must stay 1.0, carried by the rank chain.
    val n = 48
    val occCap = 8
    val denseDir = fixtureDir(
      "embeddings" -> (0 until n).map { id =>
        val v = base(0).zipWithIndex
          .map { case (x, i) => x + 0.001f * ((id * 7 + i) % 5 - 2) }
        Emb(200 + id, v.toSeq, 0)
      }.toDF())
    def memberSet(chainW: Int): Set[Long] = {
      val pairs = Ann.embeddingNearDupCapped(spark, denseDir,
        threshold = 0.95, dim = DIM, occCap = occCap, chainW = chainW)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      graft.Caches.releasePrefix("ann.")
      pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    }
    val all = (200 until 200 + n).map(_.toLong).toSet
    // the PRODUCTION default chain width: every member — the occCap
    // delegates AND the 40 over-cap ranks — appears in ≥1 surviving
    // pair. This assertion is what breaks the suite if CHAIN_W is ever
    // set to 0 (or the chain leg regresses): member recall collapses to
    // the delegate set.
    assert(memberSet(Ann.CHAIN_W) == all,
      "rank chain must keep member recall 1.0 over an over-cap cluster")
    // counterexample making the chain's contribution explicit: with the
    // chain disabled, ONLY the delegates survive — the recall floor is
    // the chain's doing, not an accident of bucketing.
    // (rank order follows the refinement code, not vec_id, so the
    // delegate IDENTITIES are plan-chosen — the pinned property is the
    // count: exactly occCap members survive, the rest vanish.)
    val noChain = memberSet(0)
    assert(noChain.size == occCap && noChain.subsetOf(all),
      s"without the chain only $occCap delegates should survive, " +
        s"got ${noChain.size} members")
  }

  test("heterogeneous over-cap bucket: refinement ranks separate clusters, chain keeps both connected") {
    // The documented residual on the rank chain: "heterogeneous buckets
    // (mixed clusters) can miss chain edges". This pins the mechanism
    // that bounds the damage: with nplanes=0 EVERY vector shares one
    // bucket, so two distinct dense clusters (axis-0 and axis-1
    // directions, cross-cosine ≈ 0.1) are forced to cohabit an over-cap
    // bucket. The rank order is the REFINEMENT code (16 extra plane
    // signs), which near-identical vectors share — so the two clusters
    // sit CONTIGUOUSLY in rank order, consecutive ranks are same-cluster
    // except at one boundary, and the chain window keeps every member of
    // BOTH clusters in ≥1 true near-dup pair despite the cap.
    val perCluster = 24
    val occCap = 8
    val mixDir = fixtureDir(
      "embeddings" -> (0 until 2 * perCluster).map { i =>
        val cl = i % 2 // interleave by id so id-order ≠ cluster-order
        val v = base(cl).zipWithIndex
          .map { case (x, k) => x + 0.001f * ((i * 7 + k) % 5 - 2) }
        Emb(300 + i, v.toSeq, cl)
      }.toDF())
    val pairs = Ann.embeddingNearDupCapped(spark, mixDir,
      threshold = 0.95, dim = DIM, nplanes = 0, occCap = occCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.Caches.releasePrefix("ann.")
    val members = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    assert(members == (300 until 300 + 2 * perCluster).map(_.toLong).toSet,
      s"every member of both clusters must survive, got ${members.size}/48")
    // no cross-cluster pair passes the 0.95 rerank (clusters are real)
    assert(pairs.forall { case (a, b) => (a - b) % 2 == 0 },
      "cross-cluster pair leaked through the 0.95 threshold")
    // and each cluster forms ONE component over the surviving edges
    val parent = scala.collection.mutable.Map(
      (300 until 300 + 2 * perCluster).map(i => i.toLong -> i.toLong): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val roots = (300 until 300 + 2 * perCluster).map(i => find(i.toLong)).toSet
    assert(roots.size == 2,
      s"expected 2 components (one per cluster), got ${roots.size}")
  }

  test("q85 trained-quantizer cache serves byte-identical to fresh training") {
    // round-11 verdict item 8: q85/q91 share one driver-cached trained
    // model. The cache must be invisible to results — a cache-hit serve
    // and a cold retrain produce the same rows, cosines included.
    def serve() = Ann.ivfTopKTrained(spark, dir)
      .collect().map(_.toSeq).toSeq
    graft.Caches.clearMemo()
    val cold = serve() // trains, populates the cache
    val warm = serve() // cache hit
    assert(warm == cold, "cache-hit serve must be byte-identical")
    graft.Caches.clearMemo()
    assert(serve() == cold, "fresh retrain must reproduce the cached model")
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("SemDeDup keeps one representative per planted duplicate family") {
    // q100 semantics over the planted clusters: each query's two ≈1-cosine
    // companions land in the query's trained cell and drop (greedy lower-
    // id-wins keeps the query); the identical filler twins (j, j+8) drop
    // their higher id; everything else — queries, first-copy fillers —
    // survives. This is the whole SemDeDup contract: exactly one
    // representative per semantic family, chosen deterministically.
    val rows = Ann.semDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(rows.size == 40, s"verdict must cover every vector, got ${rows.size}")
    val expectedDrop = (16 until 24).map(_.toLong).toSet ++
      (100 until 116).map(_.toLong).toSet
    assert(rows.filterNot(_._2).keySet == expectedDrop,
      s"dropped = ${rows.filterNot(_._2).keySet.toSeq.sorted}")
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("sized-k SemDeDup drops the same planted families under a different quantizer") {
    // q101 trains k = ncentroidsFor(40) = 6 cells instead of the fixture
    // 16 — a different clustering, but the PLANTED families are
    // invariant: identical twins share a cell under ANY centroid set
    // (identical metric + deterministic tie-break), and each ≈1-cosine
    // companion rides with its query. The verdict must therefore drop
    // exactly the same set as the fixed-k q100.
    val rows = Ann.semDedupAuto(spark, dir, dim = DIM).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(rows.size == 40)
    val expectedDrop = (16 until 24).map(_.toLong).toSet ++
      (100 until 116).map(_.toLong).toSet
    assert(rows.filterNot(_._2).keySet == expectedDrop,
      s"dropped = ${rows.filterNot(_._2).keySet.toSeq.sorted}")
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("q101 occ-cap audit: no cell trips OCC_CAP at correctness scale") {
    // round-13 ADVICE: the driver oracle replays the assignment but NOT
    // the pair budget, so q101 ≡ oracle only while max occupancy stays
    // at-or-under OCC_CAP. Assert it HERE at the driver's sf0.01 scale so
    // a skewed corpus surfaces as this message, never as an unexplained
    // round-hash mismatch.
    val occ = Ann.semDedupMaxOccupancy(spark, "/root/testdata/sf0.01")
    assert(occ <= Ann.OCC_CAP,
      s"max cell occupancy $occ exceeds OCC_CAP=${Ann.OCC_CAP}: q101's " +
        "capped pair stage now diverges from its all-pairs oracle")
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("capped semdedup ≡ uncapped when no cell exceeds the budget") {
    // round-12 verdict item 3: the q88 delegate-budget + rank-chain
    // device composed into the learned-cell path. Fixture occupancies
    // are far below OCC_CAP, so the capped verdict must be byte-identical
    // to the uncapped one — the property that keeps q101 hash-green
    // against its all-pairs oracle at correctness scale.
    def verdict(cap: Int) =
      Ann.semDedup(spark, dir, dim = DIM, occCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    val uncapped = verdict(Int.MaxValue)
    assert(verdict(Ann.OCC_CAP) == uncapped)
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("capped semdedup: dense over-cap cell still drops every duplicate member") {
    // one adversarially dense cell — 40 EXACT copies (the round-9
    // scale-killer in semantic-dedup form): with occCap=8/chainW=3 the
    // pair stage is cut from C(40,2)=780 to C(8,2)+32·3=124 edges, yet
    // the verdict must still keep exactly ONE representative. Exact
    // copies tie on m_asg, so the rank tie-break is vec_id and every
    // chain edge is id-consecutive at cosine 1.0 — each member except
    // the id-minimum pairs with a lower id and drops (member recall 1.0
    // under an 80%-over-cap cell).
    val denseDir = fixtureDir(
      "embeddings" -> (Emb(8L, base(0).toSeq, 0) +:
        (0 until 39).map(k => Emb(100L + k, base(0).toSeq, 0))).toDF())
    val rows = Ann.semDedup(spark, denseDir, dim = DIM, k = Some(1),
      occCap = 8, chainW = 3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(rows.size == 40, s"verdict must cover every vector: ${rows.size}")
    assert(rows.filter(_._2).keySet == Set(8L),
      s"kept = ${rows.filter(_._2).keySet.toSeq.sorted}")
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("hierarchical semdedup: flat keep verdict, families co-located") {
    // round-13: semDedupAuto assigns coarse→fine (n·2√k instead of n·k).
    // The hierarchy can legally re-cell vectors whose nearest centroid's
    // parent is not their nearest coarse centroid (this fixture plants 16
    // directions over √16 = 4 coarse cells, so re-celling DOES happen —
    // the approximation is real, and the driver oracle replays it
    // exactly). What dedup consumes is invariant and pinned here:
    //  - the KEEP verdict equals the flat assignment's verdict, and
    //  - each planted family (query + companions; identical filler
    //    twins) still lands in ONE cell — identical/near-identical
    //    vectors follow the same coarse→fine path by construction.
    def run(h: Boolean) = Ann.semDedup(spark, dir, dim = DIM, hier = h)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val hier = run(true)
    val flat = run(false)
    assert(hier.map(r => (r._1, r._3)).toSet ==
      flat.map(r => (r._1, r._3)).toSet,
      "keep verdict must be invariant under the hierarchy")
    val cell = hier.map(r => r._1 -> r._2).toMap
    (0 until 8).foreach { q =>
      assert(cell(100L + 2 * q) == cell(q.toLong) &&
        cell(101L + 2 * q) == cell(q.toLong),
        s"family of query $q split: ${cell(q.toLong)} vs " +
          s"${cell(100L + 2 * q)}/${cell(101L + 2 * q)}")
    }
    (8 until 16).foreach { j =>
      assert(cell(j.toLong) == cell(j + 8L),
        s"identical twins ($j, ${j + 8}) split")
    }
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("ANN recall harness: per-query recall@k with the companions always hit") {
    // The LSH-recall test above proves the companions survive the
    // approximate path; the recall harness must therefore report
    // n_hit ≥ 2 of n_exact = 10 for every query, with recall the exact
    // ratio — and never exceed 1 (the join can only count ground-truth
    // rows once).
    val rows = Ann.annRecall(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 8)
    rows.foreach { case (q, nExact, nHit, recall) =>
      assert(nExact == 10L, s"query $q ground truth must be top-10")
      assert(nHit >= 2L, s"query $q lost a planted companion")
      assert(recall == nHit.toDouble / nExact && recall <= 1.0)
    }
  }

  test("IVF probes recover the planted companions and rank them first") {
    val top = Ann.ivfTopK(spark, dir)
      .filter($"rnk" <= 2)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    (0 until 8).foreach { q =>
      assert(top(q.toLong) == Set(100L + 2 * q, 101L + 2 * q),
        s"query $q IVF top-2 = ${top.getOrElse(q.toLong, Set.empty)}")
    }
  }

  test("IVF assignment shuffles ≤1 row per vector (no N×ncentroids exchange)") {
    // The round-4 argmax was a row_number window over the broadcast-join
    // fan-out: its rank exchange carried N×IVF_NCENTROIDS rows (every
    // embedding ×16). The max_by aggregate must partial-combine that back
    // to one row per vector BEFORE the shuffle — so no executed exchange
    // may carry the expansion. Fixture: N = 40 vectors, 16 centroids.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = Ann.ivfTopK(spark, dir)
    df.queryExecution.toRdd.foreach(_ => ())
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: QueryStageExec => exchanges(s.plan)
      case e: ShuffleExchangeExec => e +: e.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges)
    }
    val written = exchanges(df.queryExecution.executedPlan)
      .groupBy(System.identityHashCode(_)).values.map(_.head)
      .map(_.metrics("shuffleRecordsWritten").value)
    assert(written.nonEmpty, "expected at least one exchange (agg + windows)")
    val nVectors = 40L
    written.foreach { n =>
      assert(n < nVectors * Ann.IVF_NCENTROIDS,
        s"an exchange carried $n rows — the ncentroids expansion is back")
    }
  }

  test("sizing rules: planesFor/ncentroidsFor track corpus size") {
    // the hand-set fixture knobs ARE the rule's output at fixture scale
    assert(Ann.planesFor(500, targetBucket = 8) == Ann.NPLANES)
    assert(Ann.ncentroidsFor(256) == Ann.IVF_NCENTROIDS)
    // expected occupancy lands in (targetBucket/2, targetBucket]
    Seq(10000L, 1000000L, 1L << 40).foreach { n =>
      val occ = n.toDouble / math.pow(2.0, Ann.planesFor(n))
      assert(occ <= 4096 && occ > 2048, s"n=$n occupancy=$occ")
    }
    // clamps: tiny corpora never go below 1 plane; the bucket id must
    // stay inside a long
    assert(Ann.planesFor(10) == 1)
    assert(Ann.planesFor(Long.MaxValue, targetBucket = 1) == 62)
    assert(Ann.ncentroidsFor(1) == 1)
    assert(Ann.ncentroidsFor(1000000000L) == 31623) // ~sqrt(N) at 1e9
  }

  test("LSH cosines agree with the brute-force path on shared pairs") {
    val bf = Ann.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Ann.lshTopK(spark, dir, DIM).collect()
    // the LSH path scores with the codegen'd DotProduct expression; the
    // brute-force path uses the decimal-exact formulation — they agree
    // to the 1e-12 fixed-point rounding the exact path applies.
    lsh.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(math.abs(c - r.getDouble(2)) < 1e-9)
      }
    }
  }

  test("kmeans double-metric deploy knob matches the exact metric") {
    // the argmin can differ only on near-exact metric ties; on the
    // fixture corpus both paths must train identical centroids — the pin
    // that makes flipping the flag at scale a config change (the
    // prefixSum smallInput discipline)
    val dir = "/root/testdata/sf0.001"
    def rows(exact: Boolean) = graft.ops.Ann.ivfKmeans(spark, dir, exact)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    val (e, d) = (rows(exact = true), rows(exact = false))
    spark.catalog.clearCache() // ivfKmeans cache contract
    assert(e == d)
  }

  test("kmeansStep: nearest-centroid assignment, exact means, empty cell drops") {
    import org.apache.spark.sql.functions._
    // 2-D points in two obvious clusters; three seeds — the far seed at
    // (100,100) must capture nothing and vanish from the output
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(0.0, 2.0)),      // cluster at x≈0
      (2L, Seq(10.0, 0.0)), (3L, Seq(10.0, 2.0))     // cluster at x≈10
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Seq(0.0, 1.0)), (1L, Seq(10.0, 1.0)), (2L, Seq(100.0, 100.0))
    ).toDF("cent_id", "c_emb")
      .withColumn("c_nrm_dec", expr(
        """aggregate(zip_with(c_emb, c_emb, (x, y) ->
          |  CAST(floor(x * y * 1e12 + 0.5) / 1e12 AS DECIMAL(38,15))),
          |CAST(0 AS DECIMAL(38,15)),
          |(acc, z) -> CAST(acc + z AS DECIMAL(38,15)))""".stripMargin))
    val flat = graft.ops.Ann.kmeansStep(vecs, cents)
      .orderBy("cent_id", "pos")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    assert(flat.toSeq == Seq(
      (0L, 0, 0.0, 2L), (0L, 1, 1.0, 2L),   // mean of (0,0),(0,2)
      (1L, 0, 10.0, 2L), (1L, 1, 1.0, 2L))) // mean of (10,0),(10,2)
  }

  test("ivfKmeansTrain converges under tolerance and reseeds empty cells") {
    // the fixture's seed block (ids 8..23) repeats each direction twice —
    // (j, j+8) are EXACT duplicate seeds, so round 1 ties every vector to
    // the lower cent_id and leaves 8 cells empty: the reseed path runs on
    // the natural fixture, not a contrived one
    val r = graft.ops.Ann.ivfKmeansTrain(spark, dir, tol = 1e-9, maxIters = 25)
    assert(r.converged, s"did not converge in ${r.iters} rounds")
    assert(r.iters < 25)
    assert(r.reseeded >= 8, s"duplicate seeds must force reseeds, got ${r.reseeded}")
    val cents = r.centroids.collect()
    assert(cents.length == graft.ops.Ann.IVF_NCENTROIDS)
    // every centroid is a full-width vector and no two are identical
    // (reseed + convergence must break the duplicate-seed degeneracy)
    val embs = cents.map(_.getSeq[Double](1).toSeq)
    assert(embs.forall(_.length == DIM))
    assert(embs.distinct.length == embs.length)
    graft.Caches.releasePrefix("ann.")
  }

  test("ivfKmeansTrain tolerance-off for KMEANS_ITERS rounds ≡ ivfKmeans") {
    // on a corpus with no empty cells the converged trainer, capped at
    // the fixed round count, must train bit-identical centroids — the pin
    // that makes the tolerance knob an addition, not a divergence
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val fixedFlat = graft.ops.Ann.ivfKmeans(spark, dir)
      .select("cent_id", "pos", "c_val")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val t = graft.ops.Ann.ivfKmeansTrain(spark, dir,
      tol = 0.0, maxIters = graft.ops.Ann.KMEANS_ITERS, exactMetric = true)
    assert(t.reseeded == 0L)
    val trainedFlat = t.centroids
      .select(col("cent_id"), posexplode(col("c_emb")))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2)))
      .toSet
    assert(trainedFlat == fixedFlat)
    spark.catalog.clearCache() // ivfKmeans cache contract
  }

  test("cell cap: dense cell cut to CELL_CAP nearest, sparse cell survives whole") {
    // one over-dense semantic region: 30 vectors planted within ~0.03 of
    // seed 8's position, distances strictly increasing with id — the cap
    // must keep the 16 NEAREST (seed 8 itself at d2=0, its exact
    // duplicate seed 16, then planted ids in order), while thin cells
    // keep all members.
    val seed8 = jitter(base(0), 0.3f).toArray
    val capDir = fixtureDir(
      "embeddings" -> (
        (0 until 8).map(q => Emb(q, base(q).toSeq, q)) ++
          (8 until 24).map(j => Emb(j, jitter(base(j % 8), 0.3f), j % 8)) ++
          (0 until 30).map { k =>
            val v = seed8.clone(); v(1) = v(1) + 0.001f * (k + 1)
            Emb(100 + k, v.toSeq, 0)
          }).toDF())
    val r = graft.ops.Ann.cellDiversityCap(spark, capDir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val byCell = r.groupBy(_._2)
    val dense = byCell(8L).sortBy(_._3)
    assert(dense.length == graft.ops.Ann.CELL_CAP)
    // rank 1/2: the two exact-zero-distance members (seeds 8 and 16,
    // duplicates by construction), tie broken by vec_id
    assert(dense.take(2).map(_._1).toSeq == Seq(8L, 16L))
    // then the planted vectors in increasing-perturbation order
    assert(dense.drop(2).map(_._1).toSeq ==
      (100L until (100L + graft.ops.Ann.CELL_CAP - 2)).toSeq)
    // a thin cell (seed 9's: seed 9 + its duplicate seed 17 + query 1)
    // survives whole — the cap is a rank bound, not a quota
    assert(byCell(9L).length == 3)
    assert(byCell(9L).map(_._1).toSet == Set(1L, 9L, 17L))
    spark.catalog.clearCache()
  }
  test("q151 dim stats: exact fixed-point moments, non-finite counted not folded") {
    import spark.implicits._
    val dir = fixtureDir("embeddings" -> Seq(
      Emb(0L, Seq(1.0f, 0.0f), 0),
      Emb(1L, Seq(3.0f, 0.0f), 0),
      Emb(2L, Seq(-1.5f, 2.0f), 0),
      Emb(3L, Seq(0.5f, Float.NaN), 0),
      Emb(4L, Seq(0.25f, Float.PositiveInfinity), 0)).toDF)
    val d0big = graft.ops.Ann.embeddingDimStats(spark, fixtureDir(
      // round-12 ADVICE: a LARGE FINITE float (here 1e20, well past the
      // 1e12-grid BIGINT bound) must not abort the report with an ANSI
      // cast error — it is counted as n_big, excluded from the moment
      // sums, but still folds into min/max (comparisons cannot overflow).
      "embeddings" -> Seq(
        Emb(0L, Seq(1.0f), 0),
        Emb(1L, Seq(1.0e20f), 0),
        Emb(2L, Seq(2.0f), 0)).toDF)).collect()(0)
    assert(d0big.getAs[Long]("n") == 3L && d0big.getAs[Long]("n_big") == 1L &&
      d0big.getAs[Long]("n_nan") == 0L && d0big.getAs[Long]("n_inf") == 0L)
    assert(d0big.getAs[Double]("max_v") == 1.0e20f.toDouble,
      "runaway range must stay visible in max_v")
    assert(d0big.getAs[Long]("sum_e12") == 3000000000000L,
      "grid sums must exclude the out-of-grid value")
    assert(d0big.getAs[Double]("mean") == 3000000000000L.toDouble / (2.0 * 1e12),
      "mean divides by the in-grid count")
    spark.catalog.clearCache()
    val rows = graft.ops.Ann.embeddingDimStats(spark, dir).collect()
    assert(rows.length == 2)
    val d0 = rows(0)
    assert(d0.getAs[Long]("dim") == 0L)
    assert(d0.getAs[Long]("n") == 5L && d0.getAs[Long]("n_nan") == 0L &&
      d0.getAs[Long]("n_inf") == 0L && d0.getAs[Long]("n_zero") == 0L)
    assert(d0.getAs[Double]("min_v") == -1.5 && d0.getAs[Double]("max_v") == 3.0)
    // (1 + 3 - 1.5 + 0.5 + 0.25) * 1e12
    assert(d0.getAs[Long]("sum_e12") == 3250000000000L)
    // (1 + 9 + 2.25 + 0.25 + 0.0625) * 1e12
    assert(d0.getAs[Long]("ssq_e12") == 12562500000000L)
    assert(d0.getAs[Double]("mean") == 3250000000000L.toDouble / (5.0 * 1e12))
    val d1 = rows(1)
    assert(d1.getAs[Long]("n_nan") == 1L && d1.getAs[Long]("n_inf") == 1L)
    assert(d1.getAs[Long]("n_zero") == 2L)
    // finite values of dim 1: 0, 0, 2 -> range [0, 2], sums over finite only
    assert(d1.getAs[Double]("min_v") == 0.0 && d1.getAs[Double]("max_v") == 2.0)
    assert(d1.getAs[Long]("sum_e12") == 2000000000000L)
    assert(d1.getAs[Long]("ssq_e12") == 4000000000000L)
    // mean divides by the FINITE count (3), not n (5)
    assert(d1.getAs[Double]("mean") == 2000000000000L.toDouble / (3.0 * 1e12))
    spark.catalog.clearCache()
  }

  test("q154 PQ-ANN ranks the planted companions first through the ADC screen") {
    val top = Ann.pqTopK(spark, dir, dim = DIM)
      .filter($"rnk" <= 2).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    (0 until 8).foreach { q =>
      assert(top(q.toLong) == Set(100L + 2 * q, 101L + 2 * q),
        s"query $q top-2 = ${top(q.toLong)}")
    }
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("q154 PQ chain replays JDK math (training, codes and ADC pinned)") {
    // the q132 discipline for the PQ screen, EXTENDED through training
    // (round-14): replay the PQ_ITERS per-subspace Lloyd rounds, the
    // trained codebook norms, per-subspace code assignment and the ADC
    // lookup sum in plain JDK arithmetic on the 1e-12 fixed-point grid
    // (every dotDec term is k/1e12, so integer units replay the decimal
    // chain exactly; round means are nearest-double of U/1e12 then one
    // IEEE divide — the valDec-sum-cast-divide order), and require the
    // operator's emitted adc to equal the replay for every output row.
    val sub = DIM / Ann.PQ_M
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def qprod(x: Double, y: Double): Long =
      math.floor(x * y * 1e12 + 0.5).toLong
    def subv(v: Array[Double], m: Int): Array[Double] =
      v.slice(m * sub, m * sub + sub)
    def dotU(a: Array[Double], b: Array[Double]): Long =
      a.zip(b).map { case (x, y) => qprod(x, y) }.sum
    // trained codebook replay: seeds → PQ_ITERS Lloyd rounds
    type CB = Map[(Int, Long), Array[Double]]
    val seedCb: CB = (for {
      m <- 0 until Ann.PQ_M
      c <- Ann.NQUERIES until Ann.NQUERIES + Ann.PQ_K
    } yield (m, c.toLong) -> subv(vecs(c.toLong), m)).toMap
    def argminCode(cb: CB, v: Array[Double], m: Int): Long =
      cb.collect { case ((mm, c), cs) if mm == m =>
        ((dotU(cs, cs) - 2 * dotU(subv(v, m), cs)), c)
      }.min._2
    def lloydRound(cb: CB): CB =
      vecs.toSeq
        .flatMap { case (id, v) =>
          (0 until Ann.PQ_M).map(m => ((m, argminCode(cb, v, m)), id))
        }
        .groupBy(_._1)
        .map { case (key, members) =>
          val subs = members.map { case ((m, _), id) => subv(vecs(id), m) }
          key -> (0 until sub).map { j =>
            val units =
              subs.map(s => math.floor(s(j) * 1e12 + 0.5).toLong).sum
            (units.toDouble / 1e12) / members.size
          }.toArray
        }
    var cbT = seedCb
    for (_ <- 1 to Ann.PQ_ITERS) cbT = lloydRound(cbT)
    val out = Ann.pqTopK(spark, dir, dim = DIM).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qid, nid, adc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val units = (0 until Ann.PQ_M).map { m =>
        val c = argminCode(cbT, vecs(nid), m)
        dotU(subv(vecs(qid), m), cbT((m, c)))
      }.sum
      val replay = units.toDouble / 1e12
      assert(adc == replay,
        s"ADC for ($qid,$nid): got $adc, JDK replay $replay")
    }
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("q165 index serve ≡ q154 in-plan serve (pure encode, same codebook)") {
    val inPlan = Ann.pqTopK(spark, dir, dim = DIM)
      .collect().map(_.toSeq).toSeq
    val fromIndex = Ann.pqServeFromWrittenIndex(spark, dir, dim = DIM)
      .collect().map(_.toSeq).toSeq
    assert(fromIndex == inPlan,
      "serving from the written code index must replay the in-plan serve")
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("q166 merge identity: base+appended-batch index serves ≡ one-shot encode") {
    // fixture cut = 115*4 div 5 = 92: base = ids 0..23 (queries + the
    // seed block the codebook trains on), batch = the 16 companions —
    // the arriving rows land in the hot cells, the worst case for an
    // increment shortcut. Encoding is per-vector pure under the stored
    // codebook, so increment ≡ recompute must be EXACT.
    val inc = Ann.pqIndexIncrement(spark, dir, dim = DIM)
      .collect().map(_.toSeq).toSeq
    val oneShot = Ann.pqIndexIncrement(spark, dir, dim = DIM, oneShot = true)
      .collect().map(_.toSeq).toSeq
    assert(inc == oneShot, "incremented index must serve ≡ full re-encode")
    assert(inc.nonEmpty)
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("q154 Lloyd-trained codebook beats the seeded baseline on distortion") {
    // the measurable claim behind training (round-13 verdict item 2):
    // each Lloyd round weakly decreases the quantization objective, and
    // on real testdata two rounds must STRICTLY improve on the raw seed
    // subvectors — the number the q163/q164 recall gains ride on.
    val real = "/root/testdata/sf0.001"
    val seeded = Ann.pqDistortion(spark, real, Ann.EMBED_DIM, trained = false)
    val trained = Ann.pqDistortion(spark, real, Ann.EMBED_DIM, trained = true)
    assert(trained < seeded,
      s"trained distortion $trained must beat seeded $seeded")
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("q158 IVF+PQ composed serve recovers the planted companions") {
    // companions share the query's coarse cell (near-identical vectors
    // agree on the affinity argmax) and the ADC screen ranks them at the
    // top — the composed path must return them rank 1/2 like q29/q48/q154
    // do individually. Also pin the composition's PRUNING is real: each
    // query's candidate set (any rank) stays under nprobe cells' worth
    // of the corpus, i.e. strictly fewer than the 39 a full screen sees.
    val rows = Ann.ivfPqTopK(spark, dir, dim = DIM).collect()
    val top = rows.filter(_.getLong(4) <= 2L)
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    (0 until 8).foreach { q =>
      assert(top(q.toLong) == Set(100L + 2 * q, 101L + 2 * q),
        s"query $q top-2 = ${top(q.toLong)}")
    }
    val perQuery = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQuery.values.forall(n => n > 0 && n < 39),
      s"probe pruning must bound candidates: $perQuery")
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("q154 PQ codebook cache serves byte-identical to fresh derivation") {
    def serve() = Ann.pqTopK(spark, dir, dim = DIM)
      .collect().map(_.toSeq).toSeq
    graft.Caches.clearMemo()
    val cold = serve()
    val warm = serve()
    assert(warm == cold, "cache-hit serve must be byte-identical")
    graft.Caches.clearMemo()
    assert(serve() == cold, "fresh codebook must reproduce the cached serve")
    graft.Caches.releasePrefix("ann.")
    spark.catalog.clearCache()
  }

  test("q132 zero-norm vector is guarded in the screen and ranked out") {
    // a zero vector would NaN the normalize, and ANSI CAST(NaN AS
    // BIGINT) aborts the job — the guard must keep the SCREEN integer
    // (all-zero codes, qscore 0) so the serve COMPLETES. Every real
    // vector here is strictly positive (eps ≤ 0.04 < the 0.05 fill), so
    // every real pair's quantized dot is ≥ 1 while the zero vector
    // scores exactly 0; with 49 candidates per query it ranks 49th >
    // SQ_CAND=40 and never reaches the rerank (whose 0/0 is q151's
    // catch, and must never be reachable through this plan on a corpus
    // whose only defect is a zero vector).
    val zDir = fixtureDir(
      "embeddings" -> (
        (0 until 8).map(q => Emb(q, base(q).toSeq, q)) ++
          (300 until 325).map(j => Emb(j, jitter(base(j % 8), 0.04f), j % 8)) ++
          (0 until 8).flatMap(q => Seq(
            Emb(100 + 2 * q, jitter(base(q), 0.01f), q),
            Emb(101 + 2 * q, jitter(base(q), 0.02f), q))) :+
          Emb(999, Seq.fill(DIM)(0.0f), 0)
        ).toDF())
    val out = Ann.sqTopK(spark, zDir).collect()
    assert(out.nonEmpty, "serve must complete with a zero vector present")
    assert(!out.exists(_.getLong(1) == 999L),
      "zero vector screens to qscore 0 and must rank out of the rerank")
    // companions still surface through the screen
    val top = out.filter(_.getLong(4) <= 2L)
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    (0 until 8).foreach { q =>
      assert(top(q.toLong) == Set(100L + 2 * q, 101L + 2 * q),
        s"query $q top-2 = ${top(q.toLong)}")
    }
    spark.catalog.clearCache()
  }

  test("q132 quantization chain replays JDK math (screen scores pinned)") {
    // The q124/q128 discipline applied to the int8 screen: recompute the
    // decimal norm, the normalize-quantize chain and the integer dot
    // product in plain JDK arithmetic on the driver, and require the
    // operator's emitted qscore to equal the replay for every output
    // row. This pins the entire screen construction —
    // floor(x/sqrt(nrm)·127 + 0.5) in that exact double evaluation
    // order over the nearest-double of the exact decimal norm, then
    // exact long dots — so a drift in either engine shows up as a unit
    // failure, not a driver-round hash.
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def quant(v: Array[Double]): Array[Long] = {
      val units = v.map(x => math.floor(x * x * 1e12 + 0.5).toLong).sum
      val nrm = units.toDouble / 1e12
      if (nrm > 0.0) v.map(x => math.floor(x / math.sqrt(nrm) * 127.0 + 0.5).toLong)
      else v.map(_ => 0L)
    }
    val q = vecs.map { case (id, v) => id -> quant(v) }
    val out = Ann.sqTopK(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qid, nid, qscore) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val replay = q(qid).zip(q(nid)).map { case (a, b) => a * b }.sum
      assert(qscore == replay,
        s"screen qscore for ($qid,$nid): got $qscore, JDK replay $replay")
    }
    spark.catalog.clearCache()
  }
}
