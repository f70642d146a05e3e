package graft

import graft.streaming.{CellUpdate, Movement, StreamingLedger}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The T3 correctness contract: after any sequence of micro-batches, the
  * latest streamed update per cell equals the batch ledger replay of
  * everything ingested so far — the streaming UPSERT and the batch
  * recompute are the same function. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("stateful running snapshot ≡ batch replay across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Movement]
    val query = StreamingLedger.runningSnapshot(input.toDS())
      .writeStream
      .format("memory")
      .queryName("snapshot_updates")
      .outputMode(OutputMode.Update)
      .start()
    try {
      val batch1 = Seq(
        Movement(1, 1, 10.0, ts("2024-01-01 00:00:00")),
        Movement(1, 1, 5.0, ts("2024-01-01 01:00:00")),
        Movement(2, 1, 7.0, ts("2024-01-01 02:00:00")))
      val batch2 = Seq(
        Movement(1, 1, -3.0, ts("2024-01-02 00:00:00")), // drawdown
        Movement(2, 2, 4.0, ts("2024-01-02 01:00:00"))) // new cell
      input.addData(batch1: _*)
      query.processAllAvailable()
      input.addData(batch2: _*)
      query.processAllAvailable()

      // Latest update per cell from the update-mode stream.
      val streamed = spark.table("snapshot_updates").as[CellUpdate]
        .collect()
        .groupBy(u => (u.part_id, u.warehouse_id))
        .map { case (k, us) => k -> us.maxBy(_.n_movements).quantity_on_hand }

      val replayed = StreamingLedger
        .batchReplay((batch1 ++ batch2).toDS())
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap

      assert(streamed == replayed)
      assert(streamed((1L, 1L)) == 12.0)
      assert(streamed((2L, 2L)) == 4.0)
    } finally query.stop()
  }

  test("idle-cell eviction bounds state under key churn") {
    implicit val sqlCtx = spark.sqlContext
    // With ProcessingTimeTimeout the engine keeps running state-cleanup
    // batches, so processAllAvailable never quiesces BY DESIGN — the test
    // polls progress instead of awaiting it.
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(cond, s"not observed within 60s: $what")
    }
    val input = MemoryStream[Movement]
    val query = StreamingLedger
      .runningSnapshotEvicting(input.toDS(), idleTimeoutMs = 1L)
      .writeStream
      .format("memory")
      .queryName("evicting_updates")
      .outputMode(OutputMode.Update)
      .start()
    try {
      // churn: 50 one-shot cells that never return
      val churn = (1 to 50).map(i =>
        Movement(i.toLong, 100L, 1.0, ts("2024-01-01 00:00:00")))
      input.addData(churn: _*)
      waitFor("all 50 churn updates emitted")(
        spark.table("evicting_updates").count() == 50L)
      // the 1ms idle timers expire and the cleanup batches must drain
      // the store back to zero — bounded state under churn
      waitFor("state store drained after idle eviction")(
        Option(query.lastProgress)
          .exists(_.stateOperators.headOption.exists(_.numRowsTotal == 0L)))
      // the evicted cells' last emitted updates remain their truth
      val updates = spark.table("evicting_updates").as[CellUpdate].collect()
      assert(updates.count(_.warehouse_id == 100L) == 50)
      assert(updates.forall(u => u.quantity_on_hand == 1.0 && u.n_movements == 1L))
      // a revived cell restarts from zero — its update is a DELTA against
      // whatever the sink stored (the documented contract)
      input.addData(Movement(7, 100, 5.0, ts("2024-01-02 00:00:00")))
      waitFor("revived cell re-emits from fresh state")(
        spark.table("evicting_updates").as[CellUpdate].collect()
          .exists(u => u.part_id == 7L && u.quantity_on_hand == 5.0 &&
            u.n_movements == 1L))
    } finally query.stop()
  }

  test("ledger equivalence holds on the RocksDB state store") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Movement]
      val query = StreamingLedger.runningSnapshot(input.toDS())
        .writeStream
        .format("memory")
        .queryName("rocksdb_updates")
        .outputMode(OutputMode.Update)
        .start()
      try {
        val batches = Seq(
          Movement(1, 1, 10.0, ts("2024-01-01 00:00:00")),
          Movement(1, 1, -4.0, ts("2024-01-01 01:00:00")),
          Movement(2, 1, 7.0, ts("2024-01-01 02:00:00")))
        input.addData(batches: _*)
        query.processAllAvailable()
        // the provider actually in use surfaces its own metrics
        val custom = query.lastProgress.stateOperators.head.customMetrics
        assert(custom.keySet.toString.toLowerCase.contains("rocksdb"),
          s"RocksDB provider not active: $custom")
        val streamed = spark.table("rocksdb_updates").as[CellUpdate]
          .collect()
          .groupBy(u => (u.part_id, u.warehouse_id))
          .map { case (k, us) => k -> us.maxBy(_.n_movements).quantity_on_hand }
        val replayed = StreamingLedger.batchReplay(batches.toDS())
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
          .toMap
        assert(streamed == replayed)
      } finally query.stop()
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("ledger snapshot: restart from the checkpoint RESUMES state, not recomputed, not lost") {
    // Round-16 verdict item 6 — the flatMapGroupsWithState twin of the
    // NB-model restart pin: STOP the snapshot query mid-stream and
    // restart it against the SAME checkpoint (one MemoryStream across
    // both incarnations, the committed offsets telling the restart where
    // to resume). Three distinguishable failure modes, each pinned:
    //  - state LOST (fresh store): the post-restart update for a cell
    //    touched before the stop would be the new batch alone (-3, not
    //    12);
    //  - input RECOMPUTED (offsets ignored): pre-stop batches would be
    //    re-read and their cells re-emitted after the restart;
    //  - both correct: exactly the post-stop batch's cells emit, with
    //    quantities AND movement counts cumulative across incarnations.
    // The memory sink refuses checkpoint recovery by design, so the sink
    // here is foreachBatch into a shared driver-side buffer — itself the
    // recoverable-sink device the T1/T2 report sinks use.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ledger_restart").toString
    val emitted =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, CellUpdate)]()
    val input = MemoryStream[Movement]
    def start() = StreamingLedger.runningSnapshot(input.toDS())
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[CellUpdate], id: Long) =>
          batch.collect().foreach(u => emitted.add((id, u)))
      }
      .start()
    val b1 = Seq(
      Movement(1, 1, 10.0, ts("2024-01-01 00:00:00")),
      Movement(2, 1, 7.0, ts("2024-01-01 01:00:00")))
    val b2 = Seq(Movement(1, 1, 5.0, ts("2024-01-02 00:00:00")))
    val b3 = Seq(
      Movement(1, 1, -3.0, ts("2024-01-03 00:00:00")),
      Movement(3, 3, 2.0, ts("2024-01-03 01:00:00")))
    val q1 = start()
    try {
      input.addData(b1: _*); q1.processAllAvailable()
      input.addData(b2: _*); q1.processAllAvailable()
    } finally q1.stop()
    val preCount = emitted.size()
    val preIds = {
      val it = emitted.iterator(); var s = Set.empty[Long]
      while (it.hasNext) s += it.next()._1; s
    }
    val q2 = start()
    try {
      input.addData(b3: _*); q2.processAllAvailable()
    } finally q2.stop()
    import scala.jdk.CollectionConverters._
    val all = emitted.iterator().asScala.toVector
    val post = all.drop(preCount)
    // batch ids CONTINUED past the pre-stop sequence — never reset to 0
    assert(post.nonEmpty && post.forall(_._1 > preIds.max),
      s"restart must continue batch ids past ${preIds.max}: " +
        s"${post.map(_._1).distinct}")
    // no pre-stop batch was re-read: only b3's two cells emit
    assert(post.map(u => (u._2.part_id, u._2.warehouse_id)).toSet ==
      Set((1L, 1L), (3L, 3L)),
      s"only the post-restart batch's cells may emit: $post")
    // state RESUMED: quantity and movement count are cumulative across
    // the stop (10 + 5 - 3 = 12 over 3 movements, not -3 over 1)
    val cell11 = post.collect { case (_, u)
      if u.part_id == 1L && u.warehouse_id == 1L => u }.head
    assert(cell11.quantity_on_hand == 12.0 && cell11.n_movements == 3L,
      s"state must resume across the restart: $cell11")
    // and the latest update per cell is STILL the batch replay of
    // everything ever ingested — the T3 contract, now across incarnations
    val latest = all.map(_._2)
      .groupBy(u => (u.part_id, u.warehouse_id))
      .map { case (k, us) => k -> us.maxBy(_.n_movements).quantity_on_hand }
    val replayed = StreamingLedger.batchReplay((b1 ++ b2 ++ b3).toDS())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(latest == replayed)
  }

  test("streaming daily windows ≡ batch buckets; too-late stragglers dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Movement]
    val query = StreamingLedger.dailyTrend(input.toDF())
      .writeStream
      .format("memory")
      .queryName("daily_trend")
      .outputMode(OutputMode.Update)
      .start()
    try {
      val onTime = Seq(
        Movement(1, 1, 10.0, ts("2024-01-01 08:00:00")),
        Movement(1, 1, 2.0, ts("2024-01-01 16:00:00")),
        Movement(2, 1, 7.0, ts("2024-01-02 10:00:00")),
        Movement(2, 2, 1.0, ts("2024-01-04 10:00:00"))) // advances watermark to 01-03
      input.addData(onTime: _*)
      query.processAllAvailable()
      // straggler for Jan 1: watermark (2024-01-03 10:00) already passed
      // that window's end + grace → the engine must drop it.
      input.addData(Movement(9, 9, 100.0, ts("2024-01-01 01:00:00")))
      query.processAllAvailable()

      val streamed = spark.table("daily_trend")
        .collect()
        .groupBy(_.getTimestamp(0))
        .map { case (b, rows) => b -> rows.map(_.getLong(1)).max }
      val batch = StreamingLedger.batchDailyTrend(onTime.toDF())
        .collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1))
        .toMap
      assert(streamed == batch) // straggler invisible, windows agree
      assert(streamed(ts("2024-01-01 00:00:00")) == 2L)
    } finally query.stop()
  }

  test("foreachBatch trend-report sink ≡ batch recompute, exact under lateness") {
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files
      .createTempDirectory("graft-trendsink").toString + "/daily_trends"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-trendsink-ckpt").toString
    val input = MemoryStream[Ev]
    val query = StreamingLedger.trendReportStream(
      input.toDF().select($"ts", $"value"), path, ckpt)
    try {
      val batch1 = Seq(
        Ev(1, ts("2024-01-01 08:00:00"), 1, "purchase", 200.0, "{}"),
        Ev(2, ts("2024-01-01 16:00:00"), 1, "purchase", 300.0, "{}"),
        Ev(3, ts("2024-01-04 10:00:00"), 2, "purchase", 150.0, "{}"))
      // batch 2 includes a STRAGGLER for Jan 1 — the watermarked window
      // sink would drop it; the merge sink lands it in its true bucket
      val batch2 = Seq(
        Ev(4, ts("2024-01-05 09:00:00"), 2, "purchase", 400.0, "{}"),
        Ev(5, ts("2024-01-01 23:00:00"), 3, "purchase", 500.0, "{}"))
      input.addData(batch1: _*)
      query.processAllAvailable()
      input.addData(batch2: _*)
      query.processAllAvailable()

      val stored = spark.read.parquet(path)
        .select($"bucket", $"n_events", $"total_value").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      val expected = graft.ops.Movement.trendOfEvents(
        (batch1 ++ batch2).toDF().select($"ts", $"value"))
        .select($"bucket", $"n_events", $"total_value").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      assert(stored == expected) // incl. gap-filled Jan 2/3 zero rows
      assert(stored.size == 5)

      // replayed micro-batch (sink committed, offset lost) must be a no-op
      val before = stored
      val merged = StreamingLedger.mergeBatchInto(
        (batch2.toDF().select($"ts", $"value")), 1L, path)
      assert(!merged)
      val after = spark.read.parquet(path)
        .select($"bucket", $"n_events", $"total_value").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      assert(after == before)
    } finally query.stop()
  }

  test("mergeBatchInto survives empty and batch-seeded stored reports") {
    // (a) a zero-row stored report WITH the marker column (an empty first
    // micro-batch wrote it): max(_merged_through) is NULL → baseline -1,
    // the next batch merges instead of NPE-wedging the stream
    val dir = java.nio.file.Files.createTempDirectory("graft-seed").toString
    val emptyPath = dir + "/empty_report"
    Seq.empty[(java.sql.Timestamp, Long, Double, Long)]
      .toDF("bucket", "n_events", "total_value", "_merged_through")
      .write.parquet(emptyPath)
    val b1 = Seq(Ev(1, ts("2024-01-01 08:00:00"), 1, "purchase", 10.0, "{}"))
      .toDF().select($"ts", $"value")
    assert(StreamingLedger.mergeBatchInto(b1, 0L, emptyPath))
    val merged = spark.read.parquet(emptyPath)
    assert(merged.count() == 1)

    // (b) a report seeded by the BATCH pipeline — no _merged_through
    // column at all — reads as an un-merged baseline, not an
    // AnalysisException, and its values fold into the merge
    val seededPath = dir + "/seeded_report"
    graft.ops.Movement.trendOfEvents(
      Seq(Ev(2, ts("2024-01-01 09:00:00"), 1, "purchase", 5.0, "{}"))
        .toDF().select($"ts", $"value"))
      .write.parquet(seededPath)
    val b2 = Seq(Ev(3, ts("2024-01-01 10:00:00"), 1, "purchase", 7.0, "{}"))
      .toDF().select($"ts", $"value")
    assert(StreamingLedger.mergeBatchInto(b2, 0L, seededPath))
    val row = spark.read.parquet(seededPath)
      .select($"n_events", $"total_value").head
    assert(row.getLong(0) == 2L && row.getDouble(1) == 12.0)
  }

  test("decimal trend persistence: merges stay exact beyond double precision") {
    // A stored bucket at 1e10 + 1e-6 — a value no double represents (the
    // old double round-trip silently lost the microunit; the persisted
    // DECIMAL(30,6) twin must carry it through a merge bit-exactly).
    val dec = org.apache.spark.sql.types.DecimalType(30, 6)
    val stored = Seq(("2024-01-01 00:00:00", 1L, "10000000000.000001"))
      .toDF("b", "n_events", "v")
      .select(
        org.apache.spark.sql.functions.to_timestamp($"b").as("bucket"),
        $"n_events",
        $"v".cast(dec).as("total_value_dec"),
        $"v".cast(dec).cast("double").as("total_value"))
    val newEvents = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "purchase", 1.0, "{}")
    ).toDF().select($"ts", $"value")
    val merged = graft.ops.Movement.mergeTrend(stored, newEvents)
    val r = merged.select($"total_value_dec").head.getDecimal(0)
    assert(r.compareTo(new java.math.BigDecimal("10000000001.000001")) == 0,
      s"expected exact 10000000001.000001, got $r")
    // and the presentation double is the decimal's rounding, not an
    // accumulated-in-double approximation
    val d = merged.select($"total_value").head.getDouble(0)
    assert(d == new java.math.BigDecimal("10000000001.000001").doubleValue())
  }

  test("watermark policy rejects future rows before state is touched") {
    val df = Seq(
      Movement(1, 1, 5.0, ts("2024-01-10 00:00:00")),
      Movement(1, 1, 9.0, ts("2031-01-01 00:00:00")) // future-dated
    ).toDF()
    val valid = StreamingLedger.withValidWindow(df, "2024-06-01 00:00:00")
    assert(valid.count() == 1)
    assert(valid.select("quantity").head().getDouble(0) == 5.0)
  }

  test("streaming sessions ≡ batch sessionize for closed sessions") {
    import graft.streaming.StreamingSessions
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = StreamingSessions.sessionStream(input.toDF())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append).start()
    def e(id: Long, t: String, u: Long, v: Double) =
      Ev(id, ts(t), u, "view", v, "{}")
    val evs = Seq(
      e(1, "2024-01-01 10:00:00", 7, 1.5),
      e(2, "2024-01-01 10:20:00", 7, 2.5), // same session
      e(3, "2024-01-01 11:00:00", 7, 4.0), // 40 min gap → new session
      e(4, "2024-01-01 10:05:00", 8, 1.0))
    try {
      input.addData(evs: _*)
      query.processAllAvailable()
      // advance the watermark far past every session end + delay
      input.addData(e(99, "2024-01-02 08:00:00", 9, 0.0))
      query.processAllAvailable()
      val streamed = spark.table("sessions_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3),
          r.getDouble(4))).toSet
      // batch twin over the same closed data (excluding the watermark
      // driver row, whose own session is still open)
      val dir = fixtureDir("events" -> evs.toDF)
      val batch = graft.ops.Events.sessionize(spark, dir).collect()
        .map(r => (r.getLong(0), r.getTimestamp(2), r.getLong(4),
          r.getDouble(5))).toSet
      assert(streamed == batch)
      assert(streamed.size == 3)
    } finally query.stop()
  }

  test("streaming dedup: first-seen wins within and across micro-batches") {
    import graft.streaming.{StreamDoc, StreamingDedup}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val query = StreamingDedup.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamDoc(1, "alpha beta", ts("2024-01-01 10:00:00")),
        StreamDoc(2, "alpha beta", ts("2024-01-01 10:00:01")), // in-batch dup
        StreamDoc(3, "gamma delta", ts("2024-01-01 10:00:02")))
      query.processAllAvailable()
      input.addData(
        StreamDoc(4, "alpha beta", ts("2024-01-01 11:00:00")), // cross-batch dup
        StreamDoc(5, "epsilon", ts("2024-01-01 11:00:01")))
      query.processAllAvailable()
      val out = spark.table("dedup_out").collect().map(_.getAs[Long]("doc_id"))
      assert(out.toSet == Set(1L, 3L, 5L))
    } finally query.stop()
  }

  test("streaming dedup: watermark eviction re-admits after the window") {
    import graft.streaming.{StreamDoc, StreamingDedup}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val query = StreamingDedup.dedupStreamWithin(input.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("dedup_wm_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamDoc(1, "alpha beta", ts("2024-01-01 10:00:00")),
        StreamDoc(2, "alpha beta", ts("2024-01-01 10:10:00"))) // within window
      query.processAllAvailable()
      // advance the watermark well past 10:00 + 30 min
      input.addData(StreamDoc(3, "gamma delta", ts("2024-01-01 12:00:00")))
      query.processAllAvailable()
      // doc 1's digest state is evicted → the same content is ADMITTED
      // again: the bounded-state trade, pinned
      input.addData(StreamDoc(4, "alpha beta", ts("2024-01-01 12:01:00")))
      query.processAllAvailable()
      val out = spark.table("dedup_wm_out").collect()
        .map(_.getAs[Long]("doc_id"))
      assert(out.toSet == Set(1L, 3L, 4L))
    } finally query.stop()
  }

  test("streaming ANN ingest: stream-assigned cells ≡ batch assignment") {
    import graft.streaming.{StreamVec, StreamingAnn}
    implicit val sqlCtx = spark.sqlContext
    // train on a tiny planted-cluster corpus: 3 axis clusters of 4
    // vectors each; seeds = vec_id 8..23 per the trainer's contract, so
    // use a 24-vector corpus with the last 16 as seed block
    def v(axis: Int, eps: Float): Seq[Float] = {
      val a = Array.fill(8)(0.02f * (axis + 1))
      a(axis) = 1.0f + eps
      a.toSeq
    }
    val corpus = (0 until 24).map(i => Emb(i, v(i % 3, 0.004f * i), i % 3))
    val dir = fixtureDir("embeddings" -> corpus.toDF())
    val trained = graft.ops.Ann.ivfKmeansTrain(spark, dir,
      tol = 1e-9, maxIters = 20).centroids.localCheckpoint()
    // batch truth over the SAME arriving vectors (new ids, same clusters)
    val arriving = (100 until 112).map(i => (i.toLong, v(i % 3, 0.007f * (i % 4))))
    val batchDf = arriving.toDF("vec_id", "embedding")
    val expect = graft.ops.Ann.assignTo(batchDf, trained)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // stream the same vectors in two micro-batches into a parquet index
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-annidx").toString
    val input = MemoryStream[StreamVec]
    val query = StreamingAnn
      .ingestStream(input.toDF(), trained, indexDir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-annchk").toString)
      .start()
    try {
      val (b1, b2) = arriving.splitAt(5)
      input.addData(b1.map { case (id, e) =>
        StreamVec(id, e, ts("2024-01-01 10:00:00")) })
      query.processAllAvailable()
      input.addData(b2.map { case (id, e) =>
        StreamVec(id, e, ts("2024-01-01 11:00:00")) })
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.read.parquet(indexDir)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cent_id"))
      .toMap
    assert(got == expect, "stream-assigned cells must equal batch assignment")
    // serve-side cell read prunes to the requested cells only
    val someCell = expect.values.head
    val cellRows = StreamingAnn.readCells(spark, indexDir, Seq(someCell))
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(cellRows == expect.collect {
      case (id, c) if c == someCell => id }.toSet)
    graft.Caches.releasePrefix("ann.")
  }

  test("streaming ANN ingest: restart resumes offsets; a replayed batch id never duplicates the index") {
    // Round-16 verdict item 6, the StreamingAnn half: the index sink is
    // STATELESS, so the restart risk is not lost state but re-read input
    // (duplicate index rows — which DO change a later top-k: a duplicate
    // can occupy two slots and displace the true k-th candidate). Pins:
    // (a) stop/restart over one MemoryStream re-reads nothing — the index
    // holds exactly one row per vector; (b) an explicitly REPLAYED batch
    // id (the failure-between-write-and-offset-commit case foreachBatch
    // is documented to produce) overwrites its own batch_id partitions —
    // a net no-op, the exactly-once upgrade's whole point.
    import graft.streaming.{StreamVec, StreamingAnn}
    implicit val sqlCtx = spark.sqlContext
    def v(axis: Int, eps: Float): Seq[Float] = {
      val a = Array.fill(8)(0.02f * (axis + 1))
      a(axis) = 1.0f + eps
      a.toSeq
    }
    val corpus = (0 until 24).map(i => Emb(i, v(i % 3, 0.004f * i), i % 3))
    val dir = fixtureDir("embeddings" -> corpus.toDF())
    val trained = graft.ops.Ann.ivfKmeansTrain(spark, dir,
      tol = 1e-9, maxIters = 20).centroids.localCheckpoint()
    val arriving = (200 until 212).map(i =>
      (i.toLong, v(i % 3, 0.007f * (i % 4))))
    val (b1, b2) = arriving.splitAt(5)
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-annidx-restart").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-annchk-restart").toString
    val input = MemoryStream[StreamVec]
    def start() = StreamingAnn.ingestStream(input.toDF(), trained, indexDir)
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(b1.map { case (id, e) =>
        StreamVec(id, e, ts("2024-01-01 10:00:00")) })
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData(b2.map { case (id, e) =>
        StreamVec(id, e, ts("2024-01-01 11:00:00")) })
      q2.processAllAvailable()
    } finally q2.stop()
    def indexPairs() = spark.read.parquet(indexDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cent_id"))
    val afterRestart = indexPairs()
    assert(afterRestart.length == arriving.length,
      s"restart must not re-read committed batches: ${afterRestart.length}")
    val expect = graft.ops.Ann
      .assignTo(arriving.toDF("vec_id", "embedding"), trained)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterRestart.toMap == expect)
    // the replay pin: re-deliver b2 under ITS OWN batch id (the restarted
    // query's first batch). batch ids are recorded in the index itself.
    // partition-column type is INFERRED on read (small ids come back as
    // Integer) — go through toString for the id
    val b2Id = spark.read.parquet(indexDir)
      .agg(org.apache.spark.sql.functions.max("batch_id"))
      .head.get(0).toString.toLong
    StreamingAnn.appendIndexBatch(
      b2.toDF("vec_id", "embedding"), trained, indexDir, b2Id)
    val afterReplay = indexPairs()
    assert(afterReplay.length == arriving.length &&
      afterReplay.toMap == expect,
      "a replayed batch id must replace its own partitions, not append")
    graft.Caches.releasePrefix("ann.")
  }

  test("streaming source cap: maintained keep list ≡ batch recompute, replay is a no-op") {
    import graft.streaming.{CapDoc, StreamingCap}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_capstream").toString
    // 14 docs in one source across two batches (cap 10): batch 2's long
    // docs displace batch 1 keepers — the q142 boundary, streamed
    val b1 = (0L until 12L).map(i => CapDoc(i, "srcA", 10 + i))
    val b2 = (12L until 14L).map(i => CapDoc(i, "srcA", 100 + i))
    val input = MemoryStream[CapDoc]
    val query = StreamingCap.ingestStream(input.toDF(), stateDir).start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
    } finally query.stop()
    val got = StreamingCap.readState(spark, stateDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("src_rank")).toMap
    // batch recompute over every streamed row (the q139 semantics)
    val allDf = (b1 ++ b2).toDF()
    val empty = StreamingCap.readState(spark,
      java.nio.file.Files.createTempDirectory("graft_capempty").toString)
    val full = StreamingCap.mergeBatch(empty, allDf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("src_rank")).toMap
    assert(got == full, "streamed keep list must equal batch recompute")
    assert(got.size == graft.ops.Sampling.SOURCE_CAP)
    assert(got(13L) == 1L && got(12L) == 2L) // batch-2 displacers on top
    // the exactly-once property: replaying a batch into the already-
    // merged state changes nothing (merge idempotence)
    val once = StreamingCap.mergeBatch(empty, b1.toDF())
    val replay = StreamingCap.mergeBatch(once, b1.toDF()).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("src_rank"))).toSet
    val onceSet = once.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("src_rank"))).toSet
    assert(replay == onceSet, "a replayed batch must be a no-op")
  }

  test("streaming reservoir: maintained sample ≡ batch recompute, replay is a no-op") {
    import graft.streaming.{ResDoc, StreamingReservoir}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_resstream").toString
    // 30 en docs across two batches (k = 10): the stream-maintained
    // reservoir must equal the one-shot reservoir over every row — the
    // q159 merge identity, streamed. Weights vary so the A-ES keys do.
    val b1 = (0L until 20L).map(i => ResDoc(i, "en", 5 * (i % 7 + 1)))
    val b2 = (20L until 30L).map(i => ResDoc(i, "en", 3 * (i % 5 + 1)))
    val input = MemoryStream[ResDoc]
    val query = StreamingReservoir.ingestStream(input.toDF(), stateDir).start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
    } finally query.stop()
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rk"),
        r.getAs[Double]("smp_key"))).toSet
    val got = canon(StreamingReservoir.readState(spark, stateDir).collect())
    val empty = StreamingReservoir.readState(spark,
      java.nio.file.Files.createTempDirectory("graft_resempty").toString)
    val full = canon(
      StreamingReservoir.mergeBatch(empty, (b1 ++ b2).toDF()).collect())
    assert(got == full, "streamed reservoir must equal batch recompute")
    assert(got.size == graft.ops.Sampling.RSAMPLE_K)
    // exactly-once: replaying a batch into merged state changes nothing
    val once = StreamingReservoir.mergeBatch(empty, b1.toDF())
    val replay = canon(
      StreamingReservoir.mergeBatch(once, b1.toDF()).collect())
    assert(replay == canon(once.collect()), "a replayed batch must be a no-op")
  }

  test("streaming NB model: maintained model ≡ batch recompute, fenced replay is a no-op") {
    import graft.streaming.{NbDoc, StreamingNbModel}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_nbstream").toString
    // two labeled batches; batch 2 ADDS vocabulary ("nieve") and shifts
    // class totals — the V-shift/N-shift every cell's smoothed lp must
    // absorb (the q157 boundary, streamed)
    val b1 = Seq(
      NbDoc(0, "en", "the cat sat"), NbDoc(1, "en", "the dog sat"),
      NbDoc(2, "es", "el gato come"))
    val b2 = Seq(
      NbDoc(3, "es", "el perro nieve"), NbDoc(4, "en", "cat and dog"))
    val input = MemoryStream[NbDoc]
    val query = StreamingNbModel.ingestStream(input.toDF(), stateDir).start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
    } finally query.stop()
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).toSet
    val streamed = canon(
      StreamingNbModel.servingSurface(spark, stateDir).collect())
    // batch recompute through the SAME shared core over all rows at once
    val all = (b1 ++ b2).toDF()
    val full = canon(graft.ops.Classify.nbServingSurface(
      graft.ops.Classify.nbTermCounts(all),
      graft.ops.Classify.nbPriorCounts(all)).collect())
    assert(streamed == full, "streamed model must equal batch recompute")
    // vocabulary actually grew across batches (the hard boundary)
    assert(streamed.exists(_.contains("nieve")))
    // the batch-id fence: re-delivering the LAST batch id is a whole-
    // batch no-op (count-sum merges are not idempotent; the fence is
    // what makes the sink exactly-once)
    StreamingNbModel.foldBatch(spark, stateDir, b2.toDF(), 1L)
    val refolded = canon(
      StreamingNbModel.servingSurface(spark, stateDir).collect())
    assert(refolded == streamed, "a fenced replayed batch must be a no-op")
  }

  test("streaming NB model: restart from the checkpoint continues batch ids and holds the fence") {
    // round-16 verdict item 6 — the scenario the durable default
    // checkpointLocation exists for: STOP the maintain query and restart
    // it against the same stateDir. Under the checkpoint, Structured
    // Streaming resumes the batch-id sequence (0,1 → 2) instead of
    // resetting to 0; a reset would make the fence (published id 1)
    // silently SKIP the first real post-restart batches and then re-fold
    // old ids — the count-sum merge is not idempotent. StreamingCap /
    // StreamingReservoir need no such pin: their merges are idempotent
    // by construction (rank-cap / rank-threshold), so an id reset only
    // re-folds no-ops there.
    import graft.streaming.{NbDoc, StreamingNbModel}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_nbrestart").toString
    val b1 = Seq(
      NbDoc(0, "en", "the cat sat"), NbDoc(1, "es", "el gato come"))
    val b2 = Seq(NbDoc(2, "en", "the dog ran"))
    val b3 = Seq(NbDoc(3, "es", "el perro nieve"))
    // one MemoryStream across both query incarnations: the checkpoint's
    // committed offsets tell the restarted query where to resume reading
    val input = MemoryStream[NbDoc]
    val q1 = StreamingNbModel.ingestStream(input.toDF(), stateDir).start()
    try {
      input.addData(b1: _*); q1.processAllAvailable()
      input.addData(b2: _*); q1.processAllAvailable()
    } finally q1.stop()
    // restart: SAME stateDir, SAME (default) checkpoint under it
    val q2 = StreamingNbModel.ingestStream(input.toDF(), stateDir).start()
    try {
      input.addData(b3: _*); q2.processAllAvailable()
    } finally q2.stop()
    // the id sequence continued: the published version is batch 2's
    val latest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(stateDir, "LATEST")), "UTF-8").trim
    assert(latest == "state_v2",
      s"restart must continue batch ids (got $latest)")
    // and the model is the batch recompute of ALL THREE batches — no
    // batch skipped by the fence, none folded twice
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).toSet
    val streamed = canon(
      StreamingNbModel.servingSurface(spark, stateDir).collect())
    val all = (b1 ++ b2 ++ b3).toDF()
    val full = canon(graft.ops.Classify.nbServingSurface(
      graft.ops.Classify.nbTermCounts(all),
      graft.ops.Classify.nbPriorCounts(all)).collect())
    assert(streamed == full,
      "restarted stream must equal the batch recompute of all batches")
  }
}
