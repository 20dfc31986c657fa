package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Replays the events fixture through a MemoryStream in ts-ordered
  * chunks (FIXTURES.md replay pattern) and asserts the streaming result
  * equals the batch twin. A far-future sentinel chunk advances the
  * watermark past every real window so append-mode output is complete. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val batchEvents: Seq[Ev] = {
    import spark.implicits._
    sources.Tables.events(spark, sf).as[Ev].collect().sortBy(_.ts.getTime).toSeq
  }

  private def sentinel: Ev = {
    val maxTs = batchEvents.map(_.ts.getTime).max
    Ev(-1L, new Timestamp(maxTs + 36L * 3600 * 1000), -1L, "__sentinel",
      0.0, "{}")
  }

  /** Run `xform` over the chunked replay in append mode; collect rows. */
  private def runStream(xform: DataFrame => DataFrame,
      name: String): Seq[org.apache.spark.sql.Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = xform(mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      batchEvents.grouped(math.max(1, batchEvents.size / 3)).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
      mem.addData(Seq(sentinel))
      q.processAllAvailable()
      spark.table(name).collect().toSeq
    } finally q.stop()
  }

  /** Run `body` on the RocksDB state store provider (transformWithState
    * requires it), restoring the session's previous provider after. */
  private def withRocksDb[T](body: => T): T =
    GraftSession.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming" +
          ".state.RocksDBStateStoreProvider"))(body)

  private def canon(rows: Seq[org.apache.spark.sql.Row]): Set[String] =
    rows.map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  test("tumbling window stream equals batch twin") {
    val got = runStream(streaming.Streams.tumblingCounts, "tumbling_out")
      .filter(_.getString(2) != "__sentinel")
    val want = streaming.Streams
      .tumblingCounts(sources.Tables.events(spark, sf)).collect().toSeq
    assert(canon(got) == canon(want))
  }

  test("session window stream equals batch twin") {
    val got = runStream(streaming.Streams.sessionize, "session_out")
      .filter(_.getLong(0) != -1L)
    val want = streaming.Streams
      .sessionize(sources.Tables.events(spark, sf)).collect().toSeq
    assert(canon(got) == canon(want))
  }

  test("streaming dedup drops replayed duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = streaming.Streams.dedupEvents(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val chunk = batchEvents.take(100)
      mem.addData(chunk)
      q.processAllAvailable()
      mem.addData(chunk) // exact duplicates within the watermark horizon
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 100)
    } finally q.stop()
  }

  test("stateful user totals: final stream state equals batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[streaming.Event]
    val q = streaming.Streams.userTotalsStateful(mem.toDS())
      .writeStream.format("memory").queryName("stateful_out")
      .outputMode("update").start()
    try {
      val evs = batchEvents.map(e => streaming.Event(e.event_id, e.ts,
        e.user_id, e.event_type, e.value, e.props))
      evs.grouped(math.max(1, evs.size / 4)).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
      // last update per user == batch aggregate
      val finalState = spark.table("stateful_out").collect()
        .groupBy(_.getLong(0))
        .map { case (uid, rows) => uid -> rows.maxBy(_.getLong(1)) }
      val batch = sources.Tables.events(spark, sf)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"), sum($"value").as("t"))
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(finalState.keySet == batch.keySet)
      finalState.foreach { case (uid, row) =>
        assert(row.getLong(1) == batch(uid).getLong(1))
        assert(math.abs(row.getDouble(2) - batch(uid).getDouble(2)) < 1e-6)
      }
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedupes retries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = streaming.Streams.dedupWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("wm_dedup_out")
      .outputMode("append").start()
    try {
      val chunk = batchEvents.take(50)
      mem.addData(chunk)
      q.processAllAvailable()
      mem.addData(chunk.take(20)) // delivery retries, within the horizon
      q.processAllAvailable()
      assert(spark.table("wm_dedup_out").count() == 50)
    } finally q.stop()
  }

  test("stream-stream interval join equals batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vMem = MemoryStream[Ev]
    val pMem = MemoryStream[Ev]
    val q = streaming.Streams
      .viewPurchaseAttribution(vMem.toDF(), pMem.toDF())
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    try {
      batchEvents.grouped(math.max(1, batchEvents.size / 3)).foreach { c =>
        vMem.addData(c); pMem.addData(c)
        q.processAllAvailable()
      }
      vMem.addData(Seq(sentinel)); pMem.addData(Seq(sentinel))
      q.processAllAvailable()
      val got = spark.table("ssjoin_out").collect().toSeq
      val want = streaming.Streams.viewPurchaseAttribution(
        sources.Tables.events(spark, sf),
        sources.Tables.events(spark, sf)).collect().toSeq
      assert(want.nonEmpty, "fixture produced no attributed purchases")
      assert(canon(got) == canon(want))
    } finally q.stop()
  }

  test("outer stream-stream join equals batch twin incl. null-padded rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vMem = MemoryStream[Ev]
    val pMem = MemoryStream[Ev]
    val q = streaming.Streams
      .viewPurchaseAttributionOuter(vMem.toDF(), pMem.toDF())
      .writeStream.format("memory").queryName("ssouter_out")
      .outputMode("append").start()
    try {
      batchEvents.grouped(math.max(1, batchEvents.size / 3)).foreach { c =>
        vMem.addData(c); pMem.addData(c)
        q.processAllAvailable()
      }
      // Null-padded rows emit on WATERMARK advance, not on data. The
      // watermark nodes sit AFTER the event_type filters, so a
      // "__sentinel"-typed row would be dropped before ever advancing
      // them — the sentinels must survive as view/purchase rows
      // (user -1, filtered from the output below). Two rounds: the
      // first advances the watermark past every join window, the
      // second lets the join evict (and null-emit) match-free views.
      Seq(0L, 36L * 3600 * 1000).foreach { bump =>
        val ts = new Timestamp(sentinel.ts.getTime + bump)
        vMem.addData(Seq(sentinel.copy(event_type = "view", ts = ts)))
        pMem.addData(Seq(sentinel.copy(event_type = "purchase", ts = ts)))
        q.processAllAvailable()
      }
      val got = spark.table("ssouter_out").collect().toSeq
        .filter(_.getLong(1) != -1L) // the sentinel views themselves
      val want = streaming.Streams.viewPurchaseAttributionOuter(
        sources.Tables.events(spark, sf),
        sources.Tables.events(spark, sf)).collect().toSeq
      assert(want.exists(_.isNullAt(2)),
        "fixture must contain unattributed views for the outer case")
      assert(canon(got) == canon(want))
    } finally q.stop()
  }

  test("dedup state is evicted once the watermark passes (bounded state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = streaming.Streams.dedupEvents(mem.toDF())
      .writeStream.format("memory").queryName("dedup_evict_out")
      .outputMode("append").start()
    try {
      val chunk = batchEvents.take(100)
      mem.addData(chunk)
      q.processAllAvailable()
      // All 100 events pass through, but state only retains rows newer
      // than (max ts - 1h watermark) — already far below the input
      // count, proving continuous eviction (a bare
      // dropDuplicates("event_id") would hold all 100 forever).
      assert(spark.table("dedup_evict_out").count() == 100)
      val loaded = q.lastProgress.stateOperators.head.numRowsTotal
      assert(loaded < 100,
        s"state must be watermark-bounded, holds all $loaded rows")
      // Watermark lags one batch: the first sentinel advances it, the
      // second batch evicts everything older than (sentinel - 1h).
      mem.addData(Seq(sentinel))
      q.processAllAvailable()
      val s2 = sentinel
      mem.addData(Seq(s2.copy(event_id = -2L,
        ts = new Timestamp(s2.ts.getTime + 60000))))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators.head.numRowsTotal
      assert(after <= 2,
        s"state must be bounded by the watermark, still holds $after rows")
    } finally q.stop()
  }

  test("transformWithState running totals equal the batch aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the transformWithState operator requires the RocksDB provider
    withRocksDb {
      val mem = MemoryStream[streaming.Event]
      val q = streaming.Streams.userTotalsTws(mem.toDS())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("update")
        .option("checkpointLocation",
          tempDir("graft_tws"))
        .start()
      try {
        val evs = batchEvents.map(e => streaming.Event(e.event_id, e.ts,
          e.user_id, e.event_type, e.value, e.props))
        evs.grouped(math.max(1, evs.size / 4)).foreach { chunk =>
          mem.addData(chunk)
          q.processAllAvailable()
        }
        val finalState = spark.table("tws_out").collect()
          .groupBy(_.getLong(0))
          .map { case (uid, rows) => uid -> rows.maxBy(_.getLong(1)) }
        val batch = sources.Tables.events(spark, sf)
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n"), sum($"value").as("t"))
          .collect().map(r => r.getLong(0) -> r).toMap
        assert(finalState.keySet == batch.keySet)
        finalState.foreach { case (uid, row) =>
          assert(row.getLong(1) == batch(uid).getLong(1))
          assert(math.abs(row.getDouble(2) - batch(uid).getDouble(2)) < 1e-6)
        }
      } finally q.stop()
    }
  }

  test("session windows run on the RocksDB state store provider") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[Ev]
      val q = streaming.Streams.sessionize(mem.toDF())
        .writeStream.format("memory").queryName("rocksdb_out")
        .outputMode("append")
        .option("checkpointLocation",
          tempDir("graft_ckpt"))
        .start()
      try {
        val evs = batchEvents.take(200)
        mem.addData(evs)
        q.processAllAvailable()
        mem.addData(Seq(sentinel))
        q.processAllAvailable()
        assert(spark.table("rocksdb_out").count() > 0)
      } finally q.stop()
    }
  }

  test("foreachBatch sink writes each micro-batch transactionally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dest = tempDir("graft_febatch")
    val mem = MemoryStream[Ev]
    val q = streaming.Streams.tumblingCounts(mem.toDF())
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // the standard exactly-once-per-batch pattern: idempotent
        // overwrite into a batch-id partition directory
        batch.write.mode("overwrite").parquet(s"$dest/batch_id=$id")
      }
      .start()
    try {
      batchEvents.grouped(math.max(1, batchEvents.size / 3)).foreach { c =>
        mem.addData(c); q.processAllAvailable()
      }
      mem.addData(Seq(sentinel)); q.processAllAvailable()
      val written = spark.read.parquet(dest)
        .filter($"event_type" =!= "__sentinel")
      val want = streaming.Streams
        .tumblingCounts(sources.Tables.events(spark, sf))
      // append-mode emits each closed window exactly once across batches
      assert(canon(written.drop("batch_id").collect().toSeq) ==
        canon(want.collect().toSeq))
    } finally q.stop()
  }

  test("stream-static broadcast join equals batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = sources.Tables.customer(spark, sf)
    val mem = MemoryStream[Ev]
    val q = streaming.Streams.segmentCounts(mem.toDF(), dim)
      .writeStream.format("memory").queryName("sstatic_out")
      .outputMode("append").start()
    try {
      batchEvents.grouped(math.max(1, batchEvents.size / 3)).foreach { c =>
        mem.addData(c)
        q.processAllAvailable()
      }
      mem.addData(Seq(sentinel))
      q.processAllAvailable()
      // drop the sentinel's own window (its user_id misses the dim)
      val got = spark.table("sstatic_out").collect().toSeq
        .filter(_.getLong(3) > 0)
        .filterNot(r => r.getString(2) == "unknown" && r.getLong(3) == 1)
      val want = streaming.Streams.segmentCounts(
        sources.Tables.events(spark, sf), dim).collect().toSeq
      assert(want.nonEmpty)
      assert(canon(got) == canon(want))
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = streaming.Streams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      val t0 = batchEvents.head.ts.getTime
      def ev(id: Long, offsetMin: Long) =
        Ev(id, new Timestamp(t0 + offsetMin * 60000), 1L, "click", 1.0, "{}")
      mem.addData(Seq(ev(1, 0), ev(2, 30)))
      q.processAllAvailable()
      // jump 6 hours ahead: watermark = t+6h - 1h, first window closed
      mem.addData(Seq(ev(3, 360)))
      q.processAllAvailable()
      // this event is 6h late, far beyond the 1h watermark: dropped
      mem.addData(Seq(ev(4, 10)))
      q.processAllAvailable()
      mem.addData(Seq(ev(5, 1000))) // flush
      q.processAllAvailable()
      val firstWindow = spark.table("late_out").collect()
        .filter(_.getTimestamp(0).getTime == t0 - t0 % 3600000)
      assert(firstWindow.map(_.getLong(3)).sum == 2,
        "late event must not be counted")
    } finally q.stop()
  }

  test("st09: foreachBatch upsert sink is idempotent and equals the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dest = tempDir("graft_upsert")
    val mem = MemoryStream[Ev]
    val q = streaming.Streams.hourlyTotalsUpsert(mem.toDF(), dest)
    try {
      batchEvents.grouped(math.max(1, batchEvents.size / 3)).foreach { c =>
        mem.addData(c); q.processAllAvailable()
      }
      mem.addData(Seq(sentinel)); q.processAllAvailable()
    } finally q.stop()
    val twin = streaming.Streams
      .tumblingCounts(sources.Tables.events(spark, sf))
    val pick = Seq("window_start", "event_type", "n", "sum_value")
    assert(
      canon(spark.read.parquet(dest)
        .filter($"event_type" =!= "__sentinel")
        .selectExpr(pick: _*).collect().toSeq) ==
      canon(twin.selectExpr(pick: _*).collect().toSeq),
      "sink state after replay must equal the batch aggregate")
    // Redeliver the complete final aggregate as if an epoch retried:
    // overwrite-by-window must leave the table bit-identical.
    val before = canon(spark.read.parquet(dest).collect().toSeq)
    streaming.Streams.upsertWindowTotals(twin, dest)
    val after = canon(spark.read.parquet(dest).collect().toSeq)
    assert(after == before, "redelivery must not change sink state")
  }

  test("feedChunks delivers each multi-file chunk as exactly one" +
      " micro-batch of the running query") {
    // Four part files per chunk, and the slowrename scheme sleeps on
    // every part-file rename: a chunk committed straight into the live
    // source dir is listed part-way through and split over batches.
    SlowRenameFileSystem.register(spark)
    val base = tempDir("graft_split")
    val src = s"${SlowRenameFileSystem.Scheme}://$base/src"
    sources.Writers.freshScratch(spark, src)
    val chunks = (0 until 3).map(k =>
      spark.range(k * 10000L, k * 10000L + 1000 + k, 1, 4).toDF())
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    streaming.Streams.feedChunks(src, chunks) {
      streaming.Streams.startStream(spark, src, chunks.head.schema,
        s"$base/ckpt") { (b, id) => seen += ((id, b.count())) }
    }
    assert(seen.toSeq == Seq((0L, 1000L), (1L, 1001L), (2L, 1002L)),
      s"(batch id, rows) per micro-batch: $seen")
  }

  test("st09: checkpointed restart resumes exactly-once (file source)") {
    // The RECOVERABLE path end-to-end: a file source (offsets = files
    // seen) + checkpoint + the idempotent upsert sink. The query is
    // stopped mid-stream and a NEW query restarts from the same
    // checkpoint — the result must equal the batch twin with no loss
    // and no double-counting.
    import spark.implicits._
    val srcDir = tempDir("graft_src")
    val ckpt = tempDir("graft_ckpt")
    val dest = tempDir("graft_dest")
    val schema = sources.Tables.events(spark, sf).schema
    val chunks = batchEvents.grouped(
      math.max(1, batchEvents.size / 2)).toSeq

    def startQuery() =
      streaming.Streams.startStream(spark, srcDir, schema, ckpt,
          transform = streaming.Streams.tumblingCounts,
          outputMode = "update") {
        (b, _) => streaming.Streams.upsertWindowTotals(b, dest)
      }

    streaming.Streams.feedChunks(srcDir, Seq(chunks.head.toDF()))(
      startQuery())

    // restart from the checkpoint with the rest of the data landed
    streaming.Streams.catchUp(srcDir,
      Seq(chunks(1).toDF(), Seq(sentinel).toDF()))(startQuery())

    val pick = Seq("window_start", "event_type", "n", "sum_value")
    val twin = streaming.Streams
      .tumblingCounts(sources.Tables.events(spark, sf))
    assert(
      canon(spark.read.parquet(dest)
        .filter($"event_type" =!= "__sentinel")
        .selectExpr(pick: _*).collect().toSeq) ==
      canon(twin.selectExpr(pick: _*).collect().toSeq),
      "restarted stream must converge to the batch aggregate")
  }

  test("st13: checkpointed restart resumes the quantified funnel exactly-once") {
    // The ledger's strongest claim under its riskiest condition: kill
    // the query mid-stream (buffered state + possibly-emitted matches
    // in RocksDB), restart a NEW query from the checkpoint, land the
    // rest of the data — the sink must converge to the batch twin with
    // ZERO duplicate rows (a re-emission after restart would land in a
    // DIFFERENT batch partition, which the idempotent sink cannot
    // collapse — only the ledger prevents it).
    import spark.implicits._
    val srcDir = tempDir("graft_qsrc")
    val ckpt = tempDir("graft_qckpt")
    val dest = tempDir("graft_qdest")
    val schema = sources.Tables.events(spark, sf).schema
    val tokens = Seq("view", "click*", "purchase")
    val chunks = batchEvents.grouped(
      math.max(1, batchEvents.size / 3)).toSeq

    def startQuery() =
      streaming.Streams.startStream(spark, srcDir, schema, ckpt,
          transform = in => streaming.Streams.quantFunnelMatchesTws(
            in.as[streaming.Event], tokens).toDF()) {
        (b, id) => streaming.Streams.sinkMatchesIdempotent(b, id, dest)
      }

    withRocksDb {
      streaming.Streams.feedChunks(srcDir,
        Seq(chunks.head.toDF(), chunks(1).toDF()))(startQuery())

      val s0 = sentinel
      streaming.Streams.catchUp(srcDir, chunks.drop(2).map(_.toDF()) ++
        Seq(Seq(s0).toDF(), Seq(s0.copy(event_id = -2L,
          ts = new Timestamp(s0.ts.getTime + 60000))).toDF()))(startQuery())

      val got = streaming.Streams.readMatchesSink(spark, dest)
        .filter($"user_id" >= 0).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
          r.getLong(3), r.getTimestamp(4).getTime)).toSeq
      assert(got.distinct.size == got.size,
        s"restart re-emitted matches: ${got.diff(got.distinct).take(5)}")
      val want = operators.Windows
        .matchPathQuant(sources.Tables.events(spark, sf), tokens)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
          r.getLong(3), r.getTimestamp(4).getTime)).toSet
      assert(want.nonEmpty)
      assert(got.toSet == want,
        s"restarted funnel diverges: extra=${got.toSet -- want}, " +
          s"missing=${want -- got.toSet}")
    }
  }

  test("streaming ingest near-dup gate equals d12 over chunked delivery") {
    // the d12 increment shape run the way production runs it: the
    // corpus band index is built ONCE (static side), then each
    // micro-batch of newly ingested docs probes it through foreachBatch
    // — d12's core verbatim per batch, stateless across batches, so
    // any chunking must land on the batch operator's exact output
    import spark.implicits._
    val docs = sources.Tables.documents(spark, sf)
    val sq = operators.StreamingQueries
    // the builder's own statics and per-batch step
    val (cBands, cSh) = sq.nearDupGateStatics(
      operators.Dedup.d12Corpus(spark, sf))
    val batchDocs = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text")
      .unionAll(docs.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"),
          concat($"text", lit(" zq1 zq2 zq3 zq4 zq5 zq6")).as("text")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val srcDir = tempDir("graft_ndsrc")
    val dest = tempDir("graft_nddest")
    streaming.Streams.feedChunks(srcDir,
        batchDocs.grouped(math.max(1, batchDocs.size / 3)).toSeq
          .map(_.toDF("doc_id", "text"))) {
      streaming.Streams.startStream(spark, srcDir, sq.DocSchema,
        tempDir("graft_ndckpt"))(
        sq.nearDupGateStep(cBands, cSh, dest))
    }
    val got = graft.streaming.Streams.readSink(spark, dest,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dup_of_corpus",
            org.apache.spark.sql.types.BooleanType),
          org.apache.spark.sql.types.StructField("best_jaccard",
            org.apache.spark.sql.types.DoubleType))))
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq
    assert(got.distinct.size == got.size, "gate emitted duplicate rows")
    val want = SparkEntry.queries("d12_incremental_neardup")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    assert(want.nonEmpty)
    assert(got.toSet == want,
      s"gate diverges from d12: extra=${(got.toSet -- want).take(5)}, " +
        s"missing=${(want -- got.toSet).take(5)}")
  }

  test("st15: checkpointed restart resumes the ingest near-dup gate" +
      " exactly-once") {
    // The gate is stateless across batches, so its restart risk is not
    // state loss but DELIVERY accounting: the file-source offsets live
    // in the checkpoint, and a restart must neither re-ingest chunk 1
    // (a replayed batch would land under a NEW batch id — duplicate
    // rows the idempotent per-batch overwrite cannot collapse) nor
    // skip the chunks that arrived while the query was down. Kill
    // after chunk 1, deliver chunks 2-3 while down, restart from the
    // checkpoint, compare to d12's batch answer with a duplicate check.
    import spark.implicits._
    val sq = operators.StreamingQueries
    // the builder's own statics and per-batch step
    val (cBands, cSh) = sq.nearDupGateStatics(
      operators.Dedup.d12Corpus(spark, sf))
    val batch = operators.Dedup.d12Batch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val chunks = batch.grouped(math.max(1, batch.size / 3)).toSeq
    val srcDir = tempDir("graft_ndrsrc")
    val ckpt = tempDir("graft_ndrckpt")
    val dest = tempDir("graft_ndrdest")

    def startQuery() =
      streaming.Streams.startStream(spark, srcDir, sq.DocSchema, ckpt)(
        sq.nearDupGateStep(cBands, cSh, dest))

    streaming.Streams.feedChunks(srcDir,
      Seq(chunks.head.toDF("doc_id", "text")))(startQuery())
    // chunks 2-3 arrive while the query is DOWN
    streaming.Streams.catchUp(srcDir,
      chunks.drop(1).map(_.toDF("doc_id", "text")))(startQuery())

    val got = graft.streaming.Streams.readSink(spark, dest,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dup_of_corpus",
            org.apache.spark.sql.types.BooleanType),
          org.apache.spark.sql.types.StructField("best_jaccard",
            org.apache.spark.sql.types.DoubleType))))
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq
    assert(got.distinct.size == got.size,
      s"restart re-emitted rows: ${got.diff(got.distinct).take(5)}")
    val want = SparkEntry.queries("d12_incremental_neardup")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    assert(want.nonEmpty)
    assert(got.toSet == want,
      s"restarted gate diverges from d12: extra=${(got.toSet -- want).take(5)}, " +
        s"missing=${(want -- got.toSet).take(5)}")
  }

  test("st16: checkpointed restart resumes the ANN serve gate" +
      " exactly-once") {
    // Same delivery-accounting risk as st15 (the gate is stateless —
    // every query's top-5 depends only on the stored index): a restart
    // must neither replay chunk 1 under a new batch id nor skip the
    // query chunks that arrived while the query was down. Kill after
    // chunk 1, deliver chunks 2-3 down, restart, compare to the batch
    // s04 answer with a duplicate check.
    import spark.implicits._
    val emb = sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding",
        operators.Similarity.norm($"embedding").as("nrm"))
    val cents = emb.filter($"vec_id" % operators.Similarity.centModulus(emb.count()) === 7)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"),
        $"nrm".as("c_nrm")).localCheckpoint()
    val assigned = operators.Similarity.ivfAssignment(emb, cents)
      .localCheckpoint()
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val chunks = queries.grouped(math.max(1, queries.size / 3)).toSeq
    val srcDir = tempDir("graft_annsrc")
    val ckpt = tempDir("graft_annckpt")
    val dest = tempDir("graft_anndest")
    val srcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))

    def startQuery() =
      streaming.Streams.startStream(spark, srcDir, srcSchema, ckpt)(
        operators.StreamingQueries.st16Serve.step(cents, assigned, dest))

    streaming.Streams.feedChunks(srcDir,
      Seq(chunks.head.toDF("vec_id", "embedding")))(startQuery())
    // chunks 2-3 arrive while the query is DOWN
    streaming.Streams.catchUp(srcDir,
      chunks.drop(1).map(_.toDF("vec_id", "embedding")))(startQuery())

    val got = graft.streaming.Streams.readSink(spark, dest,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("q_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sim",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("rk",
            org.apache.spark.sql.types.IntegerType))))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(got.distinct.size == got.size,
      s"restart re-emitted rows: ${got.diff(got.distinct).take(5)}")
    val want = SparkEntry.queries("s04_knn_ivf")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(want.nonEmpty)
    assert(got.toSet == want,
      s"restarted serve gate diverges from s04: " +
        s"extra=${(got.toSet -- want).take(5)}, " +
        s"missing=${(want -- got.toSet).take(5)}")
  }

  test("st24: checkpointed restart resumes the BM25 serve gate" +
      " exactly-once, statistics from the FULL stored index") {
    // st16's delivery accounting on the lexical side, plus the
    // statistic-scope risk BM25 adds: a batch that computed df/N/avgdl
    // from ITS OWN queries' postings instead of the full stored index
    // would score correctly-shaped rows with wrong weights — the union
    // would differ from batch s12 even with perfect delivery. Kill
    // after chunk 1, deliver chunks 2-3 down, restart, compare the
    // union to the batch s12 answer with a duplicate check.
    import spark.implicits._
    import org.apache.spark.sql.types.{StructType, StructField, LongType,
      IntegerType}
    val idx = tempDir("graft_bm25idx")
    val srcDir = tempDir("graft_bm25src")
    val ckpt = tempDir("graft_bm25ckpt")
    val dest = tempDir("graft_bm25dest")
    // the SAME stages the registered query ships: write once through
    // w12's writer (postings materialized before the two write legs,
    // matching st24's build), serve only from the read-back form
    val p0 = operators.Similarity.lexIndex(
      sources.Tables.documents(spark, sf))._1.localCheckpoint()
    val sz0 = p0.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    graft.sources.Writers.writeLexIndexV2(p0, sz0, s"$idx/lex",
      operators.Similarity.LexBuckets)
    val (pr, szr) = graft.sources.Writers.readLexIndex(spark, s"$idx/lex")
    val statics = operators.StreamingQueries.bm25ServeStatics(pr, szr)
    val postings = statics._1
    val chunks = postings.select($"doc_id").distinct()
      .filter($"doc_id" % 50 === 0).collect().map(_.getLong(0)).sorted
      .grouped(math.max(1,
        postings.select($"doc_id").distinct()
          .filter($"doc_id" % 50 === 0).count().toInt / 3 + 1)).toSeq
    def startQuery() =
      streaming.Streams.startStream(spark, srcDir,
          StructType(Seq(StructField("doc_id", LongType))), ckpt)(
        operators.StreamingQueries.bm25ServeStep(statics, dest))
    streaming.Streams.feedChunks(srcDir,
      Seq(chunks.head.toSeq.toDF("doc_id")))(startQuery())
    // later chunks arrive while the query is DOWN
    streaming.Streams.catchUp(srcDir,
      chunks.drop(1).map(_.toSeq.toDF("doc_id")))(startQuery())
    val got = graft.streaming.Streams.readSink(spark, dest,
        StructType(Seq(StructField("q_id", LongType),
          StructField("doc_id", LongType),
          StructField("rk", IntegerType))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got.distinct.size == got.size,
      s"restart re-emitted rows: ${got.diff(got.distinct).take(5)}")
    val want = SparkEntry.queries("s12_bm25_lexical")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(want.nonEmpty)
    assert(got.toSet == want,
      s"restarted BM25 serve diverges from batch s12: " +
        s"extra=${(got.toSet -- want).take(5)}, " +
        s"missing=${(want -- got.toSet).take(5)}")
  }

  test("st19: checkpointed restart resumes the FILTERED serve gate" +
      " exactly-once") {
    // st16's delivery accounting plus the filter leak risk: a restart
    // must not serve a wrong-label neighbor from a replayed batch.
    // Kill after chunk 1, deliver chunks 2-3 down, restart, compare to
    // the batch s10 answer with a duplicate check.
    import spark.implicits._
    val emb = sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding",
        operators.Similarity.norm($"embedding").as("nrm"), $"label")
    val cents = emb.filter($"vec_id" % operators.Similarity.centModulus(emb.count()) === 7)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"),
        $"nrm".as("c_nrm")).localCheckpoint()
    val assigned = operators.Similarity.ivfAssignment(emb, cents)
      .localCheckpoint()
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id", $"embedding", $"label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq
    val chunks = queries.grouped(math.max(1, queries.size / 3)).toSeq
    val srcDir = tempDir("graft_fsrc")
    val ckpt = tempDir("graft_fckpt")
    val dest = tempDir("graft_fdest")
    val srcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.IntegerType)))

    def startQuery() =
      streaming.Streams.startStream(spark, srcDir, srcSchema, ckpt)(
        operators.StreamingQueries.st19Serve.step(cents, assigned, dest))

    streaming.Streams.feedChunks(srcDir,
      Seq(chunks.head.toDF("vec_id", "embedding", "label")))(startQuery())
    streaming.Streams.catchUp(srcDir,
      chunks.drop(1).map(_.toDF("vec_id", "embedding", "label")))(
      startQuery())

    val got = graft.streaming.Streams.readSink(spark, dest,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("q_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sim",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("rk",
            org.apache.spark.sql.types.IntegerType))))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(got.distinct.size == got.size,
      s"restart re-emitted rows: ${got.diff(got.distinct).take(5)}")
    val want = SparkEntry.queries("s10_filtered_knn")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(want.nonEmpty)
    assert(got.toSet == want,
      s"restarted filtered serve gate diverges from s10: " +
        s"extra=${(got.toSet -- want).take(5)}, " +
        s"missing=${(want -- got.toSet).take(5)}")
  }

  test("st20: checkpointed restart resumes the HYBRID serve gate" +
      " exactly-once") {
    // st16's delivery accounting for the two-legged form: a restart
    // must neither replay chunk 1's fused answers nor skip the chunks
    // that arrived down — and the lexical leg must keep probing the
    // SAME stored postings across the restart (the index is static
    // state outside the checkpoint). Kill after chunk 1, deliver
    // chunks 2-3 down, restart, compare to the batch s11 answer.
    import spark.implicits._
    val emb = sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding",
        operators.Similarity.norm($"embedding").as("nrm"))
    val cents = emb.filter($"vec_id" % operators.Similarity.centModulus(emb.count()) === 7)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"),
        $"nrm".as("c_nrm")).localCheckpoint()
    val assigned = operators.Similarity.ivfAssignment(emb, cents)
      .localCheckpoint()
    // the lexical leg's statics ride w12's stored index, read back
    val lexDir = tempDir("graft_st20rs_lex") + "/index"
    val p0 = operators.Similarity.lexIndex(
      sources.Tables.documents(spark, sf))._1.localCheckpoint()
    val sz0 = p0.groupBy($"doc_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    graft.sources.Writers.writeLexIndexV2(p0, sz0, lexDir,
      operators.Similarity.LexBuckets)
    val (pr, szr) = graft.sources.Writers.readLexIndex(spark, lexDir)
    val postings = pr.localCheckpoint()
    val sizes = szr.localCheckpoint()
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val chunks = queries.grouped(math.max(1, queries.size / 3)).toSeq
    val srcDir = tempDir("graft_hsrc")
    val ckpt = tempDir("graft_hckpt")
    val dest = tempDir("graft_hdest")
    val srcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))

    def startQuery() =
      streaming.Streams.startStream(spark, srcDir, srcSchema, ckpt)(
        operators.StreamingQueries.st20Serve(() => (postings, sizes))
          .step(cents, assigned, dest))

    streaming.Streams.feedChunks(srcDir,
      Seq(chunks.head.toDF("vec_id", "embedding")))(startQuery())
    // chunks 2-3 arrive while the query is DOWN
    streaming.Streams.catchUp(srcDir,
      chunks.drop(1).map(_.toDF("vec_id", "embedding")))(startQuery())

    val got = graft.streaming.Streams.readSink(spark, dest,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("q_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rrf",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("rk",
            org.apache.spark.sql.types.IntegerType))))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(got.distinct.size == got.size,
      s"restart re-emitted rows: ${got.diff(got.distinct).take(5)}")
    val want = SparkEntry.queries("s11_hybrid_rrf")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(want.nonEmpty)
    assert(got.toSet == want,
      s"restarted hybrid serve gate diverges from s11: " +
        s"extra=${(got.toSet -- want).take(5)}, " +
        s"missing=${(want -- got.toSet).take(5)}")
  }

  test("st18: the streamed CMS state equals the one-shot batch sketch" +
      " byte-for-byte, through a kill-and-restart") {
    // CMS counters are additive and the hash family is seed-fixed, so
    // chunking must not change the final state AT ALL — the strongest
    // possible parity claim (byte equality), plus the restart case:
    // kill after chunk 1, deliver chunks 2-3 while down, restart — the
    // version-keyed merge must land on the same bytes.
    import spark.implicits._
    val base = tempDir("graft_st18rs")
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    val state = s"$base/sketch"
    sources.Writers.freshScratch(spark, base, "src")
    operators.StreamingQueries.writeCms(spark,
      org.apache.spark.util.sketch.CountMinSketch.create(0.001, 0.99, 42),
      s"$state/v0")
    val docs = sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    def startQuery() =
      streaming.Streams.startStream(spark, src,
          operators.StreamingQueries.DocSchema, ckpt)(
        operators.StreamingQueries.cmsMergeStep(state))
    streaming.Streams.feedChunks(src,
      Seq(docs.filter(pmod($"doc_id", lit(3)) === 0)))(startQuery())
    streaming.Streams.catchUp(src,
      Seq(1, 2).map(k => docs.filter(pmod($"doc_id", lit(3)) === k)))(
      startQuery())
    val sq = operators.StreamingQueries
    val streamed = sq.readCms(spark,
      s"$state/v${sq.cmsLatestVersion(spark, state)}").toByteArray
    val oneShot = operators.Analytics.cmsShingles(spark, sf)
      .agg(expr(operators.Analytics.CmsAgg).as("cms")).collect()(0)
      .getAs[Array[Byte]]("cms")
    assert(java.util.Arrays.equals(streamed, oneShot),
      "streamed CMS state diverges from the one-shot batch sketch")
  }

  test("st18: each CMS version is one plain file, a replayed batch" +
      " rewrites its version byte-identically, and a stranded staging" +
      " file is ignored by the latest-version pick") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val sq = operators.StreamingQueries
    val base = tempDir("graft_st18files")
    val state = s"$base/sketch"
    sources.Writers.freshScratch(spark, base)
    sq.writeCms(spark,
      org.apache.spark.util.sketch.CountMinSketch.create(0.001, 0.99, 42),
      s"$state/v0")
    val batch = sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").filter(pmod($"doc_id", lit(3)) === 0)
    sq.cmsMergeStep(state)(batch, 0L)
    val v1 = Paths.get(state, "v1")
    assert(Files.isRegularFile(v1), s"$v1 is not one plain file")
    val committed = Files.readAllBytes(v1)
    // the file is the sketch's own serialization, nothing around it
    assert(java.util.Arrays.equals(committed,
      sq.readCms(spark, v1.toString).toByteArray))
    // a restart replays batch 0: it re-reads v0 and replaces v1 whole
    sq.cmsMergeStep(state)(batch, 0L)
    assert(java.util.Arrays.equals(Files.readAllBytes(v1), committed),
      "replaying batch 0 changed v1's bytes")
    // a crash mid-write of v2 strands its staging file beside v0/v1
    val (fs, statePath) = sources.Writers.fsOf(spark, state)
    intercept[IllegalStateException] {
      sources.Writers.commitSmallFile(fs,
        new org.apache.hadoop.fs.Path(statePath, "v2")) { out =>
        out.write(committed, 0, 100)
        throw new IllegalStateException("crash")
      }
    }
    val names = fs.listStatus(statePath).map(_.getPath.getName).toSet
    assert(names.size == 3 && Set("v0", "v1").subsetOf(names),
      s"expected v0, v1 and one staging file, got $names")
    assert(sq.cmsLatestVersion(spark, state) == 1L)
  }

  test("st17: checkpointed restart resumes the CDC->SCD2 merge chain" +
      " exactly-once") {
    // The gate's cross-batch state lives in the VERSIONED dimension
    // (batch k reads dim_v{k}, writes dim_v{k+1}), so the restart risk
    // is a half-applied chain: kill after the first merge landed,
    // deliver the remaining chronological chunks while down, restart —
    // the resumed query must pick up at the right version (no skipped
    // chunk, no double-applied batch) and the final dimension must
    // equal the from-scratch rebuild (w08's answer).
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{StructType, StructField, LongType,
      StringType, DoubleType, TimestampType, BooleanType}
    val sq = operators.StreamingQueries
    val base = tempDir("graft_st17rs")
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    val dim = s"$base/dim"
    sources.Writers.freshScratch(spark, base, "src")
    // the builder's own seed, chunks and per-batch step
    val orders = operators.WriterQueries.scd2Orders(spark, sf)
    operators.WriterQueries.scd2Seed(orders, dim)
    val chunks = sq.cdcChunks(orders)

    def startQuery() =
      streaming.Streams.startStream(spark, src, sq.CdcStreamSchema, ckpt) {
        (b, id) => operators.WriterQueries.scd2MergeStep(dim, id, b); ()
      }

    streaming.Streams.feedChunks(src, chunks.take(1))(startQuery())
    // chunks 2-3 arrive while the query is DOWN
    streaming.Streams.catchUp(src, chunks.drop(1))(startQuery())

    def rowSet(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.getTimestamp(2)), r.getBoolean(3), r.getString(4),
        r.getDouble(5))).toSet
    val outSchema = StructType(Seq(
      StructField("cust_key", LongType),
      StructField("valid_from", TimestampType),
      StructField("valid_to", TimestampType),
      StructField("is_current", BooleanType),
      StructField("status", StringType),
      StructField("price", DoubleType)))
    // the restarted source MAY coalesce the two chunks delivered while
    // down into one batch — batching is the engine's choice, so the
    // contract is only that the chain advanced and the bucket-resolved
    // FINAL state equals the rebuild, whatever the batch count
    val latest = operators.WriterQueries.scd2LatestVersion(spark, dim)
    assert(latest >= 2L && latest <= 3L,
      s"restart chain length out of range: v$latest")
    val got = rowSet(operators.WriterQueries.scd2State(spark, dim, latest)
      .select(outSchema.fieldNames.map(col): _*))
    val want = rowSet(
      SparkEntry.queries("w08_scd2_history")(spark, sf)
        .select($"cust_key", $"valid_from", $"valid_to", $"is_current",
          $"status", $"price"))
    assert(want.nonEmpty)
    assert(got == want,
      s"restarted CDC chain diverges from the rebuild: " +
        s"extra=${(got -- want).take(3)}, missing=${(want -- got).take(3)}")
  }

  test("st21: checkpointed restart resumes the CDC chain with" +
      " in-stream retention") {
    // st17's restart risk plus the retention interaction: the kill
    // lands BEFORE any vacuum fired, the chunks delivered while down
    // coalesce into one batch whose commit then vacuums at its own
    // read version — the restart must neither lose the horizon
    // discipline (replayed reads stay serveable) nor diverge from the
    // from-scratch rebuild after versions were physically expired.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val sq = operators.StreamingQueries
    val base = tempDir("graft_st21rs")
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    val dim = s"$base/dim"
    sources.Writers.freshScratch(spark, base, "src")
    // the builder's own seed, chunks and per-batch step (merge plus
    // the retention cadence)
    val orders = operators.WriterQueries.scd2Orders(spark, sf)
    operators.WriterQueries.scd2Seed(orders, dim)
    val chunks = sq.cdcChunks(orders)

    def startQuery() =
      streaming.Streams.startStream(spark, src, sq.CdcStreamSchema, ckpt)(
        sq.cdcRetentionStep(dim))

    streaming.Streams.feedChunks(src, chunks.take(1))(startQuery())
    // chunks 2-3 arrive while the query is DOWN
    streaming.Streams.catchUp(src, chunks.drop(1))(startQuery())

    val latest = operators.WriterQueries.scd2LatestVersion(spark, dim)
    assert(latest >= 2L && latest <= 3L,
      s"restart chain length out of range: v$latest")
    // retention ran after the restart, trailing the replay window
    val horizon = operators.WriterQueries.scd2VacuumHorizon(spark, dim)
    assert(horizon.exists(h => h >= 1L && h < latest),
      s"horizon $horizon not in [1, $latest)")
    val belowThrows =
      try { operators.WriterQueries.scd2State(spark, dim,
        horizon.get - 1); false }
      catch { case _: IllegalStateException => true }
    assert(belowThrows, "below-horizon read resolved instead of failing")
    def rowSet(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.getTimestamp(2)), r.getBoolean(3), r.getString(4),
        r.getDouble(5))).toSet
    val got = rowSet(operators.WriterQueries.scd2State(spark, dim, latest)
      .select($"cust_key", $"valid_from", $"valid_to", $"is_current",
        $"status", $"price"))
    val want = rowSet(
      SparkEntry.queries("w08_scd2_history")(spark, sf)
        .select($"cust_key", $"valid_from", $"valid_to", $"is_current",
          $"status", $"price"))
    assert(want.nonEmpty)
    assert(got == want,
      s"restarted retention chain diverges from the rebuild: " +
        s"extra=${(got -- want).take(3)}, missing=${(want -- got).take(3)}")
  }

  test("st22: checkpointed restart resumes index ADMISSION exactly-once," +
      " and mid-stream serves are genuinely partial") {
    // The admission-specific restart risk: a replayed batch must
    // REWRITE its own index leg, not append a second copy of its
    // postings (doubled postings would double `inter` and corrupt every
    // Jaccard downstream — silently, since top-k order could survive).
    // Kill after the first admission, deliver the second chunk down,
    // restart, and require the final serve to be row-identical to the
    // batch s11 answer. The engagement probe rides the same run: the
    // batch-0 serve (one admission in) must DIFFER from the final one —
    // proof the per-batch serves read the evolving STORED index rather
    // than any full-corpus inline state.
    import spark.implicits._
    import org.apache.spark.sql.types.{StructType, StructField, LongType,
      DoubleType, IntegerType}
    val sq = operators.StreamingQueries
    val base = tempDir("graft_st22rs")
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    val dest = s"$base/dest"; val idx = s"$base/index"
    sources.Writers.freshScratch(spark, base, "src")
    val docs = sources.Tables.documents(spark, sf)
    // the SAME shared stages the registered query ships (lexFreezeVocab
    // / lexAdmit / s11Vec5 / lexServeStored) — not a hand-kept copy
    val vocab = sq.lexFreezeVocab(spark, docs, base)
    val qg = sq.lexFreezeProbeSet(spark, docs, vocab, base)
    sq.lexAdmit(vocab, qg, docs.filter($"doc_id" % 3 === 0), idx, "base")
    val vec5 = sq.s11Vec5(spark, sf)
    def startQuery() =
      streaming.Streams.startStream(spark, src, sq.DocSchema, ckpt)(
        sq.lexAdmissionStep(vocab, qg, idx, vec5, dest))
    streaming.Streams.feedChunks(src,
      Seq(docs.filter($"doc_id" % 3 === 1).select($"doc_id", $"text")))(
      startQuery())
    // the second chunk arrives while the query is DOWN
    streaming.Streams.catchUp(src,
      Seq(docs.filter($"doc_id" % 3 === 2).select($"doc_id", $"text")))(
      startQuery())
    val sinkSchema = StructType(Seq(StructField("q_id", LongType),
      StructField("id", LongType), StructField("rrf", DoubleType),
      StructField("rk", IntegerType), StructField("__batch_id", LongType)))
    val sunk = spark.read.schema(sinkSchema).parquet(dest)
      .collect().map(r => (r.getLong(4),
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))))
    val byBatch = sunk.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lastId = byBatch.keySet.max
    val want = SparkEntry.queries("s11_hybrid_rrf")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(want.nonEmpty)
    assert(byBatch(lastId) == want,
      s"restarted admission's final serve diverges from batch s11: " +
        s"extra=${(byBatch(lastId) -- want).take(5)}, " +
        s"missing=${(want -- byBatch(lastId)).take(5)}")
    // engagement: the first serve ran against a partial index
    assert(byBatch(0L) != byBatch(lastId),
      "batch-0 serve equals the final serve — the per-batch serves did " +
        "not read the evolving stored index")
    // REPLAY the last admission directly (a restarted batch re-running
    // foreachBatch with the same id and input): the leg must be
    // REWRITTEN, not appended — doubled postings would double `inter`
    // and corrupt every Jaccard downstream. With SaveMode.Append in
    // writeLexIndexLeg this re-admit doubles the leg and the re-serve
    // diverges; with the overwrite discipline it is a no-op.
    sq.lexAdmit(vocab, qg, docs.filter($"doc_id" % 3 === 2)
      .select($"doc_id", $"text"), idx, lastId.toString)
    val reServed = sq.lexServeStored(spark, idx, vec5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(reServed == want,
      s"replayed admission corrupted the index (leg appended, not " +
        s"rewritten?): extra=${(reServed -- want).take(5)}, " +
        s"missing=${(want -- reServed).take(5)}")
    // the serve prune is REAL, not vacuous: the routed layout must
    // hold probe-unreachable postings (inqg=0) the serve never reads,
    // and the probed read must reach them via a directory-level
    // partition filter (the st23 treatment), not a post-scan filter
    val full = spark.read.parquet(s"$idx/postings")
    val nFull = full.count()
    val nProbed = full.filter($"inqg" === 1).count()
    assert(nProbed < nFull,
      s"every admitted posting is probe-reachable ($nProbed of $nFull)" +
        " — the inqg routing prunes nothing at this fixture")
    val probedScan = sources.Writers.readLexIndexProbed(spark, idx)._1
      .queryExecution.executedPlan.toString
    assert(probedScan.contains("PartitionFilters: [") &&
        probedScan.contains("inqg"),
      s"probed read does not partition-prune on inqg:\n$probedScan")
    // ... and the sizes leg prunes the same way (after the postings
    // prune an unpruned sizes read would dominate the serve bill)
    val fullSz = spark.read.parquet(s"$idx/sizes")
    val nSzFull = fullSz.count()
    val nSzProbed = fullSz.filter($"insz" === 1).count()
    assert(nSzProbed < nSzFull,
      s"every admitted doc is probe-reachable ($nSzProbed of $nSzFull)" +
        " — the insz routing prunes nothing at this fixture")
    val probedSzScan = sources.Writers.readLexIndexProbed(spark, idx)._2
      .queryExecution.executedPlan.toString
    assert(probedSzScan.contains("PartitionFilters: [") &&
        probedSzScan.contains("insz"),
      s"probed sizes read does not partition-prune on insz:\n$probedSzScan")
  }

  test("st23: checkpointed restart resumes IVF ADMISSION exactly-once," +
      " and mid-stream serves are genuinely partial") {
    // st22's restart contract on the vector side: a replayed batch must
    // REWRITE its own list leg, not append a second copy of its
    // (vec_id, c_id) rows — duplicated vectors displace genuine top-5
    // rows silently wherever a duplicate outranks rank 5. Kill after
    // the first admission, deliver the second chunk down, restart, and
    // require the final serve to be row-identical to the batch s04
    // answer. The engagement probe rides the same run: the batch-0
    // serve (one admission in) must DIFFER from the final one — proof
    // the per-batch serves read the evolving STORED index.
    import spark.implicits._
    import org.apache.spark.sql.types.{StructType, StructField, LongType,
      DoubleType, IntegerType}
    val sq = operators.StreamingQueries
    val base = tempDir("graft_st23rs")
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    val dest = s"$base/dest"; val idx = s"$base/index"
    sources.Writers.freshScratch(spark, base, "src")
    val emb = sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding",
        operators.Similarity.norm($"embedding").as("nrm"))
    // the SAME shared stages the registered query ships
    // (ivfFreezeCentroids / ivfAdmit / ivfServeStored) — not a copy
    val cents = sq.ivfFreezeCentroids(spark, sf, emb, idx)
    sq.ivfAdmit(cents, emb.filter($"vec_id" % 3 === 0), idx, "base")
    val qsCk = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
        $"nrm".as("q_nrm")).localCheckpoint()
    val probedCells = operators.Similarity.probeCellsOf(qsCk, cents, 2)
    def startQuery() =
      streaming.Streams.startStream(spark, src, sq.VecSchema, ckpt)(
        sq.ivfAdmissionStep(cents, idx, emb, qsCk, probedCells, dest))
    streaming.Streams.feedChunks(src,
      Seq(emb.filter($"vec_id" % 3 === 1).select($"vec_id", $"embedding")))(
      startQuery())
    // the second chunk arrives while the query is DOWN
    streaming.Streams.catchUp(src,
      Seq(emb.filter($"vec_id" % 3 === 2).select($"vec_id", $"embedding")))(
      startQuery())
    val sinkSchema = StructType(Seq(StructField("q_id", LongType),
      StructField("vec_id", LongType), StructField("sim", DoubleType),
      StructField("rk", IntegerType), StructField("__batch_id", LongType)))
    val sunk = spark.read.schema(sinkSchema).parquet(dest)
      .collect().map(r => (r.getLong(4),
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))))
    val byBatch = sunk.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lastId = byBatch.keySet.max
    val want = SparkEntry.queries("s04_knn_ivf")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(want.nonEmpty)
    assert(byBatch(lastId) == want,
      s"restarted admission's final serve diverges from batch s04: " +
        s"extra=${(byBatch(lastId) -- want).take(5)}, " +
        s"missing=${(want -- byBatch(lastId)).take(5)}")
    // engagement: the first serve ran against a partial index
    assert(byBatch(0L) != byBatch(lastId),
      "batch-0 serve equals the final serve — the per-batch serves did " +
        "not read the evolving stored index")
    // REPLAY the last admission directly (a restarted batch re-running
    // foreachBatch with the same id and input): the leg must be
    // REWRITTEN, not appended. With SaveMode.Append in
    // appendIvfListsLeg this re-admit doubles the leg's vectors and
    // the re-serve diverges; with the overwrite discipline it is a
    // no-op.
    sq.ivfAdmit(cents, emb.filter($"vec_id" % 3 === 2)
      .select($"vec_id", $"embedding"), idx, lastId.toString)
    val reServed = sq.ivfServeStored(spark, idx, emb, cents, qsCk,
        probedCells)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(reServed == want,
      s"replayed admission corrupted the index (leg appended, not " +
        s"rewritten?): extra=${(reServed -- want).take(5)}, " +
        s"missing=${(want -- reServed).take(5)}")
    // the serve-bill claim: the probed-cell filter reaches the list
    // scan as PARTITION pruning (c_id stays a partition column inside
    // the leg= dirs), so a serve reads only probed cells' files — the
    // growing index is never re-read whole (w07's layout assertion,
    // through the leg tree)
    val servePlan = sq.ivfServeStored(spark, idx, emb, cents, qsCk,
      probedCells).queryExecution.executedPlan.toString
    assert(servePlan.contains("PartitionFilters") &&
      servePlan.contains("c_id"),
      s"probed-cell filter not pushed to partition pruning:\n" +
        servePlan.take(2000))
  }

  test("st14: checkpointed restart carries the as-of state across queries") {
    // The restart-critical property is different from st13's: after a
    // firing evicts every finalized row, the ONE-ROW carry ValueState
    // is all that lets post-restart left rows match pre-restart right
    // rows — lose it and the join silently turns inner-empty for the
    // boundary rows. Kill mid-stream, restart, land the rest, compare
    // to the batch asofJoin twin.
    import spark.implicits._
    val srcDir = tempDir("graft_asrc")
    val ckpt = tempDir("graft_ackpt")
    val dest = tempDir("graft_adest")
    val schema = sources.Tables.events(spark, sf).schema
    val chunks = batchEvents.grouped(
      math.max(1, batchEvents.size / 3)).toSeq

    def startQuery() =
      streaming.Streams.startStream(spark, srcDir, schema, ckpt,
          transform = in => streaming.Streams.asofEnrichTws(
            in.as[streaming.Event], "view", "purchase").toDF()) {
        (b, id) => streaming.Streams.sinkMatchesIdempotent(b, id, dest)
      }

    withRocksDb {
      streaming.Streams.feedChunks(srcDir,
        Seq(chunks.head.toDF(), chunks(1).toDF()))(startQuery())

      val s0 = sentinel
      streaming.Streams.catchUp(srcDir, chunks.drop(2).map(_.toDF()) ++
        Seq(Seq(s0).toDF(), Seq(s0.copy(event_id = -2L,
          ts = new Timestamp(s0.ts.getTime + 60000))).toDF()))(startQuery())

      val got = streaming.Streams.readSink(spark, dest,
          org.apache.spark.sql.Encoders.product[streaming.AsofMatch].schema)
        .filter($"user_id" >= 0).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
          r.getTimestamp(3).getTime, r.getLong(4))).toSeq
      assert(got.distinct.size == got.size,
        s"restart re-emitted as-of rows: ${got.diff(got.distinct).take(5)}")
      val ev = sources.Tables.events(spark, sf)
      val right = ev.filter($"event_type" === "view")
        .groupBy($"user_id", $"ts")
        .agg(max($"event_id").as("right_event"))
      val left = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val want = operators.AsofJoin.asofJoin(left, right,
        key = "user_id", leftTs = "ts", rightTs = "ts")
        .select($"user_id", $"event_id", $"ts",
          $"_carried.ts".as("right_ts"),
          $"_carried.right_event".as("right_event"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
          r.getTimestamp(3).getTime, r.getLong(4))).toSet
      assert(want.nonEmpty)
      assert(got.toSet == want,
        s"restarted as-of diverges: extra=${got.toSet -- want}, " +
          s"missing=${want -- got.toSet}")
    }
  }

  test("transformWithState event-time timers close sessions == batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[streaming.Event]
      val q = streaming.Streams.userSessionsTws(mem.toDS())
        .writeStream.format("memory").queryName("tws_sessions")
        .outputMode("append")
        .option("checkpointLocation",
          tempDir("graft_tws_timer"))
        .start()
      try {
        val evs = batchEvents.map(e => streaming.Event(e.event_id, e.ts,
          e.user_id, e.event_type, e.value, e.props))
        evs.grouped(math.max(1, evs.size / 4)).foreach { chunk =>
          mem.addData(chunk)
          q.processAllAvailable()
        }
        // Two sentinel batches: the first advances the watermark past
        // every real close-timer, the second gives the engine a batch in
        // which those timers actually FIRE (watermark lags one batch).
        val s0 = sentinel
        mem.addData(Seq(streaming.Event(-1L, s0.ts, -1L, "__sentinel",
          0.0, "{}")))
        q.processAllAvailable()
        mem.addData(Seq(streaming.Event(-2L,
          new Timestamp(s0.ts.getTime + 60000), -1L, "__sentinel",
          0.0, "{}")))
        q.processAllAvailable()
        val got = spark.table("tws_sessions").collect()
          .filter(_.getLong(0) >= 0) // drop the sentinel user's session
          .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
            r.getTimestamp(2).getTime, r.getLong(3))).toSet
        val want = streaming.Streams
          .sessionize(sources.Tables.events(spark, sf)).collect()
          .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
            r.getTimestamp(2).getTime, r.getLong(3))).toSet
        assert(got.nonEmpty)
        assert(got == want,
          s"timer-closed sessions diverge: extra=${got -- want}, missing=${want -- got}")
      } finally q.stop()
    }
  }

  test("transformWithState MapState per-type counts equal the batch aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[streaming.Event]
      val q = streaming.Streams.userTypeCountsTws(mem.toDS())
        .writeStream.format("memory").queryName("type_counts_out")
        .outputMode("update")
        .option("checkpointLocation",
          tempDir("graft_mapstate"))
        .start()
      try {
        val evs = batchEvents.map(e => streaming.Event(e.event_id, e.ts,
          e.user_id, e.event_type, e.value, e.props))
        evs.grouped(math.max(1, evs.size / 4)).foreach { chunk =>
          mem.addData(chunk)
          q.processAllAvailable()
        }
        val got = spark.table("type_counts_out").collect()
          .groupBy(_.getLong(0))
          .map { case (uid, rows) =>
            uid -> rows.maxBy(_.getLong(2)).getString(1) }
        val want = sources.Tables.events(spark, sf)
          .groupBy($"user_id", $"event_type").count().collect()
          .groupBy(_.getLong(0))
          .map { case (uid, rows) =>
            uid -> rows.map(r => s"${r.getString(1)}:${r.getLong(2)}")
              .sorted.mkString(",") }
        assert(got.keySet == want.keySet)
        got.foreach { case (uid, csv) =>
          assert(csv == want(uid), s"user $uid: $csv vs ${want(uid)}")
        }
      } finally q.stop()
    }
  }

  test("streaming funnel matcher equals the batch matchPath (q80)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[streaming.Event]
      val q = streaming.Streams
        .funnelMatchesTws(mem.toDS(), Seq("view", "view", "purchase"))
        .writeStream.format("memory").queryName("funnel_out")
        .outputMode("append")
        .option("checkpointLocation",
          tempDir("graft_funnel"))
        .start()
      try {
        // deterministically SCRAMBLE each chunk before delivery: the
        // matcher's whole point is reconstructing final event-time order
        // from out-of-order arrival, so the replay must not hand it
        // pre-sorted input (within-chunk disorder is watermark-safe;
        // cross-chunk disorder would change what counts as late)
        val evs = batchEvents.map(e => streaming.Event(e.event_id, e.ts,
          e.user_id, e.event_type, e.value, e.props))
        evs.grouped(math.max(1, evs.size / 4)).foreach { chunk =>
          mem.addData(chunk.sortBy(e => (e.event_id * 2654435761L) & 0xffffffffL))
          q.processAllAvailable()
        }
        // two sentinel batches: advance the watermark past every real
        // event, then give the engine a batch in which the finalization
        // timers actually fire (watermark lags one batch)
        val s0 = sentinel
        mem.addData(Seq(streaming.Event(-1L, s0.ts, -1L, "__sentinel",
          0.0, "{}")))
        q.processAllAvailable()
        mem.addData(Seq(streaming.Event(-2L,
          new Timestamp(s0.ts.getTime + 60000), -1L, "__sentinel",
          0.0, "{}")))
        q.processAllAvailable()
        val got = spark.table("funnel_out").collect()
          .filter(_.getLong(0) >= 0)
          .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
            r.getLong(3), r.getTimestamp(4).getTime)).toSet
        val want = SparkEntry.queries("q80_matchpath_funnel")(spark, sf)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
            r.getLong(3), r.getTimestamp(4).getTime)).toSet
        assert(want.nonEmpty)
        assert(got == want,
          s"funnel matches diverge: extra=${got -- want}, missing=${want -- got}")
      } finally q.stop()
    }
  }

  test("streaming funnel with predicate symbols equals batch matchPathQuant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[streaming.Event]
      // bigv = view with value >= 30 — the q80e predicate, here over the
      // same literal chain the plain funnel test matches, so the delta
      // vs that test isolates exactly the predicate gating
      val q = streaming.Streams
        .funnelMatchesTws(mem.toDS(), Seq("bigv", "view", "purchase"),
          Map("bigv" -> ((e: streaming.PendingEvent) =>
            e.event_type == "view" && e.value >= 30.0)))
        .writeStream.format("memory").queryName("funnel_pred_out")
        .outputMode("append")
        .option("checkpointLocation",
          tempDir("graft_funnelp"))
        .start()
      try {
        val evs = batchEvents.map(e => streaming.Event(e.event_id, e.ts,
          e.user_id, e.event_type, e.value, e.props))
        evs.grouped(math.max(1, evs.size / 4)).foreach { chunk =>
          mem.addData(chunk.sortBy(e => (e.event_id * 2654435761L) & 0xffffffffL))
          q.processAllAvailable()
        }
        val s0 = sentinel
        mem.addData(Seq(streaming.Event(-1L, s0.ts, -1L, "__sentinel",
          0.0, "{}")))
        q.processAllAvailable()
        mem.addData(Seq(streaming.Event(-2L,
          new Timestamp(s0.ts.getTime + 60000), -1L, "__sentinel",
          0.0, "{}")))
        q.processAllAvailable()
        val got = spark.table("funnel_pred_out").collect()
          .filter(_.getLong(0) >= 0)
          .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
            r.getLong(3), r.getTimestamp(4).getTime)).toSet
        val want = operators.Windows.matchPathQuant(
          sources.Tables.events(spark, sf),
          Seq("bigv", "view", "purchase"),
          Map("bigv" -> (col("event_type") === "view" &&
            col("value") >= lit(30.0))))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
            r.getLong(3), r.getTimestamp(4).getTime)).toSet
        assert(want.nonEmpty)
        assert(got == want,
          s"predicate funnel diverges: extra=${got -- want}, " +
            s"missing=${want -- got}")
      } finally q.stop()
    }
  }

  test("streaming as-of enrichment equals the batch asofJoin twin" +
      " (differential over chunkings)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
    // batch twin: the a01 union-carry operator over the same rows,
    // right side pre-deduplicated per (user, ts) to max event_id —
    // the same tie contract the processor's fold order implements
    val ev = sources.Tables.events(spark, sf)
    val right = ev.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts")
      .agg(max($"event_id").as("right_event"))
    val left = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val want = operators.AsofJoin.asofJoin(left, right,
      key = "user_id", leftTs = "ts", rightTs = "ts")
      .select($"user_id", $"event_id", $"ts",
        $"_carried.ts".as("right_ts"),
        $"_carried.right_event".as("right_event"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getTimestamp(3).getTime, r.getLong(4))).toSet
    assert(want.nonEmpty)
      // DIFFERENTIAL over delivery shapes: the finalized fold must land
      // on the batch answer whatever the arrival order and micro-batch
      // boundaries — each round scrambles with a different multiplier
      // and cuts different chunk sizes (within-chunk disorder is
      // watermark-safe; chunk count changes which rows co-finalize)
      for ((mult, nChunks) <- Seq((2654435761L, 4), (0x9e3779b9L, 7),
          (0x85ebca6bL, 2))) {
        val name = s"asof_out_$nChunks"
        val mem = MemoryStream[streaming.Event]
        val q = streaming.Streams
          .asofEnrichTws(mem.toDS(), "view", "purchase")
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .option("checkpointLocation",
            tempDir("graft_asof"))
          .start()
        try {
          val evs = batchEvents.map(e => streaming.Event(e.event_id, e.ts,
            e.user_id, e.event_type, e.value, e.props))
          evs.grouped(math.max(1, evs.size / nChunks)).foreach { chunk =>
            mem.addData(chunk.sortBy(e => (e.event_id * mult) & 0xffffffffL))
            q.processAllAvailable()
          }
          val s0 = sentinel
          mem.addData(Seq(streaming.Event(-1L, s0.ts, -1L, "__sentinel",
            0.0, "{}")))
          q.processAllAvailable()
          mem.addData(Seq(streaming.Event(-2L,
            new Timestamp(s0.ts.getTime + 60000), -1L, "__sentinel",
            0.0, "{}")))
          q.processAllAvailable()
          val got = spark.table(name).collect()
            .filter(_.getLong(0) >= 0)
            .map(r => (r.getLong(0), r.getLong(1),
              r.getTimestamp(2).getTime,
              r.getTimestamp(3).getTime, r.getLong(4))).toSet
          assert(got == want,
            s"as-of diverges at chunks=$nChunks: extra=${got -- want}, " +
              s"missing=${want -- got}")
        } finally q.stop()
      }
    }
  }

  test("streaming as-of resolves SUB-MILLISECOND ordering like the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Timestamps that differ only in their sub-ms µs fraction: the
    // processor's sort AND finalization boundary are both usec()-
    // grained, so matches inside one millisecond must follow µs order
    // exactly as the batch operator (TimestampType is µs) resolves them.
    def ts(ms: Long, us: Int): Timestamp = {
      val t = new Timestamp(ms)
      t.setNanos(t.getNanos + us * 1000)
      t
    }
    val base = 1700000000000L
    val evs = Seq(
      // l2 precedes r1 inside the same millisecond -> no carry, dropped
      streaming.Event(21L, ts(base, 50), 1L, "purchase", 0.0, "{}"),
      streaming.Event(10L, ts(base, 100), 1L, "view", 0.0, "{}"),
      // l1 follows r1 by 50µs -> matches r1
      streaming.Event(20L, ts(base, 150), 1L, "purchase", 0.0, "{}"),
      // l3 ties r2 to the microsecond -> right sorts first, matches r2
      streaming.Event(11L, ts(base + 5, 300), 1L, "view", 0.0, "{}"),
      streaming.Event(22L, ts(base + 5, 300), 1L, "purchase", 0.0, "{}"),
      streaming.Event(23L, ts(base + 10, 0), 1L, "purchase", 0.0, "{}"))
    val want = Set(
      (1L, 20L, ts(base, 150).getTime, 150, ts(base, 100).getTime, 100, 10L),
      (1L, 22L, ts(base + 5, 300).getTime, 300, ts(base + 5, 300).getTime,
        300, 11L),
      (1L, 23L, ts(base + 10, 0).getTime, 0, ts(base + 5, 300).getTime,
        300, 11L))
    // batch twin agrees on the same rows (sanity that `want` IS the
    // batch semantics, not just this spec's opinion)
    val ev = evs.toDF()
    val right = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts", $"event_id".as("right_event"))
    val left = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val batch = operators.AsofJoin.asofJoin(left, right,
      key = "user_id", leftTs = "ts", rightTs = "ts")
      .select($"user_id", $"event_id", $"ts",
        $"_carried.ts".as("right_ts"), $"_carried.right_event")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getTimestamp(2).getNanos / 1000 % 1000,
        r.getTimestamp(3).getTime,
        r.getTimestamp(3).getNanos / 1000 % 1000, r.getLong(4))).toSet
    assert(batch == want, s"batch twin disagrees: $batch")
    withRocksDb {
      val mem = MemoryStream[streaming.Event]
      val q = streaming.Streams
        .asofEnrichTws(mem.toDS(), "view", "purchase")
        .writeStream.format("memory").queryName("asof_subms_out")
        .outputMode("append")
        .option("checkpointLocation",
          tempDir("graft_asof_us"))
        .start()
      try {
        // deliver fully reversed (every row out of order), then advance
        // the watermark past the fixture with two sentinel batches
        mem.addData(evs.reverse)
        q.processAllAvailable()
        mem.addData(Seq(streaming.Event(-1L,
          new Timestamp(base + 48L * 3600 * 1000), -1L, "__sentinel",
          0.0, "{}")))
        q.processAllAvailable()
        mem.addData(Seq(streaming.Event(-2L,
          new Timestamp(base + 49L * 3600 * 1000), -1L, "__sentinel",
          0.0, "{}")))
        q.processAllAvailable()
        val got = spark.table("asof_subms_out").collect()
          .filter(_.getLong(0) >= 0)
          .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
            r.getTimestamp(2).getNanos / 1000 % 1000,
            r.getTimestamp(3).getTime,
            r.getTimestamp(3).getNanos / 1000 % 1000, r.getLong(4))).toSet
        assert(got == want,
          s"sub-ms as-of diverges: extra=${got -- want}, " +
            s"missing=${want -- got}")
      } finally q.stop()
    }
  }

  test("transformWithState ListState recent-buffer equals the batch rank") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[streaming.Event]
      val q = streaming.Streams.recentEventsTws(mem.toDS())
        .writeStream.format("memory").queryName("recent_out")
        .outputMode("update")
        .option("checkpointLocation",
          tempDir("graft_recent"))
        .start()
      try {
        val evs = batchEvents.map(e => streaming.Event(e.event_id, e.ts,
          e.user_id, e.event_type, e.value, e.props))
        evs.grouped(math.max(1, evs.size / 4)).foreach { chunk =>
          mem.addData(chunk)
          q.processAllAvailable()
        }
        // last emission per user = the one with the largest monotone
        // n_seen counter (cross-batch row order from the memory sink is
        // not a documented guarantee, so row position is not usable)
        val got = spark.table("recent_out").collect()
          .groupBy(_.getLong(0))
          .map { case (uid, rows) =>
            uid -> rows.maxBy(_.getLong(2)).getString(1) }
        val want = SparkEntry.queries("st11_recent_events")(spark, sf)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got.keySet == want.keySet)
        got.foreach { case (uid, csv) =>
          assert(csv == want(uid), s"user $uid: stream $csv vs batch ${want(uid)}")
        }
      } finally q.stop()
    }
  }

  /** Drive a quantified streaming funnel over the SCRAMBLED chunked
    * replay and return the emitted match tuples (shared by the st13
    * parity tests below). `extra` rows are delivered after the real
    * chunks but before the watermark-flush sentinels — the trailing-run
    * test's per-user end-of-stream markers ride there. */
  private def runQuantFunnel(pattern: Seq[String], name: String,
      extra: Seq[Ev] = Nil): Set[(Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[streaming.Event]
      val q = streaming.Streams
        .quantFunnelMatchesTws(mem.toDS(), pattern)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation",
          tempDir("graft_qfunnel"))
        .start()
      try {
        // deterministic within-chunk SCRAMBLE (see the literal funnel
        // test): the matcher must reconstruct final event-time order
        val evs = batchEvents.map(e => streaming.Event(e.event_id, e.ts,
          e.user_id, e.event_type, e.value, e.props))
        evs.grouped(math.max(1, evs.size / 4)).foreach { chunk =>
          mem.addData(chunk.sortBy(e => (e.event_id * 2654435761L) & 0xffffffffL))
          q.processAllAvailable()
        }
        if (extra.nonEmpty) {
          mem.addData(extra.map(e => streaming.Event(e.event_id, e.ts,
            e.user_id, e.event_type, e.value, e.props)))
          q.processAllAvailable()
        }
        val s0 = sentinel
        mem.addData(Seq(streaming.Event(-1L, s0.ts, -1L, "__sentinel",
          0.0, "{}")))
        q.processAllAvailable()
        mem.addData(Seq(streaming.Event(-2L,
          new Timestamp(s0.ts.getTime + 60000), -1L, "__sentinel",
          0.0, "{}")))
        q.processAllAvailable()
        spark.table(name).collect()
          .filter(_.getLong(0) >= 0)
          .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
            r.getLong(3), r.getTimestamp(4).getTime)).toSet
      } finally q.stop()
    }
  }

  private def batchQuant(pattern: Seq[String])
      : Set[(Long, Long, Long, Long, Long)] =
    operators.Windows.matchPathQuant(
      sources.Tables.events(spark, sf), pattern)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getLong(3), r.getTimestamp(4).getTime)).toSet

  test("streaming QUANTIFIED funnel equals batch matchPathQuant (q80c)") {
    // the two-star depth (st13's driver pattern): greedy forced-extent
    // runs, scrambled arrival, multi-timer finalization
    val pat = Seq("view", "click*", "view", "click*", "purchase")
    val got = runQuantFunnel(pat, "qfunnel_out")
    val want = batchQuant(pat)
    assert(want.nonEmpty)
    assert(got == want,
      s"quant funnel diverges: extra=${got -- want}, missing=${want -- got}")
  }

  test("streaming ADJACENT-run funnel equals batch matchPathQuant") {
    // committed chain semantics (literal-first, first applicable run,
    // no backtracking) must agree between the windowed batch compiler
    // and the imperative streaming scan — including the chain's
    // fall-through and starvation edges the simple funnels never hit
    val pat = Seq("view", "click*", "error*", "purchase")
    val got = runQuantFunnel(pat, "qfunnel_adj_out")
    val want = batchQuant(pat)
    assert(want.nonEmpty)
    assert(got == want,
      s"adjacent-run funnel diverges: extra=${got -- want}, " +
        s"missing=${want -- got}")
  }

  test("streaming TRAILING-chain funnel equals batch matchPathQuant") {
    // a trailing CHAIN (click+ then error*) — both runs' extents are
    // boundary-sensitive; per-user end-of-stream markers terminate
    // them exactly like the batch twin's partition end
    val pat = Seq("view", "click+", "error*")
    val maxTs = batchEvents.map(_.ts.getTime).max
    val eos = batchEvents.map(_.user_id).distinct.map(uid =>
      Ev(-100L - uid, new Timestamp(maxTs + 3600 * 1000), uid, "__eos",
        0.0, "{}"))
    val got = runQuantFunnel(pat, "qfunnel_chain_out", eos)
    val want = batchQuant(pat)
    assert(want.nonEmpty)
    assert(got == want,
      s"trailing-chain funnel diverges: extra=${got -- want}, " +
        s"missing=${want -- got}")
  }

  test("streaming TRAILING-run funnel equals batch matchPathQuant (q80f)") {
    // a trailing run's maximal extent is not final while it touches the
    // watermark boundary — on an unbounded stream such a match emits
    // only once a finalized non-run row arrives. A bounded replay
    // therefore terminates each user with an end-of-stream marker (a
    // type no symbol matches), exactly how the batch twin's partition
    // end terminates the run; the match sets must then be EQUAL.
    val pat = Seq("view", "click+")
    val maxTs = batchEvents.map(_.ts.getTime).max
    val eos = batchEvents.map(_.user_id).distinct.map(uid =>
      Ev(-100L - uid, new Timestamp(maxTs + 3600 * 1000), uid, "__eos",
        0.0, "{}"))
    val got = runQuantFunnel(pat, "qfunnel_trail_out", eos)
    val want = batchQuant(pat)
    assert(want.nonEmpty)
    assert(got == want,
      s"trailing funnel diverges: extra=${got -- want}, missing=${want -- got}")
  }

  test("funnel foreachBatch sink is retry-idempotent") {
    import spark.implicits._
    def m(id: Long): streaming.FunnelMatch =
      streaming.FunnelMatch(id, id * 10, new Timestamp(1700000000000L + id),
        id * 10 + 1, new Timestamp(1700000001000L + id))
    val dest = tempDir("graft_sink_retry")
    // delivery 1 of batch 5: PARTIAL rows (a failure mid-write leaves
    // whatever the task committed); the retry re-delivers batch 5 in
    // full — at-least-once foreachBatch. The sink must end up with
    // exactly the full delivery, not partial + full.
    streaming.Streams.sinkMatchesIdempotent(
      Seq(m(1)).toDS(), 5L, dest)
    streaming.Streams.sinkMatchesIdempotent(
      Seq(m(1), m(2), m(3)).toDS(), 5L, dest)
    // a LATER batch lands in its own partition, untouched by batch 5
    streaming.Streams.sinkMatchesIdempotent(
      Seq(m(4)).toDS(), 6L, dest)
    val got = streaming.Streams.readMatchesSink(spark, dest)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L),
      s"sink not idempotent: user_ids $got")
  }

  test("stream-static LEFT ANTI replay gate equals the batch twin") {
    import spark.implicits._
    val events = sources.Tables.events(spark, sf)
    val seen = events.filter($"event_id" % 3 === 0).select($"event_id")
    // stateless anti join: no watermark, append mode, exact row parity
    val got = runStream(
      df => streaming.Streams.replaySurvivors(df, seen), "replay_out")
      .filter(_.getAs[Long]("event_id") != -1L) // sentinel survives the gate
    val want = streaming.Streams.replaySurvivors(events, seen)
      .collect().toSeq
    assert(want.nonEmpty)
    // every third id was gated out
    assert(want.forall(_.getAs[Long]("event_id") % 3 != 0))
    assert(canon(got) == canon(want))
  }
}
