package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Ev

/** Streaming twins (SURVEY.md §5 strategy): MemoryStream-driven streaming
  * runs must produce the same answers as the batch forms the DuckDB
  * oracle checks. */
class StreamingSpec extends AnyFunSuite {
  import TestSession.{spark, sf}

  private def eventRows(): Seq[Ev] = {
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .toSeq
  }

  private def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("streaming tumbling window == batch twin (q43)") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val stream = MemoryStream[Ev]
    stream.addData(eventRows())
    val got = runToMemory(StreamingOps.tumblingByType(stream.toDF()),
      "tumbling_out", OutputMode.Complete())
    val want = StreamingOps.tumblingByType(Tables.events(spark, sf))
    assert(sortedRows(got) == sortedRows(want))
  }

  test("streaming sliding window == batch twin (q44)") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val stream = MemoryStream[Ev]
    stream.addData(eventRows())
    val got = runToMemory(StreamingOps.slidingWindows(stream.toDF()),
      "sliding_out", OutputMode.Complete())
    val want = StreamingOps.slidingWindows(Tables.events(spark, sf))
    assert(sortedRows(got) == sortedRows(want))
  }

  test("streaming sliding distinct actives == batch distinct count (WAU form)") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val stream = MemoryStream[Ev]
    stream.addData(eventRows())
    val got = runToMemory(
      StreamingOps.slidingDistinctUsers(stream.toDF()),
      "sliding_users_out", OutputMode.Complete())
    // batch truth: plain COUNT(DISTINCT) per window — the spelling
    // streaming can't run, which is exactly what the op works around
    val want = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("w.start").as("wstart"), col("n_users"))
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() > 0)
  }

  test("streaming dedup drops duplicate event_ids across batches") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val rows = eventRows()
    val stream = MemoryStream[Ev]
    stream.addData(rows)
    stream.addData(rows.take(200)) // re-deliver a prefix: at-least-once input
    val got = runToMemory(StreamingOps.dedupById(stream.toDF()),
      "dedup_out", OutputMode.Append())
    assert(got.count() == rows.size)
    assert(got.select("event_id").distinct().count() == rows.size)
  }

  test("dropDuplicatesWithinWatermark: bounded-state dedup drops redelivered rows") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val rows = eventRows()
    val stream = MemoryStream[Ev]
    // same-batch + next-batch redelivery: both fall inside the 1h
    // watermark of the originals, so the bounded-state dedup must drop
    // them exactly like the unbounded one
    stream.addData(rows ++ rows.take(100))
    stream.addData(rows.take(300))
    val got = runToMemory(
      StreamingOps.dedupByIdWithinWatermark(stream.toDF()),
      "dedup_wm_out", OutputMode.Append())
    assert(got.count() == rows.size)
    assert(got.select("event_id").distinct().count() == rows.size)
  }

  test("stream-static enrichment join == batch join (dim re-read per micro-batch)") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    // bounded dim: user tier derived deterministically from the fixture
    val dim = Tables.events(spark, sf).select("user_id").distinct()
      .withColumn("tier", concat(lit("t"), col("user_id") % 3))
    val stream = MemoryStream[Ev]
    stream.addData(eventRows())
    val got = runToMemory(
      StreamingOps.enrichWithDim(stream.toDF(), dim),
      "enrich_out", OutputMode.Complete())
    val want = StreamingOps.enrichWithDim(Tables.events(spark, sf), dim)
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() > 0)
  }

  test("flatMapGroupsWithState running counts converge to batch groupBy") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val rows = eventRows()
    val (first, second) = rows.splitAt(rows.size / 2)
    val stream = MemoryStream[Ev]
    val q = StreamingOps.userRunningCounts(stream.toDS())
      .toDF()
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("counts_out").start()
    stream.addData(first)
    q.processAllAvailable()
    stream.addData(second)
    q.processAllAvailable()
    q.stop()
    // last update per user must equal the batch aggregate
    val want = Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // memory sink in Update mode appends each update; take the max count
    // per user (counts are monotone)
    val got = spark.table("counts_out").groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("transformWithState running counts (RocksDB store) == batch groupBy") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = eventRows()
      val (first, second) = rows.splitAt(rows.size / 2)
      val stream = MemoryStream[Ev]
      val q = StreamingOps.userRunningCountsTws(stream.toDS())
        .toDF()
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("tws_counts_out").start()
      stream.addData(first)
      q.processAllAvailable()
      stream.addData(second)
      q.processAllAvailable()
      q.stop()
      val want = Tables.events(spark, sf).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = spark.table("tws_counts_out").groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("event-time timers: idle-session finalization == batch lag-islands sessions") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = eventRows().sortBy(e => (e.ts.getTime, e.event_id))
      val (first, second) = rows.splitAt(rows.size / 2)
      val maxTs = rows.map(_.ts.getTime).max
      val flush = Ev(-1L, new java.sql.Timestamp(maxTs + 10L * 24 * 3600 * 1000),
        999999999L, "click", 0.0)
      val stream = MemoryStream[Ev]
      val q = StreamingOps.idleSessionsTws(stream.toDS()).toDF()
        .writeStream.outputMode(OutputMode.Append()).format("memory")
        .queryName("idle_sess_out").start()
      stream.addData(first)
      q.processAllAvailable()
      stream.addData(second)
      q.processAllAvailable()
      // the flush event advances the watermark 10 days past every idle
      // deadline, so every live session's timer fires and finalizes it
      // (the flush user's own just-opened session stays live — excluded)
      stream.addData(Seq(flush))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("idle_sess_out")
        .filter(col("user_id") =!= 999999999L)
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"))
        .collect().map(_.toString).sorted.toSeq
      // batch truth: 30-min-gap lag-islands sessions per user
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(spark, sf)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = ev
        .withColumn("prev", lag(col("us"), 1).over(wOrd))
        .withColumn("isl", sum(
          when(col("prev").isNull || col("us") - col("prev") > 30L * 60 * 1000000,
            1L).otherwise(0L)).over(wRun))
        .groupBy(col("user_id"), col("isl"))
        .agg(min(col("us")).as("session_start_us"),
          max(col("us")).as("session_end_us"), count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"))
        .collect().map(_.toString).sorted.toSeq
      assert(got.nonEmpty && got == want)
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("timer processor survives a kill+restart under RocksDB changelog checkpointing") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    val prevChangelog = spark.conf.getOption(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    try {
      val rows = eventRows().sortBy(e => (e.ts.getTime, e.event_id))
      val (first, second) = rows.splitAt(rows.size / 2)
      val maxTs = rows.map(_.ts.getTime).max
      val flush = Ev(-1L, new java.sql.Timestamp(maxTs + 10L * 24 * 3600 * 1000),
        999999999L, "click", 0.0)
      val ckpt = TestSession.tmp("graft_tws_ckpt")
      val outDir = TestSession.tmp("graft_tws_out")
      val stream = MemoryStream[Ev]
      // parquet sink: the one in-repo sink that SUPPORTS checkpoint
      // recovery (the memory sink refuses to restart from a checkpoint)
      def startQ() = StreamingOps.idleSessionsTws(stream.toDS()).toDF()
        .writeStream.outputMode(OutputMode.Append()).format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      val q1 = startQ()
      stream.addData(first)
      q1.processAllAvailable()
      // kill MID-STREAM: live sessions and their armed timers exist
      // only in the RocksDB store + changelog at this instant
      q1.stop()
      val q2 = startQ()
      stream.addData(second)
      q2.processAllAvailable()
      stream.addData(Seq(flush))
      q2.processAllAvailable()
      q2.stop()
      // if state OR timers had been lost in the restart, sessions
      // spanning the kill point would split and idle sessions opened
      // before it would never finalize — the batch twin catches both
      val got = spark.read.parquet(outDir)
        .filter(col("user_id") =!= 999999999L)
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"))
        .collect().map(_.toString).sorted.toSeq
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(spark, sf)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = ev
        .withColumn("prev", lag(col("us"), 1).over(wOrd))
        .withColumn("isl", sum(
          when(col("prev").isNull || col("us") - col("prev") > 30L * 60 * 1000000,
            1L).otherwise(0L)).over(wRun))
        .groupBy(col("user_id"), col("isl"))
        .agg(min(col("us")).as("session_start_us"),
          max(col("us")).as("session_end_us"), count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"))
        .collect().map(_.toString).sorted.toSeq
      assert(got.nonEmpty && got == want)
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevChangelog match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    }
  }

  test("stream-stream join == batch join with the same time bound") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val stream = MemoryStream[Ev]
    stream.addData(eventRows())
    val got = runToMemory(StreamingOps.clickToPurchaseJoin(stream.toDF()),
      "ssjoin_out", OutputMode.Append())
    val want = StreamingOps.clickToPurchaseJoin(Tables.events(spark, sf))
    assert(got.count() > 0, "join must be non-trivial on the fixture")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("stream-stream LEFT OUTER join: null rows emit once the watermark closes the window") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val rows = eventRows()
    val maxTs = rows.map(_.ts.getTime).max
    val flushTs = new java.sql.Timestamp(maxTs + 10L * 24 * 3600 * 1000)
    val stream = MemoryStream[Ev]
    val q = StreamingOps.clickWithPurchaseOuter(stream.toDF())
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("ssleft_out").start()
    stream.addData(rows)
    q.processAllAvailable()
    // outer-join null rows can only emit once the JOINT watermark (min
    // of both sides) proves no match can still arrive. Watermarks update
    // at end-of-batch, so feed one far-future sentinel per side: both
    // side watermarks jump past every real click's join window, and the
    // no-data micro-batch that follows evicts the unmatched state as
    // null-padded rows. Sentinels use negative ids (the fixture's are
    // >= 0) and are excluded from the comparison.
    stream.addData(Seq(
      Ev(-1L, flushTs, 999999991L, "click", 0.0),
      Ev(-2L, flushTs, 999999992L, "purchase", 0.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssleft_out").filter(col("click_id") >= 0)
    val want = StreamingOps.clickWithPurchaseOuter(Tables.events(spark, sf))
    assert(got.filter(col("purchase_id").isNull).count() > 0,
      "some clicks must be unmatched (null-padded)")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("stream-stream RIGHT OUTER join: purchase-preserving null rows emit at joint-watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val rows = eventRows()
    val maxTs = rows.map(_.ts.getTime).max
    val flushTs = new java.sql.Timestamp(maxTs + 10L * 24 * 3600 * 1000)
    val stream = MemoryStream[Ev]
    val q = StreamingOps.purchaseBackfillRightOuter(stream.toDF())
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("ssright_out").start()
    stream.addData(rows)
    q.processAllAvailable()
    // right outer null-pads the LEFT (click) side: an unattributed
    // purchase emits only once the joint watermark proves no click can
    // still arrive inside its hour-long window — same flush protocol as
    // the left/full arms, but the eviction runs against the opposite
    // side's state
    stream.addData(Seq(
      Ev(-1L, flushTs, 999999991L, "click", 0.0),
      Ev(-2L, flushTs, 999999992L, "purchase", 0.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssright_out").filter(col("purchase_id") >= 0)
    val want = StreamingOps.purchaseBackfillRightOuter(
      Tables.events(spark, sf))
    assert(got.filter(col("click_id").isNull).count() > 0,
      "some purchases must be unattributed (click-null padding)")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("stream-stream FULL OUTER join: null-padded rows on BOTH sides emit only at joint-watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val rows = eventRows()
    val maxTs = rows.map(_.ts.getTime).max
    val flushTs = new java.sql.Timestamp(maxTs + 10L * 24 * 3600 * 1000)
    val stream = MemoryStream[Ev]
    val q = StreamingOps.clickPurchaseFullOuter(stream.toDF())
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("ssfull_out").start()
    stream.addData(rows)
    q.processAllAvailable()
    // before the flush: NO null-padded row may have emitted — the joint
    // watermark has not passed any window yet (both sides' max event
    // time is inside the 2h delay + 1h interval of the last events)...
    // strictly, rows whose window the watermark HAS passed may emit, so
    // pin the weaker-but-sharp form: every eviction that defines the
    // full outer form arrives by the end, and matched rows match batch.
    stream.addData(Seq(
      Ev(-1L, flushTs, 999999991L, "click", 0.0),
      Ev(-2L, flushTs, 999999992L, "purchase", 0.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssfull_out")
      .filter(coalesce(col("click_id"), lit(Long.MaxValue)) >= 0 &&
        coalesce(col("purchase_id"), lit(Long.MaxValue)) >= 0)
    val want = StreamingOps.clickPurchaseFullOuter(Tables.events(spark, sf))
    // the full outer form's defining rows: strays on BOTH sides
    assert(got.filter(col("purchase_id").isNull).count() > 0,
      "some clicks must be unmatched (purchase-null padding)")
    assert(got.filter(col("click_id").isNull).count() > 0,
      "some purchases must be unmatched (click-null padding)")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("stream-stream FULL OUTER join: strays stay in state until the flush batch closes their window") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    // hand-built micro-corpus: one matched pair, one stray click, one
    // stray purchase, all within minutes of each other — small enough
    // to reason about emission timing exactly
    def ev(id: Long, hhmm: String, user: Long, tpe: String) =
      Ev(id, java.sql.Timestamp.valueOf(s"2024-06-01 $hhmm:00"), user, tpe, 1.0)
    val stream = MemoryStream[Ev]
    val q = StreamingOps.clickPurchaseFullOuter(stream.toDF())
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("ssfull_timing").start()
    stream.addData(Seq(
      ev(1, "10:00", 1, "click"), ev(2, "10:30", 1, "purchase"), // match
      ev(3, "10:05", 2, "click"),                                // stray c
      ev(4, "10:10", 3, "purchase")))                            // stray p
    q.processAllAvailable()
    val before = spark.table("ssfull_timing")
    // watermark is still at batch-1's max(10:30) − 2h delay < all
    // windows ⇒ ONLY the matched pair may have emitted; both strays are
    // held in state (emitting them now could wrong a late match)
    assert(before.filter(col("click_id").isNull ||
      col("purchase_id").isNull).count() == 0,
      "null-padded row emitted before the joint watermark closed its window")
    // flush: both side watermarks jump far past every window
    stream.addData(Seq(
      ev(-1, "23:50", 999991, "click"), ev(-2, "23:55", 999992, "purchase")))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("ssfull_timing")
      .filter(coalesce(col("click_id"), lit(0L)) >= 0 &&
        coalesce(col("purchase_id"), lit(0L)) >= 0)
    assert(after.filter(col("click_id") === 1 &&
      col("purchase_id") === 2).count() == 1, "matched pair missing")
    assert(after.filter(col("click_id") === 3 &&
      col("purchase_id").isNull).count() == 1, "stray click never evicted")
    assert(after.filter(col("click_id").isNull &&
      col("purchase_id") === 4).count() == 1, "stray purchase never evicted")
    assert(after.count() == 3)
  }

  test("stream-stream LEFT SEMI join: matched clicks emit once, unmatched age out silently") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val rows = eventRows()
    val maxTs = rows.map(_.ts.getTime).max
    val flushTs = new java.sql.Timestamp(maxTs + 10L * 24 * 3600 * 1000)
    val stream = MemoryStream[Ev]
    val q = StreamingOps.clickConvertedSemi(stream.toDF())
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("sssemi_out").start()
    stream.addData(rows)
    q.processAllAvailable()
    stream.addData(Seq( // flush: unmatched clicks must age out WITHOUT emitting
      Ev(-1L, flushTs, 999999991L, "click", 0.0),
      Ev(-2L, flushTs, 999999992L, "purchase", 0.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sssemi_out").filter(col("click_id") >= 0)
    val want = StreamingOps.clickConvertedSemi(Tables.events(spark, sf))
    assert(got.count() > 0, "semi join must be non-trivial on the fixture")
    // at-most-once: no click id repeats even where the inner join fans out
    assert(got.count() == got.select("click_id").distinct().count())
    // semi ⊂ inner's click set, and strictly smaller than all clicks
    val inner = StreamingOps.clickToPurchaseJoin(Tables.events(spark, sf))
    assert(got.count() == inner.select("click_id").distinct().count())
    assert(sortedRows(got) == sortedRows(want))
  }

  test("foreachBatch sink: programmable sink sees every row exactly once") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val rows = eventRows()
    val (first, second) = rows.splitAt(rows.size / 2)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val stream = MemoryStream[Ev]
    val q = stream.toDF().writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        seen.addAndGet(batch.count())
        batches.incrementAndGet()
        ()
      }
      .start()
    stream.addData(first)
    q.processAllAvailable()
    stream.addData(second)
    q.processAllAvailable()
    q.stop()
    assert(seen.get() == rows.size, s"saw ${seen.get()} of ${rows.size}")
    assert(batches.get() >= 2)
  }

  test("watermark drops late data: an event older than the watermark is excluded") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    def ev(id: Long, minute: Int): Ev =
      Ev(id, java.sql.Timestamp.valueOf(f"2024-06-01 10:$minute%02d:00"), 1L, "click", 1.0)
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_out").start()
    stream.addData(ev(1, 0), ev(2, 1))     // window 10:00
    q.processAllAvailable()
    stream.addData(ev(3, 30))              // advances watermark to 10:20
    q.processAllAvailable()
    stream.addData(ev(4, 2))               // LATE: 10:02 < watermark
    q.processAllAvailable()
    stream.addData(ev(5, 45))              // advance again to flush
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("late_out").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // the 10:00 window closed with 2 events; the late 4th was dropped
    assert(closed.get("2024-06-01 10:00:00.0").contains(2L), closed.toString)
  }

  test("checkpoint recovery: restarted dedup stream keeps state across the restart") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val ckpt = TestSession.tmp("graft_ckpt")
    val out = TestSession.tmp("graft_ckpt_out")
    // synthetic 1-minute-spaced events so the re-delivered rows are NEWER
    // than the recovered watermark (max(firstBatch.ts) - 1h) and therefore
    // reach the dedup state store — fixture rows spanning weeks would be
    // dropped by the late-row filter and prove only watermark recovery.
    def ev(i: Int): Ev = Ev(i.toLong,
      java.sql.Timestamp.valueOf(f"2024-06-01 10:${i / 60}%02d:${i % 60}%02d"),
      1L, "click", 1.0)
    val first = (0 until 60).map(ev)   // 10:00:00 - 10:00:59
    val second = (60 until 120).map(ev)
    val stream = MemoryStream[Ev]
    def start() = StreamingOps.dedupById(stream.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    val q1 = start()
    stream.addData(first)
    q1.processAllAvailable()
    q1.stop()                        // simulated failure/restart boundary
    val q2 = start()                 // resumes from the checkpointed state
    stream.addData(first.takeRight(30)) // re-delivery, within watermark
    stream.addData(second)
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out)
    // recovered dedup STATE (not just the watermark) suppressed the
    // re-delivered rows: they were newer than the recovered watermark,
    // so only the state-store lookup could have deduped them
    assert(got.count() == 120, s"got ${got.count()} rows, want 120")
    assert(got.select("event_id").distinct().count() == 120)
  }

  test("stream-stream FULL OUTER join state survives a restart: a pre-restart stray matches a post-restart arrival") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val ckpt = TestSession.tmp("graft_foj_ck")
    val out = TestSession.tmp("graft_foj_out")
    def ev(id: Long, hhmm: String, user: Long, tpe: String) =
      Ev(id, java.sql.Timestamp.valueOf(s"2024-06-01 $hhmm:00"), user, tpe, 1.0)
    val stream = MemoryStream[Ev]
    def start() = StreamingOps.clickPurchaseFullOuter(stream.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    val q1 = start()
    stream.addData(Seq(
      ev(1, "10:00", 1, "click"), ev(2, "10:30", 1, "purchase"), // match now
      ev(3, "10:05", 2, "click"),     // stray — must survive the restart
      ev(4, "10:10", 3, "purchase"))) // stray — evicts null-padded later
    q1.processAllAvailable()
    q1.stop() // restart boundary: strays 3 and 4 live ONLY in join state
    val q2 = start()
    // the decisive row: a purchase arriving AFTER the restart that can
    // only match if the recovered state still holds click 3 (10:40 is
    // inside click 3's [10:05, 11:05] window; the recovered watermark,
    // 10:30 − 2h, has passed nothing)
    stream.addData(Seq(ev(5, "10:40", 2, "purchase")))
    q2.processAllAvailable()
    // flush: both watermarks jump past every real window, evicting the
    // remaining stray purchase as a null-padded row
    stream.addData(Seq(
      ev(-1, "23:50", 999991, "click"), ev(-2, "23:55", 999992, "purchase")))
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out)
      .filter(coalesce(col("click_id"), lit(0L)) >= 0 &&
        coalesce(col("purchase_id"), lit(0L)) >= 0)
    assert(got.filter(col("click_id") === 1 &&
      col("purchase_id") === 2).count() == 1, "pre-restart match missing")
    assert(got.filter(col("click_id") === 3 &&
      col("purchase_id") === 5).count() == 1,
      "cross-restart match missing — join state lost in recovery")
    assert(got.filter(col("click_id").isNull &&
      col("purchase_id") === 4).count() == 1,
      "stray purchase never evicted after the restart")
    assert(got.count() == 3, got.collect().mkString(";"))
  }

  test("stream-static join enriches streaming rows from a fixed dimension") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val dim = spark.range(10).select(col("id").as("bucket"),
      concat_ws("-", lit("seg"), col("id")).as("segment"))
    val stream = MemoryStream[Ev]
    val rows = eventRows().filter(_.event_id < 1000) // deterministic subset
    stream.addData(rows)
    val joined = stream.toDF()
      .withColumn("bucket", col("user_id") % 10)
      .join(dim, Seq("bucket")) // static side: no watermark, re-read per batch
      .groupBy(col("segment")).agg(count(lit(1)).as("n"))
    val got = runToMemory(joined, "ss_join_out", OutputMode.Complete())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf).filter(col("event_id") < 1000)
      .withColumn("bucket", col("user_id") % 10)
      .join(dim, Seq("bucket"))
      .groupBy(col("segment")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.sum == rows.size.toLong)
    assert(got == want)
  }

  test("Trigger.AvailableNow: file-source catch-up processes a backlog then stops") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = TestSession.tmp("graft_an_src")
    val ckpt = TestSession.tmp("graft_an_ckpt")
    val outDir = TestSession.tmp("graft_an_out")
    val ev = Tables.events(spark, sf).select("event_id", "ts", "user_id", "event_type", "value")
    val (a, b) = (ev.filter(col("event_id") % 2 === 0), ev.filter(col("event_id") % 2 === 1))
    a.write.mode("append").parquet(srcDir)
    def run(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(srcDir)
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .trigger(Trigger.AvailableNow())
        .start()
      // AvailableNow drains the backlog and terminates on its own — the
      // batch-catchup trigger a periodic (e.g. nightly) ingest job uses
      assert(q.awaitTermination(120000), "query did not self-terminate")
    }
    run()
    assert(spark.read.parquet(outDir).count() == a.count())
    b.write.mode("append").parquet(srcDir) // backlog grows between runs
    run()
    // checkpointed restart processes ONLY the new files: no reprocessing,
    // no loss — output is exactly the union of both backlogs
    val out = spark.read.parquet(outDir)
    assert(out.count() == a.count() + b.count())
    assert(out.select("event_id").distinct().count() == out.count())
  }

  test("toTable sink: streaming write lands in a queryable managed table") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val ckpt = TestSession.tmp("graft_tbl_ckpt")
    val rows = eventRows().take(500)
    val stream = MemoryStream[Ev]
    stream.addData(rows)
    val q = stream.toDF().writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .toTable("graft_stream_events")
    q.processAllAvailable()
    q.stop()
    assert(spark.table("graft_stream_events").count() == rows.size)
    assert(spark.sql(
      "SELECT count(DISTINCT event_id) FROM graft_stream_events").head.getLong(0)
      == rows.map(_.event_id).distinct.size)
  }

  test("session_window streaming agg: sessions match the batch lag-islands count") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val stream = MemoryStream[Ev]
    stream.addData(eventRows())
    val got = runToMemory(StreamingOps.sessionWindows(stream.toDF()),
      "sessions_out", OutputMode.Complete())
    val batchSessions = operators.Events.qSessionize.fn(spark, sf)
    // same number of sessions per user as the lag-islands batch form
    val gotPerUser = got.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantPerUser = batchSessions.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotPerUser == wantPerUser)
  }

  test("dynamic-gap session window: stream equals batch, gaps differ by type") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val stream = MemoryStream[Ev]
    stream.addData(eventRows())
    val got = runToMemory(StreamingOps.sessionWindowsDynamic(stream.toDF()),
      "dyn_sessions_out", OutputMode.Complete())
    val want = StreamingOps.sessionWindowsDynamic(Tables.events(spark, sf))
    assert(sortedRows(got) == sortedRows(want))
    // the dynamic gap really bites: purchase-extended sessions make the
    // session count differ from the fixed-30-minute form
    val fixed = StreamingOps.sessionWindows(Tables.events(spark, sf))
    assert(want.count() != fixed.count())
  }

  test("transformWithState growth ledger converges to the batch growth accounting (q164)") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // chronological chunks: the ledger's cross-batch contract
      val rows = eventRows().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      val chunks = rows.grouped((rows.size + 2) / 3).toSeq
      val stream = MemoryStream[Ev]
      val q = StreamingOps.growthLedgerTws(stream.toDS()).toDF()
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("growth_out").start()
      chunks.foreach { c => stream.addData(c); q.processAllAvailable() }
      q.stop()
      // each (user, week) is emitted exactly once → the sink IS the ledger;
      // weekly rollup + churn (prev-week actives − retained) derive from it
      val ledger = spark.table("growth_out")
      val weekly = ledger.groupBy(col("wk_days")).agg(
        count(when(col("cls") === "new", 1)).as("n_new"),
        count(when(col("cls") === "retained", 1)).as("n_retained"),
        count(when(col("cls") === "resurrected", 1)).as("n_resurrected"),
        count(lit(1)).as("n_active"))
      val prevWk = weekly.select((col("wk_days") + 7).as("wk_days"),
        col("n_active").as("_pa"))
      val got = weekly.join(prevWk, Seq("wk_days"), "left")
        .select(col("wk_days"), col("n_new"), col("n_retained"),
          col("n_resurrected"), col("n_active"),
          coalesce(col("_pa") - col("n_retained"), lit(0L)).as("n_churned"))
        .collect()
        .map(r => r.getInt(0).toLong ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      val want = SparkEntry.queries("q164_growth_accounting")(spark, sf)
        .collect()
        .map(r => r.getDate(0).toLocalDate.toEpochDay ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      assert(got == want)
      // non-vacuous: the fixture month spans multiple ledger weeks with
      // at least one retained cohort
      assert(want.size > 1 && want.values.map(_._2).sum > 0)
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stateful streaming funnel converges to the batch funnel (q143)") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    // chronological chunks: the state machine's cross-batch contract
    val rows = eventRows().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val chunks = rows.grouped((rows.size + 2) / 3).toSeq
    val stream = MemoryStream[Ev]
    val q = StreamingOps.funnelStages(stream.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("funnel_out").start()
    chunks.foreach { c => stream.addData(c); q.processAllAvailable() }
    q.stop()
    // stage is monotone → the final state per user is the max update
    val got = spark.table("funnel_out").groupBy(col("user_id"))
      .agg(max(col("stage")).as("stage")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // batch twin: q143's shrinking stage frames
    val ev = Tables.events(spark, sf)
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "view")
      .join(s1, "user_id").where(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").where(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def users(df: DataFrame): Set[Long] =
      df.select("user_id").collect().map(_.getLong(0)).toSet
    val (u1, u2, u3) = (users(s1), users(s2), users(s3))
    val want = got.keySet.map { u =>
      u -> (if (u3(u)) 3 else if (u2(u)) 2 else if (u1(u)) 1 else 0)
    }.toMap
    assert(got.keySet == users(ev))
    assert(got == want)
    // non-vacuous: the machine actually advanced (at sf0.001 every user
    // full-funnels within the month, so parity — not spread — is the check)
    assert(got.values.max == 3)
  }

  test("exactly-once foreachBatch sink: kill after the write, before the commit — restart overwrites, no loss, no dup") {
    // foreachBatch is AT-LEAST-ONCE: a crash between the user function
    // and the checkpoint commit replays the batch. exactlyOnceParquetSink
    // lifts it to exactly-once by batch_id-partitioned overwrite. This
    // drives the exact documented crash window: the injected failure
    // fires AFTER the sink's write returns (output is on disk) but
    // BEFORE Spark commits the batch to the checkpoint — the restart
    // must replay batch 1 under the SAME id and REPLACE its directory.
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[Ev]
    val rows = eventRows().take(40)
    val (first, second) = rows.splitAt(20)
    val outDir = TestSession.tmp("graft_eos_out")
    val ckpt = TestSession.tmp("graft_eos_ckpt")
    val stream = MemoryStream[Ev]
    val killOn = new java.util.concurrent.atomic.AtomicLong(-1L)
    def start() = stream.toDF().writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        StreamingOps.exactlyOnceParquetSink(outDir)(b, id)
        if (id == killOn.getAndSet(-1L))
          throw new RuntimeException("injected kill: after write, before commit")
        ()
      }
      .start()
    val q1 = start()
    stream.addData(first)
    q1.processAllAvailable() // batch 0 commits cleanly
    killOn.set(1L)
    stream.addData(second)
    intercept[Exception] { q1.processAllAvailable() } // batch 1 dies post-write
    try q1.stop() catch { case _: Exception => () }
    // the at-least-once write DID land before the "crash" — this is the
    // torn state the idempotent sink exists for
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(outDir, "batch_id=1")),
      "the kill fired before the write — the test drove the wrong window")
    // restart from the same checkpoint: batch 1 replays under the same
    // id; mode("overwrite") on batch_id=1 replaces, never appends
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val back = spark.read.parquet(outDir)
    assert(back.count() == rows.size.toLong,
      s"${back.count()} rows after replay, want ${rows.size} (dup or loss)")
    assert(back.select("event_id").distinct().count() == rows.size.toLong)
    // and both batches are present exactly once in the partition layout
    val perBatch = back.groupBy("batch_id").count()
      .collect().map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    assert(perBatch == Map(0L -> 20L, 1L -> 20L), perBatch.toString)
  }

  test("DSv2 MicroBatchStream: admission-controlled batches drain the range (AvailableNow); a checkpointed restart resumes with no dup/loss") {
    // the custom source's streaming half: offsets ARE row ids, so a
    // replayed interval is bit-identical — the determinism exactly-once
    // ingest leans on. rowsPerBatch=300 over 1000 rows must take ≥4
    // micro-batches (admission control, not one monster batch); the
    // second start() grows the range to 2500 on the SAME checkpoint and
    // must resume at offset 1000 — appending exactly the new interval.
    import org.apache.spark.sql.streaming.Trigger
    val out = TestSession.tmp("graft_mbs_out")
    val ckpt = TestSession.tmp("graft_mbs_ckpt")
    def run(rows: Int): Unit = {
      val q = spark.readStream.format("graft.sources.DetRangeSource")
        .option("rows", rows).option("rowsPerBatch", 300).load()
        .select("id", "bucket", "kscore")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not drain in time")
    }
    run(1000)
    val back1 = spark.read.parquet(out)
    assert(back1.count() == 1000L)
    assert(back1.select("id").distinct().count() == 1000L)
    val commits = new java.io.File(s"$ckpt/commits").list()
      .count(_.forall(_.isDigit))
    assert(commits >= 4, s"only $commits micro-batches for 1000 rows at " +
      "rowsPerBatch=300 — admission control did not bound the batch")
    run(2500)
    val back2 = spark.read.parquet(out)
    assert(back2.count() == 2500L, s"${back2.count()} rows after resume")
    assert(back2.select("id").distinct().count() == 2500L,
      "resume duplicated or lost rows")
    // values stay the deterministic column functions end-to-end
    assert(back2.filter(col("kscore") =!= pmod(col("id") * 31, lit(997))
      .cast("int")).count() == 0L)
  }

  test("DSv2 streaming WRITE: custom source → custom sink loop; a killed epoch commit replays as a REPLACEMENT, no dup/loss") {
    // the fourth corner of the custom-source matrix (batch/stream ×
    // read/write): every published file carries its epoch prefix and a
    // replayed epoch DELETES its own prior files before re-publishing.
    // Deleting the epoch's commit-log entry rebuilds a crash AFTER the
    // publish, BEFORE the engine records the epoch — the exact window
    // where an append-only sink would double the epoch's rows on
    // restart.
    import org.apache.spark.sql.streaming.Trigger
    val dir = TestSession.tmp("graft_ssink")
    val ckpt = TestSession.tmp("graft_ssink_ck")
    def start(rows: Int) = spark.readStream
      .format("graft.sources.DetRangeSource")
      .option("rows", rows).option("rowsPerBatch", 250).load()
      .select(col("id"), col("bucket").cast("long").as("bucket"))
      .writeStream.format("graft.sources.CsvDirSink")
      .option("path", dir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val q1 = start(500) // epochs 0,1
    assert(q1.awaitTermination(120000))
    val schema = "id BIGINT, bucket BIGINT"
    assert(spark.read.schema(schema).csv(dir).count() == 500L)
    val q2 = start(750) // epoch 2 (rows 500..749)
    assert(q2.awaitTermination(120000))
    TestSession.forgetCommit(ckpt, 2)
    // the torn state: epoch 2's files ARE on disk, the engine never
    // committed it — exactly what the replacement semantics exist for
    val torn = new java.io.File(dir).list().count(_.startsWith("epoch=00002-"))
    assert(torn > 0, "epoch 2 published nothing — wrong window")
    val q3 = start(750) // replay of epoch 2 under the SAME id
    assert(q3.awaitTermination(120000))
    val back = spark.read.schema(schema).csv(dir)
    assert(back.count() == 750L, s"${back.count()} rows (dup or loss)")
    assert(back.select("id").distinct().count() == 750L)
    // staging swept, _SUCCESS present
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS"))
    assert(!names.exists(_.startsWith("_staging-")), names.toString)
    // O(epoch) commit contract (r14 verdict #4): each epoch's commit is
    // driven by its own `_epoch-N.manifest` — NOT a destination listing
    // — so commit cost is bounded by the epoch's own file count no
    // matter how many epochs the stream has published. Pin the
    // mechanism: every published epoch has a manifest, and each
    // manifest names exactly the epoch's live files (the replayed epoch
    // 2's manifest was rewritten by the replay to its final names).
    val epochs = names.filter(_.startsWith("epoch=")).groupBy(_.take("epoch=00000".length))
    assert(epochs.nonEmpty)
    epochs.foreach { case (ep, files) =>
      val mf = new java.io.File(dir, s"_epoch-${ep.stripPrefix("epoch=")}.manifest")
      assert(mf.isFile, s"missing manifest for $ep")
      val listed = scala.io.Source.fromFile(mf, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toSet
      assert(listed == files.toSet,
        s"$ep manifest ${listed.mkString(",")} != published ${files.mkString(",")}")
    }
  }
}
