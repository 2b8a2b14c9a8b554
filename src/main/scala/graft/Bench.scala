package graft

import scala.util.control.NonFatal

/** Driver-run benchmark: wall-clock per SparkEntry query at the given
  * scale factor, one shared session, one JSON line to stdout.
  *
  * One cold pass + three warm passes; the headline per-query number is
  * the MEDIAN of the warm passes. The cold pass pays each query's
  * one-time cost — codegen, plan cache, JIT; warm is the marginal
  * per-query cost: at 100 TB a query's runtime is data-bound, so the
  * per-action constant the cold pass measures on 100 MB fixtures is
  * floor, not signal (BASELINE.md §3). Median-of-3 because the bench
  * shares the machine with the driver's own verify/oracle work: r2's
  * driver run reported 43 s for a query that takes 1.2 s warm on an
  * idle machine (every pass re-measured, plans unchanged) — a single
  * contended pass must not become the round's number. The fixture
  * tables are cached once up front (untimed prep): every query
  * re-derives the same scan plan, so Spark's CacheManager substitutes
  * the in-memory relation — the cross-query analog of scan reuse a
  * warm cluster gets from the OS page cache + parquet footer caching. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)
    val ckptDir = spark.conf.get(graft.operators.Scale.CheckpointDirKey)
    Harness.cacheFixtures(spark, sfDir) // a bad sfDir → queries report -1 below

    // Environment sentinel (r8 directive): every r5–r8 round that ran
    // on a contended box re-litigated "is the inversion the plan or the
    // machine?" from scratch. Record, per query per pass, the 1-minute
    // load average at timing start, the GC milliseconds spent INSIDE
    // the timed region, and block-manager storage occupancy before and
    // after — the artifact itself then decides the dispute: a 7× warm
    // inversion with load≈40 or gc_ms≈15000 is the machine; one with
    // load≈8 and flat gc is the plan.
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case NonFatal(_) => -1.0 }
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val sc = spark.sparkContext
    def bmUsedMb(): Long =
      sc.getExecutorMemoryStatus.values
        .map { case (max, remaining) => max - remaining }.sum >> 20

    // Per-query shuffle/spill/peak-memory measurement (r14 verdict
    // task 2): the round-14 attribution ledger classified every slow
    // query in prose (PAIRS/ITER/TOK…); these counters turn the classes
    // into numbers the artifact itself carries, so any future
    // regression question ("did the shuffle grow or the box slow
    // down?") is answerable from BENCH_DETAIL.json alone. A
    // SparkListener accumulates task metrics; deltas are snapshotted
    // around each query's timed region. The listener bus is ASYNC —
    // flush() drains it before every snapshot so task-end events land
    // in the query that ran them. (waitUntilEmpty is private[spark],
    // which erases to a public method in bytecode; reflection keeps
    // this harness-only trick out of the library surface. If the
    // method ever vanishes, the fallback is a no-op and the metrics
    // degrade to ±1-query attribution slop rather than failing the
    // bench.)
    object taskMetrics extends org.apache.spark.scheduler.SparkListener {
      val shufReadB = new java.util.concurrent.atomic.AtomicLong(0L)
      val shufWriteB = new java.util.concurrent.atomic.AtomicLong(0L)
      val memSpillB = new java.util.concurrent.atomic.AtomicLong(0L)
      val diskSpillB = new java.util.concurrent.atomic.AtomicLong(0L)
      val peakExecB = new java.util.concurrent.atomic.AtomicLong(0L) // max per window
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          memSpillB.addAndGet(m.memoryBytesSpilled)
          diskSpillB.addAndGet(m.diskBytesSpilled)
          peakExecB.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
        }
      }
    }
    sc.addSparkListener(taskMetrics)
    val flushBus: () => Unit =
      try {
        val busM = sc.getClass.getMethod("listenerBus")
        val bus = busM.invoke(sc)
        val waitM = bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        // the INVOCATION is guarded too: waitUntilEmpty(timeout) throws
        // TimeoutException when a contended box can't drain the queue in
        // 30 s — that must degrade to attribution slop on this one
        // query, never abort the whole 4-pass run
        () => {
          try { waitM.invoke(bus, java.lang.Long.valueOf(30000L)); () }
          catch { case NonFatal(_) => () }
        }
      } catch { case NonFatal(_) =>
        try { // fallback signature: no-arg waitUntilEmpty
          val busM = sc.getClass.getMethod("listenerBus")
          val bus = busM.invoke(sc)
          val waitM = bus.getClass.getMethod("waitUntilEmpty")
          () => {
            try { waitM.invoke(bus); () }
            catch { case NonFatal(_) => () }
          }
        } catch { case NonFatal(_) => () => () }
      }
    final case class TaskSnap(shufR: Long, shufW: Long, memSp: Long,
        diskSp: Long) {
      def -(o: TaskSnap): TaskSnap = TaskSnap(shufR - o.shufR,
        shufW - o.shufW, memSp - o.memSp, diskSp - o.diskSp)
    }
    def taskSnap(): TaskSnap = TaskSnap(taskMetrics.shufReadB.get,
      taskMetrics.shufWriteB.get, taskMetrics.memSpillB.get,
      taskMetrics.diskSpillB.get)

    final case class Sample(sec: Double, load: Double, gc: Long,
        bm0: Long, bm1: Long, tm: TaskSnap, peakExec: Long)
    // Deterministic execution order (sorted by name) for stable runs;
    // Harness.runEach sweeps after each query, untimed: cleanup is bench
    // overhead, not query cost. Pass 1 is the cold pass.
    val queries = SparkEntry.queries
    def pass(n: Int): Seq[(String, Sample)] =
      Harness.runEach(spark, queries.keys.toSeq.sorted) { name =>
        val fn = queries(name)
        flushBus() // drain task-end events from the previous query
        taskMetrics.peakExecB.set(0L)
        val snap0 = taskSnap()
        val (la, g0, b0) = (loadAvg(), gcMs(), bmUsedMb())
        val t0 = System.nanoTime()
        val failure = try { fn(spark, sfDir).count(); None }
          catch { case NonFatal(e) => Some(e) }
        val sec = (System.nanoTime() - t0) / 1e9
        flushBus() // attribute THIS query's task-end events to it
        failure.foreach(e => System.err.println(
          s"Bench $name pass $n failed: ${e.getClass.getName}: ${e.getMessage}"))
        Sample(if (failure.isEmpty) sec else -1.0, la, gcMs() - g0, b0,
          bmUsedMb(), taskSnap() - snap0, taskMetrics.peakExecB.get)
      }
    val loadStart = loadAvg()
    val cold = pass(1)
    val warms = Seq(pass(2), pass(3), pass(4))
    val loadEnd = loadAvg()
    // a query that failed in any pass is -1 per-query AND excluded from
    // both totals, so "value" always equals the sum of the positive
    // per-query entries it reports
    def median3(xs: Seq[Double]): Double = xs.sorted.apply(1)
    def fmt(v: Double) = // Locale.ROOT: a comma-decimal default locale
      // would emit "0,123" and re-break the JSON line this fixes
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def fmt1(v: Double) =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val merged = cold.indices.map { i =>
      val (k, c) = cold(i)
      val ws = warms.map(_(i)._2)
      val all = c +: ws // cold + 3 warm samples, pass order
      val (cSec, wSec) =
        if (c.sec < 0 || ws.exists(_.sec < 0)) (-1.0, -1.0)
        else (c.sec, median3(ws.map(_.sec)))
      (k, cSec, wSec, all)
    }
    def total(pick: ((String, Double, Double, Seq[Sample])) => Double) =
      merged.map(pick).filter(_ >= 0).sum
    // Full per-query detail (all queries, cold + warm + per-pass
    // sentinel arrays) goes to a file: the driver's stdout capture
    // keeps only the LAST 2000 chars, so a single JSON line carrying
    // every query never survives intact (BENCH_r1..r3 all show
    // "parsed": null for exactly this reason).
    val detail = merged.map { case (k, c, w, all) =>
      val secs = all.map(s => fmt(s.sec)).mkString("[", ",", "]")
      val loads = all.map(s => fmt1(s.load)).mkString("[", ",", "]")
      val gcs = all.map(_.gc.toString).mkString("[", ",", "]")
      val bm0 = all.map(_.bm0.toString).mkString("[", ",", "]")
      val bm1 = all.map(_.bm1.toString).mkString("[", ",", "]")
      // per-pass task-metric deltas, MB (>>20). shuffle read/write are
      // the query's real exchange traffic; spill>0 means partitions
      // outgrew execution memory (the at-scale red flag); peak_exec is
      // the largest single task's unsafe-memory high-water mark
      def mb(pick: Sample => Long) =
        all.map(s => (pick(s) >> 20).toString).mkString("[", ",", "]")
      val shufR = mb(_.tm.shufR)
      val shufW = mb(_.tm.shufW)
      val spillM = mb(_.tm.memSp)
      val spillD = mb(_.tm.diskSp)
      val peak = mb(_.peakExec)
      s"\"" + k + "\":{\"cold\":" + fmt(c) + ",\"warm\":" + fmt(w) +
        ",\"sec\":" + secs + ",\"load\":" + loads + ",\"gc_ms\":" + gcs +
        ",\"bm0_mb\":" + bm0 + ",\"bm1_mb\":" + bm1 +
        ",\"shuf_r_mb\":" + shufR + ",\"shuf_w_mb\":" + shufW +
        ",\"spill_mem_mb\":" + spillM + ",\"spill_disk_mb\":" + spillD +
        ",\"peak_exec_mb\":" + peak + "}"
    }.mkString("{", ",", "}")
    val detailPath = java.nio.file.Paths.get("BENCH_DETAIL.json")
    java.nio.file.Files.write(detailPath,
      (s"""{"sf":"$sfDir","warm_stat":"median_of_3","cpus":$cpus,""" +
        s""""load_start":${fmt1(loadStart)},"load_end":${fmt1(loadEnd)},""" +
        s""""ckpt":"reliable_disk","ckpt_dir":"${
          ckptDir.replace("\\", "\\\\").replace("\"", "\\\"")}",""" +
        s""""queries":$detail}""").getBytes("UTF-8"))
    // Final stdout line stays compact (< ~700 chars): totals + the
    // BASELINE.md §3 anchor queries, so it parses from a 2000-char tail.
    val anchors = Seq("q1_pricing_summary", "q3_join3_revenue_top10",
      "q21_window_topk_per_customer", "q43_tumbling_1h", "q11_count_distinct",
      "t49_token_counts", "t51_exact_dedup_stats", "v61_cosine_topk")
    val byName = merged.map(m => m._1 -> m._3).toMap
    val qs = anchors.flatMap(a => byName.get(a).map(v => s"\"" + a + "\":" + fmt(v)))
      .mkString("{", ",", "}")
    val nFail = merged.count(_._3 < 0)
    println(s"""{"metric":"total","value":${fmt(total(_._3))},"unit":"sec","queries":$qs,"sf":"$sfDir","cold_total":${fmt(total(_._2))},"passes":4,"warm_stat":"median_of_3","n_queries":${merged.size},"n_failed":$nFail,"load_start":${fmt1(loadStart)},"load_end":${fmt1(loadEnd)},"detail":"BENCH_DETAIL.json"}""")
    Harness.close(spark)
  }
}
