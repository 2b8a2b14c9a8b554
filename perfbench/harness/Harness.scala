package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Q, SparkEntry, Tables}
import graft.operators.Scale

/** The two workloads. Query names are fixed here, not derived from the
  * registry order, so that a query registered later leaves them alone.
  * `fixtures` is every table the workload's queries read; only those are
  * cached at set-up. */
final case class Workload(queries: Seq[String], fixtures: Seq[String])

object Workloads {
  /** Every 5th query, from the first, of Relational ++ Joins ++ Windows ++
    * SortsSets in registration order: short read-only queries over cached
    * fixtures, dominated by per-query fixed cost. */
  val floor = Workload(
    Seq("q1_pricing_summary", "q6_full_outer_join", "q98_combine_first",
      "q175_local_supplier_revenue", "q23_window_cumsum", "q92_ffill_bfill",
      "q123_group_cumcount", "q140_rank_average", "q27_topk_orders",
      "q32_distinct_projection", "q89_tail"),
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem",
      "events"))

  /** A driver-coordinated loop (t63's connected components: Scale cuts and
    * checkpoints) plus every 5th LakeOps query (DML, commits and a read-back
    * of the same LakeTable over DetRangeSource). v68's k-means loop is left
    * out so that a run fits the time a run may take. */
  val loopsLake = Workload(
    Seq("t63_dedup_clusters", "q225_lake_scan_prune",
      "q231_lake_stats_agg", "q236_lake_change_feed", "q241_lake_compact",
      "q246_lake_zorder", "q251_lake_check", "q256_lake_ndv"),
    Seq("documents"))

  val byName: Map[String, Workload] =
    Map("floor" -> floor, "loops_lake" -> loopsLake)

  def lake(query: String): Boolean = query.contains("_lake_")

  def read(spark: SparkSession, dir: String, table: String) =
    if (table == "events") Tables.events(spark, dir) else Tables.t(spark, dir, table)

  def queries(names: Seq[String]): Seq[Q] = {
    val reg = SparkEntry.registry.map(q => q.name -> q).toMap
    names.map(n => reg.getOrElse(n,
      throw new IllegalArgumentException(s"query $n is not registered")))
  }
}

/** Set-up shared by every entry point: graft.Bench's session confs, its
  * JVM warm-up action, and the fixture caches of one workload. */
object Setup {
  val fixtureDir: String =
    Paths.get("perfbench", "fixtures", "sf0.01").toAbsolutePath.toString

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.cteRecursionRowLimit", "32000000")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config(Scale.CheckpointDirKey, Scale.harnessCheckpointDir())
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("org.apache.spark.sql.execution.datasources.v2.DataSourceV2Strategy",
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistryBase")
      .foreach(n => org.apache.logging.log4j.core.config.Configurator
        .setLevel(n, org.apache.logging.log4j.Level.ERROR))
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  def cacheFixtures(spark: SparkSession, w: Workload): Unit =
    w.fixtures.foreach(t => Workloads.read(spark, fixtureDir, t).cache().count())
}

/** Order-insensitive digest of a query's collected rows: the row count and
  * the sum, mod 2^64, of a SHA-256 prefix of each row's canonical text. */
final case class Digest(rows: Long, hash: String) {
  override def toString = s"$rows rows, hash $hash"
}

object Digest {
  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  def of(rows: Array[Row]): Digest = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sum = rows.iterator.map { r =>
      java.nio.ByteBuffer.wrap(md.digest(render(r).getBytes("UTF-8"))).getLong
    }.sum
    Digest(rows.length, f"$sum%016x")
  }

  /** `perfbench/expected.tsv`: name, row count, hash per line. */
  val expectedPath: Path = Paths.get("perfbench", "expected.tsv")

  def expected(): Map[String, Digest] =
    Files.readAllLines(expectedPath).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, rows, hash) = l.split('\t')
      n -> Digest(rows.toLong, hash)
    }.toMap
}

/** A query whose output differs from its recorded digest. */
final class OutputMismatch(msg: String) extends RuntimeException(msg)

/** One timed query run. Times are epoch microseconds so that they line up
  * with listener events; `failure` is (exception class, message). */
final case class QueryRun(query: String, pass: Int, startUs: Long,
    buildEndUs: Long, endUs: Long, cleanupEndUs: Long,
    failure: Option[(String, String)]) {
  def wallS: Double = (endUs - startUs) / 1e6
  def buildMs: Double = (buildEndUs - startUs) / 1e3
  def actionMs: Double = (endUs - buildEndUs) / 1e3
  def cleanupMs: Double = (cleanupEndUs - endUs) / 1e3
}

object QueryRun {
  /** Every failed run, as a record row: a mismatch or an exception is one
    * failed operation with its class and message. */
  def failures(runs: Seq[QueryRun]): Seq[Map[String, Any]] =
    runs.flatMap(r => r.failure.map { case (c, m) =>
      Map("query" -> r.query, "pass" -> r.pass, "class" -> c, "message" -> m) })
}

/** Runs, checks and cleans up one query at a time, as graft.Bench does:
  * the timed region is `fn` plus `collect()` of the plan it returns; the
  * digest check and the cleanup sweep are untimed. With a tracer, each
  * phase runs under its own job group so that jobs can be attributed. */
final class Runner(spark: SparkSession, expected: Map[String, Digest],
    tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  val pinned: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def phase(pass: Int, query: String, name: String): Unit =
    tracer.foreach(_ => sc.setJobGroup(Tracer.group(pass, query, name), name))

  def run(q: Q, pass: Int): QueryRun = {
    // nanoTime for the durations, one Instant to place them on the
    // listener's epoch clock
    val base = nowUs()
    val n0 = System.nanoTime()
    def at(n: Long) = base + (n - n0) / 1000
    phase(pass, q.name, "build")
    var n1 = n0
    var n2 = n0
    val failure = try {
      val df = q.fn(spark, Setup.fixtureDir)
      n1 = System.nanoTime()
      phase(pass, q.name, "action")
      val rows = df.collect()
      n2 = System.nanoTime()
      val got = Digest.of(rows)
      expected.get(q.name) match {
        case Some(want) if want == got => None
        case want => throw new OutputMismatch(
          s"${q.name}: got $got, expected ${want.getOrElse("no record")}")
      }
    } catch {
      case NonFatal(e) =>
        val now = System.nanoTime()
        if (n1 == n0) n1 = now
        if (n2 == n0) n2 = now
        Some((e.getClass.getName, String.valueOf(e.getMessage)))
    }
    phase(pass, q.name, "cleanup")
    tracer.foreach(_.beforeCleanup(pass, q.name, base))
    sweep()
    val n3 = System.nanoTime()
    if (tracer.nonEmpty) sc.clearJobGroup()
    QueryRun(q.name, pass, base, at(n1), at(n2), at(n3), failure)
  }

  /** graft.Bench's sweep: release pins, drop every persisted RDD but the
    * fixtures', reap finished checkpoints. */
  def sweep(): Unit = {
    Scale.releasePins()
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinned.contains(id)) rdd.unpersist(blocking = true)
    }
    Scale.reapCheckpoints(spark)
  }
}

/** Resources a run leaves behind after its sweeps (ROADMAP item 4's
  * "before" number). */
object Hygiene {
  /** CacheManager entries; the list is private, so by reflection. */
  def entries(spark: SparkSession): Int = {
    val mgr = spark.sharedState.cacheManager
    val f = mgr.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(mgr).asInstanceOf[scala.collection.Seq[_]].size
  }

  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def bytes(root: Path): Long = files(root).map(Files.size).sum

  def checkpointDir(spark: SparkSession): Option[Path] =
    spark.sparkContext.getCheckpointDir.map(d => Paths.get(new java.net.URI(d).getPath))

  /** graft_* entries the library made in the run's temp dir, other than
    * the checkpoint base. */
  def graftDirs(spark: SparkSession): Seq[Path] = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val ckptBase = spark.conf.get(Scale.CheckpointDirKey)
    val s = Files.list(tmp)
    try s.iterator.asScala.filter { p =>
      p.getFileName.toString.startsWith("graft_") && !ckptBase.startsWith(p.toString)
    }.toList
    finally s.close()
  }

  /** (leaked RDDs and CacheManager entries, leaked files and dirs). */
  def probe(spark: SparkSession, pinned: Set[Int], fixtureEntries: Int): (Int, Int) = {
    val rdds = (spark.sparkContext.getPersistentRDDs.keySet.toSet -- pinned).size +
      (entries(spark) - fixtureEntries)
    val ckptFiles = checkpointDir(spark).map(files(_).size).getOrElse(0)
    (rdds, ckptFiles + graftDirs(spark).size)
  }
}

/** Host-speed sentinel: steal and load from /proc, and two fixed probes
  * that touch no graft or Spark code, so no library change can move them. */
object Sentinel {
  private def procCpu(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f.take(8).sum, if (f.length > 7) f(7) else 0L) // (total jiffies, steal)
  }

  private var last = procCpu()

  /** Steal share of all CPU time since the previous call. */
  def steal(): Double = {
    val now = procCpu()
    val (dt, ds) = (now._1 - last._1, now._2 - last._2)
    last = now
    if (dt > 0) ds.toDouble / dt else 0.0
  }

  def load1(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble

  @volatile private var sink = 0L

  /** Allocation-free integer mixing loop. */
  def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e6
  }

  private lazy val ring: Array[Int] = {
    // one random cycle over 8 M ints (32 MB): every step is a cache miss
    val n = 1 << 23
    val perm = Array.tabulate(n)(identity)
    val rnd = new java.util.Random(7)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val next = new Array[Int](n)
    i = 0
    while (i < n) { next(perm(i)) = perm((i + 1) % n); i += 1 }
    next
  }

  /** Dependent loads around a 32 MB random cycle: memory latency bound. */
  def memProbeMs(): Double = {
    val r = ring
    val t0 = System.nanoTime()
    var p = 0
    var i = 0
    while (i < 1000000) { p = r(p); i += 1 }
    sink = p
    (System.nanoTime() - t0) / 1e6
  }

  /** One sentinel sample: steal since the last sample, load, both probes. */
  def sample(at: String): Map[String, Any] =
    Map("at" -> at, "steal_share" -> steal(), "load1" -> load1(),
      "cpu_probe_ms" -> cpuProbeMs(), "mem_probe_ms" -> memProbeMs())
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case (a, b) => apply(Seq(a, b))
    case x => apply(x.toString)
  }
}

/** One benchmark run in a fresh JVM:
  *   1. set-up (session + this workload's fixture caches) = `setup_s`;
  *   2. one cold pass in listed order;
  *   3. warm passes, each in an order drawn from the seed. The first
  *      [[Harness.JitPasses]] are not measured; measured passes continue
  *      until `--seconds` of measured pass time, and at least two are made.
  * The last stdout line is `RECORD <json>`. */
object Harness {
  /** Warm passes still on the JIT curve. Over about 60 runs per workload
    * on a 4-core box, warm pass 1 ran a median 18% (floor) and 16%
    * (loops_lake) slower than pass 3, and pass 2 ran 7% and 2% slower. A
    * second unmeasured pass would cost 7–11 s a run, which the benchmark's
    * total time budget does not leave. */
  val JitPasses = 1
  /** Stop starting passes past this point so that a run ends well inside
    * the 180 s a run may take, JVM start and exit included. */
  val DeadlineS = 150.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wName = opts("workload")
    val w = Workloads.byName.getOrElse(wName,
      throw new IllegalArgumentException(s"unknown workload $wName"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Sentinel.steal() // steal in the "setup" sample covers set-up only

    val t0 = System.nanoTime()
    val spark = Setup.session()
    val t1 = System.nanoTime()
    val tracer = if (traced) Some(new Tracer(spark)) else None
    Setup.cacheFixtures(spark, w)
    val t2 = System.nanoTime()
    val setupS = (t2 - t0) / 1e9
    val fixtureEntries = Hygiene.entries(spark)

    val sentinel = mutable.ArrayBuffer(Sentinel.sample("setup"))
    val runner = new Runner(spark, Digest.expected(), tracer)
    val queries = Workloads.queries(w.queries)
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs() = gcBeans.map(_.getCollectionTime).sum.toDouble

    final case class Pass(index: Int, runs: Seq[QueryRun], gcMs: Double,
        jitMs: Double, readMs: Double) {
      // every run counts, failed ones too, so that a failure cannot read
      // as a speed-up
      def seconds: Double = runs.map(_.wallS).sum
    }
    def pass(index: Int, order: Seq[Q]): Pass = {
      val (g0, j0) = (gcMs(), jit.getTotalCompilationTime.toDouble)
      val runs = order.map(q => runner.run(q, index))
      val (g1, j1) = (gcMs(), jit.getTotalCompilationTime.toDouble)
      val reads = tracer.map(_.timeReads(index, w.fixtures)).getOrElse(0.0)
      tracer.foreach(_.afterPass(index))
      sentinel += Sentinel.sample(s"pass$index")
      Pass(index, runs, g1 - g0, j1 - j0, reads)
    }

    val cold = pass(0, queries)
    val rnd = new java.util.Random(seed)
    def shuffled() = {
      val l = new java.util.ArrayList(queries.asJava)
      java.util.Collections.shuffle(l, rnd)
      l.asScala.toSeq
    }
    val warm = mutable.ArrayBuffer[Pass]()
    var measuredS = 0.0
    def measured = warm.drop(JitPasses)
    while ((measured.size < 2 || measuredS < seconds) &&
      (warm.isEmpty || sinceStartS + 1.5 * warm.last.seconds < DeadlineS)) {
      val p = pass(warm.size + 1, shuffled())
      warm += p
      if (warm.size > JitPasses) measuredS += p.seconds
    }
    val (leakedRdds, leakedFiles) = Hygiene.probe(spark, runner.pinned, fixtureEntries)

    val allRuns = (cold +: warm.toSeq).flatMap(_.runs)
    val failures = QueryRun.failures(allRuns)
    val timed = measured.flatMap(_.runs)
    val perQuery = timed.groupBy(_.query).map { case (q, rs) => q -> median(rs.map(_.wallS).toSeq) }
    val passS = measured.map(_.seconds).toSeq
    val endToEnd = Map(
      "setup_s" -> Map("value" -> setupS, "unit" -> "s", "n" -> 1),
      "cold_pass_s" -> Map("value" -> cold.seconds, "unit" -> "s", "n" -> 1),
      "warm_pass_s" -> Map("value" -> median(passS), "unit" -> "s", "n" -> passS.size),
      "query_p50_s" -> Map("value" -> median(timed.map(_.wallS).toSeq), "unit" -> "s",
        "n" -> timed.size),
      "query_geomean_s" -> Map("value" ->
        math.exp(perQuery.values.map(math.log).sum / perQuery.size), "unit" -> "s",
        "n" -> perQuery.size))
    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val layers = tracer.map(_.layers(((t1 - t0) / 1e6, (t2 - t1) / 1e6), cold.jitMs,
      measured.map(p => (p.index, p.gcMs, p.readMs)).toSeq, measured.flatMap(_.runs).toSeq,
      peakRssMb, (leakedRdds, leakedFiles), sentinel.toSeq)).getOrElse(Map.empty)
    val record = Map(
      "workload" -> wName, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "attempted" -> allRuns.size, "failed" -> failures.size, "failures" -> failures,
      "end_to_end" -> endToEnd, "per_layer" -> layers,
      "jit_passes" -> JitPasses,
      "warm_passes_s" -> warm.map(_.seconds).toSeq,
      "first_last_measured" -> (if (passS.size >= 2) passS.head / passS.last else Double.NaN),
      "query_warm_s" -> perQuery,
      "sentinel" -> sentinel.toSeq,
      "hygiene" -> Map("leaked_rdds" -> leakedRdds, "leaked_files" -> leakedFiles),
      "spans" -> tracer.map(_.spans(allRuns)).getOrElse(Nil),
      "setup_ms" -> Map("session" -> (t1 - t0) / 1e6, "fixtures" -> (t2 - t1) / 1e6))
    spark.stop()
    println("RECORD " + Json(record))
  }
}
