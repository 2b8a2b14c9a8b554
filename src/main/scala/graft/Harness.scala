package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.operators.Scale

/** The one way a graft main builds its session, caches the fixture
  * tables, runs its query loop and cleans up. Bench, Verify, Scratch,
  * PlanDump, BaselineSpark, ScalingProbe, GenScale and ScaleSmoke all
  * go through it, so every tool times and checks queries under the
  * planner setup the bench runs. */
object Harness {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Harness")

  /** Core count for every main: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  /** A `local[cpus]` session with one shuffle partition per core, quiet
    * logs and a warmed JVM. */
  def session(cpus: Int): SparkSession = {
    // Iterative queries cut lineage via Scale.cut. Under the harness,
    // route those cuts to RELIABLE disk checkpoints instead of the
    // localCheckpoint default: localCheckpoint persists its blocks in
    // the unified-memory block manager, where they (a) crowd execution
    // memory INSIDE the owning query's own timed region and (b) emit
    // "cannot be recomputed after unpersisting" warnings at sweep time
    // that read like eviction pathology in the bench and verify tails
    // (r8 verdict: t105 17.97 s warm vs 2.50 s cold with exactly those
    // warnings in the tail, localCheckpoint debris the prime suspect).
    // Disk-backed cuts take block-manager occupancy out of the
    // equation entirely — what remains on an inverted timing is the
    // machine, and Bench's sentinel fields make that visible.
    // tmpfs-preferring dir (see Scale.harnessCheckpointDir): checkpoint
    // writeback on the fixture disk perturbs queries that never
    // checkpoint.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // events.ts may ship as parquet TIMESTAMP(NANOS); the loader's
      // Long branch (Tables.events) needs this read flag, set once at
      // session construction so loaders stay pure (r8 advisory).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // recursion row cap sized to the certified workloads: q213's
      // reach is O(|orderkey domain|) and the sf1 differential corpus
      // has 1.5M keys — past the 1M default. 32M keeps the
      // runaway-recursion backstop loud while covering every fixture
      // this harness certifies (set HERE, not inside the query — a
      // registered query must not weaken the session's backstop for
      // everything else; r15 review)
      .config("spark.sql.cteRecursionRowLimit", "32000000")
      // storage-partitioned joins (q235 + the clustered-lake surfaces):
      // the two v2-bucketing confs are GLOBAL session configuration so
      // every query runs under one planner setup — set once here, never
      // from inside a registered query (r17 advisory: a q235-local set
      // leaked and made later queries order-dependent). Only
      // KeyGroupedPartitioning-reporting scans react to them.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config(Scale.CheckpointDirKey, Scale.harnessCheckpointDir())
      // reap superseded checkpoint files when their RDDs are GC'd, so
      // 4 passes × ~6 cutting queries don't accumulate on disk mid-run
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Two benign per-pass warnings would otherwise dominate the bench
    // tail and bury real ones (r16 verdict, carried nit): the V2
    // pushdown of a constant-true residual ("Can't translate true to
    // source filter" — correct behavior: untranslatable residuals are
    // re-evaluated row-side) and the function registry's note that a
    // re-registered UDF replaced itself (each pass re-registers the
    // same definitions). Both logger names to ERROR; everything else
    // stays at WARN so genuine warnings still surface.
    Seq("org.apache.spark.sql.execution.datasources.v2.DataSourceV2Strategy",
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistryBase")
      .foreach(n => org.apache.logging.log4j.core.config.Configurator
        .setLevel(n, org.apache.logging.log4j.Level.ERROR))
    // Warm the JVM once (classloading, parquet reader, codegen infra)
    // so the first measured query isn't charged ~15s of one-time cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** Cache and materialize the ten fixture tables of `sfDir`. Every
    * query re-derives the same scan plan, so Spark's CacheManager
    * substitutes the in-memory relation. A bad `sfDir` is not an error
    * here: the queries that read it fail and report it. */
  def cacheFixtures(spark: SparkSession, sfDir: String): Unit =
    try {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
        .foreach(n => Tables.t(spark, sfDir, n).cache().count())
      Tables.events(spark, sfDir).cache().count()
    } catch { case NonFatal(_) => () } // an OOM must surface, not read as "all failed"

  /** Run `f` on each name in order, sweeping after each one (also when
    * `f` throws). The sweep returns the session to the state it had
    * when `runEach` was entered, so every query starts from the same
    * block-manager state:
    *   - Dataset level first ([[Scale.releasePins]]): removes each
    *     pinned frame's CacheManager ENTRY along with its blocks. The
    *     RDD-level pass alone would leave the entry behind, and the next
    *     run's identical plan would substitute a stale InMemoryRelation
    *     whose storage level was zeroed — every consumer then recomputes
    *     the lineage AND rebuilds columnar batches with no reuse (the
    *     r10 t54 warm>cold inversion).
    *   - RDD level: a BLOCKING unpersist of every RDD that was not
    *     persisted on entry (the fixture caches were). The r7 bench
    *     showed warm>cold inversions (q9 1.46→3.06 s with unchanged
    *     plans) because an async unpersist lets block removal land
    *     inside the NEXT query's timed region; the sweep is untimed, so
    *     paying the wait here is free. With cuts routed to disk (see
    *     [[session]]) this pass only catches explicit persists, and the
    *     block manager holds the fixtures plus at most one query's
    *     working set at any instant.
    *   - [[Scale.reapCheckpoints]]: the reference-tracking cleaner
    *     deletes rdd-* dirs only when the JVM happens to GC the RDD
    *     reference, so files (on tmpfs: memory) accumulate until a
    *     late-run GC — the pass-4 slowdowns in the CC family tracked
    *     exactly this. Post-sweep nothing can read an old checkpoint
    *     again, so an eager delete is safe.
    * A `Dataset.persist()` outside [[Scale.pin]] that the query did not
    * unpersist loses its blocks to the RDD pass, but its CacheManager
    * entry stays: every later run of that plan reads through a stale,
    * storage-less InMemoryRelation. The sweep cannot drop the entry
    * without the Dataset, so it logs a WARN naming the query that
    * grew the entry count and the surplus over the entry-time count. */
  def runEach[T](spark: SparkSession, names: Seq[String])(
      f: String => T): Seq[(String, T)] = {
    val sc = spark.sparkContext
    val kept = sc.getPersistentRDDs.keySet
    def cacheEntries = org.apache.spark.sql.graftshim.Shim.numCachedEntries(spark)
    val keptEntries = cacheEntries
    var seenEntries = keptEntries
    names.map { name =>
      try name -> f(name)
      finally {
        Scale.releasePins()
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!kept.contains(id)) rdd.unpersist(blocking = true)
        }
        Scale.reapCheckpoints(spark)
        val entries = cacheEntries
        if (entries > seenEntries)
          log.warn(s"$name left ${entries - seenEntries} CacheManager " +
            s"entries after the sweep (${entries - keptEntries} above " +
            "runEach entry): a persist() outside Scale.pin that was " +
            "never unpersisted; later runs of its plan read a stale " +
            "InMemoryRelation")
        seenEntries = entries
      }
    }
  }

  /** Stop the session, then delete its checkpoint directory: a few
    * hundred MB of superseded cut files (on tmpfs: memory) that would
    * otherwise outlive the JVM and pile up across runs. */
  def close(spark: SparkSession): Unit = {
    val dir = spark.conf.getOption(Scale.CheckpointDirKey)
    spark.stop()
    dir.foreach(d => deleteTree(Paths.get(d)))
  }

  /** Best-effort recursive delete; a missing path is a no-op. */
  private[graft] def deleteTree(root: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      if (Files.exists(root))
        Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
    } catch { case NonFatal(_) => () }
}
