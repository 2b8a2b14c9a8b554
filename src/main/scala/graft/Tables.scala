package graft

import scala.collection.mutable
import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftshim.Shim

/** Parquet table loaders for the driver fixture set (TESTDATA.md).
  *
  * A fixture is a single parquet file, or a directory of part files
  * (GenScale's multi-file corpus), per table. Catalyst handles column
  * pruning + predicate pushdown on these scans automatically.
  *
  * Resolution cache: `spark.read.parquet` infers the schema with a Spark
  * job, lists the files and looks the data source up on every call, so
  * [[t]] does that once per (session, qualified path) and keeps the
  * resolved `LogicalRelation`. Every read returns a `newInstance()` of it
  * (fresh exprIds, so self-joins resolve and CacheManager still
  * substitutes a cached fixture). The entry is checked on every read
  * against a fingerprint: modification time and length of the path and,
  * for a directory, of every file below it, plus the session's explicitly
  * set parquet/file-source confs (they shape schema inference). A changed
  * fingerprint re-resolves. An entry is served only to the session that
  * resolved it (the relation carries its session); entries of stopped
  * sessions are dropped on the next access. A path that cannot be
  * fingerprinted is read uncached, so a missing path fails exactly as a
  * bare `spark.read.parquet` does, and failures are never cached.
  *
  * Timestamp-type contract: `events.ts` is an EVENT INSTANT and is
  * normalized to session-TZ TIMESTAMP whatever physical encoding the
  * fixture ships (see [[events]] — the r7 regeneration changed it under
  * us). `lineitem.l_shipdate` / `orders.o_orderdate` are CALENDAR dates
  * and stay as read (µs-NTZ in the current fixture — pandas' naive
  * default); every consumer uses comparisons and date-part functions,
  * which NTZ supports, and SourcesSpec's fixture-contract test pins
  * that these columns load and analyze so a future encoding change
  * fails one named test instead of a query sweep.
  *
  * Replaces the reference's data access: user scripts received a cluster handle and loaded data themselves (bin/dask-ssh-docker:77-99); here the fixture tables are the corpus (repo TESTDATA.md).
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    functions.GraftFunctions.ensureRegistered(spark)
    parquet(spark, s"$dir/$name.parquet")
  }

  /** What a resolved relation was resolved against: (path, mtime, length)
    * of the root and every file below it, and the read confs. */
  private final case class Fingerprint(files: Seq[(String, Long, Long)],
      confs: Map[String, String])

  private val ReadConfPrefixes = Seq("spark.sql.parquet.",
    "spark.sql.legacy.parquet.", "spark.sql.files.", "spark.sql.sources.",
    "spark.sql.caseSensitive")

  private val resolved =
    mutable.HashMap.empty[(SparkSession, String), (Fingerprint, LogicalRelation)]

  private def fingerprint(spark: SparkSession, fs: FileSystem,
      path: HPath): Fingerprint = {
    def leaves(p: HPath): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) leaves(st.getPath)
        else Seq((st.getPath.toString, st.getModificationTime, st.getLen))
      }
    val root = fs.getFileStatus(path)
    val files = (path.toString, root.getModificationTime, root.getLen) +:
      (if (root.isDirectory) leaves(path) else Nil)
    Fingerprint(files, spark.sessionState.conf.getAllConfs.filter {
      case (k, _) => ReadConfPrefixes.exists(k.startsWith) })
  }

  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val hp = new HPath(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = (spark, fs.makeQualified(hp).toString)
    val fp = Try(fingerprint(spark, fs, hp)).toOption
    val hit = resolved.synchronized {
      resolved.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
      resolved.get(key).collect { case (f, rel) if fp.contains(f) => rel }
    }
    hit match {
      case Some(rel) => Shim.ofRows(spark, rel.newInstance())
      case None =>
        val df = spark.read.parquet(path)
        (fp, df.queryExecution.analyzed) match {
          case (Some(f), rel: LogicalRelation) =>
            resolved.synchronized { resolved(key) = (f, rel) }
          case _ => ()
        }
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  /** `events.ts` has shipped as three parquet physical types across fixture
    * generations, so the loader normalizes all of them to session-TZ
    * TIMESTAMP (the session is pinned UTC, matching DuckDB's naive read):
    *   - TIMESTAMP(NANOS): read as raw Long (legacy flag) and truncate to
    *     µs — the same truncation DuckDB applies — using integer `div`
    *     because ns-epoch ≈ 1.7e18 exceeds double precision;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads this as
    *     TIMESTAMP_NTZ; cast to TIMESTAMP — under the UTC session the µs
    *     values are bit-identical, and downstream `unix_micros`/LTZ-only
    *     functions analyze;
    *   - TIMESTAMP(MICROS, adjusted): already LTZ, passes through. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    // The NANOS branch needs spark.sql.legacy.parquet.nanosAsLong=true,
    // set at session construction (graft.Harness.session does) —
    // a loader must not mutate session conf per call (r8 advisory).
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** One named query: Spark implementation + optional DuckDB oracle SQL.
  *
  * `oracle == None` marks ops the driver contract calls non-SQL-expressible
  * (streaming, probabilistic sketches with engine-specific hashing) — those
  * get a rows-only check from the driver and full checks in ScalaTest.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)
}
