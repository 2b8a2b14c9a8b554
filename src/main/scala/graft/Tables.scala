package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver fixture set (TESTDATA.md).
  *
  * All tables are single parquet files per scale-factor directory. Catalyst
  * handles column pruning + predicate pushdown on these scans automatically,
  * so loaders stay bare `spark.read.parquet` — at 100 TB the same call reads
  * a partitioned directory tree and gets partition pruning for free.
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
    spark.read.parquet(s"$dir/$name.parquet")
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
