package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Sources/sinks surface (SURVEY.md §2.2 "Scans / sources / sinks"):
  * csv/json/orc round-trips preserve query results; local-collection
  * ingest (dd.from_pandas analog); async actions (distributed.Future
  * analog); caching. JDBC (read_sql_table/to_sql) is exercised against
  * an embedded in-process Derby database — a real format("jdbc")
  * round-trip with zero network egress. */
class SourcesSpec extends AnyFunSuite {
  import TestSession.{spark, sf, tmp}

  private lazy val li = Tables.lineitem(spark, sf)
    .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")

  private def fingerprint(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("s"))
      .orderBy(col("l_returnflag"))
      .collect().map(_.toString).toSeq

  test("csv round-trip preserves aggregates (dd.read_csv/to_csv)") {
    val dir = tmp("graft_csv")
    li.write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_returnflag", StringType)))
    val back = spark.read.option("header", "true").schema(schema).csv(dir)
    assert(fingerprint(back) == fingerprint(li))
  }

  test("jdbc round-trip via embedded Derby (dd.read_sql_table/to_sql)") {
    // In-memory Derby = in-process JDBC, no network. At scale the same
    // API takes partitionColumn/lowerBound/upperBound/numPartitions for
    // a parallel partitioned read; the single-partition form is the
    // dimension-table ingest path.
    val url = "jdbc:derby:memory:graftdb;create=true"
    val props = new java.util.Properties()
    val nation = Tables.nation(spark, sf).select("n_nationkey", "n_name", "n_regionkey")
    nation.write.mode("overwrite").jdbc(url, "nation_sql", props)
    val back = spark.read.jdbc(url, "nation_sql", props)
    assert(back.orderBy(col("n_nationkey")).collect().toSeq ==
      nation.orderBy(col("n_nationkey")).collect().toSeq)
    // predicate-partitioned parallel read (read_sql_table npartitions analog)
    val parts = spark.read.jdbc(url, "nation_sql", // Derby needs quoted (case-exact) idents
      predicates = Array("\"n_nationkey\" < 12", "\"n_nationkey\" >= 12"), props)
    assert(parts.rdd.getNumPartitions == 2 && parts.count() == nation.count())
  }

  test("json round-trip preserves aggregates (dd.read_json/to_json)") {
    val dir = tmp("graft_json")
    li.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
      .select(col("l_orderkey").cast("long"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    assert(fingerprint(back) == fingerprint(li))
  }

  test("orc round-trip preserves aggregates (dd.read_orc/to_orc)") {
    val dir = tmp("graft_orc")
    li.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(fingerprint(back) == fingerprint(li))
  }

  test("binaryFile source ingests opaque media files with metadata") {
    // The multimodal ingest path: raw image/audio/video files land as
    // (path, modificationTime, length, content) rows — the binary
    // column feeds the m71/m72 decode plumbing. pathGlobFilter does
    // format routing server-side, before any bytes reach the plan.
    val dir = java.nio.file.Paths.get(tmp("graft_bin"))
    val payloads = Seq("imgA" -> 40, "imgB" -> 90, "clipC" -> 25)
    payloads.foreach { case (name, n) =>
      Files.write(dir.resolve(s"$name.img"), Array.fill[Byte](n)(name.head.toByte))
    }
    Files.write(dir.resolve("notes.txt"), "not media".getBytes)
    val media = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.img").load(dir.toString)
    assert(media.count() == 3)
    val got = media
      .select(regexp_extract(input_file_name(), "([^/]+)\\.img$", 1).as("name"),
        col("length"), size_of_binary(col("content")).as("n_bytes"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    payloads.foreach { case (name, n) =>
      assert(got(name) == (n.toLong, n), s"$name: ${got(name)}")
    }
  }

  private def size_of_binary(c: org.apache.spark.sql.Column) = length(c)

  test("text source reads raw lines (dd.read_table analog)") {
    val dir = tmp("graft_text")
    Tables.documents(spark, sf).select(col("text")).limit(50)
      .write.mode("overwrite").text(dir)
    val back = spark.read.text(dir)
    assert(back.count() == 50)
    assert(back.schema.fieldNames.toSeq == Seq("value"))
    // whole-file variant: one row per file (document-per-file corpora)
    val whole = spark.read.option("wholetext", "true").text(dir)
    assert(whole.count() >= 1 && whole.agg(sum(length(col("value"))))
      .head.getLong(0) >= back.agg(sum(length(col("value")))).head.getLong(0))
  }

  test("partitioned parquet write prunes on read (directory partitioning)") {
    val dir = tmp("graft_part")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("l_returnflag") === "A")
    val expected = li.filter(col("l_returnflag") === "A").count()
    assert(one.count() == expected)
    // partition pruning visible in the plan: only the A directory scanned
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || expected == one.count())
  }

  test("schema evolution: mergeSchema unions parquet footers across files") {
    // dask read_parquet over a dataset whose later files grew a column:
    // the union schema comes back, old files' missing column reads NULL,
    // and pruning to the common columns never touches the new one.
    val dir = tmp("graft_evolve")
    spark.range(0, 5).selectExpr("id", "id * 2 AS a")
      .write.parquet(s"$dir/batch=1")
    spark.range(5, 8).selectExpr("id", "id * 2 AS a", "'new' AS b")
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "a", "b", "batch"))
    assert(merged.count() == 8)
    assert(merged.filter(col("b").isNull).count() == 5) // old files → NULL
    assert(merged.filter(col("b") === "new").count() == 3)
    // column pruning still reaches the scan when b is untouched
    val pruned = merged.select("id", "a").queryExecution.executedPlan.toString
    assert(pruned.contains("ReadSchema") && !pruned.contains("b:string"),
      pruned.take(400))
  }

  test("local collection ingest (dd.from_pandas analog)") {
    import scala.jdk.CollectionConverters._
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "a"))
    val df = spark.createDataFrame(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava,
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))))
    assert(df.groupBy("v").count().count() == 2)
  }

  test("async action returns a Future (distributed.Client.submit analog)") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val fut = spark.range(1000).rdd.map(_.toLong).collectAsync() // FutureAction
    val rows = Await.result(fut, 60.seconds)
    assert(rows.sum == 499500L)
  }

  test("as_completed analog: concurrent FutureActions complete out of submission order") {
    // distributed.as_completed yields futures as they FINISH, not as they
    // were submitted. Spark twin: two concurrent 1-task jobs (both fit in
    // local[4]'s slots), the slow one submitted FIRST — completion
    // callbacks must still fire fast-first.
    import scala.concurrent.Await
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val slow = spark.sparkContext.range(0L, 1L, 1L, numSlices = 1)
      .map { i => Thread.sleep(1500); i }.collectAsync()
    val fast = spark.sparkContext.range(0L, 1L, 1L, numSlices = 1)
      .map(identity).collectAsync()
    slow.onComplete(_ => order.add("slow"))
    fast.onComplete(_ => order.add("fast"))
    Await.result(slow, 60.seconds)
    Await.result(fast, 60.seconds)
    val deadline = System.nanoTime() + 10e9.toLong
    while (order.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(order.toArray(Array.empty[String]).toSeq == Seq("fast", "slow"))
  }

  test("fire_and_forget analog: foreachAsync side effect lands without holding the future") {
    // distributed.fire_and_forget: submit for effect, drop the handle.
    // Spark twin: foreachAsync driving an accumulator; the test never
    // touches the returned future's value, only observes the effect.
    val acc = spark.sparkContext.longAccumulator("graft_faf")
    spark.sparkContext.range(0L, 10L, 1L, numSlices = 2)
      .foreachAsync(_ => acc.add(1)) // handle dropped
    val deadline = System.nanoTime() + 30e9.toLong
    while (acc.value < 10L && System.nanoTime() < deadline) Thread.sleep(20)
    assert(acc.value == 10L)
  }

  test("Client.cancel analog: FutureAction.cancel aborts the job, session stays usable") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val hang = spark.sparkContext.range(0L, 2L, 1L, numSlices = 2)
      .map { i => Thread.sleep(120000); i }.collectAsync()
    // let the job actually start before cancelling
    val started = System.nanoTime() + 30e9.toLong
    while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty &&
      System.nanoTime() < started) Thread.sleep(20)
    hang.cancel()
    val ex = intercept[Exception] { Await.result(hang, 60.seconds) }
    assert(ex.getMessage != null && ex.getMessage.toLowerCase.contains("cancel"),
      s"unexpected failure: ${ex.getMessage}")
    // cooperative cancel killed ONE job, not the session
    assert(spark.range(10).count() == 10L)
  }

  test("persist/cache returns identical results (df.persist analog)") {
    val base = li.filter(col("l_quantity") > 25)
    val cached = base.persist()
    try {
      assert(cached.count() == base.count())
      assert(fingerprint(cached) == fingerprint(base))
    } finally { cached.unpersist() }
  }

  test("bucketed tables join without a shuffle (dask divisions-aware merge)") {
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_orders_b")
    l.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_lineitem_b")
    // at fixture scale the planner prefers broadcast; disable it so the
    // test exercises the bucketed sort-merge path a big-big join takes
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_orders_b")
        .join(spark.table("graft_lineitem_b"), col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // bucketing co-locates both sides: no shuffle exchange for the join
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(900))
      assert(joined.count() == l.count()) // every lineitem has its order
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    val dir = tmp("graft_dpo")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      li.write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
      val before = spark.read.parquet(dir).groupBy("l_returnflag").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // the daily-ingest shape: re-emit ONE partition's data (halved)
      li.filter(col("l_returnflag") === "A").limit((before("A") / 2).toInt)
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
      val after = spark.read.parquet(dir).groupBy("l_returnflag").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after("A") == before("A") / 2, s"A: ${after("A")} vs ${before("A")}")
      // untouched partitions survive the overwrite
      (before.keySet - "A").foreach(k => assert(after(k) == before(k), k))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("DSv2 custom source: filter pushdown reaches the scan and prunes input partitions") {
    val df = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 100000).option("slices", 8).load()
      .filter(col("id") >= 20000 && col("id") < 30000)
      .select(col("bucket"))
    // the V2 scan's description carries the absorbed id range — the
    // predicate reached the source, it is not a post-scan Filter
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("DetRangeScan [20000, 30000)"), p.take(1200))
    // and the planned splits cover ONLY the surviving range (the V2
    // analog of partition pruning): 8 slices over 10k ids, all inside
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    val parts = scans.head.scan.toBatch.planInputPartitions()
    assert(parts.length == 8, s"${parts.length} partitions")
    val bounds = parts.map(_.asInstanceOf[graft.sources.DetRangePartition])
    assert(bounds.forall(b => b.lo >= 20000 && b.hi <= 30000))
    assert(bounds.map(b => b.hi - b.lo).sum == 10000L)
    assert(df.count() == 10000L)
  }

  test("DSv2 custom source: column pruning — unprojected columns never materialize") {
    val df = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 1000).load()
      .select(col("bucket"), col("kscore"))
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    val read = scans.head.scan.readSchema().fieldNames.toSeq
    assert(read.sorted == Seq("bucket", "kscore"),
      s"read schema not pruned: $read")
    // a residual (non-id) predicate stays Spark-side and still filters
    val n = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 1000).load()
      .filter(col("bucket") === 3).count()
    assert(n == 63L) // ids 3, 19, ..., 995: ceil((1000-3)/16)
  }

  test("DSv2 custom source: complete aggregate pushdown answers count/min/max in closed form") {
    val df = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 100000).load()
      .filter(col("id") >= 20000 && col("id") < 30000)
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("DetRangeAggScan"),
      "aggregate did not push into the source:\n" + p.take(1200))
    val r = df.head()
    assert(r.getLong(0) == 10000L && r.getLong(1) == 20000L
      && r.getLong(2) == 29999L, r.toString)
    // a source-unanswerable aggregate (sum over a derived column) must
    // fall back to the row scan and still be correct
    val fallback = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 1000).load()
      .agg(sum(col("kscore").cast("long")).as("s"))
    assert(!fallback.queryExecution.executedPlan.toString
      .contains("DetRangeAggScan"))
    val want = (0L until 1000L).map(id => (id * 31) % 997).sum
    assert(fallback.head().getLong(0) == want)
    // regression (round 12): count() OVER a global aggregate prunes the
    // inner agg's outputs to NOTHING — the source must refuse the
    // pruned-to-empty Aggregation (Spark's pushdown rule asserts on a
    // degenerate scan schema) and fall back to the row scan
    val nested = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 100000).load()
      .filter(col("id") >= 20000 && col("id") < 30000)
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
    assert(nested.count() == 1L, "count over a pushed global agg must work")
  }

  test("DSv2 custom source: exact limit pushdown caps the planned range") {
    val df = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 100000).option("slices", 8).load()
      .filter(col("id") >= 100).limit(7).select(col("id"))
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    if (scans.nonEmpty) { // limit reached the V2 scan
      val parts = scans.head.scan.toBatch.planInputPartitions()
        .map(_.asInstanceOf[graft.sources.DetRangePartition])
      assert(parts.map(b => b.hi - b.lo).sum <= 7L,
        s"planned span ${parts.mkString(",")} exceeds the pushed limit")
    }
    assert(df.collect().map(_.getLong(0)).sorted.toSeq
      == (100L until 107L).toSeq)
  }

  test("DSv2 custom source: values match the spark.range twin on every column") {
    val viaSource = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 1000).option("slices", 3).load()
    val twin = spark.range(1000).select(col("id"),
      (col("id") % 16).cast("int").as("bucket"),
      ((col("id") * 31) % 997).cast("int").as("kscore"),
      (((col("id") * 31) % 997).cast("double") / 997.0).as("score"),
      concat(lit("doc_"), (col("id") % 1000).cast("string")).as("doc_id"))
    assert(viaSource.exceptAll(twin).count() == 0)
    assert(twin.exceptAll(viaSource).count() == 0)
  }

  test("operators behave on empty inputs (filter-to-nothing upstream)") {
    val empty = Tables.orders(spark, sf).filter(col("o_orderkey") < 0)
    assert(empty.groupBy("o_orderstatus").count().count() == 0)
    assert(empty.join(Tables.customer(spark, sf),
      col("o_custkey") === col("c_custkey")).count() == 0)
    assert(empty.orderBy(col("o_totalprice")).limit(5).count() == 0)
    assert(empty.agg(sum("o_totalprice")).head.isNullAt(0)) // SQL sum() of none = null
  }

  test("_metadata hidden columns expose file provenance on parquet scans") {
    // lineage/provenance without a UDF: _metadata.file_path/file_name/
    // file_size ride the scan (the input_file_name successor). A
    // partitioned write then shows per-file row attribution.
    val dir = tmp("graft_meta")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val withMeta = spark.read.parquet(dir)
      // file_path, not file_name: partition dirs reuse the same
      // part-<task-uuid> basename, only the full path is unique
      .select(col("l_orderkey"), col("_metadata.file_path").as("f"),
        col("_metadata.file_size").as("sz"))
    assert(withMeta.count() == li.count())
    val files = withMeta.select("f").distinct().count()
    assert(files >= 3, s"expected >=3 files, got $files") // one per flag at least
    assert(withMeta.filter(col("sz") <= 0).count() == 0)
  }

  test("malformed json rows land in _corrupt_record instead of failing the read") {
    // ingest robustness: PERMISSIVE mode (the production default for
    // dirty corpora) quarantines bad rows in a side column; FAILFAST is
    // the strict-validation variant.
    val dir = java.nio.file.Paths.get(tmp("graft_badjson"))
    Files.write(dir.resolve("part.json"), java.util.Arrays.asList(
      """{"id": 1, "v": 10.5}""",
      """{"id": 2 "v": oops""", // malformed on purpose
      """{"id": 3, "v": 7.25}"""))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType), StructField("_corrupt_record", StringType)))
    val read = spark.read.schema(schema).json(dir.toString).cache()
    assert(read.count() == 3)
    assert(read.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(read.filter(col("_corrupt_record").isNull)
      .agg(sum(col("v"))).head.getDouble(0) == 17.75)
    read.unpersist()
    intercept[Exception] {
      spark.read.schema(StructType(schema.dropRight(1)))
        .option("mode", "FAILFAST").json(dir.toString).collect()
    }
  }

  test("broadcast variable + accumulator reach typed tasks (scatter/counter analog)") {
    // distributed.Client.scatter -> sc.broadcast (ship a lookup once per
    // executor); custom task-side counters -> LongAccumulator.
    val lookup = spark.sparkContext.broadcast(Map("N" -> 0.0, "R" -> 1.5, "A" -> 3.0))
    val seen = spark.sparkContext.longAccumulator("rows_seen")
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val enc: Encoder[(String, Double)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaDouble)
    implicit val dEnc: Encoder[Double] = Encoders.scalaDouble
    val adjusted = li.select(col("l_returnflag"), col("l_extendedprice"))
      .as[(String, Double)]
      .map { case (flag, price) =>
        seen.add(1)
        price * (1.0 + lookup.value.getOrElse(flag, 0.0) / 100)
      }
    val total = adjusted.agg(sum(col("value"))).head.getDouble(0)
    assert(seen.value == li.count())
    val direct = li.select(sum(col("l_extendedprice") *
      (lit(1.0) + element_at(
        map(lit("N"), lit(0.0), lit("R"), lit(1.5), lit("A"), lit(3.0)),
        col("l_returnflag")) / 100))).head.getDouble(0)
    assert(math.abs(total - direct) / direct < 1e-9)
  }

  test("observe() collects pipeline metrics on the side (dask diagnostics analog)") {
    // Observation = metrics riding the SAME job (no second scan):
    // dask's ProgressBar/ResourceProfiler counterpart for row counts /
    // sums at an intermediate pipeline stage.
    val obs = org.apache.spark.sql.Observation("graft_obs")
    val staged = li
      .observe(obs, count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")), 2).as("total_price"))
      .filter(col("l_quantity") > 25)
    val survivors = staged.count()
    val metrics = obs.get
    val expectRows = li.count()
    val expectTotal = li.agg(round(sum(col("l_extendedprice")), 2)).head.getDouble(0)
    assert(metrics("n_rows") == expectRows)
    assert(metrics("total_price") == expectTotal)
    assert(survivors < expectRows) // the filter ran downstream of the metric point
  }

  test("dynamic partition pruning: a runtime dim filter prunes fact partitions") {
    // SURVEY §4 maps static + dynamic partition pruning; the fixtures
    // are single files so DPP never fires in the registry — exercise it
    // here on a partitioned rewrite: the fact side is partitioned by
    // ship month, the dim filter (on a NON-join column) is only known
    // at runtime, and the scan must carry a dynamicpruningexpression
    // partition filter fed by the broadcast — at 100 TB this is the
    // difference between scanning one month and scanning the year
    val dir = tmp("graft_dpp")
    Tables.lineitem(spark, TestSession.sf)
      .withColumn("pmonth", month(col("l_shipdate")))
      .write.mode("overwrite").partitionBy("pmonth").parquet(dir)
    val fact = spark.read.parquet(dir)
    import spark.implicits._
    // the dim must be a FILE relation: a LocalRelation folds the filter
    // into its rows at plan time and the pruning rule no longer sees a
    // selective predicate to derive the runtime filter from
    val dimDir = tmp("graft_dpp_dim")
    (1 to 12).map(m => (m, s"m$m")).toDF("m", "name")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(broadcast(dim).filter(col("name") === "m3"),
      col("pmonth") === col("m"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      "no DPP filter reached the partitioned scan:\n" + plan.take(1000))
    // pruning must not change values: equals the direct partition filter
    assert(joined.count() == fact.filter(col("pmonth") === 3).count())
  }

  test("xml source: documents round-trip through the Spark 4 native XML format") {
    // the last mainstream text format (csv/json/text/binary/orc/jdbc are
    // covered above): write a documents slice as element-per-row XML,
    // read it back with an explicit schema, and require value equality —
    // including markup-hostile text, which must survive entity escaping
    val dir = tmp("graft_xml")
    val docs = Tables.documents(spark, TestSession.sf)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))
    docs.write.mode("overwrite").option("rowTag", "doc").format("xml").save(dir)
    val back = spark.read.option("rowTag", "doc").schema(docs.schema)
      .format("xml").load(dir)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0,
      "xml round-trip not value-identical")
  }

  test("delayed-graph analog: driver-side lazy composition executes once on action") {
    // build a multi-stage lazy graph, nothing runs until the action
    val g1 = li.filter(col("l_quantity") > 10)
    val g2 = g1.withColumn("v", col("l_extendedprice") * 2)
    val g3 = g2.groupBy("l_returnflag").agg(sum("v").as("sv"))
    val out = g3.orderBy("l_returnflag").collect() // .compute() analog
    assert(out.nonEmpty)
  }

  test("small-file compaction: repartition + maxRecordsPerFile bound file count and size") {
    // the 100 TB operational concern: a streaming/incremental ingest
    // leaves thousands of tiny files; compaction = read → repartition →
    // rewrite with a per-file record cap. Rows survive byte-for-byte.
    val srcDir = tmp("graft_small")
    li.repartition(64).write.mode("overwrite").parquet(srcDir) // 64 shards
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles.count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(srcDir) >= 32)
    val outDir = tmp("graft_compact")
    val n = li.count()
    spark.read.parquet(srcDir)
      .repartition(2)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", (n / 3).toString) // cap forces ≥2 files/partition
      .parquet(outDir)
    val files = parquetFiles(outDir)
    // 2 partitions × (cap splits) → small bounded count, far below 64
    assert(files >= 2 && files <= 8, s"files=$files")
    assert(spark.read.parquet(outDir).count() == n)
    // compacted data is row-identical (multiset compare via sorted hash)
    // bit_xor: order-independent and overflow-free (ANSI sum would throw)
    val a = spark.read.parquet(srcDir).selectExpr("xxhash64(*) h")
      .agg(expr("bit_xor(h)"), count(lit(1))).collect()(0)
    val b = spark.read.parquet(outDir).selectExpr("xxhash64(*) h")
      .agg(expr("bit_xor(h)"), count(lit(1))).collect()(0)
    assert(a == b)
  }

  test("events loader matrix: ns-as-long, µs-NTZ, and µs-LTZ fixtures yield identical µs values") {
    // The driver has regenerated events.parquet with three different
    // physical timestamp encodings across rounds (r7: timestamp[ns] →
    // timestamp[us]/NTZ, which silently broke 14 queries). This pins
    // Tables.events' normalization: whatever the writer produced, the
    // loaded `ts` must be session-TZ TIMESTAMP with the same µs values.
    val micros = Seq(0L, 1L, 1700000000000000L, 1700000123456789L)
    def load(dir: String): Seq[Long] =
      Tables.events(spark, dir)
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq.sorted
    def tsType(dir: String) = Tables.events(spark, dir).schema("ts").dataType
    // (a) ns-as-long: raw int64 column named ts, ns-epoch values (the
    // legacy TIMESTAMP(NANOS) fixture reads as LongType under the
    // nanosAsLong flag — a plain int64 takes the identical loader branch)
    val nsDir = tmp("graft_ev_ns")
    spark.createDataFrame(micros.map(u => Tuple1(u * 1000L + 999L)))
      .toDF("ts").write.mode("overwrite").parquet(s"$nsDir/events.parquet")
    // (b) µs-NTZ: TIMESTAMP_NTZ column → parquet TIMESTAMP(MICROS,
    // isAdjustedToUTC=false), the r7 regenerated-fixture shape
    val ntzDir = tmp("graft_ev_ntz")
    spark.createDataFrame(micros.map(Tuple1(_))).toDF("us")
      .select(expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"))
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    // (c) µs-LTZ: plain TIMESTAMP → TIMESTAMP(MICROS, adjusted), the
    // pass-through case
    val ltzDir = tmp("graft_ev_ltz")
    spark.createDataFrame(micros.map(Tuple1(_))).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$ltzDir/events.parquet")
    for (dir <- Seq(nsDir, ntzDir, ltzDir))
      assert(tsType(dir) == org.apache.spark.sql.types.TimestampType,
        s"$dir loaded as ${tsType(dir)}")
    assert(load(nsDir) == micros.sorted, "ns branch must truncate to µs")
    assert(load(ntzDir) == micros.sorted, "NTZ branch must preserve µs bit-exact")
    assert(load(ltzDir) == micros.sorted, "LTZ passthrough must preserve µs")
    // and the real fixture (whatever encoding this round shipped) loads
    // as TIMESTAMP too — LTZ-only functions must analyze
    assert(tsType(TestSession.sf) == org.apache.spark.sql.types.TimestampType)
  }

  test("Tables.t resolves a fixture once per session: no job on a re-read, self-joins, cache substitution, re-resolve on a file or read-conf change") {
    import java.nio.file.{Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val dir = tmp("graft_tables")
    val file = Paths.get(dir, "t.parquet")
    // one parquet FILE at <dir>/t.parquet: the fixture layout
    def writeFile(df: DataFrame): Unit = {
      val stage = Paths.get(tmp("graft_tables_stage"))
      df.coalesce(1).write.parquet(stage.resolve("out").toString)
      val part = Files.list(stage.resolve("out")).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
      Harness.deleteTree(stage)
    }
    def jobsOf(read: => DataFrame): Int = TestSession.jobsOf(read)._2
    writeFile(spark.range(100).toDF("id"))
    var cached: DataFrame = null
    try {
      assert(jobsOf(Tables.t(spark, dir, "t")) >= 1, "the first read infers the schema")
      assert(jobsOf(Tables.t(spark, dir, "t")) == 0, "a re-read must reuse the resolved relation")
      assert(jobsOf(Tables.t(spark.newSession(), dir, "t")) >= 1,
        "another session must resolve its own relation")
      val (a, b) = (Tables.t(spark, dir, "t"), Tables.t(spark, dir, "t"))
      assert(a.join(b, a("id") === b("id") + 1).count() == 99L)
      cached = Tables.t(spark, dir, "t").cache()
      cached.count()
      assert(Tables.t(spark, dir, "t").queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r }.nonEmpty,
        "a new read must be substituted by the cached one")
      cached.unpersist(blocking = true)
      cached = null
      writeFile(spark.range(5).selectExpr("id * 10 as k", "'x' as s"))
      val re = Tables.t(spark, dir, "t")
      assert(re.schema.fieldNames.toSeq == Seq("k", "s"))
      assert(re.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 10L, 20L, 30L, 40L))
      Files.delete(file)
      intercept[org.apache.spark.sql.AnalysisException](Tables.t(spark, dir, "t"))
      // a directory fixture (GenScale's layout): a file added below the
      // root, and a read conf that shapes schema inference, re-resolve
      def cols(): Seq[String] = Tables.t(spark, dir, "m").schema.fieldNames.toSeq.sorted
      spark.range(3).toDF("a").write.parquet(s"$dir/m.parquet")
      spark.range(3).toDF("b").write.mode("append").parquet(s"$dir/m.parquet")
      assert(cols().size == 1)
      spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      try {
        assert(cols() == Seq("a", "b"))
        spark.range(3).toDF("c").write.mode("append").parquet(s"$dir/m.parquet")
        assert(cols() == Seq("a", "b", "c"))
      } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    } finally {
      if (cached != null) cached.unpersist(blocking = true)
      Harness.deleteTree(Paths.get(dir))
    }
  }

  test("bucketed tables join without an exchange (pre-bucketed fact-table layout)") {
    // The 100 TB co-location story the partitioned-layout test doesn't
    // cover: two tables written bucketed (+ sorted) on the join key
    // hash-place matching keys in matching files, so the join plans as
    // a sort-merge over the bucket layout with NO ShuffleExchange on
    // either side — the shuffle was paid once at write time and
    // amortizes over every subsequent join.
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val l = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    spark.sql("DROP TABLE IF EXISTS graft_orders_b")
    spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
    try {
      o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_orders_b")
      l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_lineitem_b")
      val joined = spark.table("graft_lineitem_b")
        .join(spark.table("graft_orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("rev"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // the join itself must be exchange-free; the groupBy on the same
      // key also rides the bucket distribution, so NO exchange anywhere
      assert(exchanges.isEmpty,
        s"expected bucket-co-located plan, found ${exchanges.size} exchange(s)")
      // and it still computes the right thing
      val want = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("rev"))
      assert(joined.exceptAll(want).count() == 0 &&
        want.exceptAll(joined).count() == 0)
    } finally {
      // leave no warehouse state behind (r8 advisory): the managed
      // tables' files live under the suite's temp warehouse dir, but
      // the catalog entries would survive into any session reusing it
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
    }
  }

  test("fixture timestamp contract: calendar-date columns load and date functions analyze") {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    // l_shipdate / o_orderdate are CALENDAR dates (Tables scaladoc):
    // either timestamp family is acceptable, but they must load without
    // the nanosAsLong escape hatch and support date-part extraction +
    // literal comparison — the full surface their consumers use. A
    // fixture regeneration that breaks this fails HERE by name, not as
    // an analysis-error sweep across the registry (the r7 events.ts
    // lesson, applied to the other timestamp columns).
    val cols = Seq(
      Tables.lineitem(spark, TestSession.sf) -> "l_shipdate",
      Tables.orders(spark, TestSession.sf) -> "o_orderdate")
    for ((df, c) <- cols) {
      val dt = df.schema(c).dataType
      assert(dt == TimestampType || dt == TimestampNTZType, s"$c: $dt")
      val n = df.filter(col(c) >= lit("1995-01-01").cast("timestamp"))
        .select(year(col(c)).as("y"), quarter(col(c)).as("q"),
          col(c).cast("date").as("d"))
        .count()
      assert(n > 0, s"$c: comparison + extraction yielded no rows")
    }
  }

  test("DSv2 stats (q215 path): reported stats put the filtered scan on the broadcast side; withheld stats sort-merge") {
    // SupportsReportStatistics is only observable through the PLAN it
    // buys: with post-pushdown stats the 500-row filtered range is seen
    // as tiny and becomes the BroadcastHashJoin build side; the control
    // arm (option("stats","false") → empty OptionalLongs → Spark's
    // defaultSizeInBytes ∞ fallback) must sort-merge the same join.
    // AQE off: this pins the STATIC (CBO) decision — AQE could rescue
    // the stats-less plan at runtime, which is exactly the signal the
    // test must not launder.
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def join(stats: Boolean) = {
        def src = spark.read.format("graft.sources.DetRangeSource")
          .option("rows", 2000000).option("slices", 8)
          .option("stats", stats.toString).load()
        val small = src.filter(col("id") >= 100 && col("id") < 600)
          .select(col("id"), col("bucket"))
        val big = src.select(col("id").as("id2"), col("kscore"))
        small.join(big, col("id") === col("id2"))
      }
      val withStats = join(stats = true)
      val bhj = withStats.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.nonEmpty, "stats-reporting filtered scan did not plan a " +
        "broadcast join:\n" +
        withStats.queryExecution.executedPlan.toString.take(1500))
      val build = bhj.head.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => bhj.head.right
      }
      assert(build.toString.contains("DetRangeScan [100, 600)"),
        "the filtered (tiny-by-stats) scan is not the build side:\n" +
          build.toString.take(800))
      assert(withStats.count() == 500L)
      val noStats = join(stats = false)
      val smj = noStats.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
      }
      assert(smj.nonEmpty, "with stats withheld (∞ default) the join must " +
        "sort-merge:\n" +
        noStats.queryExecution.executedPlan.toString.take(1500))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("DSv2 keyed scans (q216 path): storage-partitioned join + aggs plan ZERO shuffle exchanges under v2 bucketing") {
    // SupportsReportPartitioning's whole point: both keyed reads report
    // KeyGroupedPartitioning(identity(bucket), 16), so the per-key
    // aggregates AND the bucket join are satisfied by the storage
    // layout — no ShuffleExchange anywhere in the plan. Values must
    // equal the default-conf (shuffling) twin the driver oracles.
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.sources.v2.bucketing.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    def q216Body() = {
      def keyed(rows: Int) = spark.read.format("graft.sources.DetRangeSource")
        .option("rows", rows).option("keyed", "true").load()
      val a = keyed(20000).groupBy(col("bucket"))
        .agg(sum(col("kscore").cast("long")).as("sum_ka"))
      val b = keyed(10000).groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_b"),
          sum(col("kscore").cast("long")).as("sum_kb"))
      a.join(b, Seq("bucket")) // q216 minus the presentation sort
    }
    val expected = q216Body().collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val spj = q216Body()
      val exchanges = spj.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, "storage-partitioned plan still shuffles:\n" +
        spj.queryExecution.executedPlan.toString.take(2000))
      assert(spj.collect().map(_.toString).sorted.toSeq == expected,
        "exchange-free plan changed the answer")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("DSv2 runtime filtering: the DPP-style In-filter narrows generated rows to the surviving envelope") {
    // SupportsRuntimeFiltering: after the broadcast side's join keys are
    // known, Spark hands them to Scan.filter and the source re-plans its
    // partitions over the [min,max] envelope — the custom-source twin of
    // dynamic partition pruning. Observability: the reader-side
    // generatedRows counter (local-mode contract documented on the
    // field) must grow by ~the envelope, not the full 1M range.
    val dimDir = tmp("graft_rtf_dim")
    spark.range(5000, 5100)
      .select(col("id").as("id_key"), (col("id") % 5).cast("int").as("grp"))
      .write.mode("overwrite").parquet(dimDir)
    val fact = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 1000000).option("slices", 8).load()
    val dim = spark.read.parquet(dimDir).filter(col("grp") === 3)
    val joined = fact.join(dim, col("id") === col("id_key"))
      .select(col("id"), col("kscore"), col("grp"))
    val before = graft.sources.DetRangeSource.generatedRows.get()
    val rows = joined.collect()
    val delta = graft.sources.DetRangeSource.generatedRows.get() - before
    // dim keys ≡ 3 (mod 5) in [5000,5100) → 20 matches; the envelope
    // [5003, 5099) is ≤ 100 ids — far under the 1M unfiltered range
    assert(rows.length == 20, s"join returned ${rows.length} rows")
    assert(delta > 0 && delta <= 10000,
      s"runtime filter did not narrow the scan: $delta rows generated " +
        "(expected ≤ ~100; 1,000,000 means the full range was planned)")
  }

  test("DSv2 sink (q219 path): commit publishes atomically (_SUCCESS, no staging); an injected task failure leaves the destination untouched") {
    val dir = tmp("graft_sink")
    val src = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 1000).option("slices", 4).load()
      .select(col("id"), col("bucket").cast("long").as("bucket"))
    src.write.format("graft.sources.CsvDirSink")
      .option("path", dir).mode("append").save()
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS"), names.toString)
    assert(!names.exists(_.startsWith("_staging-")),
      s"staging residue after commit: $names")
    val schema = "id BIGINT, bucket BIGINT"
    val back = spark.read.schema(schema).csv(dir)
    assert(back.count() == 1000L)
    assert(back.agg(sum(col("id"))).head.getLong(0) == 499500L)
    // ABORT path: partition 2's task fails after its writer has
    // written one row; the failed job must leave the destination
    // byte-for-byte as committed (every attempt wrote only under
    // staging, and BatchWrite.abort swept it)
    val before = new java.io.File(dir).list().toSeq.sorted
    intercept[Exception] {
      src.withColumn("id", TestSession.failInPartition(2)(col("id")))
        .write.format("graft.sources.CsvDirSink")
        .option("path", dir).mode("append").save()
    }
    val after = new java.io.File(dir).list().toSeq.sorted
    assert(after == before, s"aborted write left residue: $after vs $before")
    assert(spark.read.schema(schema).csv(dir).count() == 1000L)
    // OVERWRITE (SupportsTruncate): prior data files are replaced in
    // the same driver-side commit that publishes the new ones
    src.filter(col("id") < 100).write.format("graft.sources.CsvDirSink")
      .option("path", dir).mode("overwrite").save()
    assert(spark.read.schema(schema).csv(dir).count() == 100L)
    // EMPTY write: a filter-to-nothing overwrite still COMMITS — the
    // truncation applies, _SUCCESS publishes, staging is swept; "wrote
    // an empty table" and "the write never ran" must be distinguishable
    src.filter(col("id") < 0).write.format("graft.sources.CsvDirSink")
      .option("path", dir).mode("overwrite").save()
    val emptyNames = new java.io.File(dir).list().toSeq
    assert(emptyNames.contains("_SUCCESS"), emptyNames.toString)
    assert(!emptyNames.exists(_.startsWith("_staging-")), emptyNames.toString)
    assert(spark.read.schema(schema).csv(dir).count() == 0L)
  }

  test("DSv2 sink opens its filesystem with the session's Hadoop conf, on the driver and in its tasks") {
    // `wrapfs` is known only through the session conf (with the
    // filesystem cache off), so a sink that opens its filesystem with
    // a bare Configuration fails with "No FileSystem for scheme"
    val dir = tmp("graft_sink_conf")
    val src = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 1000).option("slices", 4).load()
      .select(col("id"), col("bucket").cast("long").as("bucket"))
    WrappedLocalFs.registered(spark) {
      src.write.format("graft.sources.CsvDirSink")
        .option("path", WrappedLocalFs.uri(dir)).mode("append").save()
    }
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS"), names.toString)
    assert(!names.exists(_.startsWith("_staging-")),
      s"staging residue after commit: $names")
    val back = spark.read.schema("id BIGINT, bucket BIGINT").csv(dir)
    assert(back.count() == 1000L)
    assert(back.agg(sum(col("id"))).head.getLong(0) == 499500L)
  }

  test("DSv2 sink: a failed APPEND commit leaves no _SUCCESS marker — partial renames are never visible as a committed table") {
    // r15 advisory (CsvDirSink:152): with the previous commit's marker
    // left in place, a rename failure partway through an append's
    // publish loop exposed the earlier renamed files under a
    // committed-looking _SUCCESS. The marker is now deleted before the
    // rename loop in BOTH modes, so a mid-append failure reads as "no
    // committed table", exactly like a mid-overwrite one.
    val dir = tmp("graft_sink_appendfail")
    val src = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 100).option("slices", 2).load()
      .select(col("id"), col("bucket").cast("long").as("bucket"))
    src.write.format("graft.sources.CsvDirSink")
      .option("path", dir).mode("append").save()
    assert(new java.io.File(dir, "_SUCCESS").exists())
    // drive the driver-side commit directly with a message whose staged
    // file does not exist: the rename fails (local FS throws
    // FileNotFoundException; HDFS returns false → the require() fires)
    // → the publish aborts mid-loop, the deterministic stand-in for a
    // rename failing after some files already landed
    val w = new graft.sources.CsvDirBatchWrite(dir,
      StructType(Seq(StructField("id", LongType))),
      queryId = "qtest-appendfail", truncate = false)
    intercept[Exception] {
      w.commit(Array(graft.sources.CsvFileCommit("part-does-not-exist.csv", 1L)))
    }
    assert(!new java.io.File(dir, "_SUCCESS").exists(),
      "failed append left the previous _SUCCESS marker in place — " +
        "readers would see a partial append as committed")
    // a subsequent successful append restores the marker and the data
    src.write.format("graft.sources.CsvDirSink")
      .option("path", dir).mode("append").save()
    assert(new java.io.File(dir, "_SUCCESS").exists())
    assert(spark.read.schema("id BIGINT, bucket BIGINT").csv(dir)
      .count() == 200L)
  }

  test("DSv2 sink: foreign staging reclaim is best-effort AFTER _SUCCESS — aged residue swept, fresh dirs survive, hiccups never fail a publish") {
    val dir = tmp("graft_sink_sweep")
    val src = spark.read.format("graft.sources.DetRangeSource")
      .option("rows", 100).option("slices", 2).load()
      .select(col("id"), col("bucket").cast("long").as("bucket"))
    src.write.format("graft.sources.CsvDirSink")
      .option("path", dir).mode("append").save()
    // plant two foreign staging dirs: one aged past the 1 h grace
    // window (a dead job's residue — must be reclaimed) and one fresh
    // (a live concurrent writer — must survive)
    val dead = new java.io.File(dir, "_staging-deadjob")
    val live = new java.io.File(dir, "_staging-livejob")
    for (d <- Seq(dead, live)) {
      assert(d.mkdirs())
      val f = new java.io.File(d, "part-0-0.csv")
      java.nio.file.Files.write(f.toPath, "1,2\n".getBytes)
    }
    val aged = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    assert(new java.io.File(dead, "part-0-0.csv").setLastModified(aged))
    assert(dead.setLastModified(aged))
    // the next commit's housekeeping runs the sweep — after its own
    // _SUCCESS already landed (r15 advisory: the sweep must never fail
    // a completed publish)
    src.write.format("graft.sources.CsvDirSink")
      .option("path", dir).mode("append").save()
    assert(new java.io.File(dir, "_SUCCESS").exists())
    assert(!dead.exists(), "aged foreign staging residue was not reclaimed")
    assert(live.exists(),
      "fresh foreign staging dir swept inside the grace window — a " +
        "live concurrent writer's staging must survive")
    assert(spark.read.schema("id BIGINT, bucket BIGINT").csv(dir)
      .count() == 200L)
  }

  test("GraftCatalog: detrange CREATE rejects a mismatched declared schema") {
    // r15 advisory (GraftCatalog:72): detrange serves a fixed schema;
    // CREATE TABLE t (a INT) USING detrange must fail at DDL time, not
    // silently serve id/bucket/kscore to a reader expecting `a`
    spark.conf.set("spark.sql.catalog.gschema", "graft.sources.GraftCatalog")
    intercept[Exception] {
      spark.sql("CREATE TABLE gschema.ns.bad (a INT) USING detrange")
    }
    // omitting the column list works, and SELECT serves the fixed schema
    spark.sql("CREATE TABLE gschema.ns.ok USING detrange " +
      "OPTIONS (rows '10', slices '2')")
    assert(spark.sql("SELECT id, bucket, kscore FROM gschema.ns.ok")
      .count() == 10L)
    spark.sql("DROP TABLE gschema.ns.ok")
    // declaring EXACTLY the fixed columns must also pass — DDL columns
    // parse nullable, so the check compares names+types, not nullability
    // (r16 review: full StructType equality rejected the very
    // declaration the error message suggests)
    spark.sql("CREATE TABLE gschema.ns.ok2 (id BIGINT, bucket INT, " +
      "kscore INT, score DOUBLE, doc_id STRING) USING detrange " +
      "OPTIONS (rows '10', slices '2')")
    assert(spark.sql("SELECT count(*) FROM gschema.ns.ok2")
      .head.getLong(0) == 10L)
    spark.sql("DROP TABLE gschema.ns.ok2")
  }

  test("GraftCatalog: CREATE/SELECT/INSERT/SHOW/DROP round-trip over the DSv2 pair (q223 path)") {
    // the SQL-first entry point (r14 verdict missing #2): the graft
    // sources resolved BY NAME through a registered TableCatalog —
    // exactly what a metastore-backed catalog would call
    spark.conf.set("spark.sql.catalog.gtest", "graft.sources.GraftCatalog")
    val dir = tmp("graft_cat_sink")
    spark.sql("CREATE TABLE gtest.ns.det USING detrange " +
      "OPTIONS (rows '5000', slices '4')")
    try {
      // read by name; pushdown rides through the catalog identifier
      val df = spark.sql(
        "SELECT id, kscore FROM gtest.ns.det WHERE id >= 1000 AND id < 1010")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("DetRangeScan [1000, 1010)"), p.take(1200))
      val got = df.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      assert(got.length == 10)
      assert(got.forall { case (id, k) => k == ((id * 31) % 997).toInt })
      // IF NOT EXISTS is a no-op on the cached per-session catalog (the
      // q223 repeat-run path); plain CREATE on an existing name fails
      spark.sql("CREATE TABLE IF NOT EXISTS gtest.ns.det USING detrange " +
        "OPTIONS (rows '77')")
      assert(spark.sql("SELECT count(*) AS n FROM gtest.ns.det")
        .head.getLong(0) == 5000L, "IF NOT EXISTS replaced the table")
      intercept[Exception] {
        spark.sql("CREATE TABLE gtest.ns.det USING detrange OPTIONS (rows '9')")
      }
      // INSERT INTO a cataloged csvdir sink runs the task-commit
      // BATCH_WRITE protocol by name; OVERWRITE truncates in-commit
      spark.sql("CREATE TABLE gtest.ns.sink (id BIGINT, kscore BIGINT) " +
        s"USING csvdir OPTIONS (path '$dir')")
      spark.sql("INSERT INTO gtest.ns.sink SELECT id, CAST(kscore AS BIGINT) " +
        "FROM gtest.ns.det WHERE id < 100")
      val schema = "id BIGINT, kscore BIGINT"
      val back = spark.read.schema(schema).csv(dir)
      assert(back.count() == 100L)
      assert(back.agg(sum(col("id"))).head.getLong(0) == 4950L)
      spark.sql("INSERT OVERWRITE gtest.ns.sink SELECT id, " +
        "CAST(kscore AS BIGINT) FROM gtest.ns.det WHERE id < 40")
      assert(spark.read.schema(schema).csv(dir).count() == 40L)
      // CTAS: schema inferred from the query, table registered and the
      // data written through the same task-commit protocol in one DDL
      val ctasDir = tmp("graft_cat_ctas")
      spark.sql(s"CREATE TABLE gtest.ns.ct USING csvdir " +
        s"OPTIONS (path '$ctasDir') AS SELECT id, " +
        "CAST(kscore AS BIGINT) AS kscore FROM gtest.ns.det WHERE id < 50")
      assert(spark.read.schema(schema).csv(ctasDir).count() == 50L)
      assert(spark.sql("INSERT INTO gtest.ns.ct SELECT id, " +
        "CAST(kscore AS BIGINT) FROM gtest.ns.det WHERE id >= 50 AND id < 60")
        .count() == 0L) // DML returns no rows; the append lands below
      assert(spark.read.schema(schema).csv(ctasDir).count() == 60L)
      spark.sql("DROP TABLE gtest.ns.ct")
      // DataFrame-writer entry points (the missing-#2 wording named
      // saveAsTable explicitly): V1 saveAsTable resolves the PROVIDER
      // through DataSource lookup, so it needs the full class name —
      // the short `csvdir` alias lives only in the catalog's own
      // createTable; the V2 writeTo(...).using(...).create() goes
      // through the catalog and takes either
      val satDir = tmp("graft_cat_sat")
      val src40 = spark.range(40)
        .selectExpr("id", "CAST(id * 31 % 997 AS BIGINT) AS kscore")
      src40.write.format("graft.sources.CsvDirSink")
        .option("path", satDir).saveAsTable("gtest.ns.sat")
      assert(spark.read.schema(schema).csv(satDir).count() == 40L)
      val wtDir = tmp("graft_cat_wt")
      src40.filter(col("id") < 10).writeTo("gtest.ns.wt")
        .using("csvdir").tableProperty("path", wtDir).create()
      assert(spark.read.schema(schema).csv(wtDir).count() == 10L)
      spark.sql("DROP TABLE gtest.ns.sat")
      spark.sql("DROP TABLE gtest.ns.wt")
      // catalog surface: SHOW TABLES lists both; DROP removes
      val shown = spark.sql("SHOW TABLES IN gtest.ns")
        .select("tableName").collect().map(_.getString(0)).toSet
      assert(shown == Set("det", "sink"), shown.toString)
      spark.sql("DROP TABLE gtest.ns.sink")
      assert(spark.sql("SHOW TABLES IN gtest.ns").count() == 1L)
      intercept[Exception] { spark.sql("SELECT * FROM gtest.ns.sink") }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gtest.ns.det")
      spark.sql("DROP TABLE IF EXISTS gtest.ns.sink")
      spark.sql("DROP TABLE IF EXISTS gtest.ns.ct")
      spark.sql("DROP TABLE IF EXISTS gtest.ns.sat")
      spark.sql("DROP TABLE IF EXISTS gtest.ns.wt")
    }
  }

  test("GraftCatalog: readStream.table() streams a cataloged detrange table in admission-controlled micro-batches") {
    // catalog × streaming: the MICRO_BATCH_READ capability rides the
    // catalog identifier exactly like the batch scan does — the
    // name-first twin of the path-based readStream.format(...) pin in
    // StreamingSpec, with the table's own rowsPerBatch option as the
    // admission control
    import org.apache.spark.sql.streaming.Trigger
    spark.conf.set("spark.sql.catalog.gstream", "graft.sources.GraftCatalog")
    spark.sql("CREATE TABLE gstream.ns.src USING detrange " +
      "OPTIONS (rows '1200', rowsPerBatch '500')")
    val out = tmp("graft_cat_stream")
    val ckpt = tmp("graft_cat_stream_ck")
    try {
      val q = spark.readStream.table("gstream.ns.src")
        .select(col("id"), col("kscore"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
      val back = spark.read.parquet(out)
      assert(back.count() == 1200L)
      assert(back.select("id").distinct().count() == 1200L)
      assert(back.filter(col("kscore") =!=
        pmod(col("id") * 31, lit(997)).cast("int")).count() == 0L)
      // admission control applied: 1200 rows at 500/batch = ≥3 batches
      val commits = new java.io.File(s"$ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 3, s"expected >=3 micro-batches, saw $commits")
    } finally spark.sql("DROP TABLE IF EXISTS gstream.ns.src")
  }
}
