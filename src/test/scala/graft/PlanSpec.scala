package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests (builder spec: ".explain the plan and
  * iterate until it's the plan you'd want"): lock in pushdown, pruning,
  * broadcast choice, and codegen participation so a refactor can't
  * silently regress the 100 TB posture. */
class PlanSpec extends AnyFunSuite {
  import TestSession.{spark, sf}

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1: shipdate filter is pushed into the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("PushedFilters: [LessThanOrEqual(l_shipdate"), p.take(800))
  }

  test("q1: scan is column-pruned (no l_orderkey read)") {
    val p = plan("q1_pricing_summary")
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(!scanLine.contains("l_orderkey"), scanLine)
  }

  test("q1: aggregation is two-phase (map-side partial)") {
    assert(plan("q1_pricing_summary").contains("partial_"))
  }

  test("q4: dimension joins are broadcast, fact table not shuffled by join") {
    val p = plan("q4_broadcast_dim_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p.take(400))
  }

  test("q27: top-k plans as TakeOrderedAndProject (no global sort)") {
    assert(plan("q27_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("t121: the custom SQL table function plans as a Generate node") {
    // graft_char_ngrams is a Catalyst Generator invoked from SQL text
    // (LATERAL VIEW) — the plan must stream grams through GenerateExec,
    // not materialize per-row arrays
    val p = plan("t121_char_ngram_profile")
    assert(p.contains("Generate graft_char_ngrams"), p.take(800))
  }

  test("q202: CDC apply is a two-phase aggregate (partial max_by), no changelog window") {
    val p = plan("q202_cdc_apply")
    assert(p.contains("partial_max_by"),
      "expected a map-side partial max_by aggregate in the CDC-apply " +
        "plan; got:\n" + p.take(600))
    assert(!p.contains("Window"), "CDC apply must not window-sort the changelog")
  }

  test("q203-q206: SQL subqueries decorrelate to joins (no per-row re-execution)") {
    // Catalyst's RewriteCorrelatedScalarSubquery / RewritePredicateSubquery
    // must leave NO surviving per-row subquery node: each outer row
    // re-running the inner query is O(n·m) scans at 100 TB, vs one
    // shuffle for the decorrelated join (the same shapes Joins.scala
    // hand-writes as semi/anti).
    val want = Seq(
      "q203_corr_scalar_subquery" -> "Join", // avg→one hash agg, joined back
      "q204_exists_subquery" -> "LeftSemi",
      "q205_not_in_subquery" -> "LeftAnti", // null-aware anti
      "q206_select_scalar_count" -> "LeftOuter") // with the COUNT-bug repair
    for ((name, shape) <- want) {
      val p = plan(name)
      assert(p.contains(shape),
        s"$name: expected a $shape join after decorrelation; got:\n${p.take(800)}")
      assert(!p.contains("Subquery"),
        s"$name: a per-row subquery survived decorrelation:\n${p.take(800)}")
    }
  }

  test("q208: correlated LATERAL top-1 decorrelates to a per-key window rank, no subquery") {
    val p = plan("q208_lateral_top1")
    assert(!p.contains("Subquery"),
      "per-outer-row lateral re-execution survived:\n" + p.take(800))
    val qe = SparkEntry.queries("q208_lateral_top1")(spark, sf).queryExecution
    val wins = qe.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec => g
    }
    assert(wins.nonEmpty, "expected a window-rank rewrite of the " +
      "correlated LIMIT; got:\n" + p.take(800))
  }

  test("q209: UNcorrelated scalar subquery stays a once-executed Subquery (the efficient shape)") {
    val p = plan("q209_uncorr_scalar_subquery")
    assert(p.contains("Subquery"),
      "one-shot scalar subquery should execute once as a Subquery node:\n" +
        p.take(800))
  }

  test("v92: model broadcasts onto one corpus scan; training map-side combines") {
    // inference must be the v61 broadcast-probe shape: the 10-row model
    // re-enters as a broadcast (never a shuffle of the corpus against
    // it), and the training component sums carry a partial aggregate so
    // 10×64 cells — not 100 TB of posexploded components — cross the wire
    val p = plan("v92_centroid_classifier")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "model side not broadcast:\n" + p.take(800))
    assert(p.contains("partial_"), "training sums not map-side combined:\n" +
      p.take(800))
  }

  test("q212: variant shredding is one streamed scan — no join, no second pass") {
    val qe = SparkEntry.queries("q212_variant_shred")(spark, sf).queryExecution
    val joins = qe.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, "variant extraction must not induce a join: " +
      joins.map(_.nodeName).mkString(","))
    val scans = qe.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1,
      s"expected exactly one events scan, got ${scans.length}")
    assert(plan("q212_variant_shred").contains("partial_"),
      "per-type roll-up not map-side combined")
  }

  test("CBO: ANALYZE stats drive join reorder (small pair first, despite written order)") {
    // SURVEY §4 maps CostBasedJoinReorder as "needs stats" — exercise
    // the stats path end-to-end: catalog tables + ANALYZE ... FOR ALL
    // COLUMNS, cbo + joinReorder on, a deliberately-bad written order
    // (orders ⋈ customer first), and the optimizer must join the two
    // SMALL relations (customer ⋈ nation) at the bottom instead. At
    // 100 TB this is what saves the fact table from passing through
    // two shuffles instead of one.
    val conf = spark.conf
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.cbo.enabled", "true")
      conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      Tables.nation(spark, sf).write.mode("overwrite").saveAsTable("cbo_nation")
      Tables.customer(spark, sf).write.mode("overwrite").saveAsTable("cbo_customer")
      Tables.orders(spark, sf).write.mode("overwrite").saveAsTable("cbo_orders")
      for (t <- Seq("cbo_nation", "cbo_customer", "cbo_orders"))
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      val st = spark.table("cbo_orders").queryExecution.optimizedPlan.stats
      assert(st.rowCount.isDefined && st.rowCount.get.toLong > 0,
        "ANALYZE did not surface a rowCount into the optimizer")
      val q = spark.sql(
        """SELECT n_name, count(*) AS n FROM cbo_orders
          |JOIN cbo_customer ON o_custkey = c_custkey
          |JOIN cbo_nation ON c_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin)
      val joins = q.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.size == 2, s"expected 2 joins, got ${joins.size}")
      // bottom-most join = last in collect order; its subtree must be
      // the two small tables — orders joins LAST
      val bottomLeaves = joins.last.collectLeaves().map(_.toString).mkString
      assert(bottomLeaves.contains("cbo_customer") &&
        bottomLeaves.contains("cbo_nation") && !bottomLeaves.contains("cbo_orders"),
        "stats did not reorder the join (orders still at the bottom):\n" +
          q.queryExecution.optimizedPlan.toString.take(1200))
      // reorder must not change values: every order lands in exactly
      // one nation bucket, so the grouped counts sum to |orders|
      val total = q.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0)
      assert(total == Tables.orders(spark, sf).count(),
        s"reordered join changed the row total: $total")
    } finally {
      for (t <- Seq("cbo_nation", "cbo_customer", "cbo_orders"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("q213: recursive CTE plans as UnionLoop with an equi-join per level") {
    // the engine-owned fixpoint: recursion must surface as the
    // UnionLoop/UnionLoopRef operator pair with the frontier-to-orders
    // step an EQUI join (a theta/cartesian level join would rescan
    // orders per frontier row — the O(n·m) shape recursion exists to
    // avoid). The declarative twin of t63/t71's hand-rolled loops.
    val p = plan("q213_recursive_cte_reach")
    assert(p.contains("UnionLoop"), "no UnionLoop recursion operator:\n" +
      p.take(800))
    assert(p.contains("UnionLoopRef"), "no recursive self-reference node:\n" +
      p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "level join degenerated to theta/cartesian:\n" + p.take(800))
  }

  test("q213: the recursion level limit fails loudly, and the default clears the fixture depth") {
    // the scaladoc names spark.sql.cteRecursionLevelLimit as the t63-style
    // loud cap: a depth past the limit must ERROR, never silently truncate
    // the reach set (a truncated closure would be a silent wrong answer)
    val conf = spark.conf
    val key = "spark.sql.cteRecursionLevelLimit"
    val saved = conf.getOption(key)
    try {
      conf.set(key, "5") // fixture tree is 11+ levels deep
      val e = intercept[Exception] {
        SparkEntry.queries("q213_recursive_cte_reach")(spark, sf).count()
      }
      assert(e.getMessage.toLowerCase.contains("recursion") ||
        e.getMessage.contains("level"), s"unexpected error: ${e.getMessage.take(200)}")
    } finally saved.fold(conf.unset(key))(conf.set(key, _))
    // and the default limit clears the fixture depth with the full closure
    val reach1 = SparkEntry.queries("q213_recursive_cte_reach")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("root") === 1)
      .head.getAs[Long]("n_reach")
    assert(reach1 == Tables.orders(spark, sf).count() - 1)
  }

  test("t118: RRF's semantic side broadcasts the probe set (no candidate shuffle join)") {
    val p = plan("t118_rrf_fusion")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
  }

  test("q197/q198: event_type filter reaches the parquet scan on both join sides") {
    // the stream-stream twins' batch plans must scan only the click and
    // purchase slices (EqualTo pushed), never the whole events table —
    // at 100 TB the 3/5 of events that are neither type must die at the
    // scan, and the residual time-band predicate rides the user-id join
    for (q <- Seq("q197_stream_stream_join", "q198_stream_stream_left_join")) {
      val p = plan(q)
      assert(p.contains("EqualTo(event_type,purchase)"), s"$q: ${p.take(600)}")
      assert(p.contains("EqualTo(event_type,click)"), s"$q: ${p.take(600)}")
    }
  }

  test("q196: fixed-k hash sample plans as TakeOrderedAndProject (no global sort)") {
    // the reservoir-equivalent draw must be a per-partition k-heap +
    // driver merge; a global Sort would shuffle the whole corpus
    assert(plan("q196_fixed_k_sample").contains("TakeOrderedAndProject"))
  }

  test("v61: cosine scoring uses the codegen graft_dot expression") {
    assert(plan("v61_cosine_topk").contains("graft_dot"))
  }

  test("t72: token hashing uses the codegen graft_polyhash expression") {
    assert(plan("t72_cms_heavy_hitters").contains("graft_polyhash"))
  }

  test("q22: global ranks avoid the single-partition WindowExec") {
    val qe = SparkEntry.queries("q22_window_ranks")(spark, sf).queryExecution
    val unpartitioned = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty,
      s"found ${unpartitioned.size} global (move-everything-to-one-task) windows")
  }

  test("q89: tail plans as TakeOrderedAndProject (no global sort)") {
    assert(plan("q89_tail").contains("TakeOrderedAndProject"))
  }

  test("t84: BM25 top-10 plans as TakeOrderedAndProject with partial aggregates") {
    val p = plan("t84_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    // postings + doc-length aggs combine map-side before their shuffles
    assert("partial_".r.findAllIn(p).size >= 2, p.take(400))
  }

  test("t88: sparse tf-idf pairs join on the term — no pair cartesian") {
    val p = plan("t88_tfidf_cosine_pairs")
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
  }

  test("q133: lag + rolling corr share one per-user sort (no second exchange)") {
    val qe = SparkEntry.queries("q133_rolling_corr")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    // both window passes partition on user_id: exactly ONE hash exchange
    // on user_id feeds them (the final presentation sort adds a range
    // exchange, which is fine)
    val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 user_id hash exchange, got $hashEx")
  }

  test("t75: boilerplate scoring joins on the shingle — no pair join, no cartesian, HASHED not sorted") {
    val p = plan("t75_boilerplate_ngrams")
    assert(!p.contains("CartesianProduct"), p.take(400))
    // frequency join keys on the shingle string: candidate volume is
    // O(shingle collisions), never O(docs²)
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
    // r14: the frequency join must HASH, not sort-merge — SMJ sorts the
    // full shingle stream by string key twice (~70 s of the 2M-doc
    // smoke's wall; hashed ~8-12 s); the build side is one row per
    // distinct shingle, so the per-partition hash build is bounded
    assert(p.contains("ShuffledHashJoin"),
      "frequency join regressed to sort-merge:\n" + p.take(800))
  }

  test("t76: chunking plan has no shuffle before the presentation sort") {
    val qe = SparkEntry.queries("t76_doc_chunking")(spark, sf).queryExecution
    // exactly one Exchange: the final orderBy's range partitioning —
    // chunk construction itself is embarrassingly parallel
    val exchanges = qe.executedPlan.toString.linesIterator
      .count(_.trim.stripPrefix("+- ").startsWith("Exchange"))
    assert(exchanges <= 1, qe.executedPlan.toString.take(600))
  }

  test("v67: kmeans E-step broadcasts the seed centroids") {
    val p = plan("v67_kmeans_step")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(600))
  }

  test("q39: compound predicate reaches the scan as data filters") {
    val p = plan("q39_filter_predicates")
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(scanLine.contains("PushedFilters: [") && !scanLine.contains("PushedFilters: []"),
      scanLine.take(400))
  }

  test("extensions: size(filter(...)) > 0 in a Filter becomes exists(...)") {
    import org.apache.spark.sql.functions.{col, filter => afilter, size => asize}
    val docs = Tables.documents(spark, sf)
    val q = docs.filter(asize(afilter(org.apache.spark.sql.functions.split(col("text"), " "),
      x => x === "the")) > 0)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("exists("), opt.take(600))
    assert(!opt.contains("size(filter("), opt.take(600))
    // negated / nested positions must NOT rewrite: false-vs-null matters
    // under NOT (a null-array row is kept unrewritten, dropped rewritten)
    val negated = docs.filter(!(asize(afilter(
      org.apache.spark.sql.functions.split(col("text"), " "), x => x === "the")) > 0))
    assert(!negated.queryExecution.optimizedPlan.toString.contains("exists("),
      "rewrite leaked into a negated position")
    // and the rewrite preserves the answer: exclude the rule, re-run, compare
    val ruleName = functions.ExistsOverSizeFilter.ruleName
    val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules", ruleName)
    try {
      val unopt = docs.filter(asize(afilter(
        org.apache.spark.sql.functions.split(col("text"), " "), x => x === "the")) > 0)
      assert(!unopt.queryExecution.optimizedPlan.toString.contains("exists("))
      assert(unopt.count() == q.count())
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
      case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  test("t64: heavy hitters top-k plans as TakeOrderedAndProject with partial agg") {
    val p = plan("t64_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(p.contains("partial_"), p.take(400))
  }

  test("q99: binning aggregation is two-phase (map-side partial)") {
    assert(plan("q99_cut_binning").contains("partial_"))
  }

  test("q121: bounded top-k Aggregator plans as a partial (map-side) aggregate") {
    // The point of the heap Aggregator: each task pre-trims its groups
    // to k rows BEFORE the shuffle. The physical plan must show the
    // two-phase ObjectHashAggregate with a partial_ mode — if it ever
    // planned as a single final aggregate, the scale claim is void.
    val p = plan("q121_topk_heap_aggregator")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p.take(600))
    assert(p.contains("partial_"), p.take(600))
    // and the results match the window formulation exactly (q21 shape)
    import org.apache.spark.sql.functions.col
    val agg = operators.Typed.qTopkAggregator.fn(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = Tables.orders(spark, sf).filter(col("o_custkey") < 2000)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    assert(agg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(agg).isEmpty,
      "heap aggregator diverges from window top-k")
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in final plan)") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit => flit, when => fwhen}
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force sort-merge
    try {
      // one hot key carrying ~98% of rows, wide payload to cross the
      // byte threshold — the shape AQE's runtime re-plan exists for
      val skewed = spark.range(100000)
        .withColumn("k", fwhen(col("id") % 50 === 0, concat_ws("_", flit("key"), col("id") % 7))
          .otherwise(flit("hot")))
        .withColumn("payload", concat_ws("", Seq.fill(8)(col("id").cast("string")): _*))
      val dim = spark.range(200).withColumn("k",
        fwhen(col("id") === 0, flit("hot"))
          .otherwise(concat_ws("_", flit("key"), col("id") % 7)))
      val joined = skewed.join(dim, Seq("k"))
      // run THIS DataFrame's own QueryExecution (count() would plan a new
      // one and leave this plan unexecuted / un-adapted)
      assert(joined.queryExecution.toRdd.count() > 0)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan.take(1200))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("runtime bloom-filter pruning injects might_contain on the fact side") {
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val keys = Seq("spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // thresholds sized for fixture data (defaults assume 10MB/10GB tables)
    conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // shuffle join
    try {
      val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 400000)
      val l = Tables.lineitem(spark, sf)
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
      val opt = j.queryExecution.optimizedPlan.toString
      // the selective dim side built a bloom filter; the fat scan probes it
      assert(opt.contains("might_contain"), opt.take(1000))
      assert(j.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("native merge as-of join: custom SparkPlan equals the union+window form") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click").select("user_id", "ts")
    val native = graft.plans.AsOf.lastTsAtOrBefore(
      purchases, clicks, "user_id", "ts", "ts", "last_click_ts")
    // plan shape: the custom exec is planned, fed by one exchange per side
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("MergeAsOf"), plan.take(600))
    val gotRows = native.collect()
    val got = gotRows.map(r => r.getLong(0) ->
      Option(r.getTimestamp(3)).map(_.getTime)).toMap
    val want = operators.Events.qAsOfJoin.fn(spark, sf).collect()
      .map(r => r.getLong(0) ->
        Option(r.getTimestamp(3)).map(_.getTime)).toMap
    assert(gotRows.length == want.size)
    assert(got == want)
  }

  test("native merge as-of join: null keys never match, left rows survive") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def ts(m: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-06-01 10:$m%02d:00")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    val left = spark.createDataFrame(Seq(
      Row(1L, ts(10)), Row(null, ts(11)), Row(2L, ts(12)), Row(2L, null)
    ).asJava, schema)
    val right = spark.createDataFrame(Seq(
      Row(1L, ts(5)), Row(null, ts(6)), Row(2L, null), Row(2L, ts(7))
    ).asJava, schema)
    val got = graft.plans.AsOf.lastTsAtOrBefore(
        left, right, "user_id", "ts", "ts", "m")
      .collect().map(r => (Option(r.get(0)), Option(r.getTimestamp(1)),
        Option(r.getTimestamp(2)))).toSet
    val want = Set(
      (Some(1L), Some(ts(10)), Some(ts(5))),  // normal backward match
      (None, Some(ts(11)), None),             // null left key: kept, no match
      (Some(2L), Some(ts(12)), Some(ts(7))),  // null right rows skipped
      (Some(2L), None, None))                 // null left ts: kept, no match
    assert(got.map(t => (t._1, t._2, t._3)) == want.map(t =>
      (t._1.map(_.asInstanceOf[Any]), t._2, t._3)))
  }

  test("native merge as-of join under heavy key skew (one user = 50% of rows)") {
    // MergeAsOfExec clusters on the key, so a hot key lands on ONE
    // partition pair and AQE's skew split does not apply to a custom
    // exec (scaladoc'd bound, AsOfJoinPlan.scala). This pins: (a) the
    // merge completes under 50% single-key weight — streaming scan, no
    // buffering blowup — and (b) parity with the skew-safe union+window
    // form holds exactly.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val n = 4000L
    val left = spark.range(n).select(
      when(col("id") % 2 === 0, lit(777L)).otherwise(col("id") % 500).as("user_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 7).as("ts"),
      col("id").as("lid"))
    val right = spark.range(n).select(
      when(col("id") % 2 === 1, lit(777L)).otherwise(col("id") % 500).as("user_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 5).as("ts"))
    val native = graft.plans.AsOf.lastTsAtOrBefore(
      left, right, "user_id", "ts", "ts", "m")
    val got = native.collect()
      .map(r => r.getLong(2) -> Option(r.getTimestamp(3)).map(_.getTime)).toMap
    // oracle: the union+window as-of form (q46's algorithm, skew-safe twin)
    val lTag = left.select(col("user_id"), col("ts"), col("lid"), lit(1).as("isL"),
      lit(null).cast("timestamp").as("rts"))
    val rTag = right.select(col("user_id"), col("ts"),
      lit(null).cast("long").as("lid"), lit(0).as("isL"), col("ts").as("rts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("isL"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = lTag.union(rTag)
      .withColumn("m", last(col("rts"), ignoreNulls = true).over(w))
      .filter(col("isL") === 1)
      .collect().map(r => r.getAs[Long]("lid") ->
        Option(r.getAs[java.sql.Timestamp]("m")).map(_.getTime)).toMap
    assert(got.size == n)
    assert(got == want)
  }

  test("salted as-of join: exact parity with the native exec under 50% key skew") {
    // the banded decomposition must be EXACT (band(r) < band(l) ⇒ r < l),
    // so the salted form and the key-clustered native merge agree row-for-row
    import org.apache.spark.sql.functions._
    val n = 4000L
    val left = spark.range(n).select(
      when(col("id") % 2 === 0, lit(777L)).otherwise(col("id") % 500).as("user_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 7).as("ts"),
      col("id").as("lid"))
    val right = spark.range(n).select(
      when(col("id") % 2 === 1, lit(777L)).otherwise(col("id") % 500).as("user_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 5).as("ts"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("lid") ->
        Option(r.getAs[java.sql.Timestamp]("m")).map(_.getTime)).toMap
    val salted = toMap(graft.plans.AsOf.saltedLastTsAtOrBefore(
      left, right, "user_id", "ts", "ts", "m", bands = 8))
    val native = toMap(graft.plans.AsOf.lastTsAtOrBefore(
      left, right, "user_id", "ts", "ts", "m"))
    assert(salted.size == n)
    assert(salted == native)
  }

  test("salted as-of join: null semantics match the native exec") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
    def ts(sec: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    val left = spark.createDataFrame(Seq(
      Row(1L, ts(10)), Row(null, ts(11)), Row(2L, ts(12)), Row(2L, null)
    ).asJava, schema)
    val right = spark.createDataFrame(Seq(
      Row(1L, ts(5)), Row(null, ts(6)), Row(2L, null), Row(2L, ts(7))
    ).asJava, schema)
    val got = graft.plans.AsOf.saltedLastTsAtOrBefore(
        left, right, "user_id", "ts", "ts", "m", bands = 4)
      .collect().map(r => (Option(r.get(0)), Option(r.getTimestamp(1)),
        Option(r.getTimestamp(2)))).toSet
    val want = Set(
      (Some(1L), Some(ts(10)), Some(ts(5))),  // normal backward match
      (None, Some(ts(11)), None),             // null left key: kept, no match
      (Some(2L), Some(ts(12)), Some(ts(7))),  // null right rows skipped
      (Some(2L), None, None))                 // null left ts: kept, no match
    assert(got.map(t => (t._1, t._2, t._3)) == want.map(t =>
      (t._1.map(_.asInstanceOf[Any]), t._2, t._3)))
  }

  test("repartitionByRange: explicit partition-count control with ordered ranges (npartitions knob)") {
    // The Dask-API partitioning control surface (SURVEY §4 shuffle row):
    // df.repartition(npartitions=N) / set_index divisions. Spark twin:
    // repartitionByRange pins BOTH the partition count and a total
    // range order across partitions (every key in partition i sorts
    // before every key in partition i+1) — the precondition for the
    // sorted-divisions merge join (q70) and ordered writes.
    import org.apache.spark.sql.functions._
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val rp = o.repartitionByRange(7, col("o_orderkey"))
    assert(rp.rdd.getNumPartitions == 7) // user-pinned count: AQE must not coalesce
    val plan = rp.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning(o_orderkey"), plan.take(400))
    val bounds = rp.select(spark_partition_id().as("p"), col("o_orderkey"))
      .groupBy(col("p"))
      .agg(min("o_orderkey").as("mn"), max("o_orderkey").as("mx"),
        count(lit(1)).as("cnt"))
      .orderBy(col("p")).collect()
    assert(bounds.length == 7)
    assert(bounds.forall(_.getAs[Long]("cnt") > 0L))
    // disjoint, ordered ranges across partition ids
    bounds.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("mx") <= b.getAs[Long]("mn"),
          s"overlap between partition ${a.getAs[Int]("p")} and ${b.getAs[Int]("p")}")
      case _ => ()
    }
    // round-trip sanity: repartitioning reorders, never drops
    assert(rp.count() == o.count())
  }

  test("q136: interval overlap plans as a banded equi-join, never theta/cartesian") {
    // the naive overlap theta join degenerates to a per-user cross
    // product; the band form must surface as a plain equi-join on
    // (user_id, band) with the timestamp predicate as a post-filter
    val p = plan("q136_interval_overlap_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("join strategy hints steer the planner (merge vs shuffle_hash vs broadcast)") {
    // the explicit control surface over Catalyst's join choice — what a
    // user reaches for when stats mislead the optimizer at scale
    import org.apache.spark.sql.functions.col
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.toString
    val merge = planOf(o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey")))
    assert(merge.contains("SortMergeJoin"), merge.take(300))
    val shuffleHash = planOf(o.hint("shuffle_hash")
      .join(l, col("o_orderkey") === col("l_orderkey")))
    assert(shuffleHash.contains("ShuffledHashJoin"), shuffleHash.take(300))
    val bcast = planOf(l.join(o.hint("broadcast"),
      col("o_orderkey") === col("l_orderkey")))
    assert(bcast.contains("BroadcastHashJoin"), bcast.take(300))
  }

  test("q186: skew profile plans as TakeOrderedAndProject over a partial aggregate") {
    val p = plan("q186_key_skew_profile")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(p.contains("partial_"), "per-key counts must map-side combine")
  }

  test("t115: skip-gram pairing is join-free (lead windows, not a position self-join)") {
    val qe = SparkEntry.queries("t115_skipgram_cooccurrence")(spark, sf).queryExecution
    val joins = qe.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, joins.map(_.nodeName).mkString(","))
  }

  test("q184: NTZ stays NTZ through the plan (naive datetimes are a first-class type)") {
    import org.apache.spark.sql.types.TimestampNTZType
    val sch = SparkEntry.queries("q184_ntz_datetime_family")(spark, sf).schema
    for (c <- Seq("ts_ntz", "day_ntz", "plus90m"))
      assert(sch(c).dataType == TimestampNTZType, s"$c: ${sch(c).dataType}")
  }

  test("global audit: no stray cartesian product or unpartitioned window in ANY query") {
    // Every registered query's physical plan, one sweep: the two
    // classic scale-killers must only appear where a bounded input
    // makes them deliberate (whitelisted here with the bound).
    val cartesianOk = Set(
      "q8_cross_theta_join" // theta join demo: 25-row nation × nation
    )
    val globalWindowOk = Set(
      // per-day AGGREGATE series: row count is O(calendar days) at any
      // corpus size — the aggregation is the bound (cf. q8's 25-row side)
      "q125_merge_ordered",
      // same bound: cumulative sum over the daily new-user aggregate
      "q192_cumulative_reach",
      // monotone-curve flag over the 3-row (one per n_cells) sweep
      // aggregate: the window input is 3 rows by construction
      "v85_ivf_probe_sweep",
      // centers-increasing flag over the 8-row histogram_numeric sketch
      // output: the window is on the SKETCH, not the data (r9 note at
      // Aggregates.qAdaptiveHistogram)
      "q190_adaptive_histogram",
      // chosen-level min over the 7-row generalization ledger: the
      // window input is one row per ladder level by construction
      "t122_kanon_generalize_ledger"
    )
    // Iterative queries run their loop eagerly on fn() and return a
    // frame over a cached/checkpointed RDD, so their returned plan is a
    // truncated scan — sweeping them here would both claim coverage the
    // audit can't deliver and execute multi-round jobs in a plan-only
    // test. Their per-round shapes are locked separately: v67 pins the
    // kmeans E-step broadcast (v68's loop E-step is the same broadcast
    // with the argmin as a partial-aggregating min_by instead of a
    // window, r10), t63/t71's round bodies are groupBy/join-only
    // (DedupSpec + the CC property tests drive them).
    val iterative = Set("v68_kmeans_lloyd", "t63_dedup_clusters",
      "t71_dedup_clusters_star", "v76_pq_ann", "t83_neardup_pipeline",
      // generalization-ladder search: fn() runs its grouping-sets
      // probe eagerly; the roll-up shape is the same plan t122's
      // single-pass ledger sweeps here
      "t123_kanon_generalized_classes",
      // SQL scripting: fn() executes the DECLARE/WHILE loop eagerly
      // (each SET is a full aggregate job); the returned frame is the
      // final posexplode over the session variable. Its per-round body
      // is the same partial-aggregating scan q1 sweeps here.
      "q211_sql_scripting_trim")
    val cartOffenders = scala.collection.mutable.ListBuffer[String]()
    val winOffenders = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
        if !iterative(name)) {
      val plan = fn(spark, sf).queryExecution.sparkPlan
      val hasCart = plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.nonEmpty
      val hasGlobalWin = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }.nonEmpty
      if (hasCart && !cartesianOk(name)) cartOffenders += name
      if (hasGlobalWin && !globalWindowOk(name)) winOffenders += name
    }
    assert(cartOffenders.isEmpty, s"unexpected CartesianProduct in: $cartOffenders")
    assert(winOffenders.isEmpty, s"unpartitioned WindowExec in: $winOffenders")
  }

  test("explain('formatted') exposes scan pushdown and codegen spans") {
    // dask `visualize()` / task-graph introspection maps to Spark's plan
    // output: the formatted explain must surface the load-bearing facts a
    // user tunes against — pushed filters, read schema, codegen spans,
    // two-phase aggregation — for the flagship query.
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    df.collect() // materialize THIS queryExecution so AQE finalizes
    // (count() would build its own QE and leave this plan un-executed)
    val txt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(txt.contains("Physical Plan"))
    assert(txt.contains("PushedFilters"), "scan filter pushdown not visible")
    assert(txt.contains("ReadSchema"), "column pruning not visible")
    assert(txt.contains("codegen id"), "no codegen span in plan")
    assert(txt.count(_ == '\n') > 10, "formatted plan suspiciously short")
  }

  test("persist/cache substitutes InMemoryRelation; unpersist invalidates it") {
    // dask `df.persist()` → Dataset.persist: CacheManager must swap an
    // EQUIVALENT plan (not just the same reference) to the in-memory
    // relation, and unpersist must restore the original scan — the
    // product-surface contract, not just a bench warm-up trick.
    import org.apache.spark.sql.functions.col
    val base = Tables.lineitem(spark, sf).filter(col("l_quantity") > 10)
    base.persist()
    try {
      base.count() // materialize
      // a re-derived (plan-equal, reference-distinct) frame hits the cache
      val rederived = Tables.lineitem(spark, sf).filter(col("l_quantity") > 10)
      def hasInMemory(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.executedPlan.collect {
          case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c
        }.nonEmpty
      assert(hasInMemory(rederived), "cached plan not substituted")
      base.unpersist(true)
      val after = Tables.lineitem(spark, sf).filter(col("l_quantity") > 10)
      assert(!hasInMemory(after), "unpersist did not invalidate the cache entry")
    } finally base.unpersist(true)
  }

  test("extensions: graft_dot is a session SQL function (no temp registration)") {
    // newSession shares the context but rebuilds SessionState from the
    // injected extensions alone — Tables.ensureRegistered never ran here,
    // so resolving graft_dot proves the injectFunction path.
    val s2 = spark.newSession()
    val d = s2.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head.getDouble(0)
    assert(d == 11.0)
  }

  test("q166: point-in-time as-of join plans JOIN-FREE (union + window)") {
    // the leakage-guard as-of rides q46's union + single user-keyed
    // window machinery — no join operator anywhere in the plan, so there
    // is no as-of row explosion and no skew-prone range join at 100 TB
    val p = plan("q166_point_in_time_features")
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("Window"), p.take(800))
  }

  test("partitioned layout: day filter becomes a PartitionFilter (pruned scan)") {
    import org.apache.spark.sql.functions.{col, to_date}
    // The 100 TB layout is a date-partitioned directory tree; a day
    // predicate must prune directories at planning time (PartitionFilters),
    // never run as a post-scan data filter over every file.
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      Tables.events(spark, sf)
        .withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(dir)
      val pruned = spark.read.parquet(dir).filter(col("day") === "2024-01-03")
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.replaceAll("\\s+", " ").matches(".*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"),
        plan.take(1200))
      // the pruned scan reads exactly the one partition's rows
      val expected = Tables.events(spark, sf)
        .filter(to_date(col("ts")) === "2024-01-03").count()
      assert(pruned.count() == expected && expected > 0)
    } finally {
      val p = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("q217: the SQL UDF inlines — no SQLFunction/ScalaUDF node survives, floor lands in the aggregate's child") {
    // CREATE FUNCTION ... RETURN expr is free only because the analyzer
    // INLINES the body; a surviving function node would mean a per-row
    // call (or worse, a sub-plan) at any corpus size. Pin it on the
    // registered query's optimized plan.
    val df = SparkEntry.queries("q217_sql_udf_scalar")(spark, TestSession.sf)
    val optimized = df.queryExecution.optimizedPlan
    val survivors = optimized.collect { case node =>
      node.expressions.flatMap(_.collect {
        case e if e.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.ScalaUDF] => e
        case e if e.getClass.getSimpleName.contains("SQLFunction") => e
      })
    }.flatten
    assert(survivors.isEmpty,
      s"function nodes survived analysis: ${survivors.map(_.getClass.getSimpleName)}")
    val p = optimized.toString
    assert(!p.toLowerCase.contains("graft_disc_pennies"),
      "the UDF name survived in the optimized plan:\n" + p.take(1200))
    assert(p.toUpperCase.contains("FLOOR("),
      "the inlined body's floor is missing from the plan:\n" + p.take(1200))
  }

  test("t124: cluster-canonical selection is one max_by aggregate — no per-cluster window sort") {
    // keep-best must ship ONE candidate per (partition, cluster) via a
    // partial max_by, never row_number over sorted clusters (the oracle
    // uses the window form — same values, different scale behavior)
    val p = SparkEntry.queries("t124_cluster_canonical")(spark, TestSession.sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "canonical pick regressed to a window:\n" +
      p.take(800))
    assert(p.contains("partial_max_by") || p.contains("partial_count"),
      "aggregate is not two-phase:\n" + p.take(800))
  }

  test("q220: pipe syntax lowers to the identical optimized plan as the ANSI form") {
    // |> is parser surface only — each stage must produce the same
    // logical operators the nested-SELECT form does, so the two texts
    // optimize to plans with the same result (zero pipe tax at scale).
    val pipe = SparkEntry.queries("q220_sql_pipe_syntax")(spark, TestSession.sf)
    Tables.lineitem(spark, TestSession.sf)
      .createOrReplaceTempView("graft_fn_lineitem")
    // the nested-SELECT de-sugaring of the pipe form: EXTEND is a
    // projection BELOW the aggregate, so the twin computes pennies in a
    // subquery exactly as the pipe stage does (a flat sum(floor(...))
    // is the same answer but a structurally different — floor-inside-
    // aggregate — plan, which sameResult correctly distinguishes)
    val ansi = spark.sql(
      """SELECT l_returnflag, count(*) AS n, sum(pennies) AS disc_pennies
        |FROM (SELECT l_returnflag,
        |             CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |               AS BIGINT) AS pennies
        |      FROM graft_fn_lineitem WHERE l_quantity >= 30)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    assert(pipe.queryExecution.optimizedPlan
        .sameResult(ansi.queryExecution.optimizedPlan),
      "pipe and ANSI forms optimized to different plans:\n--pipe--\n" +
        pipe.queryExecution.optimizedPlan.toString.take(1200) +
        "\n--ansi--\n" +
        ansi.queryExecution.optimizedPlan.toString.take(1200))
  }
}

/** Harness cache-hygiene contract: Scale.pin / Scale.releasePins.
  *
  * The bench/verify sweeps must release operator-pinned frames at the
  * DATASET level — an RDD-level unpersist drops the blocks but leaves
  * the CacheManager entry, and the next run of the same plan then
  * substitutes a storage-level-NONE InMemoryRelation that recomputes
  * its lineage per consumer with no reuse (the r10 t54 warm>cold
  * inversion). */
class PinSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSession.spark
  import org.apache.spark.storage.StorageLevel

  test("pin caches; releasePins removes blocks AND the CacheManager entry") {
    graft.operators.Scale.releasePins() // clean slate
    val df = spark.range(1000).selectExpr("id", "id * 2 AS v")
      .transform(graft.operators.Scale.pin(_))
    assert(df.storageLevel != StorageLevel.NONE) // entry registered
    df.count() // materialize blocks
    graft.operators.Scale.releasePins()
    // Dataset-level release: the entry is gone, not just the blocks —
    // a FRESH frame with the identical plan must not resolve to a
    // cached relation.
    assert(df.storageLevel == StorageLevel.NONE)
    val fresh = spark.range(1000).selectExpr("id", "id * 2 AS v")
    assert(fresh.storageLevel == StorageLevel.NONE)
    assert(fresh.queryExecution.withCachedData.collectFirst {
      case i: org.apache.spark.sql.execution.columnar.InMemoryRelation => i
    }.isEmpty)
  }

  test("reapCheckpoints deletes finished rdd-* payloads under the checkpoint dir") {
    val dir = graft.operators.Scale.harnessCheckpointDir()
    // route Scale.cut to the reliable branch (cut installs the dir on sc)
    spark.conf.set(graft.operators.Scale.CheckpointDirKey, dir)
    try {
      val cut = graft.operators.Scale.cut(
        spark.range(1000).toDF("id"), eager = true)
      assert(cut.count() == 1000L)
      val ckptRoot = new org.apache.hadoop.fs.Path(
        spark.sparkContext.getCheckpointDir.get)
      val fs = ckptRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def rddDirs() = fs.listStatus(ckptRoot)
        .count(st => st.isDirectory && st.getPath.getName.startsWith("rdd-"))
      assert(rddDirs() >= 1) // the cut wrote a payload
      graft.operators.Scale.reapCheckpoints(spark)
      assert(rddDirs() == 0)
    } finally {
      // the session is shared: other suites must keep the
      // localCheckpoint default
      spark.conf.unset(graft.operators.Scale.CheckpointDirKey)
      val p = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("Harness.runEach sweep keeps entry-time caches, drops pins, stray persists and rdd-* payloads") {
    import graft.operators.Scale
    val sc = spark.sparkContext
    val fixture = spark.range(500).selectExpr("id", "id % 7 AS k").cache()
    fixture.count()
    val fixtureRdds = sc.getPersistentRDDs.keySet
    val dir = Scale.harnessCheckpointDir()
    // route Scale.cut to the reliable branch (cut installs the dir on sc)
    spark.conf.set(Scale.CheckpointDirKey, dir)
    def rddDirs(): Int = {
      val root = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
      root.getFileSystem(sc.hadoopConfiguration).listStatus(root)
        .count(st => st.isDirectory && st.getPath.getName.startsWith("rdd-"))
    }
    val pinned = spark.range(1000).selectExpr("id", "id * 3 AS v")
    val stray = spark.range(1000).selectExpr("id", "id + 1 AS w")
    var strayRdds = Set.empty[Int]
    try {
      Harness.runEach(spark, Seq("step")) { _ =>
        Scale.pin(pinned).count()
        val before = sc.getPersistentRDDs.keySet
        stray.persist().count() // outside the pin registry
        strayRdds = sc.getPersistentRDDs.keySet.toSet -- before
        assert(Scale.cut(spark.range(1000).toDF("id"), eager = true)
          .count() == 1000L)
        assert(strayRdds.nonEmpty && rddDirs() >= 1) // all three exist
      }
      assert(fixture.storageLevel != StorageLevel.NONE)
      assert(fixtureRdds.subsetOf(sc.getPersistentRDDs.keySet))
      // Dataset-level release: the pin's CacheManager entry is gone too
      assert(pinned.storageLevel == StorageLevel.NONE)
      assert(spark.range(1000).selectExpr("id", "id * 3 AS v")
        .queryExecution.withCachedData.collectFirst {
          case i: org.apache.spark.sql.execution.columnar.InMemoryRelation => i
        }.isEmpty)
      assert(strayRdds.intersect(sc.getPersistentRDDs.keySet).isEmpty)
      assert(rddDirs() == 0)
    } finally {
      // the session is shared: other suites must keep the
      // localCheckpoint default and an empty cache
      spark.conf.unset(Scale.CheckpointDirKey)
      stray.unpersist(blocking = true)
      fixture.unpersist(blocking = true)
      Harness.deleteTree(java.nio.file.Paths.get(dir))
    }
  }

  /** WARN messages logged on `graft.Harness` while `body` runs. */
  private def harnessWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "pinspec-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN)
          got.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = org.apache.logging.log4j.LogManager.getLogger("graft.Harness")
      .asInstanceOf[Logger]
    logger.addAppender(app)
    try body
    finally { logger.removeAppender(app); app.stop() }
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq
  }

  test("Harness.runEach warns about a stray persist's CacheManager entry, not about a pin") {
    import graft.operators.Scale
    val stray = spark.range(700).selectExpr("id", "id * 5 AS s")
    try {
      val strayWarn = harnessWarnings {
        Harness.runEach(spark, Seq("stray_step", "clean_step")) {
          case "stray_step" => stray.persist().count()
          case _ => spark.range(10).count()
        }
      }
      // the entry outlives the sweep, and only the query that made it
      // is named — the clean step after it adds nothing
      assert(stray.storageLevel != StorageLevel.NONE)
      assert(strayWarn.size == 1, strayWarn)
      assert(strayWarn.head.startsWith("stray_step left 1 CacheManager entries"),
        strayWarn.head)
      stray.unpersist(blocking = true)
      val pinWarn = harnessWarnings {
        Harness.runEach(spark, Seq("pin_step")) { _ =>
          Scale.pin(spark.range(800).selectExpr("id", "id * 7 AS p")).count()
        }
      }
      assert(pinWarn.isEmpty, pinWarn)
    } finally stray.unpersist(blocking = true)
  }

  test("releasePins is idempotent and tolerates double-unpersist") {
    val df = spark.range(10).toDF("id").transform(graft.operators.Scale.pin(_))
    df.count()
    df.unpersist(blocking = true) // operator-side early release
    graft.operators.Scale.releasePins() // must be a no-op, not a throw
    graft.operators.Scale.releasePins()
    assert(df.storageLevel == StorageLevel.NONE)
  }
}
