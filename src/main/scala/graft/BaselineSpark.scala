package graft

import org.apache.spark.sql.functions._

/** Same-harness Spark baseline for the BASELINE.md §3 anchors: each anchor
  * shape hand-written as the SIMPLEST possible Spark formulation (no graft
  * helpers, no oracle-parity rounding/ordering), timed in exactly the
  * Bench harness (same session conf, cached tables, warm = 3rd pass).
  * This is the number the "within 2×" envelope is judged against
  * Spark-vs-Spark: any implementation of the shape pays at least this. */
object BaselineSpark {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)
    Harness.cacheFixtures(spark, sfDir)
    // the same plans as the cached fixtures, so the CacheManager
    // substitutes the in-memory relations
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)

    import org.apache.spark.sql.expressions.Window
    // each shape = the corresponding anchor query's semantics (same
    // filters, aggregates, ordering), written naively (parity rounding
    // dropped, built-ins only — e.g. HOF dot product, not graft_dot)
    val shapes: Seq[(String, () => Long)] = Seq(
      "tpch_q1_agg" -> (() =>
        li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity"), sum("l_extendedprice"),
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
            sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))),
            avg("l_quantity"), avg("l_extendedprice"), avg("l_discount"), count(lit(1)))
          .orderBy("l_returnflag", "l_linestatus").count()),
      "join3_top10" -> (() =>
        cust.filter(col("c_mktsegment") === "BUILDING")
          .join(ord.filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp")),
            col("c_custkey") === col("o_custkey"))
          .join(li.filter(col("l_shipdate") > lit("1996-03-15").cast("timestamp")),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
          .orderBy(desc("revenue"), col("l_orderkey")).limit(10).count()),
      "window_topk" -> (() =>
        ord.withColumn("rn", row_number().over(Window.partitionBy("o_custkey")
            .orderBy(desc("o_totalprice"), col("o_orderkey"))))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn").count()),
      "tumbling_1h" -> (() =>
        ev.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("value").as("total"),
            (sum("value") / count(lit(1))).as("mean"))
          .select(col("w.start").as("bucket"), col("event_type"),
            col("n"), col("total"), col("mean"))
          .orderBy("bucket", "event_type").count()),
      "count_distinct" -> (() =>
        ev.groupBy("event_type").agg(countDistinct("user_id"))
          .orderBy("event_type").count()),
      "token_counts" -> (() =>
        docs.select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("tok")).limit(25).count()),
      "exact_dedup" -> (() =>
        docs.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), countDistinct("text").as("n_distinct"),
            (count(lit(1)) - countDistinct("text")).as("n_dup_docs"))
          .orderBy("lang").count()),
      "cosine_topk" -> (() => {
        val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
        val v = emb.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
        val p = v.filter(col("vec_id") < 10)
          .select(col("vec_id").as("pid"), col("embedding").as("pe"), col("nrm").as("pn"))
        v.select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
          .join(broadcast(p), col("cid") =!= col("pid"))
          .withColumn("sim", dot(col("pe"), col("ce")) / (col("pn") * col("cn")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("pid").orderBy(desc("sim"), col("cid"))))
          .filter(col("rn") <= 5)
          .orderBy("pid", "rn").count()
      }))

    // the graft query implementing each anchor, timed under the SAME
    // protocol so baseline-vs-graft is apples-to-apples
    val graftAnchors = Seq(
      "tpch_q1_agg" -> "q1_pricing_summary",
      "join3_top10" -> "q3_join3_revenue_top10",
      "window_topk" -> "q21_window_topk_per_customer",
      "tumbling_1h" -> "q43_tumbling_1h",
      "count_distinct" -> "q11_count_distinct",
      "token_counts" -> "t49_token_counts",
      "exact_dedup" -> "t51_exact_dedup_stats",
      "cosine_topk" -> "v61_cosine_topk")

    def timed(f: () => Long): Double = {
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }
    val baseline = shapes.toMap
    val anchorOf = graftAnchors.toMap
    def pass(): Map[String, (Double, Double)] =
      Harness.runEach(spark, shapes.map(_._1)) { name =>
        (timed(baseline(name)),
          timed(() => SparkEntry.queries(anchorOf(name))(spark, sfDir).count()))
      }.toMap
    pass(); pass() // two untimed warm-up passes
    val warm = pass()
    val qs = shapes.map { case (k, _) =>
      val (tb, tg) = warm(k)
      f""""$k":{"baseline":$tb%.3f,"graft":$tg%.3f,"ratio":${tg / tb}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"spark_baseline_vs_graft_warm","unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    Harness.close(spark)
  }
}
