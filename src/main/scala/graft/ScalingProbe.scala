package graft

import scala.util.control.NonFatal

/** Scaling probe (r19 verdict item 6): make the parallelism story
  * FALSIFIABLE. The PERF scaling block compares the 8 headline anchors
  * at 32 vs 8 cores on sf0.1, where every anchor is sub-second and
  * overhead-bound — ratios ≈ 1 are unfalsifiable either way. This main
  * runs the same anchors on the 10× sf1 differential corpus (GenScale
  * output) at two core counts IN ONE JVM (two successive SparkContexts)
  * and prints one JSON line with per-query hi/lo warm medians and the
  * lo/hi speedup ratio. Data-bound anchors should scale ≥ 2 at 8→32.
  *
  * Usage:
  *   sbt "runMain graft.GenScale /root/testdata/sf0.1 /tmp/graft_sf1 10"
  *   SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 sbt "runMain graft.ScalingProbe"
  * The hi core count is SPARK_GRAFT_CPUS (Harness.cpus); the lo one is
  * SPARK_GRAFT_CPUS_LO, default a quarter of hi (8 at 32).
  * Dev/measurement tool.
  */
object ScalingProbe {
  private val anchors = Seq("q1_pricing_summary", "q3_join3_revenue_top10",
    "q21_window_topk_per_customer", "q43_tumbling_1h", "q11_count_distinct",
    "t49_token_counts", "t51_exact_dedup_stats", "v61_cosine_topk")

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val hi = Harness.cpus
    val lo = sys.env.get("SPARK_GRAFT_CPUS_LO").map(_.trim.toInt)
      .getOrElse(math.max(1, hi / 4))

    // GenScale tables are SINGLE parquet files; a single file's scan
    // parallelism is bounded by its row-group count (a 78 MB one-group
    // embeddings file is ONE task at any core count), so anchors whose
    // heavy stage sits directly on the scan would measure file layout,
    // not CPU scaling. Re-materialize each table as a 64-file directory
    // (what any production table looks like) once, untimed; both core
    // counts then read the identical multi-file layout and Spark's
    // bytes-per-core split packing yields ≥cores scan tasks.
    val sfDir = srcDir.stripSuffix("/") + "_multifile"
    val marker = java.nio.file.Paths.get(sfDir, "_PROBE_READY")
    if (!java.nio.file.Files.exists(marker)) {
      val prep = Harness.session(hi)
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "documents", "embeddings", "events")) {
        prep.read.parquet(s"$srcDir/$t.parquet").repartition(64)
          .write.mode("overwrite").parquet(s"$sfDir/$t.parquet")
      }
      Harness.close(prep)
      java.nio.file.Files.createFile(marker)
    }

    def run(cpus: Int): Map[String, Double] = {
      val spark = Harness.session(cpus)
      val out = Harness.runEach(spark, anchors) { n =>
        val fn = SparkEntry.queries(n)
        def once(pass: Int): Double = {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case NonFatal(e) =>
            System.err.println(s"ScalingProbe $n pass $pass failed: " +
              s"${e.getClass.getName}: ${e.getMessage}")
            -1.0
          }
        }
        once(1) // cold, discarded
        val ws = Seq(once(2), once(3), once(4))
        if (ws.exists(_ < 0)) -1.0 else ws.sorted.apply(1)
      }.toMap
      Harness.close(spark)
      out
    }

    val hiRes = run(hi)
    val loRes = run(lo)
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val per = anchors.map { n =>
      val (h, l) = (hiRes(n), loRes(n))
      val ratio = if (h > 0 && l > 0) l / h else -1.0
      s"""\"$n\":{\"c${hi}_sec\":${fmt(h)},\"c${lo}_sec\":${fmt(l)},\"ratio\":${fmt(ratio)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scaling","sf":"$sfDir","cpus_hi":$hi,"cpus_lo":$lo,"warm_stat":"median_of_3","queries":$per}""")
  }
}
