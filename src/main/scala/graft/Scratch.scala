package graft

/** Dev scratchpad for interactive plan/perf inspection. Not part of the
  * driver contract. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[time] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    // SPARK_GRAFT_CONFS="k=v;k2=v2" → extra runtime confs for A/B tests
    sys.env.get("SPARK_GRAFT_CONFS").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    val queries = SparkEntry.queries
    val names = if (args.isEmpty) queries.keys.toSeq.sorted else args.toSeq
    // SPARK_GRAFT_PHASES=1 → split cold into plan (analyze+optimize+
    // physical planning) vs execute, to localize one-time per-query cost
    val phases = sys.env.get("SPARK_GRAFT_PHASES").contains("1")
    Harness.runEach(spark, names) { n =>
      val fn = queries(n)
      if (phases) {
        val df = fn(spark, sfDir)
        time(s"$n plan")(df.queryExecution.executedPlan)
        time(s"$n exec")(df.count())
        time(s"$n warm")(fn(spark, sfDir).count())
      } else {
        time(s"$n cold")(fn(spark, sfDir).count())
        time(s"$n warm")(fn(spark, sfDir).count())
      }
    }
    Harness.close(spark)
  }
}
