package perfbench

import graft.Q

/** Writes each workload query's digest, computed twice so that a query
  * whose output is not repeatable fails loudly instead of being recorded.
  * `python3 perfbench/record.py` turns the record into expected.tsv. */
object Record {
  def main(args: Array[String]): Unit = {
    val spark = Setup.session()
    val ws = Workloads.byName.toSeq.sortBy(_._1).map(_._2)
    ws.foreach(Setup.cacheFixtures(spark, _))
    val runner = new Runner(spark, Map.empty, None)
    val lines = ws.flatMap(w => Workloads.queries(w.queries)).map { q =>
      val ds = (1 to 2).map { _ =>
        val d = Digest.of(q.fn(spark, Setup.fixtureDir).collect())
        runner.sweep()
        d
      }
      require(ds.distinct.size == 1, s"${q.name} is not repeatable: $ds")
      s"${q.name}\t${ds.head.rows}\t${ds.head.hash}"
    }
    spark.stop()
    println("RECORD " + Json(lines))
  }
}

/** The harness's own test: a corrupted digest and a throwing query must
  * each count as one failed operation, with class and message; an intact
  * digest must pass. `python3 perfbench/selftest.py` runs it. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = Setup.session()
    Setup.cacheFixtures(spark, Workloads.floor)
    val q1 = Workloads.queries(Seq("q1_pricing_summary")).head
    val want = Digest.expected()(q1.name)
    val throws = Q.noOracle("selftest_throws")((_, _) =>
      throw new IllegalStateException("selftest: query throws"))
    val bad = new Runner(spark, Map(q1.name -> want.copy(hash = "0" * 16)), None)
    val runs = Seq(bad.run(q1, 0), bad.run(throws, 0),
      new Runner(spark, Map(q1.name -> want), None).run(q1, 0))
    spark.stop()
    val failures = QueryRun.failures(runs)
    val passed = failures.map(f => (f("query"), f("class"))) == Seq(
      (q1.name, classOf[OutputMismatch].getName),
      ("selftest_throws", "java.lang.IllegalStateException")) &&
      failures(1)("message") == "selftest: query throws"
    println("RECORD " + Json(Map("passed" -> passed, "attempted" -> runs.size,
      "failures" -> failures)))
  }
}
