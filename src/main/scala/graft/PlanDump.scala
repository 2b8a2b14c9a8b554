package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

/** Dev tool (not part of the driver contract): write
  * `.explain("formatted")` for the named queries to
  * `<outDir>/<name>_<suffix>.txt` — the plan evidence files the
  * optimization rounds commit under plans/rNN/.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query...>
  * The session is Bench's (Harness.session), so the dumped plan is the
  * plan the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, names @ _*) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val queries = SparkEntry.queries
    val todo = if (names.nonEmpty) names else queries.keys.toSeq.sorted
    Harness.runEach(spark, todo) { n =>
      val fn = queries(n)
      val buf = new ByteArrayOutputStream()
      try {
        val df = fn(spark, sfDir)
        Console.withOut(new PrintStream(buf, true, "UTF-8")) {
          df.explain("formatted")
        }
      } catch {
        case e: Throwable =>
          buf.write(s"EXPLAIN FAILED: ${e.getMessage}\n".getBytes("UTF-8"))
      }
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"), buf.toByteArray)
    }
    Harness.close(spark)
  }
}
