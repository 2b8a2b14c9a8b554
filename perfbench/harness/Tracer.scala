package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Job group of one phase of one query run: `pass|query|phase`. */
  def group(pass: Int, query: String, phase: String): String = s"$pass|$query|$phase"

  /** Length of the union of `[s, e)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }
}

/** Traced runs only: a SparkListener and a QueryExecutionListener that keep
  * jobs, stages, tasks and planning phases in memory, keyed by the job group
  * [[Runner]] sets for each phase, plus the file-system probes of the Scale
  * and lake layers. Everything is turned into spans and per-layer metrics
  * when the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  final class Job(val id: Int, val group: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  final class Exec {
    var stages, tasks = 0L
    var taskMs, shufR, shufW, spill = 0L
    val stageTasks = mutable.ArrayBuffer[Int]()
  }
  private val jobs = mutable.ArrayBuffer[Job]()
  private val jobById = mutable.Map[Int, Job]()
  private val stageGroup = mutable.Map[Int, String]()
  private val exec = mutable.Map[String, Exec]()
  /** (phase, start ms, duration ms) of every planning phase seen. */
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()

  private def execOf(stageId: Int) =
    exec.getOrElseUpdate(stageGroup.getOrElse(stageId, "none"), new Exec)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
      val j = new Job(e.jobId, g, e.time)
      jobs += j; jobById(e.jobId) = j
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobById.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val x = execOf(e.stageInfo.stageId)
        x.stages += 1; x.stageTasks += e.stageInfo.numTasks
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val x = execOf(e.stageId)
      x.tasks += 1
      x.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        x.shufR += m.shuffleReadMetrics.totalBytesRead
        x.shufW += m.shuffleWriteMetrics.bytesWritten
        x.spill += m.diskBytesSpilled
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.durationMs)) }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  })

  /** Drain the asynchronous listener bus (private[spark], so by reflection). */
  private def flush(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(60000L))
  }

  private val ckptBytes = mutable.Map[(Int, String), Long]()
  private val lakeFiles = mutable.Map[(Int, String), Long]()
  private val lakeDiskBytes = mutable.Map[Int, Long]()

  /** Called between a query's action and its cleanup sweep: the checkpoint
    * payload the query wrote (reaped by the sweep) and, for lake queries,
    * the files it wrote in its table directories. */
  def beforeCleanup(pass: Int, query: String, startUs: Long): Unit = {
    ckptBytes((pass, query)) = Hygiene.checkpointDir(spark).map(Hygiene.bytes).getOrElse(0L)
    if (Workloads.lake(query))
      lakeFiles((pass, query)) = Hygiene.graftDirs(spark).flatMap(Hygiene.files)
        .count(p => Files.getLastModifiedTime(p).toMillis * 1000L >= startUs - 1000L)
  }

  /** A direct timed fixture read per table (`Tables.t`/`Tables.events`, no
    * action), under the pass's `tables` job group. Returns the total ms. */
  def timeReads(pass: Int, tables: Seq[String]): Double = {
    sc.setJobGroup(Tracer.group(pass, "tables", "read"), "read")
    val t0 = System.nanoTime()
    tables.foreach(t => Workloads.read(spark, Setup.fixtureDir, t))
    val ms = (System.nanoTime() - t0) / 1e6
    sc.clearJobGroup()
    ms
  }

  def afterPass(pass: Int): Unit = {
    flush()
    lakeDiskBytes(pass) = Hygiene.graftDirs(spark).map(Hygiene.bytes).sum
  }

  private def jobsOf(g: String): Seq[Job] = jobs.filter(_.group == g).toSeq
  private def intervals(js: Seq[Job]) = js.map(j => (j.startMs * 1e3, j.endMs * 1e3))

  /** Per-query layer times (ms), from spans and attributed jobs:
    * build self + job busy + driver gap = wall (checked by the caller). */
  final case class QueryLayers(run: QueryRun, buildSelf: Double, jobBusy: Double,
      gap: Double, buildJobs: Int, execJobs: Int, unattributed: Int,
      analysis: Double, optimizer: Double, planning: Double) {
    def wallMs: Double = run.wallS * 1e3
    def error: Double = math.abs(buildSelf + jobBusy + gap - wallMs)
  }

  def queryLayers(r: QueryRun): QueryLayers = synchronized {
    val (s, b, e) = (r.startUs.toDouble, r.buildEndUs.toDouble, r.endUs.toDouble)
    val bj = jobsOf(Tracer.group(r.pass, r.query, "build"))
    val aj = jobsOf(Tracer.group(r.pass, r.query, "action"))
    val busy = Tracer.covered(intervals(bj ++ aj), s, e) / 1e3
    val buildSelf = (b - s - Tracer.covered(intervals(bj), s, b)) / 1e3
    val gap = (e - b - Tracer.covered(intervals(aj), b, e)) / 1e3
    val stray = jobs.count(j => j.group == "none" && j.startMs * 1e3 < e && j.endMs * 1e3 > s)
    def phase(n: String) = phases.filter { case (p, st, _) =>
      p == n && st * 1e3 >= s - 1e3 && st * 1e3 <= e }.map(_._3.toDouble).sum
    QueryLayers(r, buildSelf, busy, gap, bj.size, bj.size + aj.size, stray,
      phase("analysis"), phase("optimization"), phase("planning"))
  }

  /** Per-layer metrics: per measured warm pass, then the median over passes. */
  def layers(setupMs: (Double, Double), coldJitMs: Double,
      measured: Seq[(Int, Double, Double)], runs: Seq[QueryRun],
      peakRssMb: Double, leaked: (Int, Int),
      sentinel: Seq[Map[String, Any]]): Map[String, Double] = synchronized {
    val mb = 1024.0 * 1024.0
    val perPass = measured.map { case (pass, gcMs, readMs) =>
      val rs = runs.filter(_.pass == pass)
      val ql = rs.map(queryLayers)
      val ex = rs.flatMap(r => Seq("build", "action")
        .flatMap(p => exec.get(Tracer.group(pass, r.query, p))))
      val lake = rs.filter(r => Workloads.lake(r.query))
      Map(
        "tables.read_ms" -> readMs,
        "tables.read_jobs" -> jobsOf(Tracer.group(pass, "tables", "read")).size.toDouble,
        "build.ms" -> rs.map(_.buildMs).sum,
        "build.self_ms" -> ql.map(_.buildSelf).sum,
        "build.jobs" -> ql.map(_.buildJobs).sum.toDouble,
        "plan.analysis_ms" -> ql.map(_.analysis).sum,
        "plan.optimizer_ms" -> ql.map(_.optimizer).sum,
        "plan.planning_ms" -> ql.map(_.planning).sum,
        "exec.jobs" -> ql.map(_.execJobs).sum.toDouble,
        "exec.stages" -> ex.map(_.stages).sum.toDouble,
        "exec.tasks" -> ex.map(_.tasks).sum.toDouble,
        "exec.tasks_per_stage_p50" -> Harness.median(ex.flatMap(_.stageTasks).map(_.toDouble)),
        "exec.task_ms" -> ex.map(_.taskMs).sum.toDouble,
        "exec.job_busy_ms" -> ql.map(_.jobBusy).sum,
        "exec.shuffle_read_mb" -> ex.map(_.shufR).sum / mb,
        "exec.shuffle_write_mb" -> ex.map(_.shufW).sum / mb,
        "exec.spill_mb" -> ex.map(_.spill).sum / mb,
        "driver.gap_ms" -> ql.map(_.gap).sum,
        "scale.cleanup_ms" -> rs.map(_.cleanupMs).sum,
        "scale.checkpoint_mb" -> rs.map(r => ckptBytes.getOrElse((pass, r.query), 0L)).sum / mb,
        "lake.write_ms" -> lake.map(_.buildMs).sum,
        "lake.read_ms" -> lake.map(_.actionMs).sum,
        "lake.files_written" -> lake.map(r => lakeFiles.getOrElse((pass, r.query), 0L)).sum.toDouble,
        "lake.disk_mb" -> lakeDiskBytes.getOrElse(pass, 0L) / mb,
        "jvm.gc_ms" -> gcMs)
    }
    def num(k: String) = sentinel.map(_(k).asInstanceOf[Double])
    perPass.head.keys.map(k => k -> Harness.median(perPass.map(_(k)))).toMap ++ Map(
      "scale.leaked_rdds" -> leaked._1.toDouble,
      "scale.leaked_files" -> leaked._2.toDouble,
      "setup.session_ms" -> setupMs._1,
      "setup.fixtures_ms" -> setupMs._2,
      "jvm.jit_ms" -> coldJitMs,
      "jvm.peak_rss_mb" -> peakRssMb,
      "box.steal_share" -> Harness.median(num("steal_share")),
      "box.cpu_probe_ms" -> Harness.median(num("cpu_probe_ms")),
      "box.mem_probe_ms" -> Harness.median(num("mem_probe_ms")))
  }

  /** Spans of every query run: query → build / action / cleanup → job.
    * Times are epoch ms; `check` is |build self + job busy + gap − wall|. */
  def spans(runs: Seq[QueryRun]): Seq[Map[String, Any]] = synchronized {
    var next = 0
    def id() = { next += 1; next }
    runs.flatMap { r =>
      val ql = queryLayers(r)
      val q = id()
      val root = Map("id" -> q, "parent" -> 0, "kind" -> "query", "query" -> r.query,
        "pass" -> r.pass, "start" -> r.startUs / 1e3, "end" -> r.endUs / 1e3,
        "build_self_ms" -> ql.buildSelf, "job_busy_ms" -> ql.jobBusy,
        "driver_gap_ms" -> ql.gap, "check_ms" -> ql.error,
        "unattributed_jobs" -> ql.unattributed, "jobs" -> ql.execJobs,
        "failed" -> r.failure.map(_._1))
      val phaseSpans = Seq(("build", r.startUs, r.buildEndUs),
        ("action", r.buildEndUs, r.endUs), ("cleanup", r.endUs, r.cleanupEndUs))
        .flatMap { case (p, s, e) =>
          val pid = id()
          Map("id" -> pid, "parent" -> q, "kind" -> p, "query" -> r.query,
            "pass" -> r.pass, "start" -> s / 1e3, "end" -> e / 1e3) +:
            jobsOf(Tracer.group(r.pass, r.query, p)).map(j =>
              Map("id" -> id(), "parent" -> pid, "kind" -> "job", "job" -> j.id,
                "query" -> r.query, "pass" -> r.pass,
                "start" -> j.startMs.toDouble, "end" -> j.endMs.toDouble))
        }
      root +: phaseSpans
    }
  }
}
