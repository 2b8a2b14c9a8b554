package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregates over a lake table
  * (round 19) — the classic incremental-view-maintenance idea (additive
  * deltas for distributive aggregates) built on the engine's own change
  * feed.
  *
  * An MV is a lake table at `mvDir` holding `keys → (mv_cnt, sum_<c>…)`
  * for a source lake table, plus two sidecars: `_mv.def` (source path,
  * key columns, summed columns — fixed at create) and `_mv_state`
  * (source version covered, MV version that covers it). REFRESH reads
  * the source's change feed over `(covered, latest]` — O(changed files)
  * planning, never a source rescan — folds it to one additive delta row
  * per touched group (insert rows count +1/+x, delete rows −1/−x; the
  * feed's update = delete+insert pairing makes updates net correctly),
  * and MERGEs the delta into the MV through the merge-on-read path:
  * groups whose count reaches zero are deleted, new groups insert,
  * untouched groups are never read or written. At 100 TB the difference
  * is structural: a daily refresh costs O(day's changes + touched MV
  * groups), where a recompute costs O(corpus).
  *
  * Crash-safe and idempotent via an intent marker: `_mv_state.next`
  * records (target source version, MV version before the merge) BEFORE
  * the merge lands; a refresh that died between merge-commit and state
  * write is finalized on the next call (the MV version advanced past
  * the recorded one ⇒ the merge landed exactly once), and one that died
  * before its merge just discards the marker and redoes the range —
  * nothing was published. A refresh with nothing to cover is a no-op
  * (no MV commit, no version churn).
  *
  * Supported aggregates: `count(*)` (always, as `mv_cnt`) and `sum` of
  * numeric columns — the self-maintainable family under inserts AND
  * deletes. `avg` is served at read time as `sum/cnt`; min/max are NOT
  * maintainable under deletes without a rescan and are refused at
  * create. Sums treat NULL measures as absent (a group whose every
  * value is NULL serves 0, not NULL — documented divergence). NULL
  * group keys are first-class: the delta merges with null-safe key
  * equality, so a NULL-key group updates its one MV row like any
  * other.
  *
  * Reference scope: `dask.dataframe` exposes no persistent MVs — this
  * extends the lake surface the way Delta Live Tables / Materialize
  * treat the problem, with the maintenance protocol re-derived for the
  * manifest format. */
object LakeMV {
  private val Lake = "graft.sources.LakeSource"
  private val DefFile = "_mv.def"
  private val IntentFile = "_mv_state.next"

  final case class MvDef(srcDir: String, keys: Seq[String],
      sums: Seq[String])

  // ---- sidecar IO -----------------------------------------------------
  // Every write lands in a FRESH uniquely-named file via temp + rename
  // — no delete-then-rename window anywhere, so committed sidecars can
  // never be lost to a crash (r19 review #5). The mutable state value
  // is a VERSIONED chain (`_mv_state-<seq>`): readers take the highest
  // seq, writers create seq+1 and then best-effort-prune older ones —
  // there is always at least one state file once the MV exists.

  private def writeFresh(f: FileSystem, dir: String, name: String,
      body: String): Unit = {
    val tmp = new HPath(dir,
      s"_tmp-$name-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(FileIO.create(f, tmp, false), "UTF-8"))
    try out.write(body) finally out.close()
    val dst = new HPath(dir, name)
    require(f.rename(tmp, dst), s"lake mv: rename $tmp -> $dst failed")
  }

  private def readLines(f: FileSystem, p: HPath): Seq[String] = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(f.open(p), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
    finally in.close()
  }

  private def readDef(f: FileSystem, mvDir: String): MvDef = {
    val p = new HPath(mvDir, DefFile)
    require(f.exists(p), s"$mvDir is not a lake MV (no $DefFile)")
    val l = readLines(f, p)
    MvDef(l(0), l(1).split(',').toSeq.filter(_.nonEmpty),
      l(2).split(',').toSeq.filter(_.nonEmpty))
  }

  private val StateRe = """_mv_state-(\d+)""".r

  private def stateSeqs(f: FileSystem, mvDir: String): Seq[Int] = {
    val d = new HPath(mvDir)
    if (!f.exists(d)) return Nil
    f.listStatus(d).iterator.flatMap(_.getPath.getName match {
      case StateRe(n) => Some(n.toInt)
      case _ => None
    }).toSeq.sorted
  }

  /** (source version covered, MV version that covers it). */
  private def readState(f: FileSystem, mvDir: String): (Int, Int) = {
    val seqs = stateSeqs(f, mvDir)
    require(seqs.nonEmpty,
      s"$mvDir holds an MV definition but no state — a CREATE died " +
        "before arming it; re-run CREATE MATERIALIZED VIEW")
    val l = readLines(f,
      new HPath(mvDir, s"_mv_state-${seqs.last}")).head.split('\t')
    (l(0).toInt, l(1).toInt)
  }

  private def writeState(f: FileSystem, mvDir: String, covered: Int,
      mvV: Int): Unit = {
    val seqs = stateSeqs(f, mvDir)
    val next = seqs.lastOption.getOrElse(-1) + 1
    writeFresh(f, mvDir, s"_mv_state-$next", s"$covered\t$mvV")
    // prune superseded states AFTER the new one exists (best effort)
    seqs.foreach(s => f.delete(new HPath(mvDir, s"_mv_state-$s"), false))
  }

  // ---- create -------------------------------------------------------

  /** Materialize `SELECT keys…, count(*), sum(c)… FROM srcDir GROUP BY
    * keys…` into a fresh lake table at `mvDir` and arm it for
    * incremental refresh. Pins the source snapshot it covers. */
  def create(spark: SparkSession, srcDir: String, mvDir: String,
      keys: Seq[String], sums: Seq[String]): Int = {
    require(keys.nonEmpty, "lake mv: at least one group key")
    require((keys ++ sums).forall(c => !c.contains(",") && !c.contains("\n")),
      "lake mv: column names must not contain ',' or newlines")
    val fsrc = LakeFormat.fs(srcDir)
    val base = LakeFormat.latestVersion(fsrc, srcDir).getOrElse(
      throw new IllegalArgumentException(
        s"lake mv: no lake manifest under $srcDir"))
    val f = LakeFormat.fs(mvDir)
    // a definition without ANY state file is a CREATE that died
    // mid-flight (the def is written first, the state last): nothing
    // was ever covered or served, so the retry wipes and rebuilds
    // rather than bricking the directory (r19 review #5)
    if (f.exists(new HPath(mvDir, DefFile)) &&
        stateSeqs(f, mvDir).isEmpty)
      f.delete(new HPath(mvDir), true)
    require(LakeFormat.latestVersion(f, mvDir).isEmpty &&
      !f.exists(new HPath(mvDir, DefFile)),
      s"lake mv: $mvDir already holds a lake table — MV targets must " +
        "be fresh directories")
    FileIO.mkdirs(f, new HPath(mvDir))
    // def FIRST: every later crash state is recognizably a half-create
    writeFresh(f, mvDir, DefFile,
      s"$srcDir\n${keys.mkString(",")}\n${sums.mkString(",")}")
    // pin the snapshot: a racing append between the read and the state
    // write would otherwise be silently skipped forever
    val src = spark.read.format(Lake).option("path", srcDir)
      .option("versionAsOf", base).load()
    sums.foreach { c =>
      require(src.schema(c).dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType],
        s"lake mv: sum($c) needs a numeric column; got " +
          src.schema(c).dataType.simpleString +
          " (min/max are not incrementally maintainable under deletes " +
          "and are not supported)")
    }
    src.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("mv_cnt"),
        sums.map(c => sum(col(c)).as(s"sum_$c")): _*)
      // append into the just-verified-fresh dir (the V2 path write
      // supports only Append/Overwrite; the freshness require above is
      // the real errorIfExists)
      .write.format(Lake).option("path", mvDir).mode("append").save()
    val mvV = LakeFormat.latestVersion(f, mvDir).get
    writeState(f, mvDir, base, mvV)
    base
  }

  // ---- refresh ------------------------------------------------------

  /** Fold the source's changes since the covered version into the MV.
    * Returns (covered before, covered after, touched groups) —
    * (v, v, 0) when there was nothing to do. */
  def refresh(spark: SparkSession, mvDir: String): (Int, Int, Long) = {
    val f = LakeFormat.fs(mvDir)
    val d = readDef(f, mvDir)
    recover(f, mvDir)
    val (covered, _) = readState(f, mvDir)
    val fsrc = LakeFormat.fs(d.srcDir)
    val target = LakeFormat.latestVersion(fsrc, d.srcDir).getOrElse(
      throw new IllegalStateException(
        s"lake mv: source ${d.srcDir} has no manifest — was it deleted?"))
    require(target >= covered,
      s"lake mv: source ${d.srcDir} is at v$target, below the covered " +
        s"v$covered — a restore-like rollback needs a fresh MV")
    if (target == covered) return (covered, covered, 0L)
    val preMvV = LakeFormat.latestVersion(f, mvDir).get
    writeFresh(f, mvDir, IntentFile, s"$target\t$preMvV")
    val feed = spark.read.format(Lake).option("path", d.srcDir)
      .option("changesFrom", covered + 1).option("changesTo", target)
      .load()
    val sgn = when(col("_change_type") === "insert", lit(1))
      .otherwise(lit(-1))
    val delta = feed.groupBy(d.keys.map(col): _*)
      .agg(sum(sgn).cast("long").as("d_cnt"),
        d.sums.map(c => sum(col(c) * sgn).as(s"d_$c")): _*)
      // all-zero groups (an in-place rewrite netting out) must not
      // reach the NOT MATCHED clause — they would insert phantom rows
      .filter(col("d_cnt") =!= 0L ||
        d.sums.map(c => coalesce(col(s"d_$c"), lit(0)) =!= 0)
          .foldLeft(lit(false))(_ || _))
      .persist()
    try {
      val groups = delta.count()
      if (groups == 0L) {
        // row-preserving churn only: cover the range without an MV commit
        f.delete(new HPath(mvDir, IntentFile), false)
        writeState(f, mvDir, target, preMvV)
        return (covered, target, 0L)
      }
      val tag = math.abs(mvDir.hashCode).toString
      val view = s"graft_mv_delta_$tag"
      delta.createOrReplaceTempView(view)
      spark.conf.set("spark.sql.catalog.graftmv",
        "graft.sources.GraftCatalog")
      val tbl = s"graftmv.ns.mv_$tag"
      val schema = LakeFormat.readManifestRoot(f, mvDir, preMvV).schema
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (${schema.toDDL}) USING lake " +
        s"LOCATION '$mvDir'")
      // null-SAFE key equality (r19 review #2): a NULL-key group must
      // keep matching its MV row across refreshes — plain `=` never
      // matches NULL, so every refresh would re-insert the group
      val on = d.keys.map(k => s"t.`$k` <=> s.`$k`").mkString(" AND ")
      val setSums = d.sums.map(c =>
        s"`sum_$c` = coalesce(t.`sum_$c`, 0) + coalesce(s.`d_$c`, 0)")
      val insCols = (d.keys ++ Seq("mv_cnt") ++ d.sums.map(c => s"sum_$c"))
        .map(c => s"`$c`").mkString(", ")
      val insVals = (d.keys.map(k => s"s.`$k`") ++ Seq("s.`d_cnt`") ++
        d.sums.map(c => s"s.`d_$c`")).mkString(", ")
      spark.sql(
        s"""MERGE INTO $tbl t USING $view s ON $on
           |WHEN MATCHED AND t.`mv_cnt` + s.`d_cnt` <= 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET
           |  ${(Seq("`mv_cnt` = t.`mv_cnt` + s.`d_cnt`") ++ setSums)
                 .mkString(",\n  ")}
           |WHEN NOT MATCHED THEN INSERT ($insCols) VALUES ($insVals)
           |""".stripMargin)
      val newMvV = LakeFormat.latestVersion(f, mvDir).get
      writeState(f, mvDir, target, newMvV)
      f.delete(new HPath(mvDir, IntentFile), false)
      (covered, target, groups)
    } finally delta.unpersist()
  }

  /** Finish or discard a half-done refresh (see the scaladoc's intent
    * protocol). Safe to call any time. */
  private def recover(f: FileSystem, mvDir: String): Unit = {
    val ip = new HPath(mvDir, IntentFile)
    if (!f.exists(ip)) return
    val l = readLines(f, ip).head.split('\t')
    val (targetN, preMvV) = (l(0).toInt, l(1).toInt)
    val cur = LakeFormat.latestVersion(f, mvDir).get
    if (cur > preMvV) {
      // the merge committed exactly once; only the state write was lost
      writeState(f, mvDir, targetN, cur)
    }
    // else: the merge never landed — the range will be redone
    f.delete(ip, false)
  }
}
