package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LakeFormat, LakeScans, LakeSource}
import graft.sources.LakeFormat.committed

/** Protocol pins for the round-16 lakehouse table
  * ([[graft.sources.LakeTable]]) — the invariants the q225–q229 result
  * hashes can't see: how many files a scan PLANNED (data skipping), how
  * many a commit REPLACED (none under merge-on-read DML), that concurrent
  * commits resolve as retry-or-loud-abort (never a lost update), that
  * failed jobs leave the table untouched, and that vacuum kills time
  * travel loudly rather than serving partial snapshots. */
class LakeSpec extends AnyFunSuite {
  import TestSession.{spark, tmp}

  private val Lake = "graft.sources.LakeSource"

  private def det(rows: Long, slices: Int): DataFrame =
    spark.read.format("graft.sources.DetRangeSource")
      .option("rows", rows).option("slices", slices).load()
      .select(col("id"), col("bucket"), col("kscore"), col("score"),
        col("doc_id"))

  private def read(dir: String): DataFrame =
    spark.read.format(Lake).option("path", dir).load()

  private def lakeFiles(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.startsWith("part-"))

  /** `body`'s value, with the files the lake scans of every plan it
    * ran planned after stats and bloom pruning. */
  private def planned[T](body: => T): (T, Seq[String]) = {
    val (out, scans) = scanned(body)
    (out, scans.flatMap(_.files))
  }

  /** `body`'s value, with every lake scan of the plans it ran. */
  private def scanned[T](body: => T): (T, Seq[LakeScans.Planned]) = {
    val (out, plans) = TestSession.plansOf(body)
    (out, plans.flatMap(LakeScans.in))
  }

  /** The files a commit dropped from the manifest as a metadata-only
    * delete: removed entries with nothing added and no vector changed.
    * A merge-on-read DELETE that hits only whole files commits the same
    * diff, so a test of the metadata path also asserts that the DELETE
    * planned no lake scan (`noScan`). Replaced files are the removed
    * entries; deletion-vector writes are `dvGrowth`. */
  private def metadataDeleted(d: LakeFormat.VersionDiff): Seq[String] =
    if (d.added.isEmpty && d.dvChanged.isEmpty) d.removed.map(_.name)
    else Nil

  /** The diff of the one version `delete` committed on `dir`, after
    * asserting that it ran no lake scan: the metadata-only path. */
  private def noScan(dir: String)(delete: => Any): LakeFormat.VersionDiff = {
    val (d, files) = planned(committed(dir)(delete))
    assert(files.isEmpty,
      s"the DELETE scanned $files: it left the metadata-only path")
    d
  }

  private def catalogTable(name: String, dir: String): String = {
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    spark.sql(s"DROP TABLE IF EXISTS glt.ns.$name")
    spark.sql(s"""CREATE TABLE glt.ns.$name (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir'""".stripMargin)
    s"glt.ns.$name"
  }

  test("scan prunes files from manifest stats; filters still re-evaluated row-by-row") {
    val dir = tmp("lake_prune")
    det(20000, 8).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    assert(lakeFiles(dir).size == 8, lakeFiles(dir).toString)
    // full scan plans all 8 files (SUM is not manifest-answerable, so
    // this is a REAL scan — a bare count() would short-circuit into the
    // manifest-only LakeAggScan and plan no data partition at all)
    val (total, all) = planned(read(dir).agg(sum(col("kscore"))).head.getLong(0))
    assert(total > 0L)
    assert(all.size == 8)
    // 8 slices = contiguous 2500-id files; id < 2500 is exactly file 0
    val (n0, file0) = planned(read(dir).filter(col("id") < 2500).count())
    assert(n0 == 2500L)
    assert(file0.size == 1,
      s"stats pruning planned $file0 for a single-file predicate")
    // sub-file predicate: still ONE planned file, and the rows are
    // filtered post-scan (stats narrow cost, never results)
    val (n5, sub) = planned(read(dir)
      .filter(col("id") >= 3000 && col("id") <= 3004).count())
    assert(n5 == 5L)
    assert(sub.size == 1)
    // IN-list across two files
    val (n2, two) = planned(read(dir).filter(col("id").isin(100L, 5100L)).count())
    assert(n2 == 2L)
    assert(two.size == 2)
  }

  test("metadata-only DELETE drops whole files without launching a rewrite") {
    val dir = tmp("lake_metadel")
    val t = catalogTable("tmeta", dir)
    det(20000, 8).createOrReplaceTempView("lake_metadel_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake_metadel_src")
    // id < 5000 is exactly files 0 and 1 — every file decides wholly,
    // so Spark's OptimizeMetadataOnlyDeleteFromTable takes the
    // canDeleteWhere path: a manifest edit, zero rewrite tasks
    val d = noScan(dir)(spark.sql(s"DELETE FROM $t WHERE id < 5000"))
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 15000L)
    assert(metadataDeleted(d).size == 2,
      s"expected a 2-file metadata delete, got $d")
    assert(d.added.isEmpty,
      "a file-aligned DELETE ran the copy-on-write rewrite instead of " +
        "the metadata-only path")
    // data files stay on disk (old snapshots reference them) — only the
    // manifest dropped them
    assert(lakeFiles(dir).size == 8)
  }

  test("merge-on-read DELETE and UPDATE write deletion vectors (zero rewrites); OPTIMIZE compacts") {
    val dir = tmp("lake_mordel")
    val t = catalogTable("tmor", dir)
    det(20000, 8).createOrReplaceTempView("lake_mordel_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake_mordel_src")
    val dataFiles = lakeFiles(dir).toSet
    // ids 3000–3100 live in file 1 only and the predicate is not
    // file-aligned: the r16 engine COW-rewrote that whole file; the
    // merge-on-read path writes ONE tiny deletion-vector sidecar and
    // rewrites NOTHING
    val del = committed(dir)(
      spark.sql(s"DELETE FROM $t WHERE id >= 3000 AND id <= 3100"))
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 19899L)
    assert(del.removed.isEmpty,
      s"scattered delete rewrote files: ${del.removed.map(_.name)}")
    assert(del.dvGrowth match {
      case Seq((_, 101L)) => true
      case other => fail(s"expected one 101-ordinal vector, got $other")
    })
    assert(lakeFiles(dir).toSet == dataFiles,
      "merge-on-read delete created or removed data files")
    val f = LakeFormat.fs(dir)
    def dvTotal(): Long = {
      val v = LakeFormat.latestVersion(f, dir).get
      LakeFormat.readManifest(f, dir, v)._2.flatMap(_.dv.map(_._2)).sum
    }
    assert(dvTotal() == 101L)
    // a second delete on the SAME file unions into a fresh sidecar
    spark.sql(s"DELETE FROM $t WHERE id >= 3200 AND id <= 3249")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 19849L)
    assert(dvTotal() == 151L)
    // untouched files serve byte-identical rows; manifest COUNT(*) is
    // dv-exact; per-column manifest aggregates refuse dv'd snapshots
    // yet answer right via the real scan
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id >= 5000")
      .head.getLong(0) == 15000L)
    assert(spark.sql(s"SELECT min(id), max(id) FROM $t").head.getLong(0)
      == 0L)
    // time travel: the pre-delete snapshot reads WITHOUT the vectors
    assert(spark.read.format(Lake).option("path", dir)
      .option("versionAsOf", 0).load().count() == 20000L)
    // MoR UPDATE (round 18) reads THROUGH the vector and lands as
    // delete+insert: the touched file's vector GROWS by the matched
    // ordinal, the replacement row appends — zero data files rewritten
    val upd = committed(dir)(
      spark.sql(s"UPDATE $t SET kscore = -1 WHERE id = 3500"))
    assert(upd.removed.isEmpty,
      s"MoR update rewrote files: ${upd.removed.map(_.name)}")
    assert(dvTotal() == 152L,
      "the update's matched ordinal must join the file's vector")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 19849L)
    assert(spark.sql(s"SELECT kscore FROM $t WHERE id = 3500")
      .head.getInt(0) == -1)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id >= 3000 AND id <= 3249")
      .head.getLong(0) == 99L) // 250 − 151 deleted
    // fully-deleting a file's remaining rows drops its entry outright
    spark.sql(s"DELETE FROM $t WHERE id >= 2500 AND id < 3000")
    spark.sql(s"DELETE FROM $t WHERE id >= 3000 AND id < 5000")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id >= 2500 AND id < 5000")
      .head.getLong(0) == 0L)
    val vNow = LakeFormat.latestVersion(f, dir).get
    assert(!LakeFormat.readManifest(f, dir, vNow)._2.exists(
      e => e.stats.get("id").exists(_.min.exists(_.toLong >= 2500)) &&
        e.stats.get("id").exists(_.max.exists(_.toLong < 5000))),
      "a fully-deleted file should leave the manifest")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 17500L)
    // OPTIMIZE compacts every remaining vector into clean files
    spark.sql(s"DELETE FROM $t WHERE id = 7777")
    assert(dvTotal() > 0L)
    LakeFormat.optimize(spark, dir, "bucket", files = 4)
    assert(dvTotal() == 0L, "OPTIMIZE must compact deletion vectors away")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 17499L)
    // vacuum to the current version reclaims superseded sidecars too
    LakeFormat.vacuum(dir,
      keepFromVersion = LakeFormat.latestVersion(f, dir).get, graceMs = 0L)
    assert(!new java.io.File(dir).list().exists(_.startsWith("dv-")),
      "orphaned deletion-vector sidecars survived vacuum")
  }

  test("a failed write job leaves the table untouched (no manifest version, no visible rows)") {
    val dir = tmp("lake_abort")
    det(1000, 4).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    val f = LakeFormat.fs(dir)
    val v0 = LakeFormat.latestVersion(f, dir).get
    // partition 2's task fails after its writer has staged a row
    intercept[Exception] {
      det(1000, 4).withColumn("id", TestSession.failInPartition(2)(col("id")))
        .write.format(Lake).option("path", dir).mode("append").save()
    }
    assert(LakeFormat.latestVersion(f, dir).contains(v0),
      "a failed job published a manifest version")
    assert(read(dir).count() == 1000L)
    assert(!new java.io.File(dir).list().exists(_.startsWith("_staging-")),
      "failed job left staging residue")
  }

  test("concurrent commits: appends retry past a lost CAS; row-level rewrites abort loudly") {
    // on wrapfs, whose hook plants the concurrent commit below
    val dir = WrappedLocalFs.uri(tmp("lake_conflict"))
    WrappedLocalFs.registered(spark) {
      val t = catalogTable("tconf", dir)
      det(20000, 8).createOrReplaceTempView("lake_conflict_src")
      spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake_conflict_src")
      val f = LakeFormat.fs(dir)
      val v0 = LakeFormat.latestVersion(f, dir).get
      // APPEND vs a concurrent commit: steal the next version number (a
      // committed concurrent append, entries unchanged); the append must
      // LOSE the CAS, re-read the new base, and land at v0+2 with both
      // histories intact — appends are commutative
      val (sch, entries) = LakeFormat.readManifest(f, dir, v0)
      assert(LakeFormat.writeManifestCAS(f, dir, v0 + 1, sch, entries))
      spark.range(1).select(lit(999999L).as("id"),
          lit(0).cast("int").as("bucket"), lit(1).cast("int").as("kscore"),
          lit(0.0).as("score"), lit("x").as("doc_id"))
        .write.format(Lake).option("path", dir).mode("append").save()
      assert(LakeFormat.latestVersion(f, dir).contains(v0 + 2))
      assert(read(dir).count() == 20001L)
      // ROW-LEVEL rewrite vs a concurrent commit: plant an append inside
      // the window between the rewrite's snapshot read and its publish
      // (the DELETE's first publish step is its deletion-vector create) —
      // its replacement rows are stale, so it must abort loudly and leave
      // the concurrent append's state current
      WrappedLocalFs.beforePublish.set(() => {
        val base = LakeFormat.latestVersion(f, dir).get
        val (s2, e2) = LakeFormat.readManifest(f, dir, base)
        assert(LakeFormat.writeManifestCAS(f, dir, base + 1, s2, e2))
      })
      val err = intercept[Exception] {
        spark.sql(s"DELETE FROM $t WHERE id >= 3000 AND id <= 3100")
      }
      def causes(e: Throwable): Seq[Throwable] =
        if (e == null) Nil else e +: causes(e.getCause)
      assert(causes(err).exists(_.getMessage != null) &&
        causes(err).flatMap(c => Option(c.getMessage)).exists(
          _.contains("commit conflict")),
        s"expected a loud commit conflict, got: $err")
      assert(WrappedLocalFs.beforePublish.get() == null,
        "the DELETE's commit never reached its publish step")
      assert(read(dir).count() == 20001L,
        "the losing rewrite mutated the table anyway")
    }
  }

  test("time travel serves old snapshots; vacuum reclaims them loudly, never partially") {
    val dir = tmp("lake_vacuum")
    val t = catalogTable("tvac", dir)
    det(20000, 8).createOrReplaceTempView("lake_vacuum_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake_vacuum_src")
    val f = LakeFormat.fs(dir)
    val v0 = LakeFormat.latestVersion(f, dir).get
    spark.sql(s"DELETE FROM $t WHERE id < 5000") // metadata path, v0+1
    val vNow = LakeFormat.latestVersion(f, dir).get
    assert(vNow == v0 + 1)
    // old snapshot intact after the delete — via the path option AND
    // the SQL-first form (catalog loadTable(ident, version))
    assert(spark.read.format(Lake).option("path", dir)
      .option("versionAsOf", v0).load().count() == 20000L)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF $v0")
      .head.getLong(0) == 20000L)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 15000L)
    // vacuum below the current version: old manifests die, and every
    // data file still referenced by a surviving manifest survives
    // (graceMs=0: the table is quiesced — no commit is in flight)
    val dropped = LakeFormat.vacuum(dir, keepFromVersion = vNow, graceMs = 0L)
    assert(dropped.exists(_.startsWith("_manifest-")), dropped.toString)
    assert(dropped.count(_.startsWith("part-")) == 2,
      s"expected the 2 metadata-deleted files reclaimed, got $dropped")
    assert(read(dir).count() == 15000L)
    // time travel to the vacuumed version now fails LOUDLY
    intercept[Exception] {
      spark.read.format(Lake).option("path", dir)
        .option("versionAsOf", v0).load().count()
    }
  }

  test("IS NULL stats: metadata delete decides all-null vs no-null files; mixed files fall back") {
    val dir = tmp("lake_nulls")
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS glt.ns.tnull")
    spark.sql(s"""CREATE TABLE glt.ns.tnull (id BIGINT, v DOUBLE)
      |USING lake LOCATION '$dir'""".stripMargin)
    // one all-null file, one no-null file — written as two single-task
    // appends (a repartition-by-nullness layout gets AQE-coalesced into
    // ONE mixed file, which correctly falls back to the rewrite path)
    spark.range(0, 50)
      .select(col("id"), col("id").cast("double").as("v")).coalesce(1)
      .write.format(Lake).option("path", dir).mode("overwrite").save()
    spark.range(50, 100)
      .select(col("id"), lit(null).cast("double").as("v")).coalesce(1)
      .write.format(Lake).option("path", dir).mode("append").save()
    val d1 = noScan(dir)(
      spark.sql("DELETE FROM glt.ns.tnull WHERE v IS NULL"))
    assert(spark.sql("SELECT count(*) FROM glt.ns.tnull")
      .head.getLong(0) == 50L)
    assert(metadataDeleted(d1).nonEmpty,
      "all-null/no-null split should take the metadata-only path")
    assert(d1.added.isEmpty)
    // now a MIXED file: the same predicate is undecidable → the
    // merge-on-read path (round 17: deletion vectors, not a rewrite)
    spark.range(100, 200)
      .select(col("id"), when(col("id") % 2 === 0, col("id").cast("double"))
        .as("v"))
      .coalesce(1)
      .write.format(Lake).option("path", dir).mode("append").save()
    val d2 = committed(dir)(
      spark.sql("DELETE FROM glt.ns.tnull WHERE v IS NULL"))
    assert(spark.sql("SELECT count(*) FROM glt.ns.tnull")
      .head.getLong(0) == 100L)
    assert(metadataDeleted(d2).isEmpty,
      "a mixed-null file must not be metadata-deleted")
    assert(d2.dvGrowth == Seq(d2.dvGrowth.headOption.getOrElse(("", 0L))) &&
      d2.dvGrowth.headOption.exists(_._2 == 50L),
      s"expected one 50-ordinal deletion vector, got ${d2.dvGrowth}")
  }

  test("streaming write: a killed epoch commit replays as a manifest-level REPLACEMENT, no dup/loss") {
    // exactly-once ingest into the lake table: every epoch's files carry
    // an epoch prefix; a replayed epoch drops its prior attempt's
    // entries from the manifest before adding its own. Deleting the
    // epoch's commit-log entry rebuilds a crash AFTER the publish,
    // BEFORE the engine records the epoch — the window where an
    // append-only sink would double the epoch's rows.
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("lake_stream")
    val ckpt = tmp("lake_stream_ck")
    def start(rows: Int) = spark.readStream
      .format("graft.sources.DetRangeSource")
      .option("rows", rows).option("rowsPerBatch", 250).load()
      .select(col("id"), col("bucket"), col("kscore"), col("score"),
        col("doc_id"))
      .writeStream.format(Lake)
      .option("path", dir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val q1 = start(500) // epochs 0,1
    assert(q1.awaitTermination(120000))
    assert(read(dir).count() == 500L)
    val q2 = start(750) // epoch 2 (rows 500..749)
    assert(q2.awaitTermination(120000))
    TestSession.forgetCommit(ckpt, 2)
    // torn state: epoch 2's files on disk AND in the latest manifest,
    // but the engine never recorded the epoch
    val f = LakeFormat.fs(dir)
    val vTorn = LakeFormat.latestVersion(f, dir).get
    val tornEntries = LakeFormat.readManifest(f, dir, vTorn)._2
      .count(_.name.contains("-epoch=00002-")) // prefix = q=<queryId>-epoch=…
    assert(tornEntries > 0, "epoch 2 published nothing — wrong window")
    val q3 = start(750) // replay of epoch 2 under the SAME id
    assert(q3.awaitTermination(120000))
    val back = read(dir)
    assert(back.count() == 750L, s"${back.count()} rows (dup or loss)")
    assert(back.select("id").distinct().count() == 750L)
    assert(back.filter(col("kscore") =!=
      pmod(col("id") * 31, lit(997)).cast("int")).count() == 0L)
    // the replaced attempt's files survive on disk for superseded
    // snapshots only; vacuum to the current version reclaims every
    // file no surviving manifest references
    val vNow = LakeFormat.latestVersion(f, dir).get
    LakeFormat.vacuum(dir, keepFromVersion = vNow, graceMs = 0L)
    val live = LakeFormat.readManifest(f, dir, vNow)._2.map(_.name).toSet
    val onDisk = new java.io.File(dir).list().toSeq
      .filter(_.endsWith(".lake")).toSet
    assert(onDisk == live,
      s"unreferenced files survived vacuum: ${onDisk.diff(live)}")
    assert(read(dir).count() == 750L)
  }

  test("codec edges: empty-string last column round-trips; non-finite doubles poison stats, not queries") {
    val dir = tmp("lake_edge")
    // empty string in the LAST column: split must keep trailing empty
    // tokens or the row becomes unreadable (r16 review)
    spark.range(0, 10)
      .select(col("id"), when(col("id") % 2 === 0, lit("")).otherwise(lit("x"))
        .as("s"))
      .coalesce(1)
      .write.format(Lake).option("path", dir).mode("overwrite").save()
    val back = spark.read.format(Lake).option("path", dir).load()
    assert(back.count() == 10L)
    assert(back.filter(col("s") === "").count() == 5L)
    assert(back.filter(col("s").isNull).count() == 0L,
      "empty string must stay distinguishable from NULL")
    // ±Infinity: no BigDecimal form — the writer must poison that
    // file's stats so comparison filters PLAN instead of throwing, and
    // the unprunable file still serves its rows (r16 review)
    val dir2 = tmp("lake_inf")
    spark.range(0, 10)
      .select(col("id"), when(col("id") === 3,
        lit(Double.PositiveInfinity)).otherwise(col("id").cast("double"))
        .as("v"))
      .coalesce(1)
      .write.format(Lake).option("path", dir2).mode("overwrite").save()
    val r2 = spark.read.format(Lake).option("path", dir2).load()
    assert(r2.filter(col("v") > 100.0).count() == 1L) // the Inf row
    val (n4, poisoned) = planned(r2.filter(col("v") < 5.0).count())
    assert(n4 == 4L)
    assert(poisoned.size == 1,
      "stats-poisoned file must still be planned (never wrongly pruned)")
  }

  test("catalog lake DDL: declared schema must match an existing manifest; TRUNCATE TABLE empties via manifest") {
    val dir = tmp("lake_ddl")
    val t = catalogTable("tddl", dir)
    det(100, 2).createOrReplaceTempView("lake_ddl_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake_ddl_src")
    // a mismatched column list over the committed manifest must fail at
    // CREATE, not silently reinterpret the data files (r16 review)
    spark.sql("DROP TABLE glt.ns.tddl")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE glt.ns.tddl (id BIGINT) USING lake " +
        s"LOCATION '$dir'")
    }
    // the exact declaration and the schema-less adopt-the-manifest form
    // both work
    spark.sql(s"""CREATE TABLE glt.ns.tddl (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir'""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM glt.ns.tddl")
      .head.getLong(0) == 100L)
    spark.sql("DROP TABLE glt.ns.tddl")
    spark.sql(s"CREATE TABLE glt.ns.tddl USING lake LOCATION '$dir'")
    assert(spark.table("glt.ns.tddl").schema.fieldNames.toSeq ==
      Seq("id", "bucket", "kscore", "score", "doc_id"))
    // TRUNCATE TABLE routes to the manifest-level truncate
    spark.sql("TRUNCATE TABLE glt.ns.tddl")
    assert(spark.sql("SELECT count(*) FROM glt.ns.tddl")
      .head.getLong(0) == 0L)
    spark.sql("DROP TABLE glt.ns.tddl")
  }

  test("manifest-only aggregates: COUNT/MIN/MAX answered from stats with no data task; joins run and auto-broadcast") {
    val dir = tmp("lake_agg")
    det(20000, 8).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    val df = read(dir)
    // complete pushdown: one LakeAggScan row, NO data partition planned
    val agg = df.agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
      max(col("id")).as("mx"), count(col("doc_id")).as("nd"))
    assert(agg.queryExecution.executedPlan.toString.contains("LakeAggScan"),
      agg.queryExecution.executedPlan.toString.take(500))
    val (r, aggFiles) = planned(agg.head)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((20000L, 0L, 19999L, 20000L)))
    assert(aggFiles.isEmpty,
      "manifest-only aggregate planned data partitions")
    // refused when rows are needed: a filter forces the real scan
    val (n100, scanFiles) = planned(
      df.filter(col("id") < 100).agg(count(lit(1))).head.getLong(0))
    assert(n100 == 100L)
    assert(scanFiles.nonEmpty)
    // all-null column: MIN/MAX stays answerable (SQL NULL), COUNT(col)=0
    val dir2 = tmp("lake_agg_null")
    spark.range(0, 7)
      .select(col("id"), lit(null).cast("double").as("v")).coalesce(1)
      .write.format(Lake).option("path", dir2).mode("overwrite").save()
    val r2 = spark.read.format(Lake).option("path", dir2).load()
      .agg(min(col("v")).as("mn"), count(col("v")).as("nv")).head
    assert(r2.isNullAt(0) && r2.getLong(1) == 0L)
    // statistics reporting: a small filtered lake dim under the
    // broadcast threshold auto-broadcasts with NO explicit broadcast()
    // hint — the manifest's exact rows/bytes feeding join planning
    val big = spark.range(0, 100000).select(col("id"))
    val j = big.join(df.filter(col("id") < 2500)
      .select(col("id"), col("bucket")), "id")
    assert(j.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "small lake dim did not auto-broadcast from manifest statistics")
    assert(j.count() == 2500L) // and the join RUNS (r16 regression: the
    // unconditional _file filterAttributes failed any join at analysis)
  }

  test("DESCRIBE DETAIL: one O(root) metadata row — files/rows/bytes, layout, check, bloom enrollment, column mapping (r19)") {
    val dir = tmp("lake_detail")
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS glt.ns.tdetail")
    spark.sql(s"""CREATE TABLE glt.ns.tdetail (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir'
      |TBLPROPERTIES ('clusterBy'='bucket(id,4)',
      |  'check'='kscore >= 0', 'bloomFor'='doc_id')""".stripMargin)
    det(20000, 8).createOrReplaceTempView("detail_src")
    spark.sql("INSERT OVERWRITE glt.ns.tdetail SELECT * FROM detail_src")
    val r = spark.sql("DESCRIBE DETAIL glt.ns.tdetail").head
    assert(r.getInt(2) == 4 && r.getLong(3) == 20000L &&
      r.getLong(4) > 0L, r.toString)
    assert(r.getString(5) == "bucket(id,4)", r.toString)
    assert(r.getString(6) == "kscore >= 0", r.toString)
    assert(r.getString(7) == "doc_id", r.toString)
    assert(!r.getBoolean(8), r.toString)
    // a rename flips the column-mapping flag; the claim renames with it
    spark.sql("ALTER TABLE glt.ns.tdetail RENAME COLUMN id TO rid")
    val r2 = spark.sql(s"DESCRIBE DETAIL '$dir'").head
    assert(r2.getBoolean(8), r2.toString)
    assert(r2.getString(5) == "bucket(rid,4)", r2.toString)
  }

  test("bloom skipping: scattered needles plan 1 file, absent keys 0, unenrolled twin all; blooms survive DML/OPTIMIZE/vacuum and chain through clones (r19)") {
    def doc(id: Long): String = s"h${(id * 2654435761L) % 1048576L}_$id"
    def mkRows() = spark.range(0, 20000, 1, 8)
      .selectExpr("id",
        "concat('h', CAST(id * 2654435761 % 1048576 AS STRING), " +
          "'_', CAST(id AS STRING)) AS doc_id")
    val dir = tmp("lake_bloom")
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS glt.ns.tbloom")
    spark.sql(s"""CREATE TABLE glt.ns.tbloom (id BIGINT, doc_id STRING)
      |USING lake LOCATION '$dir'
      |TBLPROPERTIES ('bloomFor'='doc_id')""".stripMargin)
    val t = "glt.ns.tbloom"
    mkRows().createOrReplaceTempView("bloom_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM bloom_src")
    assert(new java.io.File(dir).list().count(_.startsWith("bloom-")) == 8,
      "each of the 8 files should carry one doc_id bloom sidecar")
    // the needle is unique and hashed out of file order: every file's
    // [min,max] covers the key space, ONLY the bloom can prune
    val (n1, needle) = planned(
      spark.table(t).filter(col("doc_id") === doc(17003)).count())
    assert(n1 == 1L)
    assert(needle.size == 1, s"bloom needle planned $needle")
    // an ABSENT key prunes everything — no task launches at all
    val (n0, absent) = planned(
      spark.table(t).filter(col("doc_id") === "h0_nope").count())
    assert(n0 == 0L)
    assert(absent.isEmpty, s"absent needle planned $absent")
    // IN-lists prune to the union of the member needles' files
    val (n2, inList) = planned(spark.table(t)
      .filter(col("doc_id").isin(doc(3), doc(17003))).count())
    assert(n2 == 2L)
    assert(inList.size <= 2)
    // control: an UNenrolled twin of the same data plans every file
    val dir2 = tmp("lake_bloom_off")
    mkRows().write.format(Lake).option("path", dir2)
      .mode("overwrite").save()
    val (nOff, off) = planned(spark.read.format(Lake).option("path", dir2)
      .load().filter(col("doc_id") === doc(17003)).count())
    assert(nOff == 1L)
    assert(off.size == 8,
      "without enrollment the scattered needle cannot prune")
    // DML: a DV delete leaves the bloom honest (file still planned —
    // the value is physically there — rows correctly filtered)
    spark.sql(s"DELETE FROM $t WHERE id = 17003")
    val (nDel, afterDel) = planned(
      spark.table(t).filter(col("doc_id") === doc(17003)).count())
    assert(nDel == 0L)
    assert(afterDel.size == 1)
    // OPTIMIZE rewrites carry fresh blooms on the new files; VACUUM
    // keeps referenced sidecars and reclaims the superseded ones
    LakeFormat.optimize(spark, dir, "id", 4)
    LakeFormat.vacuum(dir, LakeFormat.latestVersion(
      LakeFormat.fs(dir), dir).get, graceMs = 0L)
    val (nOpt, afterOpt) = planned(
      spark.table(t).filter(col("doc_id") === doc(40)).count())
    assert(nOpt == 1L)
    assert(afterOpt.size == 1,
      s"post-OPTIMIZE+vacuum needle planned $afterOpt")
    val sidecars = new java.io.File(dir).list().count(_.startsWith("bloom-"))
    assert(sidecars == 4,
      s"vacuum should keep exactly the 4 live bloom sidecars; got $sidecars")
    // clones chain the absolute bloom references
    val cdir = tmp("lake_bloom_clone")
    spark.sql(s"CLONE '$dir' TO '$cdir'")
    val (nClone, clone) = planned(spark.read.format(Lake)
      .option("path", cdir).load().filter(col("doc_id") === doc(40)).count())
    assert(nClone == 1L)
    assert(clone.size == 1)
  }

  test("CHECK constraints: enforced on batch/DML/path writes, NULL passes, violations abort pre-commit, fixed at CREATE, clone carries (r19)") {
    def deepMsg(t: Throwable): String = {
      val m = new StringBuilder
      var c: Throwable = t
      while (c != null) { m ++= String.valueOf(c.getMessage); c = c.getCause }
      m.toString
    }
    val dir = tmp("lake_check")
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS glt.ns.tcheck")
    spark.sql(s"""CREATE TABLE glt.ns.tcheck (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir'
      |TBLPROPERTIES ('check'='kscore >= 0')""".stripMargin)
    val t = "glt.ns.tcheck"
    det(20000, 8).createOrReplaceTempView("check_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM check_src")
    assert(spark.table(t).count() == 20000L)
    val f = LakeFormat.fs(dir)
    val vBefore = LakeFormat.latestVersion(f, dir).get
    // violating batch INSERT: loud, and NO manifest version lands
    val e1 = intercept[Exception](spark.sql(
      s"INSERT INTO $t VALUES (90000L, 0, -5, 0.0D, 'bad')"))
    assert(deepMsg(e1).contains("CHECK constraint violated"), deepMsg(e1))
    assert(LakeFormat.latestVersion(f, dir).get == vBefore)
    assert(spark.table(t).count() == 20000L)
    // violating UPDATE (delta replacement row): loud, state unchanged
    val e2 = intercept[Exception](spark.sql(
      s"UPDATE $t SET kscore = -1 WHERE id = 5"))
    assert(deepMsg(e2).contains("CHECK constraint violated"), deepMsg(e2))
    assert(spark.table(t).filter(col("kscore") < 0).count() == 0L)
    // NULL passes (SQL semantics: violation only on FALSE)
    spark.sql(s"INSERT INTO $t VALUES (90001L, 0, NULL, 0.0D, 'nullok')")
    assert(spark.table(t).count() == 20001L)
    // PATH-based writes enforce too — the sidecar is the truth
    val e3 = intercept[Exception](
      spark.range(1).selectExpr("id", "CAST(0 AS INT) AS bucket",
        "CAST(-7 AS INT) AS kscore", "CAST(0.0 AS DOUBLE) AS score",
        "'p' AS doc_id")
        .write.format(Lake).option("path", dir).mode("append").save())
    assert(deepMsg(e3).contains("CHECK constraint violated"), deepMsg(e3))
    // constraints are fixed at CREATE: a different text is refused
    spark.sql("DROP TABLE IF EXISTS glt.ns.tcheck2")
    val e4 = intercept[Exception](spark.sql(
      s"""CREATE TABLE glt.ns.tcheck2 (
         |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
         |) USING lake LOCATION '$dir'
         |TBLPROPERTIES ('check'='kscore >= 1')""".stripMargin))
    assert(deepMsg(e4).contains("already carries CHECK"), deepMsg(e4))
    // non-boolean constraints die at CREATE, not at first INSERT
    spark.sql("DROP TABLE IF EXISTS glt.ns.tcheck3")
    val e5 = intercept[Exception](spark.sql(
      s"""CREATE TABLE glt.ns.tcheck3 (
         |  id BIGINT, v INT
         |) USING lake LOCATION '${tmp("lake_check3")}'
         |TBLPROPERTIES ('check'='v + 1')""".stripMargin))
    assert(deepMsg(e5).toLowerCase.contains("boolean"), deepMsg(e5))
    // renaming or dropping a CHECKED column is refused — it would
    // brick every subsequent write (the constraint is immutable and
    // loadCheck would fail analysis forever — r19 review #3); columns
    // the constraint doesn't mention stay free to evolve
    val e7 = intercept[Exception](spark.sql(
      s"ALTER TABLE $t RENAME COLUMN kscore TO k2"))
    assert(deepMsg(e7).contains("CHECK constraint"), deepMsg(e7))
    val e8 = intercept[Exception](spark.sql(
      s"ALTER TABLE $t DROP COLUMN kscore"))
    assert(deepMsg(e8).contains("CHECK constraint"), deepMsg(e8))
    spark.sql(s"ALTER TABLE $t RENAME COLUMN score TO score_r")
    assert(spark.table(t).columns.contains("score_r"))
    // the constraint travels with a SHALLOW CLONE
    val cdir = tmp("lake_check_clone")
    spark.sql(s"CLONE '$dir' TO '$cdir'")
    val e6 = intercept[Exception](
      spark.range(1).selectExpr("id", "CAST(0 AS INT) AS bucket",
        "CAST(-7 AS INT) AS kscore", "CAST(0.0 AS DOUBLE) AS score",
        "'c' AS doc_id")
        .write.format(Lake).option("path", cdir).mode("append").save())
    assert(deepMsg(e6).contains("CHECK constraint violated"), deepMsg(e6))
  }

  test("string stats: exact s-bounds prune needle and range predicates after RANGE BY, answer manifest-only MIN/MAX; over-long values poison only their file (r19)") {
    val dir = tmp("lake_strstats")
    det(20000, 8).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    // append layout: doc_id = 'doc_' || id % 1000 cycles through every
    // id-contiguous file, so a needle plans ALL files pre-layout
    val (n0, pre) = planned(
      read(dir).filter(col("doc_id") === "doc_497").count())
    assert(n0 == 20L)
    assert(pre.size == 8)
    // RANGE BY a STRING column now yields per-file string bounds —
    // the layout + stats combination that was dead before r19
    LakeFormat.optimize(spark, dir, "doc_id", files = 16)
    val (n1, needleFiles) = planned(
      read(dir).filter(col("doc_id") === "doc_497").count())
    assert(n1 == 20L)
    val needle = needleFiles.size
    assert(needle <= 2, s"string needle planned $needle of 16 files")
    // string RANGE predicates prune through the same bounds
    val (preCount, rangedFiles) = planned(read(dir)
      .filter(col("doc_id") >= "doc_900" && col("doc_id") < "doc_92")
      .count())
    val ranged = rangedFiles.size
    assert(preCount > 0 && ranged <= 4,
      s"string band planned $ranged of 16 files")
    // manifest-only MIN/MAX on a string column (was: forced real scan)
    val agg = read(dir).agg(min(col("doc_id")).as("mn"),
      max(col("doc_id")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString.contains("LakeAggScan"),
      agg.queryExecution.executedPlan.toString.take(300))
    val (r, aggFiles) = planned(agg.head)
    assert(r.getString(0) == "doc_0" && r.getString(1) == "doc_999", r)
    assert(aggFiles.isEmpty)
    // an over-long value (> 64 chars) poisons ITS file's bounds only:
    // that file can never prune (correct, never wrongly prunable),
    // the bounded file still does
    val dir2 = tmp("lake_strstats_long")
    spark.range(0, 10)
      .selectExpr("id", "concat('short_', id) AS s").coalesce(1)
      .write.format(Lake).option("path", dir2).mode("overwrite").save()
    spark.range(10, 20)
      .selectExpr("id", s"concat('zz_', repeat('x', 70), id) AS s")
      .coalesce(1)
      .write.format(Lake).option("path", dir2).mode("append").save()
    val d2 = spark.read.format(Lake).option("path", dir2).load()
    val (nz, bounded) = planned(
      d2.filter(col("s") === "zz_nothing").count())
    assert(nz == 0L)
    assert(bounded.size == 1,
      "the bounded file should prune; the poisoned file must survive")
    // and MIN/MAX falls back to a REAL scan when any file lacks bounds
    val (mx, mxFiles) = planned(d2.agg(max(col("s"))).head.getString(0))
    assert(mx.startsWith("zz_x") || mx.startsWith("zz_"))
    assert(mxFiles.nonEmpty,
      "string MIN/MAX must not be answered from a poisoned manifest")
  }

  test("OPTIMIZE: range-clustering a scattered column makes stats pruning selective; content identical") {
    val dir = tmp("lake_opt")
    det(20000, 8).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    val before = read(dir).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("kscore")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    // bucket = id % 16 interleaves through every id-contiguous file, so
    // an equality predicate prunes NOTHING on the append layout
    val (s0, pre) = planned(read(dir).filter(col("bucket") === 3)
      .agg(sum(col("id"))).head.getLong(0))
    assert(s0 > 0L)
    assert(pre.size == 8,
      "scattered column should defeat pruning before optimize")
    // cluster by bucket: each file's [min,max] tightens to ~2 values
    LakeFormat.optimize(spark, dir, "bucket", files = 8)
    val after = read(dir).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("kscore")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "optimize changed table content")
    val (s1, post) = planned(read(dir).filter(col("bucket") === 3)
      .agg(sum(col("id"))).head.getLong(0))
    assert(s1 > 0L)
    assert(post.size <= 2,
      s"clustered equality predicate planned ${post.size} of 8 files")
    // old snapshot (pre-optimize layout) still serves via time travel
    assert(spark.read.format(Lake).option("path", dir)
      .option("versionAsOf", 0).load().count() == 20000L)
  }

  test("OPTIMIZE ZORDER BY: both z-ordered columns prune at once; content identical; non-numeric and single-column forms refused (r19)") {
    val dir = tmp("lake_zorder")
    det(20000, 8).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    val before = read(dir).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("kscore")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    // append layout: id-contiguous files — BOTH bucket (id % 16) and
    // kscore ((id * 31) % 997) interleave through every file, so
    // neither predicate prunes anything
    val (sb0, preBucket) = planned(read(dir).filter(col("bucket") === 3)
      .agg(sum(col("id"))).head.getLong(0))
    assert(sb0 > 0L)
    assert(preBucket.size == 8)
    val (sk0, preKscore) = planned(read(dir)
      .filter(col("kscore").between(100, 199))
      .agg(sum(col("id"))).head.getLong(0))
    assert(sk0 > 0L)
    assert(preKscore.size == 8)
    val row = spark.sql(
      s"OPTIMIZE '$dir' ZORDER BY (bucket, kscore) INTO 16 FILES").head
    assert(row.getInt(3) == 8 && row.getInt(4) == 16,
      s"zorder metrics row: $row")
    // content identical, and the old layout still serves via travel
    val after = read(dir).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("kscore")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "zorder changed table content")
    assert(spark.read.format(Lake).option("path", dir)
      .option("versionAsOf", 0).load().count() == 20000L)
    // a 16-file 2-D z-order ≈ a 4×4 grid: a needle predicate on EITHER
    // column intersects ~one grid column/row — strictly fewer files
    // than the pre-rewrite full scan on both axes at once
    val (sb, bucketFiles) = planned(read(dir).filter(col("bucket") === 3)
      .agg(sum(col("id"))).head.getLong(0))
    assert(sb > 0L)
    val byBucket = bucketFiles.size
    assert(byBucket <= 8,
      s"bucket needle planned $byBucket of 16 z-ordered files")
    val (sk, kscoreFiles) = planned(read(dir)
      .filter(col("kscore").between(100, 199))
      .agg(sum(col("id"))).head.getLong(0))
    assert(sk > 0L)
    val byKscore = kscoreFiles.size
    assert(byKscore <= 8,
      s"kscore band planned $byKscore of 16 z-ordered files")
    // conjunction of both axes: at most the smaller single-axis set
    val (nBoth, bothFiles) = planned(read(dir).filter(col("bucket") === 3 &&
      col("kscore").between(100, 199)).count())
    assert(nBoth >= 0L)
    val byBoth = bothFiles.size
    assert(byBoth <= math.min(byBucket, byKscore),
      s"2-D needle planned $byBoth (single axes: $byBucket/$byKscore)")
    // guardrails: strings have no numeric stats; one column is RANGE
    // BY's job; unknown columns fail loudly
    val e1 = intercept[IllegalArgumentException](
      LakeFormat.optimizeZOrder(spark, dir, Seq("doc_id", "bucket"), 8))
    assert(e1.getMessage.contains("numeric"))
    val e2 = intercept[IllegalArgumentException](
      LakeFormat.optimizeZOrder(spark, dir, Seq("bucket"), 8))
    assert(e2.getMessage.contains("RANGE BY"))
    val e3 = intercept[IllegalArgumentException](
      LakeFormat.optimizeZOrder(spark, dir, Seq("bucket", "nope"), 8))
    assert(e3.getMessage.contains("not a column"))
  }

  test("schema evolution: ADD COLUMNS null-pads old files, new writes carry stats, rewrites upgrade; non-append changes refused") {
    val dir = tmp("lake_evolve")
    val t = catalogTable("tevo", dir)
    det(100, 2).createOrReplaceTempView("lake_evolve_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake_evolve_src")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (extra DOUBLE)")
    // old rows read as NULL for the new column; the schema widened
    assert(spark.table(t).schema.fieldNames.last == "extra")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE extra IS NULL")
      .head.getLong(0) == 100L)
    // new writes carry the column (and its stats)
    spark.sql(s"INSERT INTO $t VALUES " +
      "(9001, 1, 1, 0.5, 'new', 7.5), (9002, 2, 2, 0.5, 'new', 8.5)")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE extra > 7")
      .head.getLong(0) == 2L)
    // manifest-only COUNT(extra) must REFUSE (old files carry no stats
    // for it) yet still answer correctly via the real scan
    assert(spark.sql(s"SELECT count(extra) FROM $t").head.getLong(0) == 2L)
    // a MoR UPDATE touching an old file writes its replacement row
    // with the full evolved schema (the appended file carries every
    // column; untouched short rows keep null-padding)
    spark.sql(s"UPDATE $t SET extra = 1.0 WHERE id = 10")
    assert(spark.sql(s"SELECT extra FROM $t WHERE id = 10")
      .head.getDouble(0) == 1.0)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 102L)
    // time travel to the pre-evolution snapshot serves the OLD schema
    val f = LakeFormat.fs(dir)
    assert(LakeFormat.readManifest(f, dir, 0)._1.fieldNames.length == 5)
    // byte-reinterpreting evolution is refused loudly (RENAME/DROP
    // became metadata-only via column mapping in r19 — pinned in the
    // colmap test; repositions and non-null adds stay refused)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (bad DOUBLE NOT NULL)")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (early DOUBLE FIRST)")
    }
  }

  private def causesOf(e: Throwable): Seq[Throwable] =
    if (e == null) Nil else e +: causesOf(e.getCause)
  private def assertLoudConflict(err: Throwable): Unit =
    assert(causesOf(err).flatMap(c => Option(c.getMessage))
      .exists(_.contains("commit conflict")),
      s"expected a loud commit conflict, got: $err")

  test("OPTIMIZE is snapshot-pinned: a concurrent commit aborts it loudly, never a lost append (r16 verdict #1)") {
    // on wrapfs, whose hook plants the concurrent commit below
    val dir = WrappedLocalFs.uri(tmp("lake_optconf"))
    WrappedLocalFs.registered(spark) {
      det(20000, 8).write.format(Lake).option("path", dir)
        .mode("overwrite").save()
      val f = LakeFormat.fs(dir)
      // plant a concurrent commit inside OPTIMIZE's read→publish window
      // (its first publish step renames a staged file in): before the
      // fix, OPTIMIZE republished through the commutative truncate path
      // and silently dropped whatever the concurrent commit added — a
      // lost update in the one op whose contract is "content-identical
      // rewrite"
      WrappedLocalFs.beforePublish.set(() => {
        val base = LakeFormat.latestVersion(f, dir).get
        val (s2, e2) = LakeFormat.readManifest(f, dir, base)
        assert(LakeFormat.writeManifestCAS(f, dir, base + 1, s2, e2))
      })
      val err = intercept[Exception] {
        LakeFormat.optimize(spark, dir, "bucket", files = 8)
      }
      assertLoudConflict(err)
      assert(WrappedLocalFs.beforePublish.get() == null,
        "OPTIMIZE's commit never reached its publish step")
      // the concurrent commit's version stands; content intact
      assert(LakeFormat.latestVersion(f, dir).contains(1))
      assert(read(dir).count() == 20000L)
      // an uncontended re-run succeeds and is content-identical
      LakeFormat.optimize(spark, dir, "bucket", files = 8)
      assert(read(dir).count() == 20000L)
      val (s3, clustered) = planned(read(dir).filter(col("bucket") === 3)
        .agg(sum(col("id"))).head.getLong(0))
      assert(s3 > 0L)
      assert(clustered.size <= 2)
    }
  }

  test("concurrent ALTERs merge headers: a stale-handle evolution can never shrink the schema (r16 verdict #2)") {
    val dir = tmp("lake_evo2")
    // two catalog instances = two independent LakeTable handles over
    // the same directory (the two-JVM shape, in-process)
    spark.conf.set("spark.sql.catalog.gevA", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gevB", "graft.sources.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS gevA.ns.t")
    spark.sql(s"""CREATE TABLE gevA.ns.t (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir'""".stripMargin)
    det(100, 2).createOrReplaceTempView("lake_evo2_src")
    spark.sql("INSERT OVERWRITE gevA.ns.t SELECT * FROM lake_evo2_src")
    spark.sql("DROP TABLE IF EXISTS gevB.ns.t")
    spark.sql(s"CREATE TABLE gevB.ns.t USING lake LOCATION '$dir'")
    // A adds x; B's handle still carries the 5-column schema. Before
    // the fix, B's evolve wrote `handleSchema + y` as the header —
    // column x vanished from the live schema while v1's files still
    // carried its stats
    spark.sql("ALTER TABLE gevA.ns.t ADD COLUMNS (extra_x DOUBLE)")
    spark.sql("ALTER TABLE gevB.ns.t ADD COLUMNS (extra_y DOUBLE)")
    val f = LakeFormat.fs(dir)
    val v = LakeFormat.latestVersion(f, dir).get
    assert(LakeFormat.readManifest(f, dir, v)._1.fieldNames.toSeq ==
      Seq("id", "bucket", "kscore", "score", "doc_id", "extra_x", "extra_y"),
      "stale-handle ALTER dropped a concurrently-added column")
    // irreconcilable: same name, different type — loud failure
    intercept[Exception] {
      spark.sql("ALTER TABLE gevA.ns.t ADD COLUMNS (extra_y STRING)")
    }
    // gevB's post-evolve handle carries the fully-merged 7-column
    // schema (its evolve returned base+x+y); both added columns
    // null-pad on the committed files
    assert(spark.sql("SELECT count(*) FROM gevB.ns.t WHERE extra_x IS NULL" +
      " AND extra_y IS NULL").head.getLong(0) == 100L)
  }

  test("stale-handle metadata DELETE and TRUNCATE keep the evolved header (r16 advisory)") {
    val dir = tmp("lake_evodel")
    spark.conf.set("spark.sql.catalog.gedA", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gedB", "graft.sources.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS gedA.ns.t")
    spark.sql(s"""CREATE TABLE gedA.ns.t (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir'""".stripMargin)
    det(20000, 8).createOrReplaceTempView("lake_evodel_src")
    spark.sql("INSERT OVERWRITE gedA.ns.t SELECT * FROM lake_evodel_src")
    spark.sql("DROP TABLE IF EXISTS gedB.ns.t")
    spark.sql(s"CREATE TABLE gedB.ns.t USING lake LOCATION '$dir'")
    spark.sql("ALTER TABLE gedA.ns.t ADD COLUMNS (extra DOUBLE)")
    val f = LakeFormat.fs(dir)
    def headerFields(): Seq[String] = {
      val v = LakeFormat.latestVersion(f, dir).get
      LakeFormat.readManifest(f, dir, v)._1.fieldNames.toSeq
    }
    assert(headerFields().contains("extra"))
    // B's handle predates the evolution: its file-aligned DELETE takes
    // the metadata-only path and must still publish the WIDER header
    spark.sql("DELETE FROM gedB.ns.t WHERE id < 5000")
    assert(headerFields().contains("extra"),
      "metadata delete from a stale handle shrank the evolved header")
    assert(spark.sql("SELECT count(*) FROM gedA.ns.t").head.getLong(0)
      == 15000L)
    // …and so must its TRUNCATE
    spark.sql("TRUNCATE TABLE gedB.ns.t")
    assert(headerFields().contains("extra"),
      "truncate from a stale handle shrank the evolved header")
    assert(spark.sql("SELECT count(*) FROM gedA.ns.t").head.getLong(0) == 0L)
  }

  test("two streaming queries (separate checkpoints) share a table without epoch clobbering (r16 advisory)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("lake_twostream")
    def run(rows: Int, ckpt: String): Unit = {
      val q = spark.readStream.format("graft.sources.DetRangeSource")
        .option("rows", rows).option("rowsPerBatch", 250).load()
        .select(col("id"), col("bucket"), col("kscore"), col("score"),
          col("doc_id"))
        .writeStream.format(Lake)
        .option("path", dir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
    }
    // both queries start at epoch 0; an un-namespaced epoch prefix let
    // the second query's commit(0, …) drop the first's epoch-0 entries
    run(500, tmp("lake_twostream_ck1")) // epochs 0,1 of query 1
    assert(read(dir).count() == 500L)
    run(250, tmp("lake_twostream_ck2")) // epoch 0 of query 2
    assert(read(dir).count() == 750L,
      "second query's epoch 0 clobbered the first query's rows")
  }

  test("vacuum grace window: young unreferenced files survive (in-flight commit protection)") {
    val dir = tmp("lake_grace")
    det(1000, 2).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    val f = LakeFormat.fs(dir)
    val vNow = LakeFormat.latestVersion(f, dir).get
    // an unreferenced data file that LOOKS orphaned but is actually a
    // concurrent commit mid-publish (renamed in, manifest CAS pending)
    val orphan = new java.io.File(dir, "part-9-9-inflight.lake")
    java.nio.file.Files.write(orphan.toPath, "1\t1\t1\t1.0\tx\n".getBytes)
    val dropped = LakeFormat.vacuum(dir, keepFromVersion = vNow)
    assert(!dropped.contains(orphan.getName) && orphan.exists(),
      s"vacuum reclaimed a file younger than the grace window: $dropped")
    // with the table quiesced (grace waived) it goes
    val dropped2 = LakeFormat.vacuum(dir, keepFromVersion = vNow,
      graceMs = 0L)
    assert(dropped2.contains(orphan.getName) && !orphan.exists())
  }

  test("path and catalog time travel agree on the version's own schema (r16 advisory)") {
    val dir = tmp("lake_ttschema")
    val t = catalogTable("ttsch", dir)
    det(100, 2).createOrReplaceTempView("lake_ttschema_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake_ttschema_src")
    val f = LakeFormat.fs(dir)
    val v0 = LakeFormat.latestVersion(f, dir).get
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (extra DOUBLE)")
    // the pre-evolution snapshot serves its OWN 5-column schema from
    // BOTH entry points (the path form used to null-pad the latest
    // manifest's schema onto it)
    val viaPath = spark.read.format(Lake).option("path", dir)
      .option("versionAsOf", v0).load().schema.fieldNames.toSeq
    val viaSql = spark.sql(s"SELECT * FROM $t VERSION AS OF $v0")
      .schema.fieldNames.toSeq
    assert(viaPath == Seq("id", "bucket", "kscore", "score", "doc_id"))
    assert(viaPath == viaSql,
      s"time-travel schemas disagree: path=$viaPath sql=$viaSql")
    // the CURRENT version serves the evolved schema either way
    assert(spark.read.format(Lake).option("path", dir).load()
      .schema.fieldNames.last == "extra")
  }

  test("streaming READ: offsets are manifest versions — snapshot+tail, bounded batches, checkpointed resume, loud on rewrites") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("lake_sread")
    val outDir = tmp("lake_sread_out")
    val ckpt = tmp("lake_sread_ck")
    det(20000, 8).write.format(Lake).option("path", dir)
      .mode("overwrite").save() // v0: 8 files
    def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = spark.readStream.format(Lake).option("path", dir)
        .option("maxFilesPerTrigger", 2).load()
        .writeStream.format(Lake).option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); q
    }
    // first batch = the full v0 snapshot, then the stream is caught up
    drain()
    assert(read(outDir).count() == 20000L)
    // three appends = three new versions; the version-granular file cap
    // (2 files/batch) makes the resumed drain take one batch per version
    (1 to 3).foreach { i =>
      spark.range(i * 1000, i * 1000 + 500)
        .select(col("id"), (col("id") % 16).cast("int").as("bucket"),
          pmod(col("id") * 31, lit(997)).cast("int").as("kscore"),
          lit(0.5).as("score"), lit(s"app$i").as("doc_id"))
        .coalesce(2)
        .write.format(Lake).option("path", dir).mode("append").save()
    }
    val q2 = drain() // resumes from the checkpointed version offset
    assert(read(outDir).count() == 21500L,
      "checkpointed resume duplicated or lost appended rows")
    assert(q2.recentProgress.count(_.numInputRows > 0) == 3,
      s"expected 3 bounded micro-batches, got " +
        q2.recentProgress.map(_.numInputRows).mkString("[", ",", "]"))
    // exactly-once: an idle re-drain moves nothing
    drain()
    assert(read(outDir).count() == 21500L)
    // startingVersion=latest skips the initial snapshot
    val out2 = tmp("lake_sread_out2")
    val ck2 = tmp("lake_sread_ck2")
    val qL = spark.readStream.format(Lake).option("path", dir)
      .option("startingVersion", "latest").load()
      .writeStream.format(Lake).option("path", out2)
      .option("checkpointLocation", ck2)
      .trigger(Trigger.AvailableNow()).start()
    assert(qL.awaitTermination(120000))
    // nothing streamed yet (an empty epoch may still commit a manifest)
    assert(LakeFormat.latestVersion(LakeFormat.fs(out2), out2)
      .forall(_ => read(out2).count() == 0L))
    spark.range(0, 7)
      .select(col("id"), lit(0).cast("int").as("bucket"),
        lit(1).cast("int").as("kscore"), lit(0.5).as("score"),
        lit("tail").as("doc_id"))
      .coalesce(1)
      .write.format(Lake).option("path", dir).mode("append").save()
    val qL2 = spark.readStream.format(Lake).option("path", dir)
      .option("startingVersion", "latest").load()
      .writeStream.format(Lake).option("path", out2)
      .option("checkpointLocation", ck2)
      .trigger(Trigger.AvailableNow()).start()
    assert(qL2.awaitTermination(120000))
    assert(read(out2).count() == 7L,
      "startingVersion=latest must stream only post-start appends")
    // the query's last micro-batch planned exactly the appended file
    val fd = LakeFormat.fs(dir)
    val vTail = LakeFormat.latestVersion(fd, dir).get
    val tail = LakeFormat.versionDiff(fd, dir,
      Some(LakeFormat.readManifestRoot(fd, dir, vTail - 1)),
      LakeFormat.readManifestRoot(fd, dir, vTail)).added.map(_.name)
    val lastBatch = qL2.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    assert(tail.size == 1 &&
      LakeScans.in(lastBatch).flatMap(_.files) == tail, lastBatch.toString)
    // a rewrite inside the tail window breaks the append-only contract
    // LOUDLY — already-streamed rows cannot be retracted
    LakeFormat.optimize(spark, dir, "bucket", files = 4)
    val qBad = spark.readStream.format(Lake).option("path", dir).load()
      .writeStream.format(Lake).option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val err = intercept[Exception] { qBad.awaitTermination(120000) }
    assert(causesOf(err).flatMap(c => Option(c.getMessage))
      .exists(_.contains("append-only")), s"wrong failure: $err")
    try qBad.stop() catch { case _: Exception => () }
    // time-travel options have no streaming form
    intercept[Exception] {
      spark.readStream.format(Lake).option("path", dir)
        .option("versionAsOf", 0).load()
        .writeStream.format("noop")
        .option("checkpointLocation", tmp("lake_sread_ck3"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
    }
  }

  test("TIMESTAMP AS OF: monotone commit timestamps resolve 'as of t'; pre-history fails loudly") {
    val dir = tmp("lake_tsao")
    val t = catalogTable("ttsao", dir)
    det(20000, 8).createOrReplaceTempView("lake_tsao_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake_tsao_src") // v0
    val f = LakeFormat.fs(dir)
    val ts0 = LakeFormat.manifestTs(f, dir, 0)
    assert(ts0 > 0L, "round-17 manifests must carry a commit timestamp")
    spark.sql(s"DELETE FROM $t WHERE id < 5000") // metadata path, v1
    val ts1 = LakeFormat.manifestTs(f, dir, 1)
    assert(ts1 > ts0, "commit timestamps must be monotone across versions")
    def atTs(ts: Long): Long = spark.read.format(Lake).option("path", dir)
      .option("timestampAsOf", ts.toString).load().count()
    // 'as of t' = latest commit AT-OR-BEFORE t
    assert(atTs(ts0) == 20000L)
    assert(atTs(ts1) == 15000L)
    assert(atTs(ts1 + 3600000L) == 15000L) // future t → current snapshot
    // the SQL-first form resolves through the catalog
    // (loadTable(ident, timestampMicros)); session tz is UTC
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ts0))
    assert(spark.sql(s"SELECT count(*) FROM $t TIMESTAMP AS OF '$lit'")
      .head.getLong(0) == 20000L)
    // a timestamp preceding the earliest surviving commit is LOUD —
    // never silently resolved to a later snapshot
    intercept[Exception] { atTs(ts0 - 1) }
    // ambiguous travel spec refused
    intercept[Exception] {
      spark.read.format(Lake).option("path", dir)
        .option("versionAsOf", 0).option("timestampAsOf", ts1.toString)
        .load()
    }
    // vacuum to v1: ts0 now resolves to nothing surviving → loud
    LakeFormat.vacuum(dir, keepFromVersion = 1, graceMs = 0L)
    intercept[Exception] { atTs(ts0) }
    assert(atTs(ts1) == 15000L)
  }

  test("executor-side Hadoop conf: the driver conf ships through factory serialization (r16 advisory)") {
    val hc = new org.apache.hadoop.conf.Configuration(false)
    hc.set("graft.test.key", "v17")
    val ser = new LakeFormat.SerializableHadoopConf(hc)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(ser); oos.close()
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    val back = ois.readObject().asInstanceOf[LakeFormat.SerializableHadoopConf]
    assert(back.value.get("graft.test.key") == "v17",
      "spark.hadoop.* settings were lost crossing the driver→task boundary")
  }

  test("the Hadoop conf broadcast survives Kryo and is reused until the session conf changes") {
    val key = "graft.test.kryo"
    try {
      spark.conf.set(key, "k1")
      val b = LakeFormat.driverConf()
      assert(LakeFormat.driverConf() eq b,
        "an unchanged conf was broadcast again")
      // a broadcast is serialized with spark.serializer, not Java's
      val kryo = new org.apache.spark.serializer.KryoSerializer(
        spark.sparkContext.getConf).newInstance()
      val back = kryo.deserialize[LakeFormat.SerializableHadoopConf](
        kryo.serialize(b.value))
      assert(back.value != null, "Kryo dropped the conf")
      assert(back.value.get(key) == "k1")
      assert(back.value.size == b.value.value.size)
      spark.conf.set(key, "k2")
      val b2 = LakeFormat.driverConf()
      assert(!(b2 eq b), "a changed conf reused the old broadcast")
      assert(b2.value.value.get(key) == "k2")
    } finally spark.conf.unset(key)
  }

  test("reader and writer factories carry the Hadoop conf as a broadcast: each serializes under 8 KB") {
    import org.apache.spark.sql.connector.catalog.SupportsWrite
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    def bytes(o: AnyRef): Int = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close()
      bos.size()
    }
    val dir = tmp("lake_factory_size")
    det(1000, 2).write.format(Lake).option("path", dir).mode("overwrite").save()
    val reader = read(dir).queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b.readerFactory }.get
    assert(reader.getClass.getSimpleName == "LakeReaderFactory")
    val opts = Map("path" -> dir).asJava
    val table = new LakeSource().getTable(read(dir).schema, Array.empty, opts)
      .asInstanceOf[SupportsWrite]
    val info = new LogicalWriteInfo {
      override def queryId(): String = "factory-size"
      override def schema() = table.schema()
      override def options() = new CaseInsensitiveStringMap(opts)
    }
    val writer = table.newWriteBuilder(info).build().toBatch
      .createBatchWriterFactory(new PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
    assert(writer.getClass.getSimpleName == "LakeWriterFactory")
    for (f <- Seq(reader, writer))
      assert(bytes(f) < 8 * 1024,
        s"${f.getClass.getSimpleName} serializes to ${bytes(f)} bytes")
  }

  test("lake DDL rejects unsupported column types at CREATE") {
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    intercept[Exception] {
      spark.sql("CREATE TABLE glt.ns.tbad (id BIGINT, ts TIMESTAMP) " +
        s"USING lake LOCATION '${tmp("lake_bad")}'")
    }
  }

  test("SQL maintenance grammar: OPTIMIZE CLUSTER BY / RANGE BY and VACUUM RETAIN run via the injected parser; ordinary SQL untouched") {
    val dir = tmp("lake_sqlmaint")
    val t = catalogTable("tmaint", dir)
    det(20000, 8).createOrReplaceTempView("maint_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM maint_src") // v0
    val f = LakeFormat.fs(dir)
    def meta() = LakeFormat.readManifestMeta(f, dir,
      LakeFormat.latestVersion(f, dir).get)
    // bucket clustering by table NAME, metrics row back
    val r1 = spark.sql(s"OPTIMIZE $t CLUSTER BY bucket(id, 8)").collect()
    // catalog DDL normalizes LOCATION to a URI (file:/…)
    assert(r1.length == 1 && r1(0).getString(0).stripPrefix("file:") == dir)
    assert(r1(0).getInt(2) == r1(0).getInt(1) + 1) // version bumped once
    assert(meta().cluster.contains(("id", 8)))
    // range clustering by PATH literal drops the bucket claim and lands
    // the requested file count
    val r2 = spark.sql(s"OPTIMIZE '$dir' RANGE BY id INTO 4 FILES").collect()
    assert(r2(0).getInt(4) == 4, r2(0).toString)
    assert(meta().cluster.isEmpty && meta().entries.size == 4)
    assert(read(dir).count() == 20000L) // content identical throughout
    // VACUUM RETAIN 1 VERSIONS reclaims the superseded snapshots
    val latest = LakeFormat.latestVersion(f, dir).get
    val r3 = spark.sql(s"VACUUM $t RETAIN 1 VERSIONS GRACE 0 MS").collect()
    assert(r3(0).getInt(1) == latest && r3(0).getLong(2) > 0L)
    intercept[Exception] {
      read(dir).queryExecution // force planning
      spark.read.format(Lake).option("path", dir)
        .option("versionAsOf", latest - 1).load().collect()
    }
    assert(read(dir).count() == 20000L)
    // DESCRIBE HISTORY: one row per surviving version, newest first,
    // answered from manifest roots only
    val hist = spark.sql(s"DESCRIBE HISTORY $t").collect()
    assert(hist.length == 1, hist.toSeq.toString) // post-vacuum floor
    assert(hist(0).getInt(0) == latest &&
      hist(0).getLong(4) == 20000L && hist(0).getInt(3) == 4)
    assert(hist(0).getLong(2) > 0L && hist(0).getString(1).nonEmpty)
    assert(hist(0).isNullAt(6)) // range-clustered: no bucket claim
    spark.sql(s"OPTIMIZE '$dir' CLUSTER BY bucket(id, 4)")
    val hist2 = spark.sql(s"DESCRIBE HISTORY '$dir'").collect()
    assert(hist2.length == 2 && hist2(0).getInt(0) == latest + 1)
    assert(hist2(0).getString(6) == "bucket(id,4)")
    assert(hist2(0).getLong(2) > hist2(1).getLong(2) ||
      hist2(0).getLong(2) == hist2(1).getLong(2) + 1) // monotone stamps
    // backquoted identifier parts may contain dots — the target parser
    // must not shred them (r17 review); same table, quoted spelling
    val hist3 = spark.sql("DESCRIBE HISTORY glt.`ns`.`tmaint`").collect()
    assert(hist3.nonEmpty)
    // and a backquoted part with an EMBEDDED dot must still be
    // intercepted by the maintenance grammar — the old [\w`]+ part
    // class could never match `n.s`, silently handing the statement to
    // the delegate (r17 advisory)
    val dotDir = tmp("lake_sqldot")
    spark.sql(s"""CREATE TABLE glt.`n.s`.tdot (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dotDir'""".stripMargin)
    spark.sql("INSERT INTO glt.`n.s`.tdot SELECT * FROM maint_src")
    val histDot = spark.sql("DESCRIBE HISTORY glt.`n.s`.tdot").collect()
    assert(histDot.length == 1 && histDot(0).getLong(4) == 20000L,
      s"dotted backquoted target fell through: ${histDot.toSeq}")
    // the delegate still owns everything else
    assert(spark.sql("SELECT 1 AS one").head.getInt(0) == 1)
    intercept[Exception] { spark.sql(s"OPTIMIZE $t FLUX BY id") }
  }

  test("CTAS: CREATE TABLE ... USING lake AS SELECT lands data + manifest in one statement") {
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    val dir = tmp("lake_ctas")
    spark.sql("DROP TABLE IF EXISTS glt.ns.tctas")
    det(5000, 4).createOrReplaceTempView("ctas_src")
    spark.sql(s"""CREATE TABLE glt.ns.tctas USING lake LOCATION '$dir'
      |AS SELECT * FROM ctas_src WHERE id < 3000""".stripMargin)
    assert(spark.table("glt.ns.tctas").count() == 3000L)
    val f = LakeFormat.fs(dir)
    assert(LakeFormat.latestVersion(f, dir).contains(0))
    // and the created table is immediately DML-capable
    spark.sql("DELETE FROM glt.ns.tctas WHERE id < 1000")
    assert(spark.table("glt.ns.tctas").count() == 2000L)
  }

  test("streaming change feed: bounded full-history drain, exactly-once across restarts, incremental on new DML") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tmp("lake_cdfs_src")
    val dst = tmp("lake_cdfs_dst")
    val ckpt = tmp("lake_cdfs_ck")
    val t = catalogTable("tcdfs", src)
    det(1000, 2).createOrReplaceTempView("cdfs_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM cdfs_src") // v0
    spark.sql(s"DELETE FROM $t WHERE id IN (1, 2)") // v1: vectors
    def drain(): Unit = {
      val q = spark.readStream.format(Lake).option("path", src)
        .option("readChanges", "true")
        .option("maxVersionsPerTrigger", 1).load()
        .writeStream.format(Lake).option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "change stream did not drain")
    }
    def dstRows(): Map[String, Long] =
      read(dst).groupBy(col("_change_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    drain()
    assert(dstRows() == Map("insert" -> 1000L, "delete" -> 2L))
    // an idle re-drain from the same checkpoint adds NOTHING
    drain()
    assert(dstRows() == Map("insert" -> 1000L, "delete" -> 2L))
    // new DML: the next drain ships ONLY its delta — the MoR update
    // (round 18) lands as vector growth + an appended file, so exactly
    // the 8 matched rows (ids 0–9 minus the two vector-deleted)
    // surface as delete+insert pairs, not a whole-file churn
    spark.sql(s"UPDATE $t SET kscore = kscore + 7 WHERE id < 10") // v2
    drain()
    assert(dstRows() == Map("insert" -> 1008L, "delete" -> 10L),
      dstRows().toString)
    // the netting invariant holds THROUGH the stream: inserts minus
    // deletes in the target equal the live source rows
    val net = read(dst).groupBy(col("id"), col("kscore"))
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("n")).filter(col("n") > 0)
      .select(col("id"), col("kscore"))
    val live = read(src).select(col("id"), col("kscore"))
    assert(net.exceptAll(live).isEmpty && live.exceptAll(net).isEmpty)
  }

  test("change data feed: snapshot inserts, vector-growth deltas, COW delete+insert pairs, bounded ranges, loud on vacuumed history") {
    val dir = tmp("lake_cdf")
    val t = catalogTable("tcdf", dir)
    det(8000, 8).createOrReplaceTempView("cdf_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM cdf_src") // v0
    def feed(from: Int, to: Option[Int] = None): DataFrame = {
      val r = spark.read.format(Lake).option("path", dir)
        .option("changesFrom", from.toString)
      to.fold(r)(v => r.option("changesTo", v.toString)).load()
    }
    // changesFrom 0 = the initial snapshot as inserts
    val snap = feed(0, Some(0))
    assert(snap.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("insert" -> 8000L))
    // two successive dv deletes on the SAME file: the second step's
    // feed is exactly the NEWLY covered ordinals
    spark.sql(s"DELETE FROM $t WHERE id IN (10, 20, 30)") // v1
    spark.sql(s"DELETE FROM $t WHERE id IN (40, 50)") // v2 (same file 0)
    val step2 = feed(2).select(col("id"), col("_change_type"),
      col("_commit_version")).collect()
    assert(step2.map(_.getLong(0)).sorted.toSeq == Seq(40L, 50L), step2.toSeq.toString)
    assert(step2.forall(r => r.getString(1) == "delete" && r.getInt(2) == 2))
    // feed timestamps are the commit timestamps
    val f = LakeFormat.fs(dir)
    assert(feed(2).select(col("_commit_timestamp")).head.getLong(0) ==
      LakeFormat.manifestTs(f, dir, 2))
    // a MoR UPDATE (round 18) surfaces as exactly the matched rows:
    // deletes from the touched file's vector growth (here the vector
    // comes to cover the file entirely, so the entry drops — the feed
    // then emits its previously-live rows), inserts from the appended
    // replacement file — same 995/995 the r17 whole-file COW produced,
    // but written as kilobytes of sidecar instead of a file rewrite
    spark.sql(s"UPDATE $t SET kscore = kscore + 1000 WHERE id < 1000") // v3
    val step3 = feed(3).groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(step3 == Map("delete" -> 995L, "insert" -> 995L), step3.toString)
    // the cumulative feed nets out to the live table: inserts minus
    // deletes, keyed by (id, kscore)
    val all = feed(0)
    val net = all.groupBy(col("id"), col("kscore"))
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("n"))
      .filter(col("n") > 0)
    val live = read(dir).select(col("id"), col("kscore"))
    assert(net.select(col("id"), col("kscore")).exceptAll(live).isEmpty &&
      live.exceptAll(net.select(col("id"), col("kscore"))).isEmpty,
      "cumulative feed does not net out to the live table")
    // vacuumed history fails loudly, never a partial feed
    LakeFormat.vacuum(dir, keepFromVersion = 3, graceMs = 0L)
    val ex = intercept[Exception] { feed(1).collect() }
    assert(ex.getMessage != null)
  }

  test("two-level manifest: segmented round-trip is transparent; appends reuse unchanged segments byte-for-byte") {
    val saved = LakeFormat.segmentFiles
    LakeFormat.segmentFiles = 4
    try {
      val dir = tmp("lake_seg")
      det(8000, 8).write.format(Lake).option("path", dir)
        .mode("overwrite").save() // 8 entries > 4 → 2 segments
      val f = LakeFormat.fs(dir)
      def segsOnDisk: Set[String] = new java.io.File(dir).list().toSet
        .filter((n: String) => n.startsWith("_seg-"))
      def root(v: Int) = LakeFormat.readManifestRoot(f, dir, v)
      val r0 = root(LakeFormat.latestVersion(f, dir).get)
      assert(r0.inline.isEmpty && r0.segs.size == 2,
        s"inline=${r0.inline.size} segs=${r0.segs.size}")
      assert(segsOnDisk.size == 2)
      // values identical through the indirection
      assert(read(dir).agg(sum(col("kscore"))).head.getLong(0) ==
        det(8000, 8).agg(sum(col("kscore"))).head.getLong(0))
      // filtered planning reads ONE segment, plans ONE file (8 slices →
      // contiguous 1000-id files; segment 0 covers ids [0, 4000))
      val (n, Seq(scan)) = scanned(
        read(dir).filter(col("id") < 1000).count())
      assert(n == 1000L)
      assert(scan.segments == ((1, 2)), s"segments planned: ${scan.segments}")
      assert(scan.files.size == 1)
      // append: base chunks re-hash identical → REUSED, not rewritten
      spark.range(8000, 8100)
        .selectExpr("id", "CAST(id % 16 AS INT) AS bucket",
          "CAST((id * 31) % 997 AS INT) AS kscore",
          "CAST(id AS DOUBLE) / 7 AS score", "concat('doc_', id) AS doc_id")
        .write.format(Lake).option("path", dir).mode("append").save()
      val r1 = root(LakeFormat.latestVersion(f, dir).get)
      assert(r1.segs.size == 3)
      assert(r1.segs.take(2).map(_.name) == r0.segs.map(_.name),
        "append must reuse the base's unchanged segments")
      assert(segsOnDisk.size == 3, "reused segments are the SAME files")
      assert(read(dir).count() == 8100L)
      // vacuum: segments referenced by surviving manifests stay; after
      // truncate + vacuum-to-latest, all segments and data files die
      spark.sql(s"SELECT 1").collect() // (keep session warm)
      val latest0 = LakeFormat.latestVersion(f, dir).get
      LakeFormat.vacuum(dir, keepFromVersion = latest0, graceMs = 0L)
      assert(segsOnDisk.size == 3, "live segments must survive vacuum")
      val oldFiles = lakeFiles(dir).toSet
      spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], det(10, 1).schema)
        .write.format(Lake).option("path", dir).mode("overwrite").save()
      LakeFormat.vacuum(dir,
        keepFromVersion = LakeFormat.latestVersion(f, dir).get,
        graceMs = 0L)
      assert(segsOnDisk.isEmpty, s"orphaned segments survive: $segsOnDisk")
      assert(lakeFiles(dir).toSet.intersect(oldFiles).isEmpty,
        "orphaned data files survive")
    } finally LakeFormat.segmentFiles = saved
  }

  test("two-level manifest at 10k files: planning reads O(surviving segments); COUNT(*) stays manifest-only") {
    val saved = LakeFormat.segmentFiles
    LakeFormat.segmentFiles = 64
    try {
      val dir = tmp("lake_seg10k")
      det(16000, 16).write.format(Lake).option("path", dir)
        .mode("overwrite").save() // 16 REAL files, ids contiguous
      val f = LakeFormat.fs(dir)
      val v = LakeFormat.latestVersion(f, dir).get
      val meta = LakeFormat.readManifestMeta(f, dir, v)
      // plant 9,984 synthetic entries with disjoint id ranges ABOVE the
      // real data: they exercise the metadata path at 10k-file scale
      // and are never planned by the probes below, so no task ever
      // opens them
      val fakes = (0 until 9984).map { i =>
        val lo = 16000L + i * 1000L
        LakeFormat.FileEntry(f"fake-$i%05d.lake", 1000L, 10000L, Map(
          "id" -> LakeFormat.ColStats(
            Some(lo.toString), Some((lo + 999L).toString), 0L)))
      }
      assert(LakeFormat.writeManifestCAS(f, dir, v + 1, meta.schema,
        meta.entries ++ fakes))
      // 10,000 entries / 64 → 156 FULL segments + a 16-entry inline tail
      val root = LakeFormat.readManifestRoot(f, dir, v + 1)
      assert(root.segs.size == 156 && root.inline.size == 16,
        s"segs=${root.segs.size} inline=${root.inline.size}")
      // a needle predicate loads 1 segment of 156 and plans 1 file —
      // and the executed plan's own description says so
      val (n, plans) = TestSession.plansOf(
        read(dir).filter(col("id") < 500).count())
      assert(n == 500L)
      val Seq(scan) = plans.flatMap(LakeScans.in)
      assert(scan.segments == ((1, 156)), s"segments planned: ${scan.segments}")
      assert(scan.files == meta.entries.take(1).map(_.name))
      assert(plans.exists(_.toString.contains("files=1 segments=1/156")),
        plans.mkString("\n"))
      // global COUNT(*) answers from the manifest — zero file opens
      // even with 9,984 unreadable synthetic entries
      assert(read(dir).count() == 16000L + 9984L * 1000L)
      // DIFF commit at 10k files (round 18 — r17 verdict missing #4):
      // a metadata DELETE aligned to ONE fake file rebuilds only the
      // ONE segment holding it — the other 155 references are copied
      // through (the ones past it UNREAD), so the commit writes at
      // most one replacement sidecar. The r17 flatten path re-chunked
      // from scratch: one removal shifted every downstream boundary
      // and rewrote ~156 segments.
      val t = catalogTable("tseg10k", dir)
      // segments written = new content-addressed `_seg-*` names: the
      // writer never rewrites a name that already exists
      def segNames = new java.io.File(dir).list().toSet
        .filter((n: String) => n.startsWith("_seg-"))
      val w0 = segNames
      val d = noScan(dir)(
        spark.sql(s"DELETE FROM $t WHERE id >= 16000 AND id < 17000"))
      assert(metadataDeleted(d).size == 1, d.toString)
      val wrote = segNames.diff(w0).size
      assert(wrote <= 1,
        s"diff commit wrote $wrote segment sidecars for a 1-file DML")
      assert(read(dir).count() == 16000L + 9984L * 1000L - 1000L)
      // the surviving layout still plans needles from 1 segment
      val (n2, Seq(scan2)) = scanned(read(dir).filter(col("id") < 500).count())
      assert(n2 == 500L)
      assert(scan2.segments._1 == 1)
    } finally LakeFormat.segmentFiles = saved
  }

  test("OPTIMIZE CLUSTER BY: every file holds one bucket ordinal; the manifest carries the spec") {
    val dir = tmp("lake_clw")
    det(20000, 8).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    LakeFormat.optimizeCluster(spark, dir, "id", 8)
    val f = LakeFormat.fs(dir)
    val meta = LakeFormat.readManifestMeta(f, dir,
      LakeFormat.latestVersion(f, dir).get)
    assert(meta.cluster.contains(("id", 8)), meta.cluster.toString)
    assert(meta.entries.nonEmpty && meta.entries.forall(_.pk.isDefined))
    assert(meta.entries.flatMap(_.pk).distinct.size == 8)
    assert(meta.entries.map(_.rows).sum == 20000L)
    // the layout CLAIM is per-row true: every row of every file buckets
    // to the file's recorded ordinal (read rows per file via _file)
    val byFile = read(dir).select(col("_file"), col("id"))
      .collect().groupBy(_.getString(0))
    meta.entries.foreach { e =>
      val ids = byFile(e.name).map(_.getLong(1))
      assert(ids.forall(id => LakeFormat.bucketOf(id, 8) == e.pk.get),
        s"${e.name} claims bucket ${e.pk.get} but holds a foreign id")
    }
    // content identical through the rewrite
    assert(read(dir).agg(sum(col("kscore"))).head.getLong(0) ==
      det(20000, 8).agg(sum(col("kscore"))).head.getLong(0))
  }

  test("storage-partitioned lake join: zero shuffle exchanges under v2 bucketing; values match the shuffled twin") {
    val dirA = tmp("lake_spj_a")
    val dirB = tmp("lake_spj_b")
    val ta = catalogTable("tspja", dirA)
    val tb = catalogTable("tspjb", dirB)
    det(20000, 8).createOrReplaceTempView("spj_src_a")
    det(8000, 8).createOrReplaceTempView("spj_src_b")
    spark.sql(s"INSERT OVERWRITE $ta SELECT * FROM spj_src_a")
    spark.sql(s"INSERT OVERWRITE $tb SELECT * FROM spj_src_b")
    LakeFormat.optimizeCluster(spark, dirA, "id", 8)
    LakeFormat.optimizeCluster(spark, dirB, "id", 8)
    def joined(): DataFrame =
      spark.table(ta).alias("a")
        .join(spark.table(tb).alias("b"), Seq("id"))
        .select(col("id"), col("a.kscore").as("ka"), col("b.kscore").as("kb"))
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    val expected = joined().collect().map(_.toString).sorted.toSeq
    assert(expected.size == 8000)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "true")
    // force a sort-merge shape: a broadcast join would hide the shuffle
    // question entirely
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val spj = joined()
      val exchanges = spj.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        "storage-partitioned lake join still shuffles:\n" +
          spj.queryExecution.executedPlan.toString.take(3000))
      assert(spj.collect().map(_.toString).sorted.toSeq == expected,
        "exchange-free lake join changed the answer")
      // the same layout satisfies a GROUP BY on the cluster key with
      // zero exchanges too (bucket(16, id) determines id's partition)
      val agg = spark.table(ta).groupBy(col("id"))
        .agg(sum(col("kscore")).as("sk"))
      val aggEx = agg.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(aggEx.isEmpty, "cluster-key aggregate still shuffles:\n" +
        agg.queryExecution.executedPlan.toString.take(2000))
      assert(agg.count() == 20000L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("cluster layout lifecycle: plain appends inherit the spec, mismatched specs drop it, null keys fail loudly") {
    val dir = tmp("lake_clc")
    det(4000, 4).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    LakeFormat.optimizeCluster(spark, dir, "id", 4)
    val f = LakeFormat.fs(dir)
    def meta() = LakeFormat.readManifestMeta(f, dir,
      LakeFormat.latestVersion(f, dir).get)
    assert(meta().cluster.contains(("id", 4)))
    // a cluster-by append under the SAME spec keeps the layout claim
    spark.range(4000, 4100)
      .selectExpr("id", "CAST(id % 16 AS INT) AS bucket",
        "CAST((id * 31) % 997 AS INT) AS kscore",
        "CAST(id AS DOUBLE) / 7 AS score",
        "concat('doc_', id) AS doc_id")
      .write.format(Lake).option("path", dir)
      .option("clusterBy", "bucket(id,4)").mode("append").save()
    assert(meta().cluster.contains(("id", 4)),
      "same-spec cluster-by append must keep the layout")
    assert(meta().entries.forall(_.pk.isDefined))
    // a DIFFERENT declared spec over surviving base entries → no claim
    spark.range(4100, 4150)
      .selectExpr("id", "CAST(id % 16 AS INT) AS bucket",
        "CAST((id * 31) % 997 AS INT) AS kscore",
        "CAST(id AS DOUBLE) / 7 AS score",
        "concat('doc_', id) AS doc_id")
      .write.format(Lake).option("path", dir)
      .option("clusterBy", "bucket(id,8)").mode("append").save()
    assert(meta().cluster.isEmpty,
      "mixed bucket specs must drop the layout claim")
    // re-cluster restores; then a PLAIN append INHERITS the spec
    // (round 18 — write-time cluster inheritance): the writer splits
    // the appended rows per bucket and the manifest keeps the claim,
    // so the layout survives ingest without a re-OPTIMIZE
    LakeFormat.optimizeCluster(spark, dir, "id", 4)
    assert(meta().cluster.contains(("id", 4)))
    spark.range(5000, 5010)
      .selectExpr("id", "CAST(id % 16 AS INT) AS bucket",
        "CAST((id * 31) % 997 AS INT) AS kscore",
        "CAST(id AS DOUBLE) / 7 AS score",
        "concat('doc_', id) AS doc_id")
      .write.format(Lake).option("path", dir).mode("append").save()
    assert(meta().cluster.contains(("id", 4)),
      "a plain append to a clustered table must inherit the layout")
    assert(meta().entries.forall(_.pk.isDefined),
      "inherited append produced unbucketed files")
    assert(read(dir).count() == 4160L)
    // OPTIMIZE RANGE BY declares a NON-bucket layout — it must not
    // inherit and re-claim a spec its output no longer satisfies
    LakeFormat.optimize(spark, dir, "id", 4)
    assert(meta().cluster.isEmpty,
      "a range-clustering rewrite re-claimed the bucket spec")
    LakeFormat.optimizeCluster(spark, dir, "id", 4)
    assert(meta().cluster.contains(("id", 4)))
    // float-key canonicalization: Spark's join semantics equate -0.0
    // and 0.0 (NormalizeFloatingNumbers) and all NaNs — the bucket
    // function must agree or co-location silently breaks
    assert(LakeFormat.bucketOf(-0.0d, 16) == LakeFormat.bucketOf(0.0d, 16))
    assert(LakeFormat.bucketOf(
      java.lang.Double.longBitsToDouble(0x7ff8000000000001L), 16) ==
      LakeFormat.bucketOf(Double.NaN, 16))
    // null cluster keys have no defined bucket — loud failure
    val ex = intercept[Exception] {
      spark.sql("SELECT CAST(NULL AS BIGINT) AS id, 0 AS bucket, " +
          "0 AS kscore, CAST(0 AS DOUBLE) AS score, 'd' AS doc_id")
        .write.format(Lake).option("path", dir)
        .option("clusterBy", "bucket(id,4)").mode("append").save()
    }
    assert(ex.getMessage != null)
  }

  test("change-feed and time-travel options resolve case-insensitively at getTable") {
    val dir = tmp("lake_ci_opts")
    det(1000, 2).write.format(Lake).option("path", dir)
      .mode("overwrite").save() // v0
    val f = LakeFormat.fs(dir)
    val v0 = LakeFormat.latestVersion(f, dir).get
    det(500, 1).write.format(Lake).option("path", dir)
      .mode("append").save() // v1
    // lowercase `changesfrom`: inferSchema reads options through a
    // case-insensitive map, so getTable must too — the old
    // case-SENSITIVE properties lookup built a plain LakeTable that
    // null-padded the metadata columns and served the FULL snapshot
    // instead of the delta, silently (r17 advisory)
    val feed = spark.read.format(Lake).option("path", dir)
      .option("changesfrom", (v0 + 1).toString).load()
    assert(feed.columns.takeRight(3).toSeq ==
      Seq("_change_type", "_commit_version", "_commit_timestamp"))
    assert(feed.count() == 500L,
      "lowercase changesfrom served the snapshot, not the delta")
    // lowercase `versionasof`: same two-resolution-point hazard
    assert(spark.read.format(Lake).option("path", dir)
      .option("versionasof", v0.toString).load().count() == 1000L,
      "lowercase versionasof served the latest snapshot")
  }

  test("q235 leaves session confs as found: SPJ bucketing confs are session-build config, not query side effects") {
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    val before = keys.map(k => spark.conf.getOption(k))
    graft.operators.LakeOps.qLakeSpjJoin.fn(spark, TestSession.sf).collect()
    assert(keys.map(k => spark.conf.getOption(k)) == before,
      "running q235 mutated shared session conf (r17 advisory)")
  }

  test("DDL-born clustering: CREATE with clusterBy + plain INSERTs -> bucket-pure files, SPJ zero exchanges, no OPTIMIZE ever run") {
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    val dirA = tmp("lake_ddl_cl_a")
    val dirB = tmp("lake_ddl_cl_b")
    def create(name: String, dir: String): String = {
      spark.sql(s"DROP TABLE IF EXISTS glt.ns.$name")
      spark.sql(s"""CREATE TABLE glt.ns.$name (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$dir'
        |TBLPROPERTIES ('clusterBy'='bucket(id,8)')""".stripMargin)
      s"glt.ns.$name"
    }
    val ta = create("tddla", dirA)
    val tb = create("tddlb", dirB)
    val f = LakeFormat.fs(dirA)
    // the declaration lands as an EMPTY manifest v0 carrying the spec
    assert(LakeFormat.latestVersion(f, dirA).contains(0))
    val v0 = LakeFormat.readManifestRoot(f, dirA, 0)
    assert(v0.cluster.contains(("id", 8)) && v0.inline.isEmpty &&
      v0.segs.isEmpty)
    det(20000, 8).createOrReplaceTempView("ddl_cl_src_a")
    det(8000, 8).createOrReplaceTempView("ddl_cl_src_b")
    // PLAIN inserts — no clusterBy option, no OPTIMIZE anywhere
    spark.sql(s"INSERT INTO $ta SELECT * FROM ddl_cl_src_a")
    spark.sql(s"INSERT INTO $tb SELECT * FROM ddl_cl_src_b")
    def meta(dir: String) = LakeFormat.readManifestMeta(LakeFormat.fs(dir),
      dir, LakeFormat.latestVersion(LakeFormat.fs(dir), dir).get)
    // the spec survived the insert and every file carries its ordinal
    assert(meta(dirA).cluster.contains(("id", 8)))
    assert(meta(dirB).cluster.contains(("id", 8)))
    assert(meta(dirA).entries.nonEmpty &&
      meta(dirA).entries.forall(_.pk.isDefined))
    // RequiresDistributionAndOrdering pre-shuffled each bucket into one
    // task: the catalog insert lands exactly 8 bucket-pure files, not
    // (tasks x buckets)
    assert(meta(dirA).entries.size == 8,
      s"clustered distribution not applied: ${meta(dirA).entries.size} " +
        "files for an 8-bucket insert")
    // per-row layout claim holds
    meta(dirA).entries.foreach { e =>
      val ids = read(dirA).select(col("_file"), col("id"))
        .where(col("_file") === e.name).collect().map(_.getLong(1))
      assert(ids.forall(id => LakeFormat.bucketOf(id, 8) == e.pk.get))
    }
    // the born-clustered pair joins with ZERO shuffle exchanges
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table(ta).alias("a")
        .join(spark.table(tb).alias("b"), Seq("id"))
        .select(col("id"), col("a.kscore").as("ka"))
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        "born-clustered join still shuffles:\n" +
          j.queryExecution.executedPlan.toString.take(3000))
      assert(j.count() == 8000L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // a second INSERT (the ingest path) keeps the spec too; the layout
    // survives truncate as the table's standing declaration
    spark.range(20000, 20100)
      .selectExpr("id", "CAST(id % 16 AS INT) AS bucket",
        "CAST((id * 31) % 997 AS INT) AS kscore",
        "CAST(id AS DOUBLE) / 7 AS score",
        "concat('doc_', id) AS doc_id")
      .createOrReplaceTempView("ddl_cl_more")
    spark.sql(s"INSERT INTO $ta SELECT * FROM ddl_cl_more")
    assert(meta(dirA).cluster.contains(("id", 8)))
    assert(spark.table(ta).count() == 20100L)
    spark.sql(s"TRUNCATE TABLE $ta")
    assert(meta(dirA).cluster.contains(("id", 8)),
      "truncate must keep the layout declaration")
    spark.sql(s"INSERT INTO $ta SELECT * FROM ddl_cl_src_a")
    assert(meta(dirA).cluster.contains(("id", 8)) &&
      meta(dirA).entries.forall(_.pk.isDefined))
    // a declared spec that MISMATCHES an existing layout fails CREATE
    spark.sql(s"DROP TABLE IF EXISTS glt.ns.tddla")
    val ex = intercept[Exception] {
      spark.sql(s"""CREATE TABLE glt.ns.tddla (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$dirA'
        |TBLPROPERTIES ('clusterBy'='bucket(id,16)')""".stripMargin)
    }
    assert(ex.getMessage.contains("does not match the existing layout"),
      ex.getMessage)
  }

  test("merge-on-read UPDATE: a 0.1% scattered update writes vectors + appended rows, zero rewrites; clustered layout survives DML") {
    val dir = tmp("lake_morupd")
    val t = catalogTable("tmorupd", dir)
    det(20000, 8).createOrReplaceTempView("morupd_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM morupd_src")
    val before = lakeFiles(dir).toSet
    // ~21 matched rows scattered across ALL 8 files: the r17 COW path
    // rewrote all 8; MoR writes 8 tiny vectors + the 21 replacement
    // rows, and rewrites NOTHING
    val d = committed(dir)(spark.sql(
      s"UPDATE $t SET kscore = kscore + 1000 WHERE id % 997 = 13"))
    assert(d.removed.isEmpty,
      s"scattered update rewrote: ${d.removed.map(_.name)}")
    val dv = d.dvGrowth
    assert(dv.size == 8 && dv.map(_._2).sum == 21L, dv.toString)
    assert(before.subsetOf(lakeFiles(dir).toSet),
      "MoR update removed original data files")
    assert(lakeFiles(dir).size > before.size,
      "no replacement-row file was appended")
    // value identity vs the relational replay
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 20000L)
    val expectedSum = det(20000, 8)
      .agg(sum(when(col("id") % 997 === 13, col("kscore") + 1000)
        .otherwise(col("kscore"))).cast("long")).head.getLong(0)
    assert(spark.sql(s"SELECT CAST(sum(kscore) AS BIGINT) FROM $t")
      .head.getLong(0) == expectedSum)
    // a CLUSTERED table keeps its layout claim through MoR update: the
    // replacement rows are split with the same spec and mint ordinals
    LakeFormat.optimizeCluster(spark, dir, "id", 8)
    spark.sql(s"UPDATE $t SET kscore = kscore + 7 WHERE id % 991 = 5")
    val f = LakeFormat.fs(dir)
    def meta() = LakeFormat.readManifestMeta(f, dir,
      LakeFormat.latestVersion(f, dir).get)
    assert(meta().cluster.contains(("id", 8)),
      "MoR update dropped the cluster claim")
    assert(meta().entries.forall(_.pk.isDefined))
    // the per-row layout claim holds for the appended files too
    val byFile = read(dir).select(col("_file"), col("id"))
      .collect().groupBy(_.getString(0))
    meta().entries.foreach { e =>
      byFile.get(e.name).foreach { rows =>
        assert(rows.map(_.getLong(1)).forall(id =>
          LakeFormat.bucketOf(id, 8) == e.pk.get),
          s"${e.name} claims bucket ${e.pk.get} but holds a foreign id")
      }
    }
    // and a full OPTIMIZE compacts the touched file's vectors away
    assert(meta().entries.exists(_.dv.isDefined))
    LakeFormat.optimize(spark, dir, "id", 4)
    assert(meta().entries.forall(_.dv.isEmpty),
      "OPTIMIZE left deletion vectors behind")
  }

  test("merge-on-read MERGE INTO: scattered merge writes vectors + appends, zero rewrites; identical to a relational replay; feed = exactly the matched+inserted rows (r19 — r18 verdict #1)") {
    val dir = tmp("lake_mormerge")
    val t = catalogTable("tmormerge", dir)
    det(20000, 8).createOrReplaceTempView("mormerge_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM mormerge_src")
    // source: ~20 scattered matches across all 8 files + 100 new ids
    spark.range(0, 20100).filter(col("id") % 997 === 13 ||
        col("id") >= 20000)
      .select(col("id"), (col("id") % 7).cast("int").as("delta"))
      .createOrReplaceTempView("mormerge_delta")
    val d = committed(dir)(spark.sql(
      s"""MERGE INTO $t t USING mormerge_delta s ON t.id = s.id
      |WHEN MATCHED AND t.bucket = 3 THEN DELETE
      |WHEN MATCHED THEN UPDATE SET kscore = t.kscore + s.delta
      |WHEN NOT MATCHED THEN INSERT (id, bucket, kscore, score, doc_id)
      |  VALUES (s.id, CAST(s.id % 16 AS INT), CAST(s.delta AS INT),
      |          CAST(0.0 AS DOUBLE), 'ins')""".stripMargin))
    // the MoR pin: ZERO data files rewritten — matched rows are vector
    // growth, replacements + not-matched rows are appended files
    assert(d.removed.isEmpty,
      s"MoR MERGE rewrote files: ${d.removed.map(_.name)}")
    val dv = d.dvGrowth
    assert(dv.nonEmpty && dv.map(_._2).sum == 21L,
      s"expected 21 matched ordinals in vectors, got $dv")
    // value identity with the same merge replayed as DataFrame joins:
    // matched bucket-3 rows drop, other matched rows add the delta,
    // unmatched source rows insert
    val src = spark.table("mormerge_src")
    val delta = spark.table("mormerge_delta")
    val kept = src.join(delta, Seq("id"), "left_outer")
      .filter(col("delta").isNull || col("bucket") =!= 3)
      .select(col("id"), col("bucket"),
        (col("kscore") + coalesce(col("delta"), lit(0))).as("kscore"),
        col("score"), col("doc_id"))
    val added = delta.join(src, Seq("id"), "left_anti")
      .select(col("id"), (col("id") % 16).cast("int").as("bucket"),
        col("delta").as("kscore"), lit(0.0).as("score"),
        lit("ins").as("doc_id"))
    val expected = kept.unionByName(added).orderBy("id", "kscore")
      .collect().toSeq
    val mor = spark.table(t).orderBy("id", "kscore").collect().toSeq
    assert(mor == expected, s"MoR merge and relational replay disagree: " +
      s"${mor.size} vs ${expected.size} rows")
    // change feed surfaces EXACTLY the matched rows (deletes) and the
    // replacement + not-matched rows (inserts) — no phantom churn from
    // carried-over rows, because none were rewritten
    val f = LakeFormat.fs(dir)
    val vNow = LakeFormat.latestVersion(f, dir).get
    val feed = spark.read.format(Lake).option("path", dir)
      .option("changesFrom", vNow.toString)
      .option("changesTo", vNow.toString).load()
    val deletes = feed.filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    val inserts = feed.filter(col("_change_type") === "insert")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val matched = (0L until 20000L).filter(_ % 997 == 13).toSet
    assert(deletes == matched,
      s"feed deletes ≠ matched rows: ${deletes.toSeq.sorted}")
    // matched bucket-3 rows are DELETE-clause hits (no replacement);
    // the rest re-insert; det's bucket column is id % 16
    val updatedIns = matched.filter(id => (id % 16) != 3).toSeq.sorted
    val newIns = (20000L until 20100L).toSeq
    assert(inserts == (updatedIns ++ newIns).sorted,
      s"feed inserts ≠ replacements+new: $inserts")
    // a clustered table keeps its claim through MoR MERGE
    LakeFormat.optimizeCluster(spark, dir, "id", 8)
    spark.range(30000, 30050)
      .select(col("id"), (col("id") % 7).cast("int").as("delta"))
      .createOrReplaceTempView("mormerge_delta2")
    spark.sql(s"""MERGE INTO $t t USING mormerge_delta2 s ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET kscore = t.kscore + s.delta
      |WHEN NOT MATCHED THEN INSERT (id, bucket, kscore, score, doc_id)
      |  VALUES (s.id, CAST(s.id % 16 AS INT), CAST(s.delta AS INT),
      |          CAST(0.0 AS DOUBLE), 'ins')""".stripMargin)
    def meta2() = LakeFormat.readManifestMeta(f, dir,
      LakeFormat.latestVersion(f, dir).get)
    assert(meta2().cluster.contains(("id", 8)),
      "MoR MERGE dropped the cluster claim")
    assert(meta2().entries.forall(_.pk.isDefined))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: unmentioned target rows update/delete by their own clauses, still zero data-file rewrites (r19)") {
    val dir = tmp("lake_nms")
    val t = catalogTable("tnms", dir)
    det(20000, 8).createOrReplaceTempView("nms_target")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM nms_target")
    val src = spark.range(15000, 20100)
      .select(col("id"), (col("id") % 7).cast("int").as("delta"))
    src.createOrReplaceTempView("nms_src")
    // files 6 and 7 hold ids 15000–19999: the MERGE matches every row
    // of them, so their vectors would cover them whole
    val f0 = LakeFormat.fs(dir)
    val wholeMatched = LakeFormat.readManifest(f0, dir,
      LakeFormat.latestVersion(f0, dir).get)._2
      .filter(_.stats("id").min.exists(_.toLong >= 15000L)).map(_.name)
    assert(wholeMatched.size == 2, wholeMatched.toString)
    val d = committed(dir)(spark.sql(
      s"""MERGE INTO $t t USING nms_src s ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET kscore = t.kscore + s.delta
      |WHEN NOT MATCHED THEN INSERT (id, bucket, kscore, score, doc_id)
      |  VALUES (s.id, CAST(s.id % 16 AS INT), CAST(s.delta AS INT),
      |          CAST(0.0 AS DOUBLE), 'ins')
      |WHEN NOT MATCHED BY SOURCE AND t.bucket = 5 THEN DELETE
      |WHEN NOT MATCHED BY SOURCE AND t.bucket = 6 THEN
      |  UPDATE SET kscore = -1""".stripMargin))
    // the whole three-clause matrix is still merge-on-read: matched
    // updates AND by-source deletes/updates land as vector growth,
    // replacement + new rows as appends — zero files rewritten: the
    // only entries leaving the manifest are the two wholly-matched files
    assert(d.removed.map(_.name).sorted == wholeMatched.sorted,
      s"NMS MERGE rewrote: ${d.removed.map(_.name)}")
    assert(d.dvGrowth.nonEmpty,
      "NMS MERGE wrote no deletion vectors")
    // relational replay of all three clause families (the driver-gate
    // oracle re-derives the same in DuckDB for q247)
    val tgt = det(20000, 8).select(col("id"), col("bucket"), col("kscore"))
    val joined = tgt.join(src.withColumnRenamed("id", "sid"),
      col("id") === col("sid"), "left")
    val kept = joined
      .filter(!(col("sid").isNull && col("bucket") === 5))
      .select(col("id"),
        when(col("sid").isNotNull, col("kscore") + col("delta"))
          .when(col("bucket") === 6, -1)
          .otherwise(col("kscore")).as("kscore"))
    val inserted = src.join(tgt.select(col("id").as("tid")),
      col("id") === col("tid"), "left_anti")
      .select(col("id"), col("delta").cast("int").as("kscore"))
    val expected = kept.unionByName(inserted)
      .orderBy("id", "kscore").collect().toSeq
    val got = spark.table(t).select(col("id"), col("kscore"))
      .orderBy("id", "kscore").collect().toSeq
    assert(got == expected,
      s"NMS merge state diverged: ${got.size} vs ${expected.size} rows")
  }

  test("SHALLOW CLONE: zero bytes copied, claims carry, clone mutates via LOCAL sidecars/appends, source untouched, chains, OPTIMIZE materializes (r19)") {
    val src = tmp("lake_clone_src")
    det(20000, 8).write.format(Lake).option("path", src)
      .mode("overwrite").save()
    // cluster the source so the layout claim's carry is observable
    LakeFormat.optimizeCluster(spark, src, "bucket", 4)
    val fsrc = LakeFormat.fs(src)
    val vSrc = LakeFormat.latestVersion(fsrc, src).get
    val srcFiles = lakeFiles(src).sorted
    val dst = tmp("lake_clone_dst")
    val row = spark.sql(s"CLONE '$src' TO '$dst'").head
    assert(row.getInt(2) == vSrc && row.getInt(3) == 4, row.toString)
    // ZERO data files under the clone — only its v0 manifest
    assert(lakeFiles(dst).isEmpty, lakeFiles(dst).toString)
    assert(read(dst).count() == 20000L)
    val dmeta = LakeFormat.readManifestMeta(LakeFormat.fs(dst), dst, 0)
    assert(dmeta.cluster.contains(("bucket", 4)),
      "clone dropped the source's layout claim")
    // the clone joins exchange-free from birth (claim + pk carried)
    assert(dmeta.entries.forall(_.pk.isDefined))
    // DML on the clone = LOCAL deletion vectors against shared files;
    // the source's bytes and row count stay untouched
    val t = catalogTable("tclone", dst)
    spark.sql(s"DELETE FROM $t WHERE id % 997 = 13")
    assert(spark.table(t).count() == 20000L - 21L)
    assert(read(src).count() == 20000L, "clone DML leaked into source")
    assert(lakeFiles(src).sorted == srcFiles)
    assert(new java.io.File(dst).list().exists(_.startsWith("dv-")),
      "clone's deletion vector did not land in the clone's directory")
    // appends land locally; reads mix shared + local files
    spark.range(50000, 50100)
      .select(col("id"), (col("id") % 16).cast("int").as("bucket"),
        (col("id") % 50).cast("int").as("kscore"),
        lit(0.0).as("score"), lit("c").as("doc_id"))
      .write.format(Lake).option("path", dst).mode("append").save()
    assert(spark.table(t).count() == 20000L - 21L + 100L)
    assert(lakeFiles(dst).nonEmpty)
    // a clone of a clone chains the absolute references through
    val dst2 = tmp("lake_clone_dst2")
    spark.sql(s"CLONE '$dst' TO '$dst2'")
    assert(read(dst2).count() == 20000L - 21L + 100L)
    // clone targets must be fresh
    val e = intercept[IllegalArgumentException](
      LakeFormat.shallowClone(src, dst, None))
    assert(e.getMessage.contains("fresh"))
    // VERSION AS OF forks the historical snapshot
    val dst3 = tmp("lake_clone_dst3")
    spark.sql(s"CLONE '$src' TO '$dst3' VERSION AS OF 0")
    assert(read(dst3).count() == 20000L)
    assert(LakeFormat.readManifestMeta(LakeFormat.fs(dst3), dst3, 0)
      .entries.size == 8, "VERSION AS OF 0 should reference the 8 " +
      "pre-cluster files")
    // OPTIMIZE materializes: every reference becomes a local file
    LakeFormat.optimize(spark, dst, "id", 4)
    val m2 = LakeFormat.readManifestMeta(LakeFormat.fs(dst), dst,
      LakeFormat.latestVersion(LakeFormat.fs(dst), dst).get)
    assert(m2.entries.forall(!_.name.contains('/')),
      "OPTIMIZE left foreign references in the materialized clone")
    assert(spark.table(t).count() == 20000L - 21L + 100L)
  }

  test("branches/WAP: zero-copy fork, isolated writes+DML, audit reads, atomic fast-forward adopting local files, claim survives, feed shows net rows; divergence refused (r19)") {
    val dir = tmp("lake_wap")
    det(20000, 8).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    LakeFormat.optimizeCluster(spark, dir, "bucket", 4)
    val f = LakeFormat.fs(dir)
    val v0 = LakeFormat.latestVersion(f, dir).get
    val mainFiles = lakeFiles(dir).sorted
    // CREATE BRANCH = a zero-copy fork under the table dir
    val row = spark.sql(s"CREATE BRANCH audit ON '$dir'").head
    assert(row.getInt(2) == v0 && row.getInt(3) == 4, row.toString)
    val bDir = LakeFormat.branchDir(dir, "audit")
    assert(new java.io.File(bDir).list().toSeq
      .count(_.startsWith("part-")) == 0, "branch creation copied data")
    // writes land on the BRANCH via option("branch"); main never moves
    spark.range(50000, 50100)
      .select(col("id"), (col("id") % 16).cast("int").as("bucket"),
        (col("id") % 50).cast("int").as("kscore"),
        lit(0.0).as("score"), lit("b").as("doc_id"))
      .write.format(Lake).option("path", dir).option("branch", "audit")
      .mode("append").save()
    // DML on the branch: local deletion vectors against shared files
    val bt = catalogTable("twap_branch", bDir)
    spark.sql(s"DELETE FROM $bt WHERE id % 997 = 13")
    assert(LakeFormat.latestVersion(f, dir).get == v0,
      "branch activity advanced MAIN's version")
    assert(read(dir).count() == 20000L, "branch writes leaked into main")
    assert(lakeFiles(dir).sorted == mainFiles)
    // the audit step reads the branch as a real table — both forms
    val expected = 20000L - 21L + 100L
    assert(spark.read.format(Lake).option("path", dir)
      .option("branch", "audit").load().count() == expected)
    assert(spark.table(bt).count() == expected)
    val shown = spark.sql(s"SHOW BRANCHES ON '$dir'").collect()
    assert(shown.length == 1 && shown.head.getString(0) == "audit" &&
      shown.head.getInt(1) == v0, shown.mkString)
    // PUBLISH: one atomic commit; branch-local files adopted by rename
    val ff = spark.sql(s"FAST FORWARD '$dir' TO BRANCH audit").head
    assert(ff.getInt(2) == v0 + 1, ff.toString)
    assert(ff.getInt(4) >= 1, "no branch-local files were adopted")
    assert(read(dir).count() == expected)
    assert(LakeFormat.latestVersion(f, dir).get == v0 + 1)
    // the branch is consumed; the claim survived the publish
    assert(!new java.io.File(bDir).exists(), "publish left the branch")
    assert(spark.sql(s"SHOW BRANCHES ON '$dir'").count() == 0L)
    val meta = LakeFormat.readManifestMeta(f, dir, v0 + 1)
    assert(meta.cluster.contains(("bucket", 4)),
      "fast forward dropped the layout claim")
    assert(meta.entries.forall(e => !e.name.contains("_branch-")),
      "published entries still reference the branch directory")
    // the change feed shows the branch's NET rows as one commit
    val feed = spark.read.format(Lake).option("path", dir)
      .option("changesFrom", v0 + 1).load()
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed.getOrElse("insert", 0L) == 100L &&
      feed.getOrElse("delete", 0L) == 21L, feed.toString)
    // divergence: a branch whose base main has moved past refuses
    spark.sql(s"CREATE BRANCH stale ON '$dir'")
    spark.range(60000, 60010)
      .select(col("id"), (col("id") % 16).cast("int").as("bucket"),
        (col("id") % 50).cast("int").as("kscore"),
        lit(0.0).as("score"), lit("m").as("doc_id"))
      .write.format(Lake).option("path", dir).mode("append").save()
    val e = intercept[IllegalArgumentException](
      spark.sql(s"FAST FORWARD '$dir' TO BRANCH stale"))
    assert(e.getMessage.contains("not a fast forward"), e.getMessage)
    // the failed publish left main AND the branch intact; DROP works
    assert(read(dir).count() == expected + 10L)
    assert(spark.read.format(Lake).option("path", dir)
      .option("branch", "stale").load().count() == expected)
    spark.sql(s"DROP BRANCH stale ON '$dir'")
    assert(spark.sql(s"SHOW BRANCHES ON '$dir'").count() == 0L)
    assert(read(dir).count() == expected + 10L)
    // a second CREATE under a live name refuses; bad names refuse
    spark.sql(s"CREATE BRANCH b2 ON '$dir'")
    val e2 = intercept[IllegalArgumentException](
      spark.sql(s"CREATE BRANCH b2 ON '$dir'"))
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    spark.sql(s"DROP BRANCH b2 ON '$dir'")
    val e3 = intercept[IllegalArgumentException](
      LakeFormat.createBranch(dir, "bad/name", None))
    assert(e3.getMessage.contains("must match"), e3.getMessage)
  }

  test("materialized view: incremental refresh equals recompute across append/DELETE/UPDATE, vanished groups drop, no-op and maintenance refreshes skip commits, intent marker never double-applies (r19)") {
    import graft.sources.LakeMV
    val dir = tmp("lake_mv_src")
    val t = catalogTable("tmv_src", dir)
    det(20000, 8).write.format(Lake).option("path", dir)
      .mode("append").save()
    val mv = tmp("lake_mv") + "/mv"
    spark.sql(s"CREATE MATERIALIZED VIEW '$mv' ON '$dir' " +
      "KEYS (bucket) SUMS (kscore)")
    def recompute(): Seq[(Int, Long, Long)] =
      read(dir).groupBy(col("bucket"))
        .agg(count(lit(1)).as("c"), sum(col("kscore")).as("s"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
    def mvRows(): Seq[(Int, Long, Long)] =
      read(mv).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
    assert(mvRows() == recompute(), "MV create != full aggregate")
    val fmv = LakeFormat.fs(mv)
    // append + row-level DELETE + UPDATE on the source, then refresh
    spark.range(50000, 50100)
      .select(col("id"), (col("id") % 16).cast("int").as("bucket"),
        ((col("id") * 31) % 997).cast("int").as("kscore"),
        lit(0.0).as("score"), lit("x").as("doc_id"))
      .write.format(Lake).option("path", dir).mode("append").save()
    spark.sql(s"DELETE FROM $t WHERE id % 997 = 13")
    spark.sql(s"UPDATE $t SET kscore = kscore + 5 WHERE id < 100")
    val r1 = spark.sql(s"REFRESH MATERIALIZED VIEW '$mv'").head
    assert(r1.getLong(3) > 0L, r1.toString)
    assert(mvRows() == recompute(), "incremental refresh != recompute")
    // a group whose count reaches zero disappears from the MV
    spark.sql(s"DELETE FROM $t WHERE bucket = 3")
    spark.sql(s"REFRESH MATERIALIZED VIEW '$mv'")
    assert(!mvRows().exists(_._1 == 3), "vanished group still in MV")
    assert(mvRows() == recompute())
    // idempotent: nothing new to cover → no MV commit, zero groups
    val vQuiet = LakeFormat.latestVersion(fmv, mv).get
    val r2 = spark.sql(s"REFRESH MATERIALIZED VIEW '$mv'").head
    assert(r2.getLong(3) == 0L && r2.getInt(1) == r2.getInt(2))
    assert(LakeFormat.latestVersion(fmv, mv).get == vQuiet,
      "no-op refresh committed to the MV")
    // maintenance commits are row-preserving: covered, but no MV churn
    spark.sql(s"OPTIMIZE '$dir' RANGE BY id INTO 4 FILES")
    val r3 = spark.sql(s"REFRESH MATERIALIZED VIEW '$mv'").head
    assert(r3.getLong(3) == 0L && r3.getInt(2) > r3.getInt(1),
      r3.toString)
    assert(LakeFormat.latestVersion(fmv, mv).get == vQuiet,
      "maintenance-only refresh committed to the MV")
    // crash window: merge landed but the state write was lost — the
    // recovery finalizes WITHOUT re-applying the delta. State lives in
    // a versioned chain (_mv_state-<seq>); "rewind" = publish the OLD
    // value as a NEWER seq, exactly the view a lost write leaves.
    def stateFiles(): Seq[String] = new java.io.File(mv).list()
      .filter(_.matches("_mv_state-\\d+")).toSeq.sorted
    val stateBefore = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(mv, stateFiles().last)), "UTF-8")
    val Array(coveredS, mvVS) = stateBefore.trim.split('\t')
    spark.range(70000, 70010)
      .select(col("id"), (col("id") % 16).cast("int").as("bucket"),
        ((col("id") * 31) % 997).cast("int").as("kscore"),
        lit(0.0).as("score"), lit("y").as("doc_id"))
      .write.format(Lake).option("path", dir).mode("append").save()
    val r4 = spark.sql(s"REFRESH MATERIALIZED VIEW '$mv'").head
    assert(r4.getLong(3) > 0L)
    val good = mvRows()
    assert(good == recompute())
    // rewind the state and plant the intent of the refresh that just
    // ran: exactly what a crash between merge-commit and state write
    // leaves behind
    val lastSeq = stateFiles().last.stripPrefix("_mv_state-").toInt
    java.nio.file.Files.write(
      java.nio.file.Paths.get(mv, s"_mv_state-${lastSeq + 1}"),
      stateBefore.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(mv, "_mv_state.next"),
      s"${r4.getInt(2)}\t$mvVS".getBytes("UTF-8"))
    val r5 = spark.sql(s"REFRESH MATERIALIZED VIEW '$mv'").head
    assert(r5.getLong(3) == 0L,
      s"recovery re-applied an already-landed delta: $r5")
    assert(mvRows() == good, "recovery corrupted the MV")
    // NULL group keys are first-class: one MV row, merged null-safely
    // across refreshes (never re-inserted), vanishing at count zero
    val ndir = tmp("lake_mv_nullsrc")
    val nt = catalogTable("tmv_nullsrc", ndir)
    spark.sql(s"""INSERT INTO $nt VALUES
      |(1L, 1, 10, 0.0D, 'a'), (2L, CAST(NULL AS INT), 20, 0.0D, 'b'),
      |(3L, CAST(NULL AS INT), 30, 0.0D, 'c')""".stripMargin)
    val nmv = tmp("lake_mv_null") + "/mv"
    spark.sql(s"CREATE MATERIALIZED VIEW '$nmv' ON '$ndir' " +
      "KEYS (bucket) SUMS (kscore)")
    spark.sql(s"INSERT INTO $nt VALUES " +
      "(4L, CAST(NULL AS INT), 40, 0.0D, 'd')")
    spark.sql(s"DELETE FROM $nt WHERE id = 2")
    spark.sql(s"REFRESH MATERIALIZED VIEW '$nmv'")
    val nullRows = read(nmv).filter(col("bucket").isNull).collect()
    assert(nullRows.length == 1 &&
      nullRows.head.getLong(1) == 2L && nullRows.head.getLong(2) == 70L,
      s"null-key MV group wrong: ${nullRows.mkString}")
    spark.sql(s"DELETE FROM $nt WHERE bucket IS NULL")
    spark.sql(s"REFRESH MATERIALIZED VIEW '$nmv'")
    assert(read(nmv).filter(col("bucket").isNull).count() == 0L,
      "vanished null-key group still in MV")
    // non-numeric sums and non-fresh targets refuse loudly
    val e1 = intercept[IllegalArgumentException](
      LakeMV.create(spark, dir, tmp("lake_mv_bad") + "/mv",
        Seq("bucket"), Seq("doc_id")))
    assert(e1.getMessage.contains("numeric"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      LakeMV.create(spark, dir, mv, Seq("bucket"), Nil))
    assert(e2.getMessage.contains("fresh"), e2.getMessage)
  }

  test("CBO column statistics from the manifest: exact null counts and numeric min/max reach the optimizer, post-pruning; strings report nulls only (r19)") {
    val dir = tmp("lake_colstats")
    det(20000, 8).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    def statsOf(df: org.apache.spark.sql.DataFrame) = {
      val plan = df.queryExecution.optimizedPlan
      val rel = plan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
      }.get
      (rel, rel.stats)
    }
    val (rel, st) = statsOf(read(dir))
    assert(st.rowCount.contains(BigInt(20000)), st.toString)
    val idAttr = rel.output.find(_.name == "id").get
    val cs = st.attributeStats.get(idAttr)
    assert(cs.isDefined, s"no column stats for id: ${st.attributeStats}")
    assert(cs.get.nullCount.contains(BigInt(0)), cs.toString)
    assert(cs.get.min.contains(0L) && cs.get.max.contains(19999L),
      s"id bounds: ${cs.get.min} .. ${cs.get.max}")
    // strings carry null counts but never a wrong-typed range
    val dAttr = rel.output.find(_.name == "doc_id").get
    val dcs = st.attributeStats.get(dAttr)
    assert(dcs.isDefined && dcs.get.nullCount.contains(BigInt(0)) &&
      dcs.get.min.isEmpty && dcs.get.max.isEmpty, dcs.toString)
    // POST-PRUNING: a 1/8-file predicate narrows rowCount AND range
    val (rel2, st2) = statsOf(read(dir).filter(col("id") < 2500))
    assert(st2.rowCount.contains(BigInt(2500)), st2.toString)
    val id2 = rel2.output.find(_.name == "id").get
    assert(st2.attributeStats(id2).max.contains(2499L),
      st2.attributeStats(id2).toString)
  }

  test("NDV sketches: metadata-only distinct estimates — merge-exact across files, survive DML and path appends, reach CBO plan stats; unsketched columns loud (r19)") {
    val dir = tmp("lake_ndv")
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS glt.ns.tndv")
    spark.sql(s"""CREATE TABLE glt.ns.tndv (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir'
      |TBLPROPERTIES ('ndvFor'='kscore')""".stripMargin)
    det(20000, 8).createOrReplaceTempView("ndv_src")
    spark.sql("INSERT OVERWRITE glt.ns.tndv SELECT * FROM ndv_src")
    // kscore = (id*31) % 997 over 20k ids → exactly 997 distinct
    val est = LakeFormat.approxNdv(dir, "kscore")
    assert(math.abs(est - 997L) <= 30L, s"ndv estimate $est vs 997")
    // register-max merging is ASSOCIATIVE: the 8-file merge must equal
    // the single-file sketch of the identical value set, bit for bit
    val dir1 = tmp("lake_ndv1")
    spark.sql("DROP TABLE IF EXISTS glt.ns.tndv1")
    spark.sql(s"""CREATE TABLE glt.ns.tndv1 (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir1'
      |TBLPROPERTIES ('ndvFor'='kscore')""".stripMargin)
    det(20000, 1).createOrReplaceTempView("ndv_src1")
    spark.sql("INSERT OVERWRITE glt.ns.tndv1 SELECT * FROM ndv_src1")
    assert(LakeFormat.approxNdv(dir1, "kscore") == est,
      "8-file merged estimate != single-sketch estimate")
    // the estimate reaches the optimizer as distinctCount
    val df = spark.table("glt.ns.tndv")
    val rel = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r
    }.get
    val kAttr = rel.output.find(_.name == "kscore").get
    assert(rel.stats.attributeStats(kAttr).distinctCount
      .contains(BigInt(est)),
      rel.stats.attributeStats(kAttr).toString)
    // DML replacement files and plain path appends carry sketches too
    spark.sql("UPDATE glt.ns.tndv SET kscore = -1 WHERE id < 10")
    val estAfter = LakeFormat.approxNdv(dir, "kscore")
    assert(math.abs(estAfter - 998L) <= 30L, s"post-DML ndv $estAfter")
    spark.range(90000, 90100)
      .select(col("id"), lit(0).as("bucket"),
        (col("id") * 7919 % 100000).cast("int").as("kscore"),
        lit(0.0).as("score"), lit("a").as("doc_id"))
      .write.format(Lake).option("path", dir).mode("append").save()
    val estApp = LakeFormat.approxNdv(dir, "kscore")
    assert(estApp > est + 50, s"append did not grow the estimate: $estApp")
    // a column that was never enrolled refuses loudly
    val e = intercept[IllegalStateException](
      LakeFormat.approxNdv(dir, "bucket"))
    assert(e.getMessage.contains("no sketch"), e.getMessage)
  }

  test("VACUUM spares files live branches reference; dropping the branch releases them (r19)") {
    val dir = tmp("lake_vacbranch")
    det(1000, 2).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    spark.sql(s"CREATE BRANCH hold ON '$dir'")
    // main rewrites everything; its own history stops naming v0's files
    spark.sql(s"OPTIMIZE '$dir' RANGE BY id INTO 1 FILES")
    spark.sql(s"VACUUM '$dir' RETAIN 1 VERSIONS GRACE 0 MS")
    assert(spark.read.format(Lake).option("path", dir)
      .option("branch", "hold").load().count() == 1000L,
      "vacuum reclaimed files the live branch references")
    // once the branch is gone, a re-vacuum releases them
    spark.sql(s"DROP BRANCH hold ON '$dir'")
    val r = spark.sql(s"VACUUM '$dir' RETAIN 1 VERSIONS GRACE 0 MS").head
    assert(r.getLong(2) >= 2L, s"post-drop vacuum reclaimed only $r")
    assert(read(dir).count() == 1000L)
  }

  test("VACUUM DRY RUN: reports the reclaim set without deleting; the real run then reclaims exactly it (r19)") {
    val dir = tmp("lake_vacdry")
    det(1000, 2).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    det(1000, 2).write.format(Lake).option("path", dir)
      .mode("overwrite").save() // v1 orphans v0's files
    val before = new java.io.File(dir).list().toSet
    val dry = spark.sql(
      s"VACUUM '$dir' RETAIN 1 VERSIONS GRACE 0 MS DRY RUN").head
    assert(dry.getBoolean(3) && dry.getLong(2) >= 3L, dry.toString)
    assert(new java.io.File(dir).list().toSet == before,
      "DRY RUN deleted files")
    assert(spark.read.format(Lake).option("path", dir)
      .option("versionAsOf", 0).load().count() == 1000L,
      "DRY RUN broke time travel")
    val real = spark.sql(
      s"VACUUM '$dir' RETAIN 1 VERSIONS GRACE 0 MS").head
    assert(!real.getBoolean(3) && real.getLong(2) == dry.getLong(2),
      s"real vacuum reclaimed ${real.getLong(2)} vs dry ${dry.getLong(2)}")
    assert(read(dir).count() == 1000L)
  }

  test("COPY INTO: exactly-once file ingest — retries skip, new files land, crash windows recover on both sides of the commit, re-pushed different-size files re-ingest (r19)") {
    import graft.sources.LakeIngest
    val dir = tmp("lake_copy_tbl")
    val land = tmp("lake_copy_land")
    det(1000, 1).write.format(Lake).option("path", dir)
      .mode("append").save()
    // landing dir: three parquet files of det-shaped rows
    def stage(a: Long, b: Long): Unit =
      spark.range(a, b)
        .select(col("id"), (col("id") % 16).cast("int").as("bucket"),
          ((col("id") * 31) % 997).cast("int").as("kscore"),
          lit(0.0).as("score"), lit("cp").as("doc_id"))
        .coalesce(1).write.mode("append").parquet(land)
    stage(10000, 10500); stage(10500, 11000); stage(11000, 11500)
    val r1 = spark.sql(s"COPY INTO '$dir' FROM '$land'").head
    assert(r1.getInt(1) == 3 && r1.getInt(2) == 0, r1.toString)
    assert(read(dir).count() == 1000L + 1500L)
    // the retry is a no-op: all three files are ledgered
    val r2 = spark.sql(s"COPY INTO '$dir' FROM '$land'").head
    assert(r2.getInt(1) == 0 && r2.getInt(2) == 3, r2.toString)
    assert(read(dir).count() == 1000L + 1500L)
    // a newly landed file ingests alone
    stage(11500, 11600)
    val r3 = spark.sql(s"COPY INTO '$dir' FROM '$land'").head
    assert(r3.getInt(1) == 1 && r3.getInt(2) == 3, r3.toString)
    assert(read(dir).count() == 1000L + 1600L)
    // crash BEFORE the append commit: intent exists, version unmoved —
    // recovery discards it and the batch re-stages (no rows lost)
    stage(11600, 11700)
    val f = LakeFormat.fs(dir)
    val v = LakeFormat.latestVersion(f, dir).get
    def ledgerUnion(): Set[String] = new java.io.File(dir).list()
      .filter(_.startsWith("_ingest_ledger-"))
      .flatMap(n => scala.io.Source.fromFile(new java.io.File(dir, n))
        .getLines()).toSet
    val newTok = new java.io.File(land).list()
      .filter(_.endsWith(".parquet")).map { n =>
        s"$n:${new java.io.File(land, n).length()}"
      }.toSet -- ledgerUnion()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_ingest_intent"),
      (v.toString +: newTok.toSeq).mkString("\n").getBytes("UTF-8"))
    // raw writes bypass LocalFileSystem's checksum sidecars — drop it
    def dropCrc(): Unit =
      new java.io.File(dir, "._ingest_intent.crc").delete()
    dropCrc()
    val r4 = spark.sql(s"COPY INTO '$dir' FROM '$land'").head
    assert(r4.getInt(1) == 1 && r4.getInt(2) == 4, r4.toString)
    assert(read(dir).count() == 1000L + 1700L)
    // crash AFTER the append commit but before the ledger write:
    // delete the ledger SEGMENT that COPY wrote (the crash means it
    // was never born), plant its intent — recovery finalizes the
    // ledger and the rows never duplicate
    val lastTok = newTok.toSeq
    new java.io.File(dir).list()
      .filter(_.startsWith("_ingest_ledger-"))
      .filter(n => scala.io.Source.fromFile(new java.io.File(dir, n))
        .getLines().exists(lastTok.contains))
      .foreach { n =>
        new java.io.File(dir, n).delete()
        new java.io.File(dir, s".$n.crc").delete()
      }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_ingest_intent"),
      ((v - 1).toString +: lastTok).mkString("\n").getBytes("UTF-8"))
    dropCrc()
    val r5 = spark.sql(s"COPY INTO '$dir' FROM '$land'").head
    assert(r5.getInt(1) == 0 && r5.getInt(2) == 5,
      s"post-commit crash recovery re-ingested: $r5")
    assert(read(dir).count() == 1000L + 1700L)
    // same name, different size = a different identity → re-ingests
    val one = new java.io.File(land).list()
      .filter(_.endsWith(".parquet")).sorted.head
    val p = java.nio.file.Paths.get(land, one)
    val repl = tmp("lake_copy_repl")
    spark.range(90000, 90010)
      .select(col("id"), (col("id") % 16).cast("int").as("bucket"),
        ((col("id") * 31) % 997).cast("int").as("kscore"),
        lit(0.0).as("score"),
        lit("repushed-with-a-longer-payload").as("doc_id"))
      .coalesce(1).write.mode("overwrite").parquet(repl)
    val rf = new java.io.File(repl).list()
      .filter(_.endsWith(".parquet")).head
    java.nio.file.Files.copy(java.nio.file.Paths.get(repl, rf), p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(land, s".$one.crc").delete()
    val r6 = spark.sql(s"COPY INTO '$dir' FROM '$land'").head
    assert(r6.getInt(1) == 1, s"re-pushed file did not re-ingest: $r6")
    assert(read(dir).filter(col("id") >= 90000L).count() == 10L)
    // COPY INTO a non-table refuses loudly
    val e = intercept[IllegalArgumentException](
      LakeIngest.copyInto(spark, tmp("lake_copy_empty"), land))
    assert(e.getMessage.contains("no lake table"), e.getMessage)
  }

  test("type widening: ALTER COLUMN TYPE INT→BIGINT/DOUBLE is metadata-only — files untouched, big values insert, stats prune, time travel keeps old type; lossy casts and layout hash changes refused (r19)") {
    val dir = tmp("lake_widen")
    val t = catalogTable("twiden", dir)
    det(20000, 8).createOrReplaceTempView("widen_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM widen_src")
    val filesBefore = lakeFiles(dir).sorted
    val f = LakeFormat.fs(dir)
    val vBefore = LakeFormat.latestVersion(f, dir).get
    spark.sql(s"ALTER TABLE $t ALTER COLUMN kscore TYPE BIGINT")
    // METADATA-ONLY: one new version, zero data files touched
    assert(LakeFormat.latestVersion(f, dir).get == vBefore + 1)
    assert(lakeFiles(dir).sorted == filesBefore,
      "type widening touched data files")
    val meta = LakeFormat.readManifestMeta(f, dir, vBefore + 1)
    assert(meta.schema("kscore").dataType ==
      org.apache.spark.sql.types.LongType)
    // old INT tokens serve as BIGINT; values beyond INT range insert
    spark.sql(s"""INSERT INTO $t VALUES
      |(20000L, 0, 3000000000L, 0.0D, 'big')""".stripMargin)
    val big = spark.table(t).filter(col("id") === 20000L)
      .select("kscore").head.getLong(0)
    assert(big == 3000000000L)
    assert(spark.table(t).agg(sum(col("kscore"))).head.getLong(0) > 0L)
    // stats pruning still narrows on the widened column: the pre-widen
    // statistics parse through the same numeric algebra
    val (nWide, wide) = planned(
      spark.table(t).filter(col("kscore") === 3000000000L).count())
    assert(nWide == 1L)
    assert(wide.size == 1, s"widened-column needle planned $wide")
    // time travel serves the version's OWN type
    assert(spark.read.format(Lake).option("path", dir)
      .option("versionAsOf", vBefore).load()
      .schema("kscore").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // DML stays correct across the widen (merge-on-read UPDATE)
    spark.sql(s"UPDATE $t SET kscore = kscore + 1 WHERE id = 20000")
    assert(spark.table(t).filter(col("id") === 20000L)
      .select("kscore").head.getLong(0) == 3000000001L)
    // INT→DOUBLE widens too (non-layout column)
    spark.sql(s"ALTER TABLE $t ALTER COLUMN bucket TYPE DOUBLE")
    assert(spark.table(t).schema("bucket").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(spark.table(t).filter(col("id") === 5L)
      .select("bucket").head.getDouble(0) == 5.0d)
    // lossy/reinterpreting casts are refused loudly
    val e1 = intercept[Exception](
      spark.sql(s"ALTER TABLE $t ALTER COLUMN kscore TYPE DOUBLE"))
    assert(e1.getMessage.contains("2^53"), e1.getMessage)
    // STRING→BIGINT dies in Spark's own analyzer (canUpCast) before it
    // reaches the catalog; the engine's "reinterpret" require stays as
    // defense-in-depth for direct TableChange callers
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $t ALTER COLUMN doc_id TYPE BIGINT"))
    assert(e2.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      e2.getMessage)
    // a stale NARROW-schema writer merges: its int tokens serve under
    // the widened base header exactly; a write carrying a WIDER type
    // than the header is refused — header widening must go through
    // ALTER, never ride a plain write past the layout/bloom guards
    // (r19 review #2)
    val intS = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("kscore",
        org.apache.spark.sql.types.IntegerType)))
    val longS = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("kscore",
        org.apache.spark.sql.types.LongType)))
    val merged = LakeFormat.mergeSchemas(dir, longS, intS)
    assert(merged("kscore").dataType ==
      org.apache.spark.sql.types.LongType)
    val eWide = intercept[IllegalArgumentException](
      LakeFormat.mergeSchemas(dir, intS, longS))
    assert(eWide.getMessage.contains("must not widen"), eWide.getMessage)
    // end-to-end: a path-based append whose dataframe carries the
    // cluster column as DOUBLE must fail loudly, never silently widen
    // the header under the standing claim
    val gdir = tmp("lake_widen_guard")
    det(2000, 2).write.format(Lake).option("path", gdir)
      .mode("overwrite").save()
    LakeFormat.optimizeCluster(spark, gdir, "bucket", 2)
    val eClaim = intercept[Exception](
      det(2000, 2)
        .withColumn("bucket", col("bucket").cast("double"))
        .write.format(Lake).option("path", gdir).mode("append").save())
    assert((eClaim.getMessage + String.valueOf(eClaim.getCause))
      .contains("must not widen"), eClaim.getMessage)
    // widening the CLUSTER column to DOUBLE would change the bucket
    // hash under the claim — refused; INT→BIGINT shares the hash path
    val cdir = tmp("lake_widen_cl")
    val ct = catalogTable("twidencl", cdir)
    spark.sql(s"INSERT OVERWRITE $ct SELECT * FROM widen_src")
    LakeFormat.optimizeCluster(spark, cdir, "bucket", 4)
    val e3 = intercept[Exception](
      spark.sql(s"ALTER TABLE $ct ALTER COLUMN bucket TYPE DOUBLE"))
    assert(e3.getMessage.contains("bucket hash"), e3.getMessage)
    spark.sql(s"ALTER TABLE $ct ALTER COLUMN kscore TYPE BIGINT")
    val cf = LakeFormat.fs(cdir)
    val cmeta = LakeFormat.readManifestMeta(cf, cdir,
      LakeFormat.latestVersion(cf, cdir).get)
    assert(cmeta.cluster.contains(("bucket", 4)),
      "INT→BIGINT widening dropped the cluster claim")
    // a widen is header-only: it must NOT materialize a column mapping
    // (that would disable manifest-only aggregates forever — found by
    // the 20M smoke) and INT→DOUBLE on a BLOOM-enrolled column is
    // refused (sidecars hash integers; a double probe would wrongly
    // prune — r19 review #1)
    assert(cmeta.colmap.isEmpty,
      "type widening materialized a column mapping")
    val bdir = tmp("lake_widen_bloom")
    spark.sql("DROP TABLE IF EXISTS glt.ns.twidenbl")
    spark.sql(s"""CREATE TABLE glt.ns.twidenbl (id BIGINT, k INT)
      |USING lake LOCATION '$bdir'
      |TBLPROPERTIES ('bloomFor'='k')""".stripMargin)
    spark.range(10).selectExpr("id", "CAST(id AS INT) AS k")
      .createOrReplaceTempView("widenbl_src")
    spark.sql("INSERT OVERWRITE glt.ns.twidenbl SELECT * FROM widenbl_src")
    val e4 = intercept[Exception](spark.sql(
      "ALTER TABLE glt.ns.twidenbl ALTER COLUMN k TYPE DOUBLE"))
    assert(e4.getMessage.contains("bloom-enrolled"), e4.getMessage)
    spark.sql("ALTER TABLE glt.ns.twidenbl ALTER COLUMN k TYPE BIGINT")
    assert(spark.table("glt.ns.twidenbl").filter(col("k") === 5L)
      .count() == 1L, "bloom probe broke across INT→BIGINT widen")
  }

  test("column mapping: RENAME/DROP COLUMN are metadata-only — files untouched, stats keep pruning, time travel serves the old names, DML stays correct, re-add never resurrects (r19 — r18 verdict #4)") {
    val dir = tmp("lake_colmap")
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    spark.sql(s"DROP TABLE IF EXISTS glt.ns.tcm")
    spark.sql(s"""CREATE TABLE glt.ns.tcm (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir'""".stripMargin)
    det(20000, 8).createOrReplaceTempView("cm_src")
    spark.sql(s"INSERT INTO glt.ns.tcm SELECT * FROM cm_src")
    val files0 = lakeFiles(dir).toSet
    val f = LakeFormat.fs(dir)
    val vPreRename = LakeFormat.latestVersion(f, dir).get

    // RENAME: one O(root) commit, zero data files written or removed
    spark.sql("ALTER TABLE glt.ns.tcm RENAME COLUMN kscore TO points")
    assert(lakeFiles(dir).toSet == files0, "rename touched data files")
    assert(spark.table("glt.ns.tcm").columns.toSeq ==
      Seq("id", "bucket", "points", "score", "doc_id"))
    // old files serve the renamed column's values
    assert(spark.sql("SELECT CAST(sum(points) AS BIGINT) FROM glt.ns.tcm")
      .head.getLong(0) ==
      det(20000, 8).agg(sum("kscore").cast("long")).head.getLong(0))
    // stats PRUNING still narrows the scan post-rename (phys-key
    // translation): id is unrenamed, points is renamed — filter both
    val (nRen, renamed) = planned(spark.sql(
      "SELECT count(*) FROM glt.ns.tcm WHERE id < 2500").head.getLong(0))
    assert(nRen == 2500L)
    assert(renamed.size == 1, s"post-rename pruning planned $renamed")
    // time travel BEFORE the rename serves the historical schema
    val tt = spark.read.format(Lake).option("path", dir)
      .option("versionAsOf", vPreRename).load()
    assert(tt.columns.toSeq ==
      Seq("id", "bucket", "kscore", "score", "doc_id"))
    assert(tt.agg(sum("kscore").cast("long")).head.getLong(0) ==
      spark.sql("SELECT CAST(sum(points) AS BIGINT) FROM glt.ns.tcm")
        .head.getLong(0))

    // DML after the rename: MoR UPDATE + MERGE against the new name,
    // old files' rows addressed by slot
    spark.sql("UPDATE glt.ns.tcm SET points = points + 1000 " +
      "WHERE id % 997 = 13")
    assert(spark.sql("SELECT points FROM glt.ns.tcm WHERE id = 13")
      .head.getInt(0) == (13 * 31) % 997 + 1000)
    // new files are written SLOT-correct: full-table read-back agrees
    // with the relational replay on every column
    val expect = det(20000, 8)
      .withColumn("kscore", when(col("id") % 997 === 13,
        col("kscore") + 1000).otherwise(col("kscore")))
      .select(col("id"), col("bucket"), col("kscore").as("points"),
        col("score"), col("doc_id"))
    assert(spark.table("glt.ns.tcm").exceptAll(expect).count() == 0L &&
      expect.exceptAll(spark.table("glt.ns.tcm")).count() == 0L)

    // DROP: metadata-only; the column disappears, files untouched
    val filesPreDrop = lakeFiles(dir).toSet
    spark.sql("ALTER TABLE glt.ns.tcm DROP COLUMN score")
    assert(lakeFiles(dir).toSet == filesPreDrop, "drop touched data files")
    assert(spark.table("glt.ns.tcm").columns.toSeq ==
      Seq("id", "bucket", "points", "doc_id"))
    // re-ADD the dropped name: fresh slot + fresh phys name — all
    // nulls, NEVER the dropped column's historical values, and the
    // old stats can't prune the new column
    spark.sql("ALTER TABLE glt.ns.tcm ADD COLUMNS (score DOUBLE)")
    assert(spark.sql(
      "SELECT count(*) FROM glt.ns.tcm WHERE score IS NOT NULL")
      .head.getLong(0) == 0L,
      "re-added column resurrected dropped values")
    // writes to the re-added column land at its fresh slot
    spark.sql("UPDATE glt.ns.tcm SET score = 2.5 WHERE id = 99")
    assert(spark.sql("SELECT score FROM glt.ns.tcm WHERE id = 99")
      .head.getDouble(0) == 2.5)
    assert(spark.sql("SELECT points FROM glt.ns.tcm WHERE id = 99")
      .head.getInt(0) == (99 * 31) % 997, "update corrupted a neighbor")

    // RESTORE across the rename/drop history: data restores, the LIVE
    // header (names + mapping) stays — slot-addressed entries read
    // correctly under the current names
    val r = spark.sql(
      s"RESTORE TABLE glt.ns.tcm TO VERSION AS OF $vPreRename").collect()
    assert(r.length == 1)
    assert(spark.table("glt.ns.tcm").columns.toSeq ==
      Seq("id", "bucket", "points", "doc_id", "score"))
    assert(spark.sql("SELECT CAST(sum(points) AS BIGINT) FROM glt.ns.tcm")
      .head.getLong(0) ==
      det(20000, 8).agg(sum("kscore").cast("long")).head.getLong(0))

    // cluster-column interplay: rename keeps the claim (renamed in the
    // same commit); dropping the cluster column is refused
    LakeFormat.optimizeCluster(spark, dir, "id", 4)
    spark.sql("ALTER TABLE glt.ns.tcm RENAME COLUMN id TO doc_key")
    val root = LakeFormat.readManifestRoot(f, dir,
      LakeFormat.latestVersion(f, dir).get)
    assert(root.cluster.contains(("doc_key", 4)),
      s"cluster claim lost/stale across rename: ${root.cluster}")
    val ex = intercept[Exception] {
      spark.sql("ALTER TABLE glt.ns.tcm DROP COLUMN doc_key")
    }
    assert(ex.getMessage.contains("cluster-by column"), ex.getMessage)
    // and every file still carries its ordinal for the claim
    assert(root.inline.forall(_.pk.isDefined))
  }

  test("composite layout: trunc partition term + bucket term — one file per (partition, bucket), date-predicate prunes whole partitions, bucket join plans zero exchanges, claims survive DML and COMPACT (r19 — r18 verdict #5)") {
    val dirA = tmp("lake_comp_a")
    val dirB = tmp("lake_comp_b")
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    Seq("tcompa" -> dirA, "tcompb" -> dirB).foreach { case (t, d) =>
      spark.sql(s"DROP TABLE IF EXISTS glt.ns.$t")
      spark.sql(s"""CREATE TABLE glt.ns.$t (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$d'
        |TBLPROPERTIES ('clusterBy'='trunc(id,5000),bucket(id,4)')"""
        .stripMargin)
    }
    det(20000, 8).createOrReplaceTempView("comp_src_a")
    det(12000, 8).createOrReplaceTempView("comp_src_b")
    spark.sql("INSERT OVERWRITE glt.ns.tcompa SELECT * FROM comp_src_a")
    spark.sql("INSERT OVERWRITE glt.ns.tcompb SELECT * FROM comp_src_b")
    val f = LakeFormat.fs(dirA)
    def root() = LakeFormat.readManifestRoot(f, dirA,
      LakeFormat.latestVersion(f, dirA).get)
    // both terms claimed; every file carries BOTH its partition value
    // and its bucket ordinal
    assert(root().part.contains(("id", 5000L)) &&
      root().cluster.contains(("id", 4)), root().toString)
    val m = LakeFormat.readManifestMeta(f, dirA,
      LakeFormat.latestVersion(f, dirA).get)
    assert(m.entries.size == 16, // 4 partitions × 4 buckets
      s"expected 16 (partition,bucket)-pure files, got " +
        s"${m.entries.size}: ${m.entries.map(_.name)}")
    assert(m.entries.forall(e => e.pk.isDefined && e.pv.isDefined))
    // per-file purity: every row's trunc AND bucket match the claims
    val byFile = read(dirA).select(col("_file"), col("id"))
      .collect().groupBy(_.getString(0))
    m.entries.foreach { e =>
      byFile.get(e.name).foreach { rows =>
        assert(rows.forall { r =>
          val id = r.getLong(1)
          Math.floorDiv(id, 5000L) == e.pv.get &&
            LakeFormat.bucketOf(id, 4) == e.pk.get
        }, s"${e.name} claims (p${e.pv.get}, b${e.pk.get}) but holds " +
          "a foreign id")
      }
    }
    // a partition-range predicate prunes to exactly that partition's
    // 4 bucket files — the days(ts)-style coarse pruning, via stats
    val (nPart, part) = planned(read(dirA)
      .filter(col("id") >= 5000 && col("id") < 10000).count())
    assert(nPart == 5000L)
    assert(part.size == 4,
      s"partition predicate planned ${part.size} files, wanted 4")
    // AND the bucket term still powers the storage-partitioned join:
    // zero shuffle exchanges
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("glt.ns.tcompa").alias("a")
        .join(spark.table("glt.ns.tcompb").alias("b"), Seq("id"))
        .select(col("id"), col("a.kscore").as("ka"))
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        "composite-layout bucket join still shuffles:\n" +
          j.queryExecution.executedPlan.toString.take(3000))
      assert(j.count() == 12000L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // MoR DML: both claims survive; the appended replacement file
    // carries its own (pv, pk)
    spark.sql("UPDATE glt.ns.tcompa SET kscore = -1 WHERE id = 7777")
    assert(root().part.contains(("id", 5000L)) &&
      root().cluster.contains(("id", 4)),
      s"composite claim lost across MoR update: ${root()}")
    val m2 = LakeFormat.readManifestMeta(f, dirA,
      LakeFormat.latestVersion(f, dirA).get)
    assert(m2.entries.forall(e => e.pk.isDefined && e.pv.isDefined))
    assert(m2.entries.exists(e => e.pv.contains(1L) &&
      e.pk.contains(LakeFormat.bucketOf(7777L, 4)) && e.rows == 1),
      "replacement row not in its (partition, bucket) file")
    // COMPACT keeps both claims and re-splits per (partition, bucket)
    LakeFormat.compactSmall(spark, dirA, underBytes = 1L << 30, into = 1)
    assert(root().part.contains(("id", 5000L)) &&
      root().cluster.contains(("id", 4)),
      s"composite claim lost across COMPACT: ${root()}")
    assert(spark.table("glt.ns.tcompa").count() == 20000L)
    // DESCRIBE HISTORY surfaces the composite spelling
    val hist = spark.sql(s"DESCRIBE HISTORY '$dirA'").collect()
    assert(hist(0).getString(6) == "trunc(id,5000),bucket(id,4)",
      hist(0).toString)
    // the SQL grammar's composite + days() sugar both parse and land
    spark.sql("OPTIMIZE glt.ns.tcompa CLUSTER BY trunc(id, 10000), " +
      "bucket(id, 2)")
    assert(root().part.contains(("id", 10000L)) &&
      root().cluster.contains(("id", 2)))
    spark.sql(s"OPTIMIZE '$dirA' CLUSTER BY days(id), bucket(id, 2)")
    assert(root().part.contains(("id", LakeFormat.DayMillis)))
  }

  test("r19 review-fix pins: typo'd layout terms, part-term declaration guard, restricted maintenance option, clusterBy precedence") {
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    // #5: a typo'd layout term fails loudly — never a silently
    // unpartitioned table whose every scan reads every partition
    val dirT = tmp("lake_typoterm")
    spark.sql("DROP TABLE IF EXISTS glt.ns.ttypo")
    val exTypo = intercept[Exception] {
      spark.sql(s"""CREATE TABLE glt.ns.ttypo (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$dirT'
        |TBLPROPERTIES ('clusterBy'='day(id),bucket(id,8)')""".stripMargin)
    }
    assert(exTypo.getMessage.contains("unrecognized term"),
      exTypo.getMessage)
    // whitespace is never meaningful in a layout spec
    val dirW = tmp("lake_wsterm")
    spark.sql("DROP TABLE IF EXISTS glt.ns.tws")
    spark.sql(s"""CREATE TABLE glt.ns.tws (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dirW'
      |TBLPROPERTIES ('clusterBy'='trunc(id, 5000), bucket(id, 4)')"""
      .stripMargin)
    val fW = LakeFormat.fs(dirW)
    assert(LakeFormat.readManifestRoot(fW, dirW, 0).part
      .contains(("id", 5000L)))
    // #2: an explicit layout whose PART term differs from (or clears)
    // a DDL-born declaration conflicts loudly, like the bucket term
    val exPart = intercept[Exception] {
      det(100, 1).write.format(Lake).option("path", dirW)
        .option("clusterBy", "trunc(id,9999),bucket(id,4)")
        .mode("append").save()
    }
    assert(exPart.getMessage != null &&
      exPart.getMessage.contains("partition term"), exPart.getMessage)
    val exClear = intercept[Exception] {
      det(100, 1).write.format(Lake).option("path", dirW)
        .option("clusterBy", "bucket(id,4)").mode("append").save()
    }
    assert(exClear.getMessage != null &&
      exClear.getMessage.contains("partition term"), exClear.getMessage)
    // the MATCHING composite spec still lands and keeps both claims
    det(100, 1).write.format(Lake).option("path", dirW)
      .option("clusterBy", "trunc(id,5000),bucket(id,4)")
      .mode("append").save()
    val rootW = LakeFormat.readManifestRoot(fW, dirW,
      LakeFormat.latestVersion(fW, dirW).get)
    assert(rootW.part.contains(("id", 5000L)) &&
      rootW.cluster.contains(("id", 4)))
    // #8: the 'maintenance' flag is internal — an ordinary write
    // cannot hide its row changes from the change feed
    val exM = intercept[Exception] {
      det(100, 1).write.format(Lake).option("path", dirW)
        .option("maintenance", "true").mode("append").save()
    }
    assert(exM.getMessage != null && exM.getMessage.contains("internal"),
      exM.getMessage)
    // #6: bare clusterBy beats option.clusterBy deterministically
    val dirP = tmp("lake_prec")
    spark.sql("DROP TABLE IF EXISTS glt.ns.tprec")
    spark.sql(s"""CREATE TABLE glt.ns.tprec (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dirP'
      |TBLPROPERTIES ('clusterBy'='bucket(id,8)',
      |               'option.clusterBy'='bucket(id,16)')""".stripMargin)
    assert(LakeFormat.readManifestRoot(LakeFormat.fs(dirP), dirP, 0)
      .cluster.contains(("id", 8)))
  }

  test("maintenance commits are header-flagged and the change feed skips them: COMPACT/OPTIMIZE emit zero feed rows (r19 — r18 ADVICE)") {
    val dir = tmp("lake_maintfeed")
    val t = catalogTable("tmaintfeed", dir)
    det(8000, 8).createOrReplaceTempView("maintfeed_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM maintfeed_src") // v0
    spark.sql(s"DELETE FROM $t WHERE id % 1009 = 7")              // v1: dv
    val f = LakeFormat.fs(dir)
    // v2: COMPACT — a row-preserving rewrite of the 8 small files
    val n = LakeFormat.compactSmall(spark, dir,
      underBytes = 1L << 30, into = 2)
    assert(n == 8, s"expected all 8 files compacted, got $n")
    val v2 = LakeFormat.latestVersion(f, dir).get
    assert(LakeFormat.readManifestRoot(f, dir, v2).maintenance,
      "COMPACT did not flag its commit as maintenance")
    // the feed for exactly v2 is EMPTY — no phantom delete+insert pairs
    // for 8000 logically-unchanged rows
    assert(spark.read.format(Lake).option("path", dir)
      .option("changesFrom", v2.toString)
      .option("changesTo", v2.toString).load().count() == 0L,
      "compaction surfaced in the change feed")
    // the FULL feed still nets to the live table (netting invariant):
    // inserts minus deletes by row value == current content
    val feed = spark.read.format(Lake).option("path", dir)
      .option("changesFrom", "0").load()
      .groupBy("id", "bucket", "kscore")
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("net"))
    assert(feed.filter(col("net") < 0 || col("net") > 1).count() == 0L)
    val netted = feed.filter(col("net") === 1)
      .select(sum(col("id")).cast("long"), count(lit(1))).head
    val live = spark.table(t)
      .select(sum(col("id")).cast("long"), count(lit(1))).head
    assert(netted == live, s"feed nets to $netted but table holds $live")
    // OPTIMIZE CLUSTER BY is maintenance too; DML after it emits again
    LakeFormat.optimizeCluster(spark, dir, "id", 4)
    val v3 = LakeFormat.latestVersion(f, dir).get
    assert(LakeFormat.readManifestRoot(f, dir, v3).maintenance)
    assert(spark.read.format(Lake).option("path", dir)
      .option("changesFrom", v3.toString).load().count() == 0L)
    spark.sql(s"DELETE FROM $t WHERE id = 4242")
    val v4 = LakeFormat.latestVersion(f, dir).get
    val post = spark.read.format(Lake).option("path", dir)
      .option("changesFrom", v4.toString).load().collect()
    assert(post.length == 1 &&
      post(0).getAs[String]("_change_type") == "delete" &&
      post(0).getAs[Long]("id") == 4242L, post.toSeq.toString)
    // DESCRIBE HISTORY exposes the flag for feed consumers to audit
    val hist = spark.sql(s"DESCRIBE HISTORY $t").collect()
      .map(r => r.getInt(0) -> r.getBoolean(8)).toMap
    assert(hist(v2) && hist(v3) && !hist(v4) && !hist(0))
  }

  test("OPTIMIZE COMPACT TO n BYTES: target-size bin packing lands outputs within ±25% of the goal, skips right-sized files (r19 — r18 verdict #6)") {
    val dir = tmp("lake_compactto")
    val t = catalogTable("tcompactto", dir)
    // heterogeneous files: 16 small epoch-ish slivers + 2 big ones
    det(800, 16).createOrReplaceTempView("cto_small")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM cto_small")
    det(40000, 2).createOrReplaceTempView("cto_big")
    spark.sql(s"INSERT INTO $t SELECT id + 1000, bucket, kscore, score, " +
      "doc_id FROM cto_big")
    val f = LakeFormat.fs(dir)
    def entries() = LakeFormat.readManifestMeta(f, dir,
      LakeFormat.latestVersion(f, dir).get).entries
    val big = entries().filter(_.bytes >= 100000).map(_.name).toSet
    assert(big.size == 2 && entries().size == 18, entries().map(_.bytes))
    // target ≈ smallMass/2.9 → 3 bins at ~0.97× the goal each
    val smallMass = entries().filter(_.bytes < 100000).map(_.bytes).sum
    val target = smallMass * 10 / 29
    val r = spark.sql(s"OPTIMIZE $t COMPACT TO $target BYTES").collect()
    assert(r.length == 1 && r(0).getInt(3) == 16, r.toSeq.toString)
    val after = entries()
    // the two right-sized files are untouched (same names), the 16
    // slivers became bins within ±25% of the target
    assert(big.subsetOf(after.map(_.name).toSet),
      "COMPACT TO rewrote files already at/above half the target")
    val bins = after.filterNot(e => big.contains(e.name))
    assert(bins.size == r(0).getInt(4), s"bins=${bins.size} vs row $r")
    bins.foreach(b => assert(b.bytes >= target * 3 / 4 &&
      b.bytes <= target * 5 / 4,
      s"bin ${b.name} is ${b.bytes} bytes; target $target"))
    // row preservation + maintenance flag
    assert(spark.table(t).count() == 800L + 40000L)
    assert(LakeFormat.readManifestRoot(f, dir,
      LakeFormat.latestVersion(f, dir).get).maintenance)
    // no-op form: a second pass finds <2 candidates and commits nothing
    val v = LakeFormat.latestVersion(f, dir).get
    val r2 = spark.sql(s"OPTIMIZE '$dir' COMPACT TO $target BYTES").collect()
    assert(r2(0).getInt(3) == 0 &&
      LakeFormat.latestVersion(f, dir).get == v)
  }

  test("maintenance bucket pre-shuffle is codegen, not a ScalaUDF; explicit clusterBy append over a DIFFERENT declared spec fails loudly; clusterby TBLPROPERTIES is case-insensitive (r19)") {
    // the codegen pin: the repartition column optimizeCluster builds is
    // a native expression whose generated code calls the static bucket
    // function — never an interpreted ScalaUDF (r18 verdict #1)
    val c = LakeFormat.bucketColumn(col("x"), 32)
    val e = org.apache.spark.sql.graftshim.Shim.expression(c)
    assert(e.isInstanceOf[graft.sources.LakeBucketExpr], e.getClass.toString)
    assert(!e.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.ScalaUDF]))
    // bit-parity across types with the writer/manifest bucket function
    val probe = spark.range(-3, 1000).select(
      LakeFormat.bucketColumn(col("id"), 8).as("bl"),
      LakeFormat.bucketColumn(col("id").cast("int"), 8).as("bi"),
      LakeFormat.bucketColumn(col("id").cast("double") * 1.5, 8).as("bd"),
      LakeFormat.bucketColumn(concat(lit("k"), col("id")), 8).as("bs"),
      col("id")).collect()
    probe.foreach { r =>
      val id = r.getLong(4)
      assert(r.getInt(0) == LakeFormat.bucketOf(id, 8))
      assert(r.getInt(1) == LakeFormat.bucketOf(id.toInt, 8))
      assert(r.getInt(2) == LakeFormat.bucketOf(id.toDouble * 1.5, 8))
      assert(r.getInt(3) == LakeFormat.bucketOf(s"k$id", 8))
    }
    // and the rewrite itself still lands bucket-pure files end-to-end
    val dir = tmp("lake_cgclu")
    det(4000, 4).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    LakeFormat.optimizeCluster(spark, dir, "id", 4)
    val f = LakeFormat.fs(dir)
    val m = LakeFormat.readManifestMeta(f, dir,
      LakeFormat.latestVersion(f, dir).get)
    assert(m.cluster.contains(("id", 4)) && m.entries.forall(_.pk.isDefined))

    // declared-spec overwrite guard (r18 ADVICE): an explicit clusterBy
    // append into a DDL-declared EMPTY manifest with a DIFFERENT spec
    // aborts loudly instead of silently replacing the declaration
    val dir2 = tmp("lake_declguard")
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    spark.sql(s"DROP TABLE IF EXISTS glt.ns.tdeclg")
    spark.sql(s"""CREATE TABLE glt.ns.tdeclg (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir2'
      |TBLPROPERTIES ('clusterBy'='bucket(id,8)')""".stripMargin)
    val ex = intercept[Exception] {
      det(100, 1).write.format(Lake).option("path", dir2)
        .option("clusterBy", "bucket(kscore,4)").mode("append").save()
    }
    assert(ex.getMessage != null &&
      ex.getMessage.contains("does not match the declared layout"),
      s"wrong error: ${ex.getMessage}")
    // a MATCHING explicit spec still lands and keeps the claim
    det(100, 1).write.format(Lake).option("path", dir2)
      .option("clusterBy", "bucket(id,8)").mode("append").save()
    val f2 = LakeFormat.fs(dir2)
    assert(LakeFormat.readManifestRoot(f2, dir2,
      LakeFormat.latestVersion(f2, dir2).get).cluster.contains(("id", 8)))

    // case-insensitive TBLPROPERTIES (r18 ADVICE): 'clusterby' must not
    // create a silently-unclustered table
    val dir3 = tmp("lake_ciprop")
    spark.sql(s"DROP TABLE IF EXISTS glt.ns.tciprop")
    spark.sql(s"""CREATE TABLE glt.ns.tciprop (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir3'
      |TBLPROPERTIES ('clusterby'='bucket(id,4)')""".stripMargin)
    val f3 = LakeFormat.fs(dir3)
    assert(LakeFormat.readManifestRoot(f3, dir3, 0).cluster
      .contains(("id", 4)),
      "lower-case 'clusterby' produced an unclustered table")
  }

  test("RESTORE TO VERSION AS OF: post-restore equals the target, history keeps both, loud below the vacuum floor") {
    val dir = tmp("lake_restore")
    val t = catalogTable("trestore", dir)
    det(8000, 8).createOrReplaceTempView("restore_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM restore_src") // v0
    val f = LakeFormat.fs(dir)
    val v0 = LakeFormat.latestVersion(f, dir).get
    spark.sql(s"DELETE FROM $t WHERE id >= 4000") // v1: metadata delete
    spark.sql(s"UPDATE $t SET kscore = -1 WHERE id = 10") // v2: MoR
    assert(spark.table(t).count() == 4000L)
    val r = spark.sql(s"RESTORE TABLE $t TO VERSION AS OF $v0").collect()
    assert(r.length == 1 && r(0).getInt(1) == v0 && r(0).getInt(3) == 8,
      r.toSeq.toString)
    val v3 = r(0).getInt(2)
    assert(LakeFormat.latestVersion(f, dir).contains(v3) && v3 == v0 + 3)
    // post-restore reads equal version v0 EXACTLY (the dv'd file came
    // back vector-free, the dropped files came back live)
    val now = read(dir).select(col("id"), col("kscore"))
    val orig = det(8000, 8).select(col("id"), col("kscore"))
    assert(now.count() == 8000L)
    assert(now.exceptAll(orig).isEmpty && orig.exceptAll(now).isEmpty,
      "restore did not reproduce the target snapshot")
    // history preserved: the mistake AND the restore both visible
    val hist = spark.sql(s"DESCRIBE HISTORY $t").collect()
    assert(hist.length == 4, hist.toSeq.toString)
    assert(hist(0).getInt(0) == v3 && hist(0).getInt(3) == 8)
    // time travel still reaches the pre-restore mistake
    assert(spark.read.format(Lake).option("path", dir)
      .option("versionAsOf", v0 + 1).load().count() == 4000L)
    // a restore target below the vacuum floor fails loudly
    LakeFormat.vacuum(dir, keepFromVersion = v3, graceMs = 0L)
    val ex = intercept[Exception] {
      spark.sql(s"RESTORE TABLE $t TO VERSION AS OF $v0")
    }
    assert(ex.getMessage.contains("vacuumed"), ex.getMessage)
    // restoring the CURRENT version is a legal no-op commit
    val r2 = spark.sql(s"RESTORE '$dir' TO VERSION AS OF $v3").collect()
    assert(r2(0).getInt(2) == v3 + 1 && read(dir).count() == 8000L)
    // the TIMESTAMP AS OF form resolves through the same monotone
    // commit stamps as time-travel reads
    val ts3 = LakeFormat.manifestTs(f, dir, v3)
    val r3 = spark.sql(
      s"RESTORE TABLE $t TO TIMESTAMP AS OF '$ts3'").collect()
    assert(r3(0).getInt(1) == v3 && read(dir).count() == 8000L,
      r3.toSeq.toString)
  }

  test("change feed: header-only versions (schema evolution, no-op restore) emit no rows and do not fail") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("lake_cdf_hdr")
    val dst = tmp("lake_cdf_hdr_dst")
    val ckpt = tmp("lake_cdf_hdr_ck")
    val t = catalogTable("tcdfhdr", dir)
    det(1000, 2).createOrReplaceTempView("cdf_hdr_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM cdf_hdr_src") // v0
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (extra DOUBLE)") // v1: header-only
    spark.sql(s"DELETE FROM $t WHERE id < 10") // v2: vectors
    spark.sql(s"RESTORE '$dir' TO VERSION AS OF 2") // v3: no-op commit
    // the header-only version alone: an EMPTY feed with the right
    // schema, not a failure (r17 advisory follow-up: an ALTER inside a
    // consumed range must not break incremental consumers)
    val v1only = spark.read.format(Lake).option("path", dir)
      .option("changesFrom", "1").option("changesTo", "1").load()
    assert(v1only.columns.contains("extra") &&
      v1only.columns.takeRight(3).head == "_change_type")
    assert(v1only.count() == 0L)
    // the full DML range STRADDLING the ALTER and the no-op restore:
    // exactly v2's deletes, nothing from v1/v3
    val feed = spark.read.format(Lake).option("path", dir)
      .option("changesFrom", "1").load()
    val byType = feed.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 10L), byType.toString)
    // the STREAMING form drains the same history without failing on
    // the header-only versions
    val q = spark.readStream.format(Lake).option("path", dir)
      .option("readChanges", "true")
      .option("maxVersionsPerTrigger", 1).load()
      .writeStream.format(Lake).option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "change stream did not drain")
    val streamed = read(dst).groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == Map("insert" -> 1000L, "delete" -> 10L),
      streamed.toString)
  }

  test("streaming ingest into a clustered table keeps the layout claim: epoch files are bucket-split") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("lake_stream_cl")
    val ckpt = tmp("lake_stream_cl_ck")
    det(4000, 4).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    LakeFormat.optimizeCluster(spark, dir, "id", 4)
    val q = spark.readStream.format("graft.sources.DetRangeSource")
      .option("rows", 500).option("rowsPerBatch", 250).load()
      .select(col("id"), col("bucket"), col("kscore"), col("score"),
        col("doc_id"))
      .writeStream.format(Lake)
      .option("path", dir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val f = LakeFormat.fs(dir)
    val meta = LakeFormat.readManifestMeta(f, dir,
      LakeFormat.latestVersion(f, dir).get)
    assert(meta.cluster.contains(("id", 4)),
      "streaming append dropped the cluster claim")
    assert(meta.entries.forall(_.pk.isDefined))
    assert(read(dir).count() == 4500L)
    // the epoch files themselves are bucket-pure
    val epochFiles = meta.entries.filter(_.name.startsWith("q="))
    assert(epochFiles.nonEmpty)
    val byFile = read(dir).select(col("_file"), col("id"))
      .collect().groupBy(_.getString(0))
    epochFiles.foreach { e =>
      val ids = byFile(e.name).map(_.getLong(1))
      assert(ids.forall(id => LakeFormat.bucketOf(id, 4) == e.pk.get),
        s"${e.name} claims bucket ${e.pk.get} but holds a foreign id")
    }
  }

  test("change feed over segmented manifests: common segments cancel, the emitted delta is exact") {
    val saved = LakeFormat.segmentFiles
    LakeFormat.segmentFiles = 4
    try {
      val dir = tmp("lake_cdf_seg")
      val t = catalogTable("tcdfseg", dir)
      det(8000, 8).createOrReplaceTempView("cdf_seg_src")
      spark.sql(s"INSERT OVERWRITE $t SELECT * FROM cdf_seg_src") // v0: 2 segs
      val f = LakeFormat.fs(dir)
      assert(LakeFormat.readManifestRoot(f, dir, 0).segs.size == 2)
      spark.sql(s"DELETE FROM $t WHERE id IN (10, 20)") // v1: dv, 1 seg rebuilt
      val r1 = LakeFormat.readManifestRoot(f, dir, 1)
      assert(r1.segs.size == 2)
      // the diff commit rebuilt exactly one segment — one reference is
      // common with v0, so CDF planning for v1 flattens only the
      // changed one (plus inline); the emitted delta must be exact
      assert(r1.segs.map(_.name).toSet
        .intersect(LakeFormat.readManifestRoot(f, dir, 0)
          .segs.map(_.name).toSet).size == 1)
      val step1 = spark.read.format(Lake).option("path", dir)
        .option("changesFrom", "1").option("changesTo", "1").load()
        .select(col("id"), col("_change_type")).collect()
      assert(step1.map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L) &&
        step1.forall(_.getString(1) == "delete"), step1.toSeq.toString)
      // an append version: only the new entries surface as inserts
      spark.range(8000, 8100)
        .selectExpr("id", "CAST(id % 16 AS INT) AS bucket",
          "CAST((id * 31) % 997 AS INT) AS kscore",
          "CAST(id AS DOUBLE) / 7 AS score",
          "concat('doc_', id) AS doc_id")
        .write.format(Lake).option("path", dir).mode("append").save() // v2
      val step2 = spark.read.format(Lake).option("path", dir)
        .option("changesFrom", "2").load()
        .groupBy(col("_change_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(step2 == Map("insert" -> 100L), step2.toString)
      // cumulative netting still holds through the segmented history
      val all = spark.read.format(Lake).option("path", dir)
        .option("changesFrom", "0").load()
      val net = all.groupBy(col("id"))
        .agg(sum(when(col("_change_type") === "insert", 1)
          .otherwise(-1)).as("n")).filter(col("n") > 0)
      assert(net.count() == read(dir).count())
    } finally LakeFormat.segmentFiles = saved
  }

  test("OPTIMIZE COMPACT: small files bin-pack via pinned read + diff commit; big files untouched; clustered spec survives") {
    val dir = tmp("lake_compact")
    val t = catalogTable("tcompact", dir)
    det(8000, 2).createOrReplaceTempView("compact_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM compact_src") // 2 big
    def smallAppend(lo: Long, n: Long): Unit =
      spark.range(lo, lo + n)
        .selectExpr("id", "CAST(id % 16 AS INT) AS bucket",
          "CAST((id * 31) % 997 AS INT) AS kscore",
          "CAST(id AS DOUBLE) / 7 AS score",
          "concat('doc_', id) AS doc_id")
        .coalesce(1)
        .write.format(Lake).option("path", dir).mode("append").save()
    (0 until 6).foreach(i => smallAppend(8000L + i * 50, 50)) // 6 small
    val f = LakeFormat.fs(dir)
    def meta() = LakeFormat.readManifestMeta(f, dir,
      LakeFormat.latestVersion(f, dir).get)
    assert(meta().entries.size == 8)
    val big = meta().entries.filter(_.bytes >= 10000).map(_.name).toSet
    assert(big.size == 2)
    val (r, compacted) = planned(spark.sql(
      s"OPTIMIZE $t COMPACT FILES UNDER 10000 BYTES INTO 1 FILES").collect())
    assert(r(0).getInt(3) == 6 && r(0).getInt(4) == 3, r.toSeq.toString)
    // the pinned read planned ONLY the small files — never the corpus
    assert(compacted.size == 6, s"compaction read ${compacted.size} files")
    // a pinned read's aggregate must NOT take the manifest-only path —
    // those answers are whole-snapshot, and a pinned COUNT(*) answered
    // from the full manifest would be silently wrong (caught in design:
    // supportCompletePushDown refuses pinned scans)
    val oneBig = meta().entries.find(e => big.contains(e.name)).get
    assert(spark.read.format(Lake).option("path", dir)
      .option("pinnedFiles", oneBig.name).load().count() == oneBig.rows,
      "pinned count() served the whole-snapshot manifest answer")
    // big files survive BY NAME (untouched, not rewritten)
    assert(big.subsetOf(meta().entries.map(_.name).toSet))
    assert(spark.table(t).count() == 8300L)
    assert(spark.sql(s"SELECT CAST(sum(kscore) AS BIGINT) FROM $t")
      .head.getLong(0) ==
      det(8000, 2).agg(sum(col("kscore")).cast("long")).head.getLong(0) +
        (8000L until 8300L).map(id => (id * 31) % 997).sum)
    // a second pass finds nothing small enough twice: no-op, no commit
    val v = LakeFormat.latestVersion(f, dir).get
    val r2 = spark.sql(
      s"OPTIMIZE $t COMPACT FILES UNDER 100 BYTES").collect()
    assert(r2(0).getInt(3) == 0 &&
      LakeFormat.latestVersion(f, dir).contains(v), r2.toSeq.toString)
    // CLUSTERED table: small ingest splits per bucket; compaction
    // re-splits per bucket, keeps the spec, and stays bucket-pure
    spark.sql(s"OPTIMIZE $t CLUSTER BY bucket(id, 4)")
    (0 until 3).foreach(i => smallAppend(8300L + i * 40, 40)) // 12 small
    assert(meta().entries.size == 16, meta().entries.size.toString)
    val rc = spark.sql(
      s"OPTIMIZE $t COMPACT FILES UNDER 10000 BYTES").collect()
    assert(rc(0).getInt(3) == 12 && rc(0).getInt(4) == 8,
      rc.toSeq.toString)
    assert(meta().cluster.contains(("id", 4)),
      "compaction dropped the cluster claim")
    assert(meta().entries.forall(_.pk.isDefined))
    val byFile = read(dir).select(col("_file"), col("id"))
      .collect().groupBy(_.getString(0))
    meta().entries.foreach { e =>
      byFile.get(e.name).foreach { rows =>
        assert(rows.map(_.getLong(1)).forall(id =>
          LakeFormat.bucketOf(id, 4) == e.pk.get),
          s"${e.name} claims bucket ${e.pk.get} but holds a foreign id")
      }
    }
    assert(spark.table(t).count() == 8420L)
    // a deletion-vector'd small file compacts to its LIVE rows and the
    // vector dies with the replaced entry
    spark.sql(s"DELETE FROM $t WHERE id = 8310") // dv on a small file
    assert(meta().entries.exists(_.dv.isDefined))
    spark.sql(s"OPTIMIZE $t COMPACT FILES UNDER 10000 BYTES")
    assert(meta().entries.forall(_.dv.isEmpty),
      "compaction left a deletion vector behind")
    assert(spark.table(t).count() == 8419L)
  }

  test("change feed across RESTORE: vector shrink resurrects rows as inserts, never a corrupt-history failure (r18 review #1)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("lake_cdf_restore")
    val dst = tmp("lake_cdf_restore_dst")
    val ckpt = tmp("lake_cdf_restore_ck")
    val t = catalogTable("tcdfres", dir)
    det(1000, 2).createOrReplaceTempView("cdf_res_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM cdf_res_src") // v0
    spark.sql(s"DELETE FROM $t WHERE id IN (5, 6, 7)") // v1: dv on file 0
    spark.sql(s"RESTORE TABLE $t TO VERSION AS OF 0") // v2: dv DISAPPEARS
    // v2's feed = the three resurrected rows as inserts (the old code
    // threw 'corrupt history' on any dv regression)
    val step2 = spark.read.format(Lake).option("path", dir)
      .option("changesFrom", "2").load()
      .select(col("id"), col("_change_type")).collect()
    assert(step2.map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L, 7L) &&
      step2.forall(_.getString(1) == "insert"), step2.toSeq.toString)
    // partial shrink: grow the vector to 5 ordinals, restore to the
    // 3-ordinal version — the feed emits exactly the 2 resurrected
    spark.sql(s"DELETE FROM $t WHERE id IN (5, 6, 7)") // v3: dv again
    spark.sql(s"DELETE FROM $t WHERE id IN (8, 9)") // v4: dv grows to 5
    spark.sql(s"RESTORE TABLE $t TO VERSION AS OF 3") // v5: shrink to 3
    val step5 = spark.read.format(Lake).option("path", dir)
      .option("changesFrom", "5").load()
      .select(col("id"), col("_change_type")).collect()
    assert(step5.map(_.getLong(0)).sorted.toSeq == Seq(8L, 9L) &&
      step5.forall(_.getString(1) == "insert"), step5.toSeq.toString)
    // the cumulative feed still nets to the live table THROUGH the
    // restores, and the STREAMING feed drains the same history
    val all = spark.read.format(Lake).option("path", dir)
      .option("changesFrom", "0").load()
    val net = all.groupBy(col("id"))
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("n")).filter(col("n") > 0)
    assert(net.count() == read(dir).count())
    val q = spark.readStream.format(Lake).option("path", dir)
      .option("readChanges", "true").load()
      .writeStream.format(Lake).option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "change stream did not survive the restore history")
    val snet = read(dst).groupBy(col("id"))
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("n")).filter(col("n") > 0)
    assert(snet.count() == read(dir).count())
  }

  test("DESCRIBE HISTORY on a single-part backquoted name with a dot falls through to the delegate (r18 review #4)") {
    // `a.b` is ONE identifier part — the maintenance grammar must not
    // intercept it (resolvePath requires >= 2 parts and would fail
    // confusingly); the delegate's own error names the table instead
    val ex = intercept[Exception] {
      spark.sql("DESCRIBE HISTORY `no.such_single_part_table`").collect()
    }
    assert(!String.valueOf(ex.getMessage)
      .contains("must be [catalog.]namespace.table"),
      s"single-part backquoted name was intercepted: ${ex.getMessage}")
  }

  test("diff commit: a DML touching only inline-tail files reads ZERO segments (r18 review #3)") {
    val saved = LakeFormat.segmentFiles
    LakeFormat.segmentFiles = 4
    // on wrapfs, which counts the segment opens
    val dir = WrappedLocalFs.uri(tmp("lake_diff_inline"))
    try WrappedLocalFs.registered(spark) {
      val t = catalogTable("tdiffinl", dir)
      det(8000, 8).createOrReplaceTempView("diff_inl_src")
      spark.sql(s"INSERT OVERWRITE $t SELECT * FROM diff_inl_src") // 2 segs
      // one more file lands INLINE (8 segmented + 1 tail)
      spark.range(8000, 8100)
        .selectExpr("id", "CAST(id % 16 AS INT) AS bucket",
          "CAST((id * 31) % 997 AS INT) AS kscore",
          "CAST(id AS DOUBLE) / 7 AS score",
          "concat('doc_', id) AS doc_id")
        .coalesce(1)
        .write.format(Lake).option("path", dir).mode("append").save()
      val f = LakeFormat.fs(dir)
      val root = LakeFormat.readManifestRoot(f, dir,
        LakeFormat.latestVersion(f, dir).get)
      assert(root.segs.size == 2 && root.inline.size == 1,
        s"segs=${root.segs.size} inline=${root.inline.size}")
      // a DV delete on the INLINE file: the commit must drain its edit
      // from the inline tail FIRST and copy both segment references
      // through UNREAD — the hot case (DML on the newest files) never
      // pays the old corpus's metadata
      val r0 = WrappedLocalFs.segmentOpens.get()
      spark.sql(s"DELETE FROM $t WHERE id = 8050")
      // the query's SCAN reads segments for planning (stats pruning
      // prunes both — ids < 8000); the COMMIT itself must read none.
      // Isolate the commit by re-measuring a driver-side diff write:
      val root2 = LakeFormat.readManifestRoot(f, dir,
        LakeFormat.latestVersion(f, dir).get)
      val inlineEntry = root2.inline.head
      val r1 = WrappedLocalFs.segmentOpens.get()
      assert(LakeFormat.writeManifestCASDiff(f, dir,
        LakeFormat.latestVersion(f, dir).get + 1, root2.schema, root2,
        Map(inlineEntry.name -> ((e: LakeFormat.FileEntry) =>
          Some(e): Option[LakeFormat.FileEntry])),
        Nil, root2.cluster))
      assert(WrappedLocalFs.segmentOpens.get() == r1,
        s"inline-only diff read ${WrappedLocalFs.segmentOpens.get() - r1} segments")
      assert(r0 >= 0) // (scan-side reads are legitimate; not asserted)
      assert(spark.table(t).count() == 8099L)
    } finally LakeFormat.segmentFiles = saved
  }

  test("FileIO on a local table: INSERT OVERWRITE, a merge-on-read DELETE and OPTIMIZE leave no .crc sidecar and no _staging-* entry; rows read back") {
    val dir = tmp("lake_fileio")
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS glt.ns.tfileio")
    spark.sql(s"""CREATE TABLE glt.ns.tfileio (
      |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
      |) USING lake LOCATION '$dir'
      |TBLPROPERTIES ('bloomFor'='doc_id', 'ndvFor'='kscore',
      |  'check'='kscore >= 0')""".stripMargin)
    val t = "glt.ns.tfileio"
    det(20000, 8).createOrReplaceTempView("lake_fileio_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake_fileio_src")
    val d = committed(dir)(
      spark.sql(s"DELETE FROM $t WHERE id >= 3000 AND id <= 3100"))
    assert(d.dvGrowth.size == 1, s"expected a merge-on-read delete: $d")
    LakeFormat.optimize(spark, dir, "bucket", files = 4)
    val names = new java.io.File(dir).list().toSeq
    // every kind of lake file was written: data, manifests, deletion
    // vector, bloom and ndv sidecars, enrollment and CHECK sidecars
    Seq("part-", "_manifest-v", "dv-", "bloom-", "ndv-", "_bloom.cols",
      "_ndv.cols", "_check.sql").foreach(pre =>
      assert(names.exists(_.startsWith(pre)), s"no $pre file in $names"))
    assert(!names.exists(_.endsWith(".crc")),
      s"checksum sidecars: ${names.filter(_.endsWith(".crc"))}")
    assert(!names.exists(_.startsWith("_staging-")),
      s"staging residue: ${names.filter(_.startsWith("_staging-"))}")
    val r = spark.table(t).agg(count(lit(1)), sum(col("id"))).head
    val deleted = (3000L to 3100L).sum
    assert(r.getLong(0) == 19899L && r.getLong(1) == (0L until 20000L).sum -
      deleted, r.toString)
    assert(spark.read.format(Lake).option("path", dir)
      .option("versionAsOf", 0).load().count() == 20000L)
  }

  test("FileIO.create over a stale Hadoop-written .crc reads back through LakeFormat.fs; overwrite = false on an existing path throws FileAlreadyExistsException") {
    import graft.sources.FileIO
    import org.apache.hadoop.fs.{FileAlreadyExistsException, Path => HPath}
    def slurp(f: org.apache.hadoop.fs.FileSystem, p: HPath): String = {
      val in = f.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def put(o: java.io.OutputStream, s: String): Unit =
      try o.write(s.getBytes("UTF-8")) finally o.close()
    val dir = tmp("lake_fileio_crc")
    val f = LakeFormat.fs(dir)
    assert(f.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
    val p = new HPath(dir, "sub/side.txt")
    val crc = new java.io.File(dir, "sub/.side.txt.crc")
    put(f.create(p, false), "old bytes")
    assert(crc.exists(), "Hadoop's local filesystem writes a .crc")
    put(FileIO.create(f, p, true), "new and longer bytes")
    assert(!crc.exists(), "the stale .crc survived the rewrite")
    assert(slurp(LakeFormat.fs(dir), p) == "new and longer bytes")
    val e = intercept[FileAlreadyExistsException](FileIO.create(f, p, false))
    assert(e.getMessage.contains("side.txt"), e.getMessage)
    assert(slurp(f, p) == "new and longer bytes")
    // the same contract on a filesystem that is not the local one
    WrappedLocalFs.registered(spark) {
      val wp = new HPath(WrappedLocalFs.uri(s"$dir/w/side.txt"))
      val wf = LakeFormat.fs(wp.toString)
      assert(!FileIO.isLocal(wf))
      put(FileIO.create(wf, wp, false), "wrapped")
      intercept[FileAlreadyExistsException](FileIO.create(wf, wp, false))
      assert(slurp(wf, wp) == "wrapped")
    }
  }

  test("LakeFormat.versions lists manifest versions by name, sorted, past data and temp files; Nil for a missing directory") {
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = tmp("lake_versions")
    Seq("_manifest-v00010.tsv", "_manifest-v00002.tsv", "part-0-1-a.lake",
      "_manifest-v00000.tsv", "_tmp-manifest-0123456789ab",
      "._manifest-v00003.tsv.crc", "_manifest-v7.tsv", "_check.sql")
      .foreach(n => java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, n), Array[Byte](1)))
    new java.io.File(dir, "_branch-b").mkdir()
    assert(LakeFormat.versions(LakeFormat.fs(dir), dir) == Seq(0, 2, 10))
    assert(LakeFormat.latestVersion(LakeFormat.fs(dir), dir).contains(10))
    val missing = s"$dir/nope"
    assert(LakeFormat.versions(LakeFormat.fs(missing), missing) == Nil)
    WrappedLocalFs.registered(spark) {
      val w = WrappedLocalFs.uri(dir)
      val wf = LakeFormat.fs(w)
      assert(wf.isInstanceOf[WrappedLocalFs])
      assert(LakeFormat.versions(wf, w) == Seq(0, 2, 10))
      assert(LakeFormat.versions(wf, new HPath(w, "nope").toString) == Nil)
    }
  }

  test("a lake table on a filesystem that is not the local one: write, append, DELETE and time travel through FileIO's generic branch") {
    val dir = tmp("lake_wrapped")
    val w = WrappedLocalFs.uri(dir)
    WrappedLocalFs.registered(spark) {
      det(1000, 2).write.format(Lake).option("path", w)
        .mode("overwrite").save()
      det(1000, 2).filter(col("id") < 10).write.format(Lake)
        .option("path", w).mode("append").save()
      assert(read(w).count() == 1010L)
      spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
      spark.sql("DROP TABLE IF EXISTS glt.ns.twrapped")
      spark.sql(s"""CREATE TABLE glt.ns.twrapped (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$w'""".stripMargin)
      val d = committed(w)(
        spark.sql("DELETE FROM glt.ns.twrapped WHERE id >= 300 AND id <= 309"))
      assert(d.dvGrowth.size == 1, s"expected a merge-on-read delete: $d")
      assert(LakeFormat.versions(LakeFormat.fs(w), w) == Seq(0, 1, 2))
      assert(read(w).count() == 1000L)
      assert(spark.read.format(Lake).option("path", w)
        .option("versionAsOf", 0).load().count() == 1000L)
    }
    // the table is plain files on the local disk, readable locally too
    assert(read(dir).count() == 1000L)
    assert(read(dir).filter(col("id").between(300, 309)).count() == 0L)
    assert(!new java.io.File(dir).list().exists(_.startsWith("_staging-")))
  }

  test("lake facts belong to one query: concurrent reads each plan only their own file; concurrent DELETEs each commit only their own vectors") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    // the file of an 8-file table whose id range holds `id`
    def fileOf(dir: String, id: Long): String = {
      val f = LakeFormat.fs(dir)
      LakeFormat.readManifest(f, dir, LakeFormat.latestVersion(f, dir).get)._2
        .find(e => e.stats("id").min.exists(_.toLong <= id) &&
          e.stats("id").max.exists(_.toLong >= id)).get.name
    }
    def inParallel[T](bodies: Seq[() => T]): Seq[T] = {
      val pool = Executors.newFixedThreadPool(bodies.size)
      try bodies.map(b => pool.submit(new Callable[T] { def call(): T = b() }))
        .map(_.get(5, TimeUnit.MINUTES))
      finally pool.shutdownNow()
    }
    // two threads on one session, 20 one-file needles each
    val dir = tmp("lake_attrib")
    det(20000, 8).write.format(Lake).option("path", dir)
      .mode("overwrite").save()
    val ids = Seq(100L, 17600L)
    val runs = inParallel(ids.map(id => () => (1 to 20).map(_ =>
      planned(read(dir).filter(col("id") === id).count()))))
    ids.zip(runs).foreach { case (id, run) =>
      run.foreach { case (n, files) =>
        assert(n == 1L)
        assert(files == Seq(fileOf(dir, id)),
          s"the needle for id $id planned $files")
      }
    }
    // two DELETEs at once on two tables: each committed version holds
    // exactly its own deletion vector
    val (dirA, dirB) = (tmp("lake_attrib_a"), tmp("lake_attrib_b"))
    val (ta, tb) = (catalogTable("tattra", dirA), catalogTable("tattrb", dirB))
    det(20000, 8).createOrReplaceTempView("lake_attrib_src")
    Seq(ta, tb).foreach(t =>
      spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake_attrib_src"))
    val Seq(da, db) = inParallel(Seq(
      () => committed(dirA)(
        spark.sql(s"DELETE FROM $ta WHERE id >= 3000 AND id <= 3100")),
      () => committed(dirB)(
        spark.sql(s"DELETE FROM $tb WHERE id >= 12000 AND id <= 12049"))))
    assert(da.dvGrowth == Seq(fileOf(dirA, 3000L) -> 101L), da.toString)
    assert(db.dvGrowth == Seq(fileOf(dirB, 12000L) -> 50L), db.toString)
    assert(Seq(da, db).forall(d => d.added.isEmpty && d.removed.isEmpty))
    assert(spark.table(ta).count() == 19899L)
    assert(spark.table(tb).count() == 19950L)
  }

  test("a collected DML's plans count each of its lake scans once") {
    val dir = tmp("lake_dmlonce")
    val t = catalogTable("tdmlonce", dir)
    det(20000, 8).createOrReplaceTempView("lake_dmlonce_src")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake_dmlonce_src")
    // collecting a command's result reports its plan a second time;
    // ids 3000–3100 live in file 1 only
    val (_, files) = planned(spark.sql(
      s"DELETE FROM $t WHERE id >= 3000 AND id <= 3100").collect())
    assert(files.size == 1, s"one file planned, counted as $files")
  }

  test("committed fails for a command that commits no version, or more than one") {
    val dir = tmp("lake_onecommit")
    det(1000, 2).write.format(Lake).option("path", dir).mode("overwrite").save()
    intercept[IllegalArgumentException](committed(dir)(read(dir).count()))
    intercept[IllegalArgumentException](committed(dir)(Seq(1, 2).foreach(_ =>
      det(10, 1).write.format(Lake).option("path", dir).mode("append").save())))
    assert(committed(dir)(det(10, 1).write.format(Lake).option("path", dir)
      .mode("append").save()).added.size == 1)
  }
}
