package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-smoke harness: times the surfaces no registered query reaches
  * at scale — the DSv2 sink write, the micro-batch drain and lake
  * DML/maintenance — on DetRangeSource data 1-2 orders of magnitude
  * past the registered queries' fixed sizes (default 20M rows vs
  * 5k–20k), so the "would the plan hold at scale" question has
  * measured evidence rather than argument. The `require`s pin each
  * block's pruning, rewrite and layout claims. Prints one `[smoke]`
  * line per op with rows processed and wall seconds. Not part of the
  * driver contract; run:
  *
  *   SPARK_GRAFT_SMOKE_ROWS=20000000 sbt "runMain graft.ScaleSmoke"
  *
  * The operator entry points (skew aggregation, as-of joins, dedup
  * loops, PQ index lifecycle, subquery rewrites, …) are timed at scale
  * by their registered queries themselves, over a [[GenScale]] corpus:
  *
  *   sbt "runMain graft.GenScale <sf0.1 dir> <out> 10"
  *   SPARK_GRAFT_SF_DIR=<out> sbt "runMain graft.Scratch
  *     q75_salted_skew_agg q22_window_ranks q90_describe q95_asof_native
  *     t58_minhash_lsh_pairs t63_dedup_clusters t71_dedup_clusters_star
  *     t67_context_packing t72_cms_heavy_hitters
  *     t73_bloom_incremental_dedup t75_boilerplate_ngrams
  *     v68_kmeans_lloyd v69_semantic_dedup q121_topk_heap_aggregator
  *     t82_segment_dedup_rebuild v76_pq_ann v83_pq_index_append
  *     q135_categorize q163_rfm_segments q171_asof_salted_hotkey
  *     t97_token_pagerank q174_weighted_median t118_rrf_fusion
  *     v92_centroid_classifier q203_corr_scalar_subquery
  *     q206_select_scalar_count q213_recursive_cte_reach
  *     v90_pq_index_compact"
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nEvents = sys.env.getOrElse("SPARK_GRAFT_SMOKE_ROWS", "20000000").toLong
    val nDocs = nEvents / 10
    // the heap cannot be set from here (the JVM is already running);
    // size it via the sbt/spark-submit JVM options if needed
    val spark = Harness.session(Harness.cpus)

    def time(label: String, rows: Long)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val out = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[smoke] $label%-28s rows_in=$rows%,d out=$out%,d ${s}%8.2f s  " +
        f"${rows / s / 1e6}%6.1f M rows/s")
    }

    val base = java.nio.file.Files.createTempDirectory("graft_smoke").toString

    // ---- round-14 DSv2 write + streaming-read smokes ----
    locally {
      // the q219 sink at 20M rows / 64 tasks: every task stages its own
      // file, the driver commit renames 64 files + writes _SUCCESS —
      // commit cost is O(tasks), not O(rows), which is the property
      // that keeps the protocol viable at 100 TB task counts
      val sinkDir = s"$base/sink_smoke"
      time("DSv2 sink write (q219 shape)", nEvents) {
        spark.read.format("graft.sources.DetRangeSource")
          .option("rows", nEvents).option("slices", 64).load()
          .select(col("id"), col("bucket").cast("long").as("bucket"),
            col("kscore").cast("long").as("kscore"))
          .write.format("graft.sources.CsvDirSink")
          .option("path", sinkDir).mode("overwrite").save()
        spark.read.schema("id BIGINT, bucket BIGINT, kscore BIGINT")
          .csv(sinkDir).count()
      }
      // micro-batch drain at nDocs rows in 10 admission-controlled
      // batches: per-batch overhead (offset log + commit log + planning)
      // is the measured cost — row volume rides the same reader as the
      // batch scan
      val mbsOut = s"$base/mbs_out"
      val mbsCkpt = s"$base/mbs_ckpt"
      time("MicroBatchStream drain (10 batches)", nDocs) {
        val q = spark.readStream.format("graft.sources.DetRangeSource")
          .option("rows", nDocs).option("rowsPerBatch", nDocs / 10).load()
          .select(col("id"), col("kscore"))
          .writeStream.format("parquet").option("path", mbsOut)
          .option("checkpointLocation", mbsCkpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(600000)
        spark.read.parquet(mbsOut).count()
      }
    }
    // ---- round-16 lake table smokes ----
    locally {
      // the q225–q229 lakehouse table at 20M rows / 64 files: commit is
      // O(tasks) renames + ONE manifest write; the manifest carries 64
      // stats entries regardless of row volume, so planning stays
      // constant-cost as rows scale — the property that makes
      // manifest-driven skipping viable at 100 TB file counts
      val lakeDir = s"$base/lake_smoke"
      time("lake table write (q225 shape)", nEvents) {
        spark.read.format("graft.sources.DetRangeSource")
          .option("rows", nEvents).option("slices", 64).load()
          .select(col("id"), col("bucket"), col("kscore"), col("score"),
            col("doc_id"))
          .write.format("graft.sources.LakeSource")
          .option("path", lakeDir).mode("overwrite").save()
        spark.read.format("graft.sources.LakeSource")
          .option("path", lakeDir).load().count()
      }
      // stats-pruned scan: the predicate covers 1 of 64 contiguous-id
      // files — planning must launch ~1/64 of the tasks AND read ~1/64
      // of the bytes (wall time is the evidence; lastPlannedFiles the
      // proof)
      time("lake pruned scan (1/64 files)", nEvents / 64) {
        val n = spark.read.format("graft.sources.LakeSource")
          .option("path", lakeDir).load()
          .filter(col("id") < lit(nEvents / 64)).count()
        require(graft.sources.LakeSource.lastPlannedFiles.get().size <= 2,
          s"pruning planned ${graft.sources.LakeSource.lastPlannedFiles.get().size} files")
        n
      }
      // the SQL DML blocks below address the table through the catalog
      spark.conf.set("spark.sql.catalog.gsmoke", "graft.sources.GraftCatalog")
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake")
      spark.sql(s"""CREATE TABLE gsmoke.ns.lake (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$lakeDir'""".stripMargin)
      // (round 17 moved DELETE, and round 18 moved UPDATE, to the
      // merge-on-read DV path — a 1000-row update against 20M commits
      // as ONE file's vector growth plus a 1000-row appended file,
      // ZERO rewrites; the COW-narrowness evidence now rides MERGE)
      time("lake MoR update (zero rewrites)", nEvents / 64) {
        spark.sql("UPDATE gsmoke.ns.lake SET kscore = kscore + 1 " +
          "WHERE id >= 1000 AND id < 2000")
        require(graft.sources.LakeSource.lastReplacedFiles.get().isEmpty,
          s"MoR update rewrote ${graft.sources.LakeSource
            .lastReplacedFiles.get().size} files")
        require(graft.sources.LakeSource.lastDvWrites.get()
          .map(_._2).sum == 1000L, "MoR update vector growth mismatch")
        spark.sql("SELECT count(*) FROM gsmoke.ns.lake").head.getLong(0)
      }
      // MERGE went merge-on-read in r19; this shape keeps measuring
      // the group-based COW twin through the escape hatch — the
      // write-amplification the MoR path (next block) buys out of
      time("lake COW merge (1-file rewrite)", nEvents / 64) {
        spark.range(2000, 3000)
          .selectExpr("id", "CAST(1 AS INT) AS delta")
          .createOrReplaceTempView("smoke_cow_merge")
        spark.conf.set("spark.graft.lake.merge.cow", "true")
        try
          spark.sql("MERGE INTO gsmoke.ns.lake t USING smoke_cow_merge s " +
            "ON t.id = s.id " +
            "WHEN MATCHED THEN UPDATE SET kscore = t.kscore + s.delta")
        finally spark.conf.unset("spark.graft.lake.merge.cow")
        require(graft.sources.LakeSource.lastReplacedFiles.get().size == 1,
          s"rewrite touched ${graft.sources.LakeSource
            .lastReplacedFiles.get().size} files")
        spark.sql("SELECT count(*) FROM gsmoke.ns.lake").head.getLong(0)
      }
      // metadata-only DELETE: a file-aligned predicate drops whole files
      // with zero tasks — wall time must be manifest-IO, not row work
      time("lake metadata delete (file-aligned)", nEvents / 4) {
        spark.sql(s"DELETE FROM gsmoke.ns.lake WHERE id >= ${nEvents / 4 * 3}")
        require(graft.sources.LakeSource.lastMetadataDeleted.get().size == 16,
          s"metadata delete dropped ${graft.sources.LakeSource.lastMetadataDeleted.get().size} files")
        spark.sql("SELECT count(*) FROM gsmoke.ns.lake").head.getLong(0)
      }
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake")
    }
    // ---- round-17 lake smokes: two-level manifests, DV deletes,
    // change feed, storage-partitioned join ----
    locally {
      import graft.sources.{LakeFormat, LakeSource}
      val dir = s"$base/lake17_smoke"
      spark.read.format("graft.sources.DetRangeSource")
        .option("rows", nEvents).option("slices", 64).load()
        .select(col("id"), col("bucket"), col("kscore"), col("score"),
          col("doc_id"))
        .write.format("graft.sources.LakeSource")
        .option("path", dir).mode("overwrite").save()
      // full range-recluster into 512 files: the maintenance rewrite is
      // one full pass (read + shuffle-by-range + write + one commit)
      time("lake OPTIMIZE into 512 files", nEvents) {
        spark.sql(s"OPTIMIZE '$dir' RANGE BY id INTO 512 FILES")
        spark.read.format("graft.sources.LakeSource")
          .option("path", dir).load().count()
      }
      // 512 entries > 256 → a TWO-LEVEL manifest (2 segments); a needle
      // predicate must read 1 segment of 2 and plan ~1 file of 512 —
      // planning metadata scales with surviving segments, not files
      time("lake 2-level needle scan", nEvents / 512) {
        val n = spark.read.format("graft.sources.LakeSource")
          .option("path", dir).load()
          .filter(col("id") < lit(nEvents / 512)).count()
        val (segs, total) = LakeSource.lastSegmentsPlanned.get()
        require(total == 2 && segs == 1,
          s"segment pruning read $segs of $total segments")
        require(LakeSource.lastPlannedFiles.get().size <= 2,
          s"planned ${LakeSource.lastPlannedFiles.get().size} files")
        n
      }
      // scattered merge-on-read DELETE: ~20 rows across the table — the
      // cost is the matched-file scan + sidecar writes, ZERO rewrites
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake17")
      spark.sql(s"""CREATE TABLE gsmoke.ns.lake17 (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$dir'""".stripMargin)
      time("lake DV delete (scattered)", nEvents) {
        spark.sql(s"DELETE FROM gsmoke.ns.lake17 WHERE id % 1000003 = 7")
        require(LakeSource.lastReplacedFiles.get().isEmpty,
          s"DV delete rewrote ${LakeSource.lastReplacedFiles.get().size} files")
        require(LakeSource.lastDvWrites.get().nonEmpty, "no vectors written")
        LakeSource.lastDvWrites.get().map(_._2).sum
      }
      // change feed of JUST that delete: rows out = the matched handful,
      // cost = the touched files' scan — incremental consumers never
      // pay corpus-shaped work for a delta
      val fLake = LakeFormat.fs(dir)
      val vDelta = LakeFormat.latestVersion(fLake, dir).get
      time("lake change feed (delta)", nEvents / 512) {
        spark.read.format("graft.sources.LakeSource").option("path", dir)
          .option("changesFrom", vDelta.toString).load().count()
      }
      // storage-partitioned join: bucket-cluster the 20M fact and a 2M
      // dim with one spec; the id-equi join plans ZERO exchanges — at
      // 100 TB this deletes the fact⋈fact shuffle entirely
      val dimDir = s"$base/lake17_dim"
      spark.read.format("graft.sources.DetRangeSource")
        .option("rows", nEvents / 10).option("slices", 16).load()
        .select(col("id"), col("bucket"), col("kscore"), col("score"),
          col("doc_id"))
        .write.format("graft.sources.LakeSource")
        .option("path", dimDir).mode("overwrite").save()
      time("lake OPTIMIZE CLUSTER BY (fact)", nEvents) {
        spark.sql(s"OPTIMIZE '$dir' CLUSTER BY bucket(id, 64)")
        spark.read.format("graft.sources.LakeSource")
          .option("path", dir).load().count()
      }
      spark.sql(s"OPTIMIZE '$dimDir' CLUSTER BY bucket(id, 64)")
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake17dim")
      spark.sql(s"""CREATE TABLE gsmoke.ns.lake17dim (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$dimDir'""".stripMargin)
      time("lake SPJ join 20M⋈2M", nEvents) {
        val j = spark.table("gsmoke.ns.lake17")
          .join(spark.table("gsmoke.ns.lake17dim"), Seq("id"))
          .agg(count(lit(1)))
        val exchanges = j.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        // the JOIN is exchange-free; only the final 1-row agg exchanges
        require(exchanges.size <= 1,
          s"SPJ plan still shuffles the join inputs (${exchanges.size})")
        j.head.getLong(0)
      }
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake17")
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake17dim")
    }
    // ---- round-18 lake smokes: born-clustered ingest, small-file
    // compaction, RESTORE ----
    locally {
      import graft.sources.LakeFormat
      val factDir = s"$base/lake18_fact"
      val dimDir = s"$base/lake18_dim"
      spark.conf.set("spark.sql.catalog.gsmoke", "graft.sources.GraftCatalog")
      def create(name: String, dir: String): String = {
        spark.sql(s"DROP TABLE IF EXISTS gsmoke.ns.$name")
        spark.sql(s"""CREATE TABLE gsmoke.ns.$name (
          |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
          |) USING lake LOCATION '$dir'
          |TBLPROPERTIES ('clusterBy'='bucket(id,64)')""".stripMargin)
        s"gsmoke.ns.$name"
      }
      val fact = create("lake18", factDir)
      val dim = create("lake18dim", dimDir)
      def metaOf(dir: String) = {
        val f = LakeFormat.fs(dir)
        LakeFormat.readManifestMeta(f, dir,
          LakeFormat.latestVersion(f, dir).get)
      }
      spark.read.format("graft.sources.DetRangeSource")
        .option("rows", nEvents).option("slices", 64).load()
        .select(col("id"), col("bucket"), col("kscore"), col("score"),
          col("doc_id")).createOrReplaceTempView("lake18_src")
      spark.read.format("graft.sources.DetRangeSource")
        .option("rows", nEvents / 10).option("slices", 16).load()
        .select(col("id"), col("bucket"), col("kscore"), col("score"),
          col("doc_id")).createOrReplaceTempView("lake18_dim_src")
      // BORN-CLUSTERED INGEST (round 18): a plain INSERT into a DDL-
      // clustered table — the write-time distribution co-locates each
      // bucket, the writer splits, the commit keeps the claim: exactly
      // 64 bucket-pure files at 20M rows, no OPTIMIZE anywhere below
      time("lake clustered INSERT (64 bucket-pure files)", nEvents) {
        spark.sql(s"INSERT OVERWRITE $fact SELECT * FROM lake18_src")
        val m = metaOf(factDir)
        require(m.cluster.contains(("id", 64)) && m.entries.size == 64 &&
          m.entries.forall(_.pk.isDefined),
          s"clustered insert: files=${m.entries.size} cluster=${m.cluster}")
        spark.table(fact).count()
      }
      spark.sql(s"INSERT OVERWRITE $dim SELECT * FROM lake18_dim_src")
      // the ingest-born layout serves the SPJ join directly
      time("lake SPJ join on born-clustered tables", nEvents) {
        val j = spark.table(fact).join(spark.table(dim), Seq("id"))
          .agg(count(lit(1)))
        val exchanges = j.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        require(exchanges.size <= 1,
          s"born-clustered SPJ still shuffles (${exchanges.size})")
        j.head.getLong(0)
      }
      // STREAMING-SHAPED INGEST + COMPACTION: 32 micro-appends of 600
      // rows each split per bucket → 2,048 small files on top of the 64
      // big ones; OPTIMIZE COMPACT bin-packs them back to 64 bucket-pure
      // files, touching NONE of the big files — the periodic O(small)
      // maintenance that keeps file counts flat under continuous ingest
      (0 until 32).foreach { i =>
        spark.range(nEvents + i * 600L, nEvents + (i + 1) * 600L)
          .selectExpr("id", "CAST(id % 16 AS INT) AS bucket",
            "CAST((id * 31) % 997 AS INT) AS kscore",
            "CAST(id AS DOUBLE) / 7 AS score",
            "concat('doc_', id) AS doc_id")
          .createOrReplaceTempView("lake18_epoch")
        spark.sql(s"INSERT INTO $fact SELECT * FROM lake18_epoch")
      }
      val preCompact = {
        val f = LakeFormat.fs(factDir)
        LakeFormat.latestVersion(f, factDir).get
      }
      val preCompactFiles = metaOf(factDir).entries.size
      require(preCompactFiles > 64 + 1000,
        s"ingest produced only $preCompactFiles files")
      val bigNames = metaOf(factDir).entries
        .filter(_.bytes >= 100000).map(_.name).toSet
      time("lake COMPACT small epoch files", 32L * 600) {
        val r = spark.sql(
          s"OPTIMIZE $fact COMPACT FILES UNDER 100000 BYTES").collect()
        val m = metaOf(factDir)
        require(r(0).getInt(3) == preCompactFiles - bigNames.size &&
          m.entries.size == 128 && m.cluster.contains(("id", 64)) &&
          bigNames.subsetOf(m.entries.map(_.name).toSet),
          s"compact: ${r(0).toString} files_after=${m.entries.size}")
        spark.table(fact).count()
      }
      // RESTORE: one O(root) metadata write brings the pre-compaction
      // snapshot back (history preserved — both states still readable)
      time("lake RESTORE (O(root) metadata write)", 1) {
        spark.sql(s"RESTORE TABLE $fact TO VERSION AS OF $preCompact")
          .collect()
        val m = metaOf(factDir)
        require(m.entries.size == preCompactFiles,
          s"restore: files=${m.entries.size} expected $preCompactFiles")
        spark.table(fact).count()
      }
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake18")
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake18dim")
    }
    // ---- round-19 lake smokes: MoR MERGE, rename/drop, composite
    // layout, target-size compaction ----
    locally {
      import graft.sources.{LakeFormat, LakeSource}
      spark.conf.set("spark.sql.catalog.gsmoke", "graft.sources.GraftCatalog")
      val dir = s"$base/lake19"
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19")
      spark.sql(s"""CREATE TABLE gsmoke.ns.lake19 (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$dir'
        |TBLPROPERTIES ('clusterBy'='bucket(id,64)')""".stripMargin)
      val t = "gsmoke.ns.lake19"
      spark.read.format("graft.sources.DetRangeSource")
        .option("rows", nEvents).option("slices", 64).load()
        .select(col("id"), col("bucket"), col("kscore"), col("score"),
          col("doc_id")).createOrReplaceTempView("lake19_src")
      spark.sql(s"INSERT OVERWRITE $t SELECT * FROM lake19_src")
      def metaOf(d: String) = {
        val f = LakeFormat.fs(d)
        LakeFormat.readManifestMeta(f, d,
          LakeFormat.latestVersion(f, d).get)
      }
      // MERGE-ON-READ MERGE (r19): a scattered CDC apply — ~200
      // matched rows spread over all 64 files + 10k fresh inserts.
      // The r18 COW path would rewrite all 64 files (the whole 20M
      // corpus); MoR writes 64 tiny vectors + the changed rows, ZERO
      // data-file rewrites, and the clustered claim survives.
      spark.range(0, nEvents + 10000)
        .filter(col("id") % 99991 === 7 || col("id") >= nEvents)
        .select(col("id"), (col("id") % 7 + 1).cast("int").as("delta"))
        .createOrReplaceTempView("lake19_cdc")
      time("lake MoR MERGE (scattered CDC)", nEvents) {
        LakeSource.lastReplacedFiles.set(Seq("sentinel"))
        spark.sql(s"""MERGE INTO $t t USING lake19_cdc s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET kscore = t.kscore + s.delta
          |WHEN NOT MATCHED THEN INSERT (id, bucket, kscore, score, doc_id)
          |  VALUES (s.id, CAST(s.id % 16 AS INT), CAST(s.delta AS INT),
          |          CAST(0.0 AS DOUBLE), 'ins')""".stripMargin)
        require(LakeSource.lastReplacedFiles.get().isEmpty,
          s"MoR MERGE rewrote: ${LakeSource.lastReplacedFiles.get()}")
        val m = metaOf(dir)
        require(m.cluster.contains(("id", 64)),
          s"MERGE dropped the claim: ${m.cluster}")
        spark.table(t).count()
      }
      // COLUMN MAPPING (r19): rename + drop are O(root) header writes
      // — at 20M rows (and at 100 TB) the same sub-second metadata
      // edit, where the only pre-r19 path was a full CTAS rewrite
      time("lake RENAME COLUMN (O(root))", 1) {
        spark.sql(s"ALTER TABLE $t RENAME COLUMN kscore TO points")
        spark.sql(s"SELECT count(*) FROM $t WHERE points >= 0")
          .head.getLong(0)
      }
      time("lake DROP COLUMN (O(root))", 1) {
        spark.sql(s"ALTER TABLE $t DROP COLUMN score")
        require(spark.table(t).columns.toSeq ==
          Seq("id", "bucket", "points", "doc_id"))
        spark.table(t).count()
      }
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19")
      // COMPOSITE LAYOUT (r19): 8 partitions × 64 buckets = 512
      // (partition, bucket)-pure files at 20M; a partition predicate
      // prunes to 64 files BEFORE any task launches, and the bucket
      // term keeps serving SPJ (pinned at smaller scale in LakeSpec)
      val cdir = s"$base/lake19c"
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19c")
      val unit = math.max(1L, nEvents / 8)
      spark.sql(s"""CREATE TABLE gsmoke.ns.lake19c (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$cdir'
        |TBLPROPERTIES ('clusterBy'='trunc(id,$unit),bucket(id,64)')"""
        .stripMargin)
      val tc = "gsmoke.ns.lake19c"
      time("lake composite INSERT (512 files)", nEvents) {
        spark.sql(s"INSERT OVERWRITE $tc SELECT * FROM lake19_src")
        val m = metaOf(cdir)
        require(m.entries.size == 512 &&
          m.entries.forall(e => e.pk.isDefined && e.pv.isDefined),
          s"composite insert landed ${m.entries.size} files")
        spark.table(tc).count()
      }
      time("lake composite partition prune (64/512)", nEvents / 8) {
        val c = spark.table(tc)
          .filter(col("id") >= unit && col("id") < unit * 2).count()
        require(LakeSource.lastPlannedFiles.get().size == 64,
          s"partition predicate planned " +
            s"${LakeSource.lastPlannedFiles.get().size} files, wanted 64")
        c
      }
      // TARGET-SIZE COMPACTION (r19): 16 micro-appends land 1,024 tiny
      // bucket files; COMPACT TO a size goal bin-packs them without
      // touching the 512 right-sized ones — no hand-tuned k anywhere.
      // Size goal = just under 2× the SMALLEST right-sized file, so the
      // bin-packing cutoff (< target/2) selects exactly the epoch
      // slivers at any smoke scale.
      val targetBytes = metaOf(cdir).entries.map(_.bytes).min * 2 - 1
      (0 until 16).foreach { i =>
        spark.range(nEvents + 20000L + i * 600L,
            nEvents + 20000L + (i + 1) * 600L)
          .selectExpr("id", "CAST(id % 16 AS INT) AS bucket",
            "CAST((id * 31) % 997 AS INT) AS kscore",
            "CAST(id AS DOUBLE) / 7 AS score",
            "concat('doc_', id) AS doc_id")
          .createOrReplaceTempView("lake19_epoch")
        spark.sql(s"INSERT INTO $tc SELECT * FROM lake19_epoch")
      }
      val preFiles = metaOf(cdir).entries.size
      require(preFiles > 512 + 500, s"epoch ingest landed $preFiles files")
      time("lake COMPACT TO size goal (epochs)", 16L * 600) {
        val r = spark.sql(
          s"OPTIMIZE $tc COMPACT TO $targetBytes BYTES").collect()
        val m = metaOf(cdir)
        require(r(0).getInt(3) == preFiles - 512 &&
          m.cluster.contains(("id", 64)) &&
          m.part.contains(("id", unit)),
          s"compact-to: ${r(0).toString} files_after=${m.entries.size} " +
            s"layout=${m.part}/${m.cluster}")
        spark.table(tc).count()
      }
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19c")
    }
    // ---- round-19b lake smokes: Z-ORDER, NMS MERGE, type widening,
    // string stats, SHALLOW CLONE ----
    locally {
      import graft.sources.{LakeFormat, LakeSource}
      spark.conf.set("spark.sql.catalog.gsmoke", "graft.sources.GraftCatalog")
      val zdir = s"$base/lake19z"
      def metaOf(d: String) = {
        val f = LakeFormat.fs(d)
        LakeFormat.readManifestMeta(f, d,
          LakeFormat.latestVersion(f, d).get)
      }
      spark.read.format("graft.sources.DetRangeSource")
        .option("rows", nEvents).option("slices", 64).load()
        .select(col("id"), col("bucket"), col("kscore"), col("score"),
          col("doc_id"))
        .write.format("graft.sources.LakeSource")
        .option("path", zdir).mode("overwrite").save()
      def planned(): Int = LakeSource.lastPlannedFiles.get().size
      def lakeRead(d: String) =
        spark.read.format("graft.sources.LakeSource")
          .option("path", d).load()
      // Z-ORDER at 20M: the full-table Morton rewrite (codegen'd key,
      // manifest-stats bounds) — then needles on BOTH columns prune,
      // where the id-append layout planned all 64 files for either
      require({
        lakeRead(zdir).filter(col("bucket") === 3)
          .agg(sum(col("id"))).head.getLong(0)
        planned() == 64
      }, "pre-zorder bucket needle should plan all 64 files")
      time("lake ZORDER rewrite (2 cols)", nEvents) {
        spark.sql(s"OPTIMIZE '$zdir' ZORDER BY (bucket, kscore) " +
          "INTO 64 FILES").collect()
        metaOf(zdir).entries.size.toLong
      }
      time("lake ZORDER 2-D prune", nEvents / 16) {
        val c1 = lakeRead(zdir).filter(col("bucket") === 3).count()
        val p1 = planned()
        lakeRead(zdir).filter(col("kscore").between(100, 199))
          .agg(sum(col("id"))).head.getLong(0)
        val p2 = planned()
        require(p1 <= 24 && p2 <= 24,
          s"z-order needles planned $p1/$p2 of 64 files")
        c1
      }
      // NMS MERGE at 20M: mirror-merge with by-source clauses — the
      // whole three-clause matrix stays merge-on-read (vector growth +
      // appends, zero data-file rewrites)
      spark.range(0, nEvents + 10000)
        .filter(col("id") % 99991 === 7 || col("id") >= nEvents)
        .select(col("id"), (col("id") % 7 + 1).cast("int").as("delta"))
        .createOrReplaceTempView("lake19_nms")
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19z")
      spark.sql(s"""CREATE TABLE gsmoke.ns.lake19z (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$zdir'""".stripMargin)
      val tz = "gsmoke.ns.lake19z"
      time("lake MERGE NOT MATCHED BY SRC", nEvents) {
        LakeSource.lastReplacedFiles.set(Seq("sentinel"))
        spark.sql(s"""MERGE INTO $tz t USING lake19_nms s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET kscore = t.kscore + s.delta
          |WHEN NOT MATCHED THEN INSERT (id, bucket, kscore, score, doc_id)
          |  VALUES (s.id, CAST(s.id % 16 AS INT), CAST(s.delta AS INT),
          |          CAST(0.0 AS DOUBLE), 'ins')
          |WHEN NOT MATCHED BY SOURCE AND t.id % 4099 = 1 THEN DELETE
          |""".stripMargin)
        require(LakeSource.lastReplacedFiles.get().isEmpty,
          s"NMS MERGE rewrote: ${LakeSource.lastReplacedFiles.get()}")
        spark.table(tz).count()
      }
      // TYPE WIDENING at 20M: one O(root) header write — then values
      // beyond INT range insert, and the new file's stats still prune
      time("lake ALTER COLUMN widen (O(root))", 1) {
        val filesBefore = metaOf(zdir).entries.size
        spark.sql(s"ALTER TABLE $tz ALTER COLUMN kscore TYPE BIGINT")
        require(metaOf(zdir).entries.size == filesBefore,
          "widening touched data files")
        spark.sql(s"INSERT INTO $tz VALUES " +
          s"(${nEvents + 50000}L, 0, 3000000000L, 0.0D, 'big')")
        val c = spark.table(tz)
          .filter(col("kscore") === 3000000000L).count()
        require(c == 1 && planned() == 1,
          s"widened needle: count=$c planned=${planned()}")
        c
      }
      // STRING STATS at 20M: RANGE BY a string column, then a doc-id
      // needle plans ~1 of 64 files (pre-r19: strings had no bounds —
      // this layout+predicate combination planned EVERYTHING), and
      // MIN/MAX(doc_id) answers from the manifest with no data task
      time("lake RANGE BY doc_id (string)", nEvents) {
        spark.sql(s"OPTIMIZE '$zdir' RANGE BY doc_id INTO 64 FILES")
          .collect()
        metaOf(zdir).entries.size.toLong
      }
      time("lake string needle + agg", nEvents / 1000) {
        val c = lakeRead(zdir).filter(col("doc_id") === "doc_497").count()
        require(planned() <= 2,
          s"string needle planned ${planned()} of 64 files")
        LakeSource.lastPlannedFiles.set(Nil)
        val mm = lakeRead(zdir)
          .agg(min(col("doc_id")), max(col("doc_id"))).head
        // 'big' (the widen insert) and 'ins' (the NMS merge inserts)
        // straddle the doc_ corpus lexicographically
        require(mm.getString(0) == "big" && mm.getString(1) == "ins" &&
          LakeSource.lastPlannedFiles.get().isEmpty,
          s"string MIN/MAX not manifest-only: $mm " +
            s"planned=${LakeSource.lastPlannedFiles.get()}")
        c
      }
      // BLOOM SKIPPING at 20M: a unique hashed key — every file's
      // [min,max] covers the key space, so only the per-file bloom
      // sidecars can prune; the needle plans 1 of 64 files and an
      // absent key plans ZERO (no task launches over 20M rows)
      val bdir = s"$base/lake19bloom"
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19b")
      spark.sql(s"""CREATE TABLE gsmoke.ns.lake19b (id BIGINT, doc_id STRING)
        |USING lake LOCATION '$bdir'
        |TBLPROPERTIES ('bloomFor'='doc_id')""".stripMargin)
      spark.range(0, nEvents, 1, 64)
        .selectExpr("id",
          "concat('h', CAST(id * 2654435761 % 1073741824 AS STRING), " +
            "'_', CAST(id AS STRING)) AS doc_id")
        .createOrReplaceTempView("lake19_bloomsrc")
      time("lake bloom-enrolled INSERT", nEvents) {
        spark.sql("INSERT OVERWRITE gsmoke.ns.lake19b " +
          "SELECT * FROM lake19_bloomsrc")
        spark.table("gsmoke.ns.lake19b").count()
      }
      time("lake bloom needle (1/64)", 1) {
        // derived from nEvents so sub-20M smoke runs keep a live needle
        val nid = nEvents / 2
        val needle = s"h${(nid * 2654435761L) % 1073741824L}_$nid"
        val c = spark.table("gsmoke.ns.lake19b")
          .filter(col("doc_id") === needle).count()
        require(c == 1 && planned() == 1,
          s"bloom needle: count=$c planned=${planned()}")
        val c0 = spark.table("gsmoke.ns.lake19b")
          .filter(col("doc_id") === "h0_nope").count()
        // ≤2 not ==0: with 64 filters at ~0.3% FPR a stray false
        // positive is possible — it costs one file read, never a row
        require(c0 == 0 && planned() <= 2,
          s"absent needle planned ${planned()} files")
        c
      }
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19b")
      // SHALLOW CLONE at 20M: a zero-copy fork is one O(files)
      // metadata commit; clone-local DML never touches the source
      val cdir2 = s"$base/lake19clone"
      time("lake SHALLOW CLONE (zero-copy)", 1) {
        spark.sql(s"CLONE '$zdir' TO '$cdir2'").collect()
        require(!new java.io.File(cdir2).list().exists(_.startsWith("part-")),
          "clone copied data files")
        lakeRead(cdir2).count()
      }
      time("lake clone-local DML isolation", nEvents) {
        val srcCount = spark.table(tz).count()
        spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19cl")
        spark.sql(s"""CREATE TABLE gsmoke.ns.lake19cl (
          |  id BIGINT, bucket INT, kscore BIGINT, score DOUBLE,
          |  doc_id STRING
          |) USING lake LOCATION '$cdir2'""".stripMargin)
        spark.sql("DELETE FROM gsmoke.ns.lake19cl WHERE id % 99991 = 7")
        require(spark.table(tz).count() == srcCount,
          "clone DML leaked into the source")
        spark.table("gsmoke.ns.lake19cl").count()
      }
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19z")
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19cl")
    }
    // ---- round-19 continuation smokes: WAP branches, incremental MV,
    // idempotent COPY INTO ----
    locally {
      def lakeRead(d: String): DataFrame =
        spark.read.format("graft.sources.LakeSource")
          .option("path", d).load()
      val dir = s"$base/lake19wap"
      spark.read.format("graft.sources.DetRangeSource")
        .option("rows", nEvents).option("slices", 64).load()
        .select(col("id"), col("bucket"), col("kscore"), col("score"),
          col("doc_id"))
        .write.format("graft.sources.LakeSource")
        .option("path", dir).mode("overwrite").save()
      // WAP: a 100k-row day lands on a branch of the 20M table; the
      // audited PUBLISH is renames + ONE manifest CAS — wall time must
      // be metadata-shaped, never corpus-shaped
      spark.sql(s"CREATE BRANCH wap ON '$dir'")
      spark.range(nEvents, nEvents + 100000)
        .select(col("id"), (col("id") % 16).cast("int").as("bucket"),
          ((col("id") * 31) % 997).cast("int").as("kscore"),
          lit(0.0).as("score"), lit("wap").as("doc_id"))
        .write.format("graft.sources.LakeSource")
        .option("path", dir).option("branch", "wap")
        .mode("append").save()
      time("lake WAP publish (metadata)", 1) {
        val r = spark.sql(s"FAST FORWARD '$dir' TO BRANCH wap").head
        require(r.getInt(4) >= 1, s"nothing adopted: $r")
        r.getInt(3).toLong
      }
      require(lakeRead(dir).count() == nEvents + 100000,
        "WAP publish lost rows")
      // MV: creation pays ONE full aggregate over 20M; a refresh after
      // a 1000-row DML folds the feed's delta — the corpus is never
      // rescanned, so the wall-time gap between the two lines IS the
      // incremental-maintenance win
      val mv = s"$base/lake19mv"
      time("lake MV create (full agg)", nEvents) {
        graft.sources.LakeMV.create(spark, dir, mv,
          Seq("bucket"), Seq("kscore"))
        lakeRead(mv).count()
      }
      spark.conf.set("spark.sql.catalog.gsmoke", "graft.sources.GraftCatalog")
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19wap")
      spark.sql(s"""CREATE TABLE gsmoke.ns.lake19wap (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$dir'""".stripMargin)
      time("lake MV refresh (delta)", 1000) {
        spark.sql("UPDATE gsmoke.ns.lake19wap SET kscore = kscore + 1 " +
          "WHERE id >= 1000 AND id < 2000")
        val (_, _, g) = graft.sources.LakeMV.refresh(spark, mv)
        require(g > 0 && g <= 16, s"refresh touched $g groups")
        lakeRead(mv).count()
      }
      // COPY INTO: 4 landing files ingest once; the retry's cost is a
      // directory listing against the ledger, not row work
      val land = s"$base/lake19land"
      (0 until 4).foreach { i =>
        spark.range(nEvents + 200000L + i * 250000L,
            nEvents + 200000L + (i + 1) * 250000L)
          .select(col("id"), (col("id") % 16).cast("int").as("bucket"),
            ((col("id") * 31) % 997).cast("int").as("kscore"),
            lit(0.0).as("score"), lit("cp").as("doc_id"))
          .coalesce(1).write.mode("append").parquet(land)
      }
      time("lake COPY INTO (4 files)", 1000000) {
        val r = spark.sql(s"COPY INTO '$dir' FROM '$land'").head
        require(r.getInt(1) == 4, s"expected 4 copies: $r")
        lakeRead(dir).count()
      }
      time("lake COPY INTO retry (no-op)", 1) {
        val r = spark.sql(s"COPY INTO '$dir' FROM '$land'").head
        require(r.getInt(1) == 0 && r.getInt(2) == 4, s"retry ingested: $r")
        1L
      }
      require(lakeRead(dir).count() == nEvents + 100000 + 1000000,
        "COPY INTO row totals drifted")
      spark.sql("DROP TABLE IF EXISTS gsmoke.ns.lake19wap")
    }
    Harness.close(spark)
    // synthetic tables are hundreds of MB per run: deleted at the end so
    // repeated runs don't build disk pressure (which skews measurements)
    Harness.deleteTree(java.nio.file.Paths.get(base))
  }
}
