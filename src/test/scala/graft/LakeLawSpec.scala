package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeFormat

/** PROPERTY LAW for the change feed (round 19 — r18 verdict task #7):
  * over RANDOMIZED histories of DML ∘ RESTORE ∘ maintenance, the
  * cumulative feed NETS to the live table —
  *
  *   for every row VALUE v:  net(v) = #inserts(v) − #deletes(v) ∈ {0, 1}
  *   and  { v | net(v) = 1 }  ≡  the live table's row multiset.
  *
  * This is the invariant every incremental consumer relies on (replay
  * the feed from v0 ⇒ reconstruct the table), and exactly the class of
  * cross-feature interaction the r18 review caught by hand (RESTORE ×
  * change feed): single-feature pins can't see a COMPACT between a
  * DELETE and the RESTORE that un-deletes it. Twenty seeded histories
  * interleave scattered/file-aligned DELETEs, MoR UPDATEs, three-clause
  * MERGEs, appends, RESTOREs to random earlier versions, small-file
  * COMPACTion, OPTIMIZE CLUSTER BY, Z-ORDER re-layouts (all three
  * maintenance-flagged: the feed must stay silent for them yet keep
  * netting afterwards), and header-only type widening (r19).
  *
  * Seeds are FIXED (0..19): the histories are random in shape but the
  * test is deterministic — a failure names its seed and op list. */
class LakeLawSpec extends AnyFunSuite {
  import TestSession.{spark, tmp}

  private val Lake = "graft.sources.LakeSource"

  /** net(v) per row value from the cumulative feed, compared against
    * the live table. Row identity = ALL data columns, so an UPDATE's
    * pre- and post-image are distinct values by construction. */
  private def assertNets(t: String, dir: String, trace: String): Unit = {
    val feed = spark.read.format(Lake).option("path", dir)
      .option("changesFrom", "0").load()
      .groupBy("id", "bucket", "kscore", "score", "doc_id")
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("net"))
    val bad = feed.filter(col("net") < 0 || col("net") > 1).count()
    assert(bad == 0L, s"[$trace] ${bad} row values with net ∉ {0,1}")
    // positive-net multiset ≡ live rows: anti-joins in both directions
    val netted = feed.filter(col("net") === 1)
      .select("id", "bucket", "kscore", "score", "doc_id")
    val live = spark.table(t)
    val missing = netted.exceptAll(live).count()
    val extra = live.exceptAll(netted).count()
    assert(missing == 0L && extra == 0L,
      s"[$trace] feed nets to live−$extra/+$missing rows " +
        s"(netted=${netted.count()}, live=${live.count()})")
  }

  test("netting law: 20 random DML∘RESTORE∘COMPACT∘CLUSTER∘ZORDER∘WIDEN histories — cumulative feed ≡ live table (r19, r18 verdict #7)") {
    spark.conf.set("spark.sql.catalog.glt", "graft.sources.GraftCatalog")
    (0 until 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val dir = tmp(s"lake_law$seed")
      val t = s"glt.ns.tlaw$seed"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"""CREATE TABLE $t (
        |  id BIGINT, bucket INT, kscore INT, score DOUBLE, doc_id STRING
        |) USING lake LOCATION '$dir'""".stripMargin)
      def freshRows(lo: Long, hi: Long) =
        spark.range(lo, hi).selectExpr("id",
          "CAST(id % 16 AS INT) AS bucket",
          "CAST((id * 31) % 997 AS INT) AS kscore",
          "CAST(id AS DOUBLE) / 7 AS score",
          "concat('doc_', id) AS doc_id")
      freshRows(0, 1000).createOrReplaceTempView(s"law_src$seed")
      spark.sql(s"INSERT OVERWRITE $t SELECT * FROM law_src$seed")
      var hi = 1000L
      val f = LakeFormat.fs(dir)
      val ops = Seq.newBuilder[String]
      (0 until 6).foreach { _ =>
        rnd.nextInt(9) match {
          case 0 => // scattered delete
            val p = 37 + rnd.nextInt(60)
            ops += s"delete%$p"
            spark.sql(s"DELETE FROM $t WHERE id % $p = ${rnd.nextInt(p)}")
          case 1 => // MoR update
            val p = 29 + rnd.nextInt(50)
            val d = 1 + rnd.nextInt(9)
            ops += s"update%$p+$d"
            spark.sql(s"UPDATE $t SET kscore = kscore + $d " +
              s"WHERE id % $p = ${rnd.nextInt(p)}")
          case 2 => // three-clause MERGE: overlap + new tail
            val lo = math.max(0, hi - 200)
            val newHi = hi + 100 + rnd.nextInt(100)
            ops += s"merge[$lo,$newHi)"
            spark.range(lo, newHi)
              .select(col("id"),
                (col("id") % 7 + 1).cast("int").as("delta"))
              .createOrReplaceTempView(s"law_merge$seed")
            spark.sql(s"""MERGE INTO $t t USING law_merge$seed s
              |ON t.id = s.id
              |WHEN MATCHED AND t.bucket = ${rnd.nextInt(16)} THEN DELETE
              |WHEN MATCHED THEN UPDATE SET kscore = t.kscore + s.delta
              |WHEN NOT MATCHED THEN INSERT
              |  (id, bucket, kscore, score, doc_id)
              |  VALUES (s.id, CAST(s.id % 16 AS INT),
              |          CAST(s.delta AS INT), CAST(0.0 AS DOUBLE),
              |          concat('ins_', s.id))""".stripMargin)
            hi = newHi
          case 3 => // plain append of a fresh id range
            val newHi = hi + 100 + rnd.nextInt(200)
            ops += s"append[$hi,$newHi)"
            freshRows(hi, newHi).createOrReplaceTempView(s"law_app$seed")
            spark.sql(s"INSERT INTO $t SELECT * FROM law_app$seed")
            hi = newHi
          case 4 => // restore to a random earlier version
            val cur = LakeFormat.latestVersion(f, dir).get
            val target = rnd.nextInt(cur + 1)
            ops += s"restore->$target"
            spark.sql(s"RESTORE TABLE $t TO VERSION AS OF $target")
            // live ids may now exceed or trail `hi`; keep hi monotone
          case 5 => // small-file compaction (maintenance: feed-silent)
            ops += "compact"
            LakeFormat.compactSmall(spark, dir,
              underBytes = 1L << 30, into = 2)
          case 6 => // re-cluster (maintenance: feed-silent)
            ops += "cluster"
            LakeFormat.optimizeCluster(spark, dir, "id",
              2 + rnd.nextInt(3))
          case 7 => // z-order re-layout (r19; maintenance: feed-silent)
            ops += "zorder"
            LakeFormat.optimizeZOrder(spark, dir,
              Seq("bucket", "kscore"), 2 + rnd.nextInt(6))
          case 8 => // type widen kscore (r19; header-only — the feed
            // must emit nothing for it and keep netting across it);
            // widening is once-per-history by nature, so re-rolls skip
            val root = LakeFormat.readManifestMeta(f, dir,
              LakeFormat.latestVersion(f, dir).get)
            if (root.schema("kscore").dataType ==
                org.apache.spark.sql.types.IntegerType) {
              ops += "widen"
              spark.sql(s"ALTER TABLE $t ALTER COLUMN kscore TYPE BIGINT")
            } else ops += "widen-skip"
        }
      }
      assertNets(t, dir, s"seed=$seed ops=${ops.result().mkString("∘")}")
    }
  }
}
