package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the corpus-curation operators (Curation.scala)
  * — properties the DuckDB oracle can't express as row equality. */
class CurationSpec extends AnyFunSuite {
  import TestSession.{spark, sf}

  test("t67 packing conserves tokens and windows are contiguous") {
    val packed = operators.Curation.qContextPacking.fn(spark, sf)
      .orderBy("window_id").collect()
    val totalTokens = Tables.documents(spark, sf)
      .select(sum(size(split(col("text"), " ")))).head.getLong(0)
    assert(packed.map(_.getAs[Long]("window_tokens")).sum == totalTokens)
    // window ids strictly increase; gap-free ONLY while no doc exceeds
    // the 1024-token budget (a longer doc legitimately spans windows it
    // doesn't own, leaving owned-window gaps — not an operator bug)
    val ids = packed.map(_.getAs[Long]("window_id"))
    assert(ids.toSeq == ids.toSeq.sorted && ids.distinct.length == ids.length)
    val maxDocTokens = Tables.documents(spark, sf)
      .select(max(size(split(col("text"), " ")))).head.getInt(0)
    if (maxDocTokens <= 1024)
      assert(ids.toSeq == ids.indices.map(_.toLong))
    val ranges = packed.map(r =>
      (r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc")))
    assert(ranges.forall { case (a, b) => a <= b })
    // consecutive windows can share at most the boundary doc? No — a doc
    // belongs to exactly one window (its start window), so ranges are
    // strictly increasing across windows.
    assert(ranges.sliding(2).forall {
      case Array((_, b1), (a2, _)) => b1 < a2
      case _ => true
    })
    // every window except possibly the last starts within budget: the
    // first doc's start offset lies in [1024*w, 1024*(w+1))
  }

  test("t70 seeded shuffle is a prefix of a permutation and seed-stable") {
    val out = operators.Curation.qSeededShuffle.fn(spark, sf).collect()
    assert(out.map(_.getAs[Long]("pos")).toSeq == (1L to 20L))
    val docIds = out.map(_.getAs[Long]("doc_id"))
    assert(docIds.distinct.length == docIds.length)
    // deterministic: second run identical
    val again = operators.Curation.qSeededShuffle.fn(spark, sf).collect()
      .map(_.getAs[Long]("doc_id"))
    assert(docIds.sameElements(again))
    // actually shuffled: not the identity prefix
    assert(!docIds.sameElements(docIds.sorted))
  }

  test("t69 redaction leaves no multi-digit runs and counts them") {
    val red = operators.Curation.qPiiRedaction.fn(spark, sf)
    assert(red.filter(col("redacted").rlike("[0-9][0-9]")).count() == 0)
    val direct = Tables.documents(spark, sf).filter(col("doc_id") < 100)
      .select(sum(regexp_count(col("text"), lit("[0-9][0-9]+")))).head.getLong(0)
    assert(red.select(sum(col("n_redacted"))).head.getLong(0) == direct)
  }

  test("t68 logprob is negative and monotone wrt token rarity") {
    val lp = operators.Curation.qUnigramLogprob.fn(spark, sf)
    assert(lp.filter(col("avg_logprob") >= 0).count() == 0)
  }

  test("t72 CMS estimates dominate true counts within the epsilon-N bound") {
    val out = operators.Text.qCmsHeavyHitters.fn(spark, sf).collect()
    assert(out.nonEmpty)
    val totalTokens = Tables.documents(spark, sf)
      .select(sum(size(split(col("text"), " ")))).head.getLong(0)
    out.foreach { r =>
      val n = r.getAs[Long]("n")
      val est = r.getAs[Long]("cms_est")
      assert(est >= n, s"CMS must never underestimate: ${r}")
      // ε = e/w per row, min over d=4 rows; use the loose 4e/w envelope
      assert(est - n <= (4 * math.E / 512 * totalTokens).toLong + 1,
        s"CMS overshoot beyond bound: ${r} (N=$totalTokens)")
    }
  }

  test("t73 bloom gate has zero false negatives and a sane positive rate") {
    val docs = Tables.documents(spark, sf)
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val gated = operators.Curation.bloomIncrementalDedup(existing, incoming)
    // every incoming doc whose text REALLY exists in the corpus must be
    // flagged maybe_dup (no false negatives)
    val realDups = incoming.join(existing.select(col("text")).distinct(),
      Seq("text"), "left_semi")
    val missed = realDups.join(gated.filter(!col("maybe_dup"))
      .select(col("doc_id")), Seq("doc_id"), "left_semi").count()
    assert(missed == 0, "bloom false negative")
    // false-positive rate stays far below 50%: flagged count can't
    // exceed realDups + 10% of incoming
    val flagged = gated.filter(col("maybe_dup")).count()
    assert(flagged <= realDups.count() + (incoming.count() * 0.1).toLong + 1)
  }

  test("t76 overlap-stripped chunk concat reconstructs every document") {
    val chunks = operators.Curation.qDocChunking.fn(spark, sf).collect()
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(chunks.nonEmpty)
    chunks.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("chunk_id"))
      // stride 24 on 32-token chunks ⇒ 8 shared tokens at each seam
      val toks = sorted.zipWithIndex.flatMap { case (r, i) =>
        val t = r.getAs[String]("chunk_text").split(" ")
        if (i == 0) t.toSeq else t.drop(8).toSeq
      }
      assert(toks.mkString(" ") == docs(id), s"doc $id reassembly broke")
      sorted.dropRight(1).foreach(r =>
        assert(r.getAs[Long]("n_tokens") == 32L, s"doc $id non-final short chunk"))
    }
  }

  test("t79 data mixing: selection is budget-bounded and seed-stable") {
    val out = operators.Curation.qDataMixing.fn(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    val bySource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.length == bySource.size)
    out.foreach { r =>
      val (src, budget) = (r.getAs[String]("source"), r.getAs[Long]("budget"))
      assert(r.getAs[Long]("n_docs") == bySource(src))
      val sel = r.getAs[Long]("n_selected")
      assert(sel >= 1, s"$src selected nothing") // first doc always admitted
      // take-until: all but the last admitted doc fit strictly under
      // budget, so tokens_selected < budget + max single-doc length
      val maxDoc = docs.filter(col("source") === src)
        .select(max(size(split(col("text"), " ")))).head.getInt(0)
      val tok = r.getAs[Long]("tokens_selected")
      assert(tok < budget + maxDoc, s"$src overshot: $tok vs $budget")
    }
    // seed-stability: a second run is bit-identical (md5 order, no RNG)
    val again = operators.Curation.qDataMixing.fn(spark, sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("t80 seqlen histogram: buckets partition the corpus and bound token lengths") {
    val out = operators.Curation.qSeqlenHistogram.fn(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == total)
    out.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val (lo, hi) = (math.pow(2, b.toDouble), math.pow(2, (b + 1).toDouble))
      assert(r.getAs[Long]("min_tokens") >= lo.toLong)
      assert(r.getAs[Long]("max_tokens") < hi.toLong)
    }
  }

  test("t67/t70 plans contain no single-partition global window") {
    for (q <- Seq(operators.Curation.qContextPacking,
        operators.Curation.qSeededShuffle)) {
      val plan = q.fn(spark, sf).queryExecution.executedPlan.toString
      // a global Window.orderBy would show as "Window [...]" with no
      // partition spec after an Exchange SinglePartition
      assert(!plan.contains("SinglePartition"),
        s"${q.name} plan moves data to a single partition:\n$plan")
    }
  }

  test("q194: split is a pure function of user_id — every user in exactly one split") {
    import org.apache.spark.sql.functions._
    // stronger per-user form of the emitted leak_free aggregate
    val k = md5(concat(lit("graft-gsplit-11:"), col("user_id").cast("string")))
    val perUser = Tables.events(spark, sf)
      .withColumn("bkt",
        (ascii(substring(k, 1, 1)) * 131 + ascii(substring(k, 2, 1))) % 100)
      .withColumn("split",
        when(col("bkt") < 80, "train").when(col("bkt") < 90, "val")
          .otherwise("test"))
      .groupBy(col("user_id")).agg(countDistinct(col("split")).as("ns"))
    assert(perUser.agg(max(col("ns"))).head.getLong(0) == 1L)
    // and the registered output's own flag holds
    val rows = operators.Curation.qGroupSplit.fn(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("leak_free")))
  }

  test("writePackedShards: round-trip complete, windows never straddle shards, manifest honest") {
    val docs = Tables.documents(spark, sf)
    val nDocs = docs.count()
    val dir = TestSession.tmp("graft_shards")
    val dir2 = TestSession.tmp("graft_shards2")
    try {
      val manifest = operators.Curation.writePackedShards(docs, dir, 4).collect()
      val back = spark.read.parquet(dir)
      // complete + exactly-once: every document lands in exactly one shard
      assert(back.count() == nDocs)
      assert(back.select("doc_id").distinct().count() == nDocs)
      val shards = back.select("shard").distinct().collect()
        .map(_.getAs[Number]("shard").longValue()).sorted
      assert(shards.forall(sh => sh >= 0 && sh < 4), shards.mkString(","))
      // the training atom survives: no packing window straddles shards
      val straddlers = back.groupBy("window_id")
        .agg(countDistinct("shard").as("ns")).filter(col("ns") > 1).count()
      assert(straddlers == 0)
      // manifest is derived from the WRITTEN data and adds up
      assert(manifest.map(_.getAs[Long]("n_docs")).sum == nDocs)
      val recomputed = back.groupBy(col("shard").cast("long").as("shard"))
        .agg(sum(xxhash64(col("doc_id"), col("text")).cast("decimal(38,0)"))
          .cast("string").as("fp")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      manifest.foreach(r =>
        assert(recomputed(r.getAs[Long]("shard")) == r.getAs[String]("fingerprint")))
      // json manifest on disk parses and matches
      val onDisk = spark.read.json(s"$dir/_manifest")
      assert(onDisk.count() == manifest.length)
      // determinism: a second export elsewhere yields the same manifest
      val manifest2 = operators.Curation.writePackedShards(docs, dir2, 4).collect()
      assert(manifest.map(_.toString).sorted.toSeq ==
        manifest2.map(_.toString).sorted.toSeq)
    } finally {
      Seq(dir, dir2).foreach { d0 =>
        import scala.jdk.CollectionConverters._
        val p = java.nio.file.Paths.get(d0)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("q195: chronological split has no future leakage (train strictly before test)") {
    val rows = operators.Curation.qTemporalSplit.fn(spark, sf).collect()
      .map(r => r.getAs[String]("split") ->
        (r.getAs[Long]("min_us"), r.getAs[Long]("max_us"), r.getAs[Long]("n_events")))
      .toMap
    assert(rows.keySet == Set("train", "test"))
    assert(rows("train")._2 <= rows("test")._1) // max(train) <= min(test)
    // the 80th-percentile boundary puts ~80% of events in train. The
    // exact fraction is fixture-shape-dependent (the boundary is floored
    // to the ms, so boundary-ms events with larger sub-ms parts leave
    // train; ties AT the floored cut join it) — a tight ±0.02 band can
    // flake on tie-heavy data (r10 advisory). The EXACT split semantics
    // are already differentially pinned by the DuckDB oracle, which
    // replays the same floor+tie arithmetic value-for-value; the spec
    // asserts the shape contract: leak-free ordering above, and a
    // roughly-80/20 carve here.
    val n = rows("train")._3 + rows("test")._3
    val frac = rows("train")._3.toDouble / n
    assert(frac >= 0.7 && frac <= 0.95,
      s"train fraction $frac outside [0.7, 0.95]")
  }

  test("kAnonGeneralize terminates on adversarial QI data (every class unique until full suppression)") {
    // worst case for the ladder: every row its own (lang, source, band)
    // class, and lang/source stay unique at EVERY partial level — only
    // full suppression (level 6) can satisfy k
    val adversarial = spark.range(40).select(
      concat(lit("l"), col("id")).as("lang"),
      concat(lit("s"), col("id")).as("source"),
      (col("id") * 100000).as("n_chars"))
    val (lv, classes) = operators.Curation.kAnonGeneralize(adversarial, 5)
    assert(lv == 6, s"expected full suppression, stopped at level $lv")
    val rows = classes.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("cn") == 40L)
  }

  test("kAnonGeneralize stops at the first satisfying level and every class reaches k") {
    // 3 langs x 2 sources, 10 rows each, n_chars constant: level 0
    // already has min class 10 >= 5 — the loop must not over-generalize
    val easy = spark.range(60).select(
      concat(lit("l"), col("id") % 3).as("lang"),
      concat(lit("s"), col("id") % 2).as("source"),
      lit(250L).as("n_chars"))
    val (lv, classes) = operators.Curation.kAnonGeneralize(easy, 5)
    assert(lv == 0, s"over-generalized to level $lv")
    val cns = classes.collect().map(_.getAs[Long]("cn"))
    assert(cns.length == 6 && cns.forall(_ >= 5))
  }

  test("kAnonGeneralize fails loudly when the corpus is smaller than k") {
    val tiny = spark.range(3).select(lit("en").as("lang"),
      lit("web").as("source"), lit(100L).as("n_chars"))
    val e = intercept[IllegalStateException] {
      operators.Curation.kAnonGeneralize(tiny, 5)
    }
    assert(e.getMessage.contains("fewer"), e.getMessage)
  }

  test("t122 ledger: info loss is monotone in level, chosen = least satisfied, t120 risk vanishes at the chosen level") {
    val led = SparkEntry.queries("t122_kanon_generalize_ledger")(spark, sf)
      .orderBy(col("level")).collect()
    assert(led.length == 7)
    val losses = led.map(_.getAs[Double]("info_loss"))
    assert(losses.zip(losses.tail).forall { case (a, b) => a <= b },
      s"info loss not monotone: ${losses.mkString(",")}")
    assert(losses.head == 0.0 && losses.last == 1.0)
    val chosen = led.filter(_.getAs[Boolean]("chosen"))
    assert(chosen.length == 1)
    val lv = chosen.head.getAs[Long]("level")
    assert(led.filter(_.getAs[Long]("level") < lv)
      .forall(!_.getAs[Boolean]("satisfied")))
    assert(chosen.head.getAs[Boolean]("satisfied"))
    assert(chosen.head.getAs[Long]("n_risky_docs") == 0L,
      "chosen level still carries risky mass")
    // and the generalized table agrees with the loop's level
    val cls = SparkEntry.queries("t123_kanon_generalized_classes")(spark, sf)
      .collect()
    assert(cls.forall(_.getAs[Long]("level") == lv))
    assert(cls.forall(_.getAs[Long]("n") >= 5L))
  }
}
