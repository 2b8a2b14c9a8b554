package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (local[4], UTC — mirrors the driver
  * harness). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // per-process startup hook (round 15 — the reference
      // worker_module analog): loads the driver+executor plugin pair
      // at context creation; PluginSpec asserts the check-in RPC and
      // the custom metric flow
      .config("spark.plugins", "graft.plans.GraftPlugin")
      // events.ts may ship as parquet TIMESTAMP(NANOS); the loader's
      // Long branch (Tables.events) needs this read flag, set once at
      // session construction so loaders stay pure (r8 advisory).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // storage-partitioned joins: global v2-bucketing confs, matching
      // graft.Harness.session — one planner setup for every query
      // (r17 advisory: a q235-local set leaked session conf)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** Golden parity with the reference's own smoke tests (FIXTURES.md §1):
  * same program → same answer, regardless of parallelism. */
class GoldenSmokeSpec extends AnyFunSuite {
  import TestSession.spark

  test("delayed sum analog: sum(range(1000)) == 499500 (reference example/test.py:23)") {
    val got = spark.range(1000).agg(sum("id")).head.getLong(0)
    assert(got == 499500L)
  }

  test("shipped-code map analog: range(100).map(+1) == [1..100] (reference example/custom_image/test.py:7)") {
    import org.apache.spark.sql.Encoders
    val got: Array[Long] = spark.range(100)
      .as[Long](Encoders.scalaLong)
      .map(x => x + 1L)(Encoders.scalaLong)
      .collect()
    java.util.Arrays.sort(got)
    assert(java.util.Arrays.equals(got, (1L to 100L).toArray))
  }

  test("entry returns rows at sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query returns a readable non-negative row count") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, TestSession.sf).count()
      assert(n >= 0, s"$name returned $n")
    }
  }

  test("oracleSql keys are a subset of queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}

/** Probabilistic/engine-specific ops that the DuckDB oracle can't check
  * (SURVEY.md §5 strategy: ScalaTest owns these). */
class DedupSpec extends AnyFunSuite {
  import TestSession.{spark, sf}

  private lazy val exactPairs: Set[(Long, Long)] =
    operators.Text.qNgramJaccard.fn(spark, sf)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH recall >= 0.85 vs exact 3-gram jaccard pairs, no false positives at est>=0.5") {
    val got = operators.Dedup.minHashLshRaw(spark, sf)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty, "ground truth must be non-trivial")
    val recall = (exactPairs & got).size.toDouble / exactPairs.size
    assert(recall >= 0.85, s"recall $recall, got ${got.size} pairs")
    // precision: every emitted pair must be a genuine near-dup. The
    // estimate is noisy around the 0.5 cut, so allow true jaccard down
    // to 0.35 — but nothing below (a banding/estimation regression that
    // floods candidates would fail here).
    val lenient: Set[(Long, Long)] =
      operators.Text.jaccardPairs(Tables.documents(spark, sf), 7, 20)
        .select("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val falsePositives = got -- lenient
    assert(falsePositives.isEmpty,
      s"${falsePositives.size} pairs below jaccard 0.35: ${falsePositives.take(5)}")
  }

  test("simhash: near-dup docs have small hamming distance") {
    val sims = operators.Dedup.simHashRaw(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hams = exactPairs.toSeq.map { case (a, b) =>
      java.lang.Long.bitCount(sims(a) ^ sims(b))
    }
    assert(hams.nonEmpty && hams.count(_ <= 8) >= (hams.size * 0.8).toInt,
      s"hamming distances of true near-dups: $hams")
  }

  test("connected components: chain, triangle, and pair resolve to min-id labels") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // chain 1-2-3-4 (diameter 3: exercises multi-round propagation),
    // triangle 10-11-12 with a chord, isolated pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L))
    val df = spark.createDataFrame(
      edges.map { case (a, b) => Row(a, b) }.asJava,
      StructType(Seq(StructField("da", LongType), StructField("db", LongType))))
    val got = operators.Dedup.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(got == want)
  }

  test("connected components: empty edge list yields empty labels") {
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("da", LongType), StructField("db", LongType))))
    assert(operators.Dedup.connectedComponents(empty).count() == 0)
  }

  test("dedup clusters: every t54 pair lands in one cluster, members add up") {
    val clusters = operators.Dedup.qDedupClusters.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.nonEmpty)
    // each cluster has >= 2 members (only paired docs enter the graph)
    assert(clusters.values.forall(_ >= 2), clusters.toString)
    // total membership equals the distinct docs appearing in pairs
    val docsInPairs = exactPairs.flatMap(p => Seq(p._1, p._2))
    assert(clusters.values.sum == docsInPairs.size)
    // canonical ids are themselves members (min of the component)
    assert(clusters.keySet.subsetOf(docsInPairs))
  }

  test("approx_count_distinct within 10% of exact per event_type") {
    val exact = operators.Aggregates.qCountDistinct.fn(spark, sf)
      .select("event_type", "n_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    operators.Aggregates.qApproxDistinct.fn(spark, sf).collect().foreach { r =>
      val (et, approx) = (r.getString(0), r.getLong(1))
      val e = exact(et).toDouble
      assert(math.abs(approx - e) / e <= 0.10, s"$et: approx $approx vs exact $e")
    }
  }

  test("percentile_approx within 2% of exact percentiles") {
    val exact = operators.Aggregates.qQuantiles.fn(spark, sf)
      .select("l_returnflag", "p50", "p99").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    operators.Aggregates.qApproxQuantiles.fn(spark, sf).collect().foreach { r =>
      val (f, a50, a99) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      val (e50, e99) = exact(f)
      assert(math.abs(a50 - e50) / e50 <= 0.02, s"$f p50 approx $a50 vs $e50")
      assert(math.abs(a99 - e99) / e99 <= 0.02, s"$f p99 approx $a99 vs $e99")
    }
  }

  test("sample returns a plausible Bernoulli fraction") {
    // tighter per-run band than the registered binomial contract: the
    // draw itself, not just the q34 flag
    val n = Tables.lineitem(spark, sf)
      .sample(withReplacement = false, 0.01, seed = 42).count()
    // 6000 rows at 1% → expect ~60, allow wide deterministic-seed band
    assert(n > 20 && n < 140, s"sampled $n")
    val r = operators.SortsSets.qSample.fn(spark, sf).head
    assert(r.getAs[Boolean]("sample_in_bounds"), "q34 contract flag")
    val rr = operators.SortsSets.qSampleReplace.fn(spark, sf).head
    assert(rr.getAs[Boolean]("sample_in_bounds"), "q193 Poisson band flag")
    assert(rr.getAs[Boolean]("distinct_le_drawn"), "q193 replacement flag")
  }

  test("global rank helpers keep null keys and rank them first (NULLS FIRST)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(Seq(
      Row(java.lang.Long.valueOf(30L)), Row(null), Row(java.lang.Long.valueOf(10L)),
      Row(null), Row(java.lang.Long.valueOf(20L))
    ).asJava, StructType(Seq(StructField("k", LongType))))
    import org.apache.spark.sql.functions.col
    val rn = operators.Scale.globalRowNumber(df, col("k"), Seq(col("k")), "rn")
      .collect().map(r => Option(r.get(0)) -> r.getLong(1))
    assert(rn.length == 5, "no rows may be dropped")
    assert(rn.filter(_._1.isEmpty).map(_._2).sorted.toSeq == Seq(1L, 2L))
    assert(rn.filter(_._1.contains(30L)).head._2 == 5L)
    val dr = operators.Scale.globalDenseRank(df, col("k"), "dr")
      .collect().map(r => Option(r.get(0)) -> r.getLong(1)).toSet
    assert(dr == Set(Option.empty[Any] -> 1L, Some(10L) -> 2L,
      Some(20L) -> 3L, Some(30L) -> 4L))
  }

  test("freqItems sketch finds every exact heavy hitter above its support") {
    import org.apache.spark.sql.functions.{col, explode, split}
    val toks = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok"))
    val total = toks.count()
    // the sketch guarantee only covers items with frequency > support:
    // restrict the expectation to top tokens actually above 1%
    val exactTop = toks.groupBy("tok").count()
      .orderBy(col("count").desc).limit(5)
      .collect().filter(_.getLong(1) > total / 100).map(_.getString(0)).toSet
    assert(exactTop.nonEmpty, "fixture should have tokens above 1% support")
    // lossy-counting sketch: support 1% — guaranteed superset of items
    // with frequency above support (false positives allowed)
    val approx = toks.stat.freqItems(Array("tok"), 0.01)
      .head.getSeq[String](0).toSet
    assert(exactTop.subsetOf(approx),
      s"missing: ${exactTop -- approx} from ${approx.size} sketch items")
  }

  test("stratified sample respects per-stratum fractions") {
    val full = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fractions = Map("click" -> 0.05, "view" -> 0.05,
      "purchase" -> 0.5, "signup" -> 1.0, "error" -> 1.0)
    val sampled = Tables.events(spark, sf)
      .stat.sampleBy("event_type", fractions, 42L)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // and every registered q94 contract flag holds
    operators.SortsSets.qStratifiedSample.fn(spark, sf).collect().foreach {
      r => assert(r.getAs[Boolean]("frac_in_bounds"),
        s"q94 flag false for ${r.getString(0)}") }
    // fraction-1.0 strata keep every row
    assert(sampled("signup") == full("signup"))
    assert(sampled("error") == full("error"))
    // Bernoulli strata land in a wide deterministic-seed band
    val clickFrac = sampled("click").toDouble / full("click")
    assert(clickFrac > 0.005 && clickFrac < 0.15, s"click frac $clickFrac")
    val purchaseFrac = sampled("purchase").toDouble / full("purchase")
    assert(purchaseFrac > 0.3 && purchaseFrac < 0.7, s"purchase frac $purchaseFrac")
  }

  test("dedup idempotence: distinct of distinct is a fixpoint") {
    val docs = Tables.documents(spark, sf).select("text")
    val once = docs.distinct()
    assert(once.count() == once.distinct().count())
  }

  test("union row-count additivity") {
    val o = Tables.orders(spark, sf)
    val a = o.filter(col("o_totalprice") > 200000)
    val b = o.filter(col("o_totalprice") <= 200000)
    assert(a.unionByName(b).count() == o.count())
  }

  test("LSH ANN: results are valid neighbors bounded by the exact top-1") {
    val exactTop1 = operators.Vectors.qCosineTopK.fn(spark, sf)
      .filter(col("rn") === 1)
      .select("probe_id", "sim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = operators.Vectors.lshAnnRaw(spark, sf)
      .select("probe_id", "cand_id", "sim").collect()
    assert(ann.nonEmpty, "LSH buckets must yield some candidates")
    ann.foreach { r =>
      val (p, c, s0) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(p != c)
      // ANN can't beat the exact top-1 (probes 0-9 overlap both queries)
      exactTop1.get(p).foreach(best => assert(s0 <= best + 1e-9,
        s"probe $p: ann sim $s0 > exact best $best"))
    }
  }

  test("LSH ANN: recall@3 >= 0.9 vs the exact cosine top-3") {
    import org.apache.spark.sql.expressions.Window
    val v = Tables.embeddings(spark, sf)
      .withColumn("nrm", functions.VectorOps.norm(col("embedding")))
    val probes = v.filter(col("vec_id") < 50)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("nrm").as("pn"))
    val cands = v.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
      col("nrm").as("cn"))
    val w = Window.partitionBy(col("probe_id")).orderBy(desc("sim"), col("cand_id"))
    val exact = cands.join(broadcast(probes), col("cand_id") =!= col("probe_id"))
      .withColumn("sim", functions.VectorOps.cosineFromNorms(
        functions.VectorOps.dot(col("pe"), col("ce")), col("pn"), col("cn")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = operators.Vectors.lshAnnRaw(spark, sf)
      .select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@3 = $recall (${exact.size} exact pairs)")
  }

  test("IVF ANN: every result comes from one of the probe's 2 chosen clusters") {
    val labels = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = operators.Vectors.qIvfAnn.fn(spark, sf)
      .select("probe_id", "cand_id").collect()
    assert(rows.nonEmpty)
    val clustersPerProbe = rows.groupBy(_.getLong(0))
      .map { case (p, rs) => p -> rs.map(r => labels(r.getLong(1))).toSet }
    clustersPerProbe.foreach { case (p, cl) =>
      assert(cl.size <= 2, s"probe $p drew candidates from clusters $cl")
    }
  }

  test("PQ ANN: codes are in range and recall@10 clears the ADC bound") {
    import org.apache.spark.sql.expressions.Window
    val (codes, cent) = operators.Vectors.pqEncode(Tables.embeddings(spark, sf))
    val codeRows = codes.collect()
    // every vector carries exactly 16 sub-codes, each a valid centroid id
    assert(codeRows.groupBy(_.getLong(0)).forall(_._2.length == 16))
    assert(codeRows.forall { r => val c = r.getInt(2); c >= 0 && c < 16 })
    assert(cent.count() <= 16 * 16)
    // exact squared-L2 top-10 for the same 10 probes
    val v = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("sq", functions.VectorOps.dot(col("e"), col("e")))
    val probes = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("sq").as("psq"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("d2"), col("cand_id"))
    val exact = v.select(col("vec_id").as("cand_id"), col("e").as("ce"), col("sq").as("csq"))
      .join(broadcast(probes), col("cand_id") =!= col("probe_id"))
      .withColumn("d2", col("psq") + col("csq")
        - lit(2.0) * functions.VectorOps.dot(col("pe"), col("ce")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = operators.Vectors.pqAnnRaw(spark, sf)
      .select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    // ADC shortlist (5k) + exact re-rank measures 0.87 here; the bound
    // sits well under that (chance is 10-of-499 ≈ 0.02) to stay stable
    // across fixture regenerations
    assert(recall >= 0.6, s"PQ recall@10 = $recall")
  }

  test("top-k is a subset of the full sort prefix") {
    val topk = operators.SortsSets.qTopK.fn(spark, sf)
      .select("o_orderkey").collect().map(_.getLong(0))
    val full = Tables.orders(spark, sf)
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(15).select("o_orderkey").collect().map(_.getLong(0))
    assert(topk.sameElements(full))
  }

  test("v68 kmeans partitions every vector and inertia never increases") {
    val emb = Tables.embeddings(spark, sf)
    val (asg, inertias) =
      operators.Vectors.kmeansLloyd(emb, Seq(0L, 10L, 20L, 30L), 8)
    val n = emb.count()
    assert(asg.count() == n)
    assert(asg.select("vec_id").distinct().count() == n)
    val k = asg.select("cid").distinct().count()
    assert(k >= 1 && k <= 4)
    // Lloyd guarantee (squared-L2 assignment, mean update): each round's
    // post-assignment inertia <= the previous round's, up to float noise
    assert(inertias.nonEmpty)
    inertias.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a * (1 + 1e-9) + 1e-9,
        s"inertia increased: $inertias")
      case _ => ()
    }
  }

  test("v69 semantic dedup partitions clusters and keeps every cluster's first member") {
    val out = operators.Vectors.qSemanticDedup.fn(spark, sf).collect()
    val emb = Tables.embeddings(spark, sf)
    val byLabel = emb.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out.length == byLabel.size)
    out.foreach { r =>
      val (n, dup, kept) = (r.getAs[Long]("n"), r.getAs[Long]("n_dup"),
        r.getAs[Long]("n_kept"))
      assert(n == byLabel(r.getAs[Int]("cluster")), "cluster size mismatch")
      assert(dup + kept == n, "dup/kept don't partition the cluster")
      // keep-first: the min-id member has no lower-id pair, so every
      // cluster retains at least one representative
      assert(kept >= 1)
    }
  }

  test("q118 interpolation: observed points unchanged, gaps between neighbors") {
    val rows = operators.Windows.qInterpolate.fn(spark, sf).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { us =>
      val s = us.sortBy(_.getAs[Long]("rn"))
      s.foreach { r =>
        assert(!r.isNullAt(r.fieldIndex("v_interp")), "no row stays null")
      }
      // interior filled values lie within [min,max] of the bracketing
      // observed values (linear interpolation never extrapolates)
      val obs = s.filter(!_.getAs[Boolean]("was_null"))
        .map(r => r.getAs[Long]("rn") -> r.getAs[Double]("v_interp"))
      s.filter(_.getAs[Boolean]("was_null")).foreach { r =>
        val rn = r.getAs[Long]("rn")
        val before = obs.filter(_._1 < rn).map(_._2).lastOption
        val after = obs.find(_._1 > rn).map(_._2)
        (before, after) match {
          case (Some(a), Some(b)) =>
            val v = r.getAs[Double]("v_interp")
            assert(v >= math.min(a, b) - 1e-6 && v <= math.max(a, b) + 1e-6,
              s"interpolated $v outside [$a,$b]")
          case _ => () // edge gap: bfill/ffill, equality checked by oracle
        }
      }
    }
  }

  test("v78 power iteration returns a unit vector with positive eigenvalue") {
    val out = operators.Vectors.qPowerIteration.fn(spark, TestSession.sf).collect()
    assert(out.length == 64)
    val comps = out.map(_.getAs[Double]("comp"))
    val norm = math.sqrt(comps.map(c => c * c).sum)
    // comps are rounded to 6 decimals → norm within 64 * 5e-7 of 1
    assert(math.abs(norm - 1.0) < 1e-4, s"norm $norm")
    val eig = out.map(_.getAs[Double]("eigval")).distinct
    assert(eig.length == 1 && eig.head > 0, s"eigval ${eig.toSeq}")
  }

  test("t86 cross-corpus dedup: kept + removed == docs, totals cover the corpus") {
    val out = operators.Text.qCrossCorpusDedup.fn(spark, TestSession.sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_removed") ==
        r.getAs[Long]("n_docs"))
    }
    val total = out.map(_.getAs[Long]("n_docs")).sum
    val expected = Tables.documents(spark, TestSession.sf)
      .filter(col("source") =!= "src0").count()
    assert(total == expected)
  }

  test("t84 BM25: every returned doc contains a query term, scores positive") {
    val out = operators.Retrieval.qBm25.fn(spark, TestSession.sf)
    assert(out.count() <= 10)
    out.collect().foreach(r => assert(r.getAs[Double]("bm25") > 0))
    val withText = out.join(Tables.documents(spark, TestSession.sf), Seq("doc_id"))
    val noHit = withText.filter(
      !col("text").contains("spark") && !col("text").contains("query") &&
        !col("text").contains("join")).count()
    assert(noHit == 0)
  }

  test("t92 compression ratio separates repetitive from high-entropy text, deterministically") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val rep = "spam ham " * 500                       // highly repetitive
    val rnd = new scala.util.Random(42)
    val high = Array.fill(4000)(('a' + rnd.nextInt(26)).toChar).mkString
    val df = spark.createDataFrame(
      Seq((0L, rep), (1L, high)).map(t => org.apache.spark.sql.Row(t._1, t._2)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    val rows = operators.Typed.compressionRatio(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ratio")).toMap
    assert(rows(0L) < 0.1, s"repetitive text ratio ${rows(0L)} not << 1")
    assert(rows(1L) > 0.5, s"high-entropy ratio ${rows(1L)} unexpectedly low")
    // corpus run: ratios in a sane band and stable across reruns
    val corpus = operators.Typed.compressionRatio(
      Tables.documents(spark, TestSession.sf))
    val a = corpus.collect().map(_.toString).sorted.toSeq
    val b = operators.Typed.compressionRatio(
        Tables.documents(spark, TestSession.sf))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
    corpus.collect().foreach { r =>
      val ratio = r.getAs[Double]("ratio")
      assert(ratio > 0 && ratio <= 1.5, s"ratio $ratio out of band")
    }
  }

  test("v81 IVF-PQ: results respect the coarse cut and recall the within-cell exact top-k") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, TestSession.sf)
    val k = 10
    val got = operators.Vectors.ivfPqTopK(emb, nProbes = 5, k = k, nCells = 2)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("cand_id")))
    assert(got.nonEmpty)
    // exact within-cell ground truth: for each probe, the 2 nearest
    // label-centroids, then exact L2 top-k among members of those cells
    val e = transform(col("embedding"), x => x.cast("double"))
    val vecs = emb.select(col("vec_id"), col("label"), e.as("v")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Double](2).toArray))
    val byLabel = vecs.groupBy(_._2)
    val cents = byLabel.map { case (l, vs) =>
      l -> Array.tabulate(vs.head._3.length)(i => vs.map(_._3(i)).sum / vs.size)
    }
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val probes = vecs.filter(_._1 < 5)
    for ((pid, _, pv) <- probes) {
      val cells = cents.toSeq.sortBy { case (l, c) => (d2(pv, c), l) }
        .take(2).map(_._1).toSet
      val gotCands = got.filter(_._1 == pid).map(_._2).toSet
      // every returned candidate lives in one of the probe's 2 cells
      gotCands.foreach { c =>
        assert(cells.contains(vecs.find(_._1 == c).get._2),
          s"probe $pid: cand $c outside chosen cells $cells")
      }
      val exact = vecs.filter(v => cells.contains(v._2) && v._1 != pid)
        .sortBy(v => (d2(pv, v._3), v._1)).take(k).map(_._1).toSet
      val recall = (gotCands & exact).size.toDouble / k
      assert(recall >= 0.8, s"probe $pid within-cell recall $recall < 0.8")
    }
  }

  test("mergeValidated: 'm:1' passes on a unique dim and fails loudly on dup keys") {
    val nation = Tables.nation(spark, TestSession.sf)
    val customer = Tables.customer(spark, TestSession.sf)
    // m:1 against the genuinely-unique nation key: joins clean
    val ok = operators.Joins.mergeValidated(
      customer.withColumnRenamed("c_nationkey", "n_nationkey"), nation,
      Seq("n_nationkey"), "inner", "m:1")
    assert(ok.count() == customer.count())
    // 1:m with a duplicated "one" side: the job must fail, not fan out
    val dupes = nation.union(nation)
    val ex = intercept[Exception] {
      operators.Joins.mergeValidated(dupes,
        customer.withColumnRenamed("c_nationkey", "n_nationkey"),
        Seq("n_nationkey"), "inner", "1:m").count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("merge validate failed")),
      s"unexpected failure: ${ex.getMessage}")
  }

  test("t119 LSH tuning: more bands is uniformly more sensitive (monotone curve)") {
    // for a fixed 32-hash signature, p(j) = 1-(1-j^r)^b is pointwise
    // non-decreasing in b when b*r is constant — so both the expected
    // detections and the confident count must ascend with bands, and the
    // S-curve midpoints s* must descend (shallower rows fire earlier)
    val rows = operators.Dedup.qLshTuningCurve.fn(spark, TestSession.sf)
      .collect().sortBy(_.getAs[Long]("bands"))
    assert(rows.map(_.getAs[Long]("bands")).toSeq == Seq(4L, 8L, 16L, 32L))
    val exp = rows.map(_.getAs[Double]("expected_detected"))
    assert(exp.zip(exp.tail).forall { case (a, b) => a <= b + 1e-9 },
      s"expected_detected not monotone: ${exp.mkString(",")}")
    val conf = rows.map(_.getAs[Long]("n_confident"))
    assert(conf.zip(conf.tail).forall { case (a, b) => a <= b },
      s"n_confident not monotone: ${conf.mkString(",")}")
    val thr = rows.map(_.getAs[Double]("s_threshold"))
    assert(thr.zip(thr.tail).forall { case (a, b) => a > b },
      s"s* not descending: ${thr.mkString(",")}")
    // every config ranks the same ground-truth pair set
    assert(rows.map(_.getAs[Long]("n_pairs")).distinct.length == 1)
  }

  test("q191 orderedStringAgg: bounded groups pass, over-cap groups fail loudly") {
    val supplier = Tables.supplier(spark, TestSession.sf)
    // nation-bounded groups sit far under the default cap: clean result
    val ok = operators.Aggregates.orderedStringAgg(
      supplier, "s_nationkey", "s_name", "n", "roster")
    assert(ok.count() > 0)
    // a cap below the group size must fail the JOB (in-plan assert_true
    // BEFORE collect_list buffers the group), not truncate or OOM —
    // explicit 3-row group (the sf0.001 supplier fixture has ≤1 per
    // nation, which would never trip a cap)
    val big = spark.createDataFrame(Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (2L, "d"))).toDF("k", "v")
    val ex = intercept[Exception] {
      operators.Aggregates.orderedStringAgg(
        big, "k", "v", "n", "roster", cap = 2L).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m =>
        m != null && m.contains("orderedStringAgg: group exceeds cap")),
      s"unexpected failure: ${ex.getMessage}")
  }

  test("q188 HLL: union of per-day sketches ≈ whole-table sketch, rel_err within bound") {
    val r = operators.Aggregates.hllMergeRaw(spark, sf).head
    val (merged, whole, exact) = (r.getAs[Long]("merged_est"),
      r.getAs[Long]("whole_est"), r.getAs[Long]("exact"))
    // mergeability is estimate-equivalence within the sketch's error
    // band, NOT register equality: DataSketches HLL_4 union routes
    // through an HLL_8 gadget and may legitimately differ from the
    // directly-built sketch past the sparse→dense transition (the
    // round-11 sf0.1 finding — exact equality held only in sparse mode)
    assert(math.abs(merged - whole).toDouble <= math.max(whole * 0.02, 1.0),
      s"union-of-partials $merged vs whole-sketch $whole outside 2%")
    // lgConfigK=12 default → standard error ~1.6%; 5% is a safe bound
    assert(math.abs(merged - exact).toDouble / exact <= 0.05,
      s"estimate $merged vs exact $exact")
    assert(r.getAs[Long]("n_days") > 1, "fixture must span multiple days")
  }

  test("q190 adaptive histogram: 8 increasing in-range centers, heights sum to the row count") {
    val rows = operators.Aggregates.adaptiveHistBins(spark, sf).collect()
    assert(rows.length == 8)
    val centers = rows.map(_.getAs[Double]("center"))
    assert(centers.zip(centers.tail).forall { case (a, b) => a < b },
      s"centers not increasing: ${centers.mkString(",")}")
    val stats = Tables.events(spark, sf)
      .agg(min(col("value")), max(col("value")), count(col("value"))).head
    val (lo, hi, n) = (stats.getDouble(0), stats.getDouble(1), stats.getLong(2))
    centers.foreach(c => assert(c >= lo && c <= hi, s"center $c outside [$lo,$hi]"))
    val total = rows.map(_.getAs[Double]("height")).sum
    assert(math.abs(total - n) < 1e-6, s"heights sum $total != $n rows")
  }

  test("q211 SQL scripting: 4-round trim ledger strictly decreasing in mean and kept count") {
    val rows = SparkEntry.queries("q211_sql_scripting_trim")(spark, TestSession.sf)
      .orderBy(col("iter")).collect()
    assert(rows.length == 4, s"expected 4 ledger rows, got ${rows.length}")
    assert(rows.map(_.getAs[Int]("iter")).toSeq == Seq(0, 1, 2, 3))
    val mus = rows.map(_.getAs[Double]("mu_pennies"))
    val ns = rows.map(_.getAs[Long]("n_kept"))
    // the 1.2x threshold genuinely bites every round on the fixture
    assert(mus.zip(mus.tail).forall { case (a, b) => b < a },
      s"means not strictly decreasing: ${mus.mkString(",")}")
    assert(ns.zip(ns.tail).forall { case (a, b) => b < a },
      s"kept counts not strictly decreasing: ${ns.mkString(",")}")
    assert(ns.head == Tables.lineitem(spark, TestSession.sf).count(),
      "round 0 must cover the whole table")
  }

  test("q212 variant: uniform inferred schema, missing paths NULL, type-miss NULL") {
    val rows = SparkEntry.queries("q212_variant_shred")(spark, TestSession.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_missing") == 0L, "missing path must extract NULL")
      assert(r.getAs[Long]("n_bad") == 0L, "try_variant_get type miss must be NULL")
      assert(r.getAs[String]("vschema") == "OBJECT<k: BIGINT>", r.toString)
      assert(r.getAs[Long]("n_schemas") == 1L, "per-row schemas must be uniform")
      assert(r.getAs[Double]("min_v") <= r.getAs[Double]("max_v"))
    }
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.events(spark, TestSession.sf).count(),
      "groups must partition the corpus")
  }

  test("v92 centroid classifier: diagonal beats chance 3x, cells cover the corpus") {
    val rows = SparkEntry.queries("v92_centroid_classifier")(spark, TestSession.sf)
      .collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.embeddings(spark, TestSession.sf).count(),
      "every vector must be classified exactly once")
    val diag = rows.filter(r => r.getAs[Int]("label") == r.getAs[Int]("predicted"))
      .map(_.getAs[Long]("n")).sum
    // 10 balanced classes -> chance is 10%; the closed-form probe must
    // genuinely learn the label geometry (41% on sf0.01, ~similar here)
    assert(diag.toDouble / total > 0.3,
      s"diagonal ${diag.toDouble / total} not > 3x chance")
    rows.foreach { r =>
      val p = r.getAs[Int]("predicted")
      assert(p >= 0 && p <= 9, s"predicted label $p outside the class set")
    }
  }

  test("q213 recursion reaches exactly the binary-tree closure (root 1 = every key >= 1)") {
    val rows = SparkEntry.queries("q213_recursive_cte_reach")(spark, TestSession.sf)
      .orderBy(col("root")).collect()
    assert(rows.map(_.getAs[Long]("root")).toSeq == Seq(1L, 2L, 3L, 4L))
    val reach = rows.map(r => r.getAs[Long]("root") -> r.getAs[Long]("n_reach")).toMap
    val nOrders = Tables.orders(spark, TestSession.sf).count()
    // dense keys 0..N-1: every key >= 1 has an ancestor chain to 1
    assert(reach(1L) == nOrders - 1,
      s"root 1 must reach all ${nOrders - 1} keys >= 1, got ${reach(1L)}")
    // 2 and 3 are 1's children: their subtrees partition 1's reach minus 1 itself
    assert(reach(2L) + reach(3L) + 1 == reach(1L),
      s"subtrees of 2 and 3 must partition root 1's reach: $reach")
    rows.foreach { r =>
      assert(r.getAs[Int]("max_depth") > 5, "recursion suspiciously shallow")
      assert(r.getAs[Long]("pennies") > 0)
    }
  }

  test("q214 EXECUTE IMMEDIATE ? binding == spark.sql named-parameter binding") {
    // the two injection-safe parameterization surfaces must agree: the
    // SQL-layer session variable bound via USING, and the programmatic
    // args map bound via :named markers
    val viaExec = SparkEntry.queries("q214_execute_immediate")(spark, TestSession.sf)
    val cap = Tables.lineitem(spark, TestSession.sf)
      .agg(max(col("l_quantity")) / 2).head.getDouble(0)
    Tables.lineitem(spark, TestSession.sf)
      .createOrReplaceTempView("graft_ei_lineitem")
    val viaArgs = spark.sql(
      """SELECT l_returnflag, count(*) AS n,
        |       sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS pennies
        |FROM graft_ei_lineitem WHERE l_quantity <= :cap
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      Map("cap" -> cap))
    assert(viaExec.exceptAll(viaArgs).count() == 0 &&
      viaArgs.exceptAll(viaExec).count() == 0,
      "parameter-binding surfaces disagree")
  }

  test("m76 keyframes are exactly the frame_idx % 4 == 0 subset of m74") {
    val kf = operators.Multimodal.qKeyframeSample.fn(spark, TestSession.sf)
      .select(col("doc_id"), col("frame_idx"), col("kf_rank"), col("frame_sha"))
    kf.collect().foreach { r =>
      val idx = r.getAs[Long]("frame_idx")
      assert(idx % 4 == 0 && r.getAs[Long]("kf_rank") * 4 == idx)
    }
    val full = operators.Multimodal.qFrameExplode.fn(spark, TestSession.sf)
      .filter(col("frame_idx") % 4 === 0)
      .select(col("doc_id"), col("frame_idx"), col("frame_sha"))
    // same (doc, idx, sha) set: keyframes are a pure filter of the m74 stream
    assert(kf.select("doc_id", "frame_idx", "frame_sha")
      .exceptAll(full).count() == 0)
    assert(full.exceptAll(
      kf.select("doc_id", "frame_idx", "frame_sha")).count() == 0)
  }
}
