package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-smoke harness: times graft's load-bearing operator entry
  * points, lake DML/maintenance and a few registered queries on
  * SYNTHETIC data 1-2 orders of magnitude past the sf0.1 fixtures
  * (default 20M events / 2M docs vs 600k/2k), so the "would the plan
  * hold at scale" question has measured evidence rather than argument.
  * Deterministic generators (id arithmetic, no RNG), parquet-backed so
  * scans/pushdown are real. Prints one `[smoke]` line per op with rows
  * processed and wall seconds. Not part of the driver contract; run:
  *
  *   SPARK_GRAFT_SMOKE_ROWS=20000000 sbt "runMain graft.ScaleSmoke"
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

    // ---- synthetic events: skewed event_type (80% 'click'), 100k users
    spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000L).as("ts"),
      pmod(xxhash64(col("id")), lit(100000L)).as("user_id"),
      when(col("id") % 5 === 0, concat(lit("t"), col("id") % 4)).otherwise(lit("click"))
        .as("event_type"),
      (col("id") % 1000 / 7.0).as("value"))
      .write.mode("overwrite").parquet(s"$base/events")
    val ev = spark.read.parquet(s"$base/events")
    ev.count() // warm FS cache / JIT before measuring

    // ---- synthetic docs: ~10% exact-dup groups, 12-token texts.
    // Written under the fixture's table name so Tables.documents()
    // resolves this dir and REGISTERED queries can run on it directly
    // (the round-12 t118 smoke below).
    spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>  // id div 10: 10-doc dup groups
        concat(lit(s"w$i"), pmod(xxhash64((col("id") / 10).cast("long") + i),
          lit(5000L)))): _*)
        .as("text"))
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    docs.count()
    // ---- synthetic 16-d embeddings, vec_id ≡ doc_id (the t118/v90
    // smokes; dot/norm are conf-free array folds, so a narrow dim keeps
    // generation cheap while candidate volume — the actual scale risk —
    // stays at nDocs)
    // label: 10 classes with a per-class bias on component 0 so the v92
    // probe has signal to learn (pure-hash components would make every
    // class mean ~0 and the argmax a tie-break artifact)
    spark.range(nDocs).select(col("id").as("vec_id"),
      pmod(xxhash64(col("id") + 7), lit(10L)).cast("int").as("label"))
      .select(col("vec_id"), col("label"),
        transform(sequence(lit(0), lit(15)), i =>
          ((pmod(xxhash64(col("vec_id") * 16 + i), lit(1000L)).cast("double")
            / 500.0 - 1.0)
            + when(i === 0, col("label").cast("double") / 5.0)
              .otherwise(lit(0.0))).cast("float")).as("embedding"))
      .write.mode("overwrite").parquet(s"$base/embeddings.parquet")
    spark.read.parquet(s"$base/embeddings.parquet").count()

    time("salted skew agg (q75 shape)", nEvents) {
      operators.Scale.saltedCountSum(ev, col("event_type"), col("value")).count()
    }
    time("global row_number (q22 shape)", nEvents) {
      operators.Scale.globalRowNumber(
        ev.select(col("value"), col("event_id")), floor(col("value") / 10),
        Seq(col("value"), col("event_id")), "rn").count()
    }
    time("exact quantiles (q90 shape)", nEvents) {
      operators.Aggregates.sortedQuantiles(ev, col("value"), v => floor(v / 10),
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75)).count()
    }
    time("native merge as-of (q95)", nEvents) {
      val purchases = ev.filter(col("event_type") === "t1")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      plans.AsOf.lastTsAtOrBefore(
        purchases, clicks, "user_id", "ts", "ts", "last_click_ts").count()
    }
    time("minhash+LSH bands (t58 shape)", nDocs) {
      // signatures + band buckets + colliding-pair count (score step
      // omitted: pair volume is the scale risk, scoring is per-pair O(1))
      val shx = operators.Text.shingled(docs.filter(col("doc_id") % 20 < 2))
      val hashes = (0 until 8).map(i =>
        min(pmod(col("h") * (2654435761L + i * 40503L) + i, lit(2147483647L)))
          .as(s"h$i"))
      val sigs = shx.withColumn("h", pmod(xxhash64(col("s")), lit(2147483647L)))
        .groupBy(col("doc_id"))
        .agg(hashes.head, hashes.tail: _*)
      val banded = sigs.select(col("doc_id"),
        posexplode(array((0 until 4).map(b =>
          xxhash64(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))): _*))
          .as(Seq("band", "bh")))
      banded.as("x").join(banded.as("y"), Seq("band", "bh"))
        .filter(col("x.doc_id") < col("y.doc_id")).count()
    }
    time("connected components (t63)", nDocs) {
      val pairs = docs.filter(col("doc_id") % 10 < 2) // dup-heavy slice
        .groupBy(col("text")).agg(min(col("doc_id")).as("da"), max(col("doc_id")).as("db"))
        .filter(col("da") < col("db"))
      operators.Dedup.connectedComponents(pairs.select("da", "db")).count()
    }
    time("star-contraction CC (t71)", nDocs) {
      val pairs = docs.filter(col("doc_id") % 10 < 2)
        .groupBy(col("text")).agg(min(col("doc_id")).as("da"), max(col("doc_id")).as("db"))
        .filter(col("da") < col("db"))
      operators.Dedup.connectedComponentsStar(pairs.select("da", "db")).count()
    }
    time("context packing (t67 shape)", nDocs) {
      // banded global cumsum + bucket offsets over every doc
      import org.apache.spark.sql.expressions.Window
      val d = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
        .withColumn("_b", (col("doc_id") / 100000).cast("long"))
      val w = Window.partitionBy(col("_b")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = d.withColumn("_local", sum(col("n")).over(w))
      val counts = d.groupBy(col("_b").as("_bc")).agg(sum(col("n")).as("_bn"))
      val offs = operators.Scale.bucketOffsets(counts, "_bc", "_bn", "_off")
      local.join(broadcast(offs), col("_b") === col("_bc"))
        .withColumn("wid", expr("(_off + _local - n) div 1024"))
        .groupBy(col("wid")).agg(count(lit(1))).count()
    }
    time("CMS counter build (t72 shape)", nDocs) {
      // portable token hash + 4-row bucket counters over the full corpus
      val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
      functions.GraftFunctions.ensureRegistered(spark)
      val hashed = toks.withColumn("th",
        call_function("graft_polyhash", col("tok"), lit(131L), lit(1000000007L)))
      hashed.select(posexplode(array((0 until 4).map(j =>
          (col("th") * (1664525L + j * 98765L) + j) % 1000000007L % 512): _*))
          .as(Seq("j", "bkt")))
        .groupBy(col("j"), col("bkt")).agg(count(lit(1))).count()
    }
    time("bloom dedup gate (t73 shape)", nDocs) {
      val existing = docs.filter(col("doc_id") % 2 === 0)
      val incoming = docs.filter(col("doc_id") % 2 === 1)
      operators.Curation.bloomIncrementalDedup(existing, incoming)
        .groupBy(col("maybe_dup")).agg(count(lit(1))).count()
    }
    time("boilerplate ngrams (t75)", nDocs) {
      // the REGISTERED t75 function, unmodified (r14: it now carries the
      // SHUFFLE_HASH frequency join — the prior smoke-local SMJ copy
      // spent ~70 s sorting the 20M-row shingle stream twice)
      SparkEntry.queries("t75_boilerplate_ngrams")(spark, base).count()
    }
    operators.Scale.releasePins() // t75 pins its shingle frame; untimed cleanup
    val nVec = nDocs / 10
    time("kmeans lloyd (v68 shape)", nVec) {
      // synthetic 16-d embeddings from id arithmetic; 4 centroids, 5
      // rounds max — measures the E-step crossJoin + M-step posexplode
      // mean at 100× the fixture vector count
      val emb = spark.range(nVec).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)), i =>
          (pmod(xxhash64(col("id") * 16 + i), lit(1000L)).cast("double")
            / 500.0 - 1.0).cast("float")).as("embedding"))
      val (asg, _) = operators.Vectors.kmeansLloyd(emb, Seq(0L, 1L, 2L, 3L), 5)
      asg.count()
    }
    time("semantic dedup pairs (v69)", nVec) {
      // per-cluster pair scan bounded by cell size: 2000 clusters of
      // ~nVec/2000 members → Σ|c|² pairs scored, never corpus O(n²)
      val emb = spark.range(nVec).select(col("id").as("vec_id"),
        pmod(col("id"), lit(2000L)).as("label"),
        transform(sequence(lit(0), lit(15)), i =>
          (pmod(xxhash64(col("id") * 16 + i), lit(1000L)).cast("double")
            / 500.0 - 1.0).cast("float")).as("embedding"))
        .withColumn("nrm",
          sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
      val a = emb.select(col("label"), col("vec_id").as("a_id"),
        col("embedding").as("ae"), col("nrm").as("an"))
      val b = emb.select(col("label"), col("vec_id").as("b_id"),
        col("embedding").as("be"), col("nrm").as("bn"))
      a.join(b, Seq("label")).filter(col("b_id") < col("a_id"))
        .withColumn("sim",
          call_function("graft_dot", col("ae"), col("be")) / (col("an") * col("bn")))
        .groupBy(col("label"), col("a_id")).agg(max(col("sim")).as("mx"))
        .filter(col("mx") >= 0.9).count()
    }
    time("bounded top-k agg (q121)", nEvents) {
      // map-side bounded-heap partial agg: shuffle carries ≤3 rows per
      // (user × task) no matter the group size
      import org.apache.spark.sql.Encoders
      ev.select(col("user_id"), col("event_id").as("o_orderkey"),
          col("value").as("o_totalprice"))
        .groupBy(col("user_id"))
        .agg(udaf(operators.Typed.Top3Orders,
          Encoders.product[operators.Typed.TopEntry])(
          col("o_orderkey"), col("o_totalprice")).as("top"))
        .count()
    }
    time("segment dedup rebuild (t82)", nDocs) {
      // ~2 8-token segments per 12-token doc; the dup groups collapse to
      // one kept occurrence — one segment-keyed window + one doc groupBy
      operators.Text.segmentDedupRebuild(docs, 8).count()
    }
    val nVec64 = nVec / 4
    // 64-d synthetic embeddings for the full-width vector ops (PQ needs
    // the 8×8 subspace layout; int8 quantization measures the map stage)
    val emb64 = spark.range(nVec64).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        (pmod(xxhash64(col("id") * 64 + i), lit(1000L)).cast("double")
          / 500.0 - 1.0).cast("float")).as("embedding"))
    time("PQ encode+ADC query (v76)", nVec64) {
      // codebook training (2 rounds) + codes-only ADC scan for 10 probes
      operators.Vectors.pqAdcTopK(emb64, nProbes = 10, k = 10, rounds = 2)
        .count()
    }
    // the round-6 serving split: train ONCE outside the timer (the
    // pqIndex layout), then measure the ADC scan + re-rank alone — the
    // per-query cost a 100 TB store actually pays
    locally {
      val (codes0, cent0) = operators.Vectors.pqEncode(emb64, rounds = 2)
      val codes = codes0.cache(); codes.count()
      val cent = cent0.cache(); cent.count()
      time("PQ ADC serve-only (v76 split)", nVec64) {
        operators.Vectors.pqAdcTopKFrom(emb64, codes, cent, nProbes = 10, k = 10)
          .count()
      }
      // round-7 ingest path: encode-only assignment of a 10% "new batch"
      // against the FIXED codebook — broadcast argmin, no Lloyd rounds,
      // the existing corpus is never rescanned
      time("PQ append encode-only (v83)", nVec64 / 10) {
        val fresh = spark.range(nVec64 / 10).select(
          (col("id") + lit(10000000L)).as("vec_id"),
          transform(sequence(lit(0), lit(63)), i =>
            (pmod(xxhash64(col("id") * 64 + i + 7), lit(1000L)).cast("double")
              / 500.0 - 1.0).cast("float")).as("embedding"))
        val cbSq = cent.withColumn("csq",
          graft.functions.VectorOps.dot(col("cv"), col("cv")))
        val sv = fresh.select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("e"))
          .select(col("vec_id"), posexplode(transform(sequence(lit(0), lit(15)),
            i => slice(col("e"), i * 4 + 1, lit(4)))).as(Seq("sub", "sv")))
          .withColumn("ssq", graft.functions.VectorOps.dot(col("sv"), col("sv")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id"), col("sub")).orderBy(col("d2"), col("cid"))
        sv.join(broadcast(cbSq), Seq("sub"))
          .withColumn("d2", col("ssq") + col("csq")
            - lit(2.0) * graft.functions.VectorOps.dot(col("sv"), col("cv")))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .count()
      }
      codes.unpersist(); cent.unpersist()
    }
    time("categorize dictionary (q135)", nDocs) {
      // multi-column dictionary build over the corpus + broadcast-join
      // application to a disjoint slice: the dict is |vocab|-bounded
      val cats = docs.select(col("doc_id"),
        concat(lit("s"), pmod(xxhash64(col("doc_id")), lit(1000L))).as("src"),
        concat(lit("l"), pmod(col("doc_id"), lit(50L))).as("lang"))
      val dict = operators.Reshape.buildDictionary(cats, Seq("src", "lang"))
      operators.Reshape.applyDictionary(
        cats.filter(col("doc_id") % 7 === 0), dict, Seq("src", "lang"))
        .groupBy(col("lang_code")).agg(count(lit(1))).count()
    }
    time("rfm quintile grid (q163 shape)", nEvents) {
      // the ROUND-7 production shape: cut base + one multi-metric
      // quantile pass + three independent globalRowNumber/ntile branches
      // joined on user_id — 100k-user cardinality, quantile bands ≤64
      val rfm = operators.Scale.cut(
        ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"))
          .agg(max(col("ts").cast("long")).as("r_s"),
            count(lit(1)).as("f"), sum(col("value")).as("m")),
        eager = true)
      val ms = Seq(col("r_s"), col("f"), col("m"))
      val edges = operators.Scale.quantileEdges(rfm, ms, 64)
      val n1 = rfm.agg(count(lit(1)).as("_n"))
      def quintile(metric: org.apache.spark.sql.Column,
          es: Array[Double], out: String) =
        operators.Scale.globalRowNumber(rfm,
            operators.Scale.bucketsFromEdges(metric, es),
            Seq(metric, col("user_id")), "_rn")
          .join(broadcast(n1), lit(true))
          .select(col("user_id"),
            operators.Scale.ntileFromRowNumber(col("_rn"), col("_n"), 5).as(out))
      quintile(col("r_s"), edges(0), "r_q")
        .join(quintile(col("f"), edges(1), "f_q"), "user_id")
        .join(quintile(col("m"), edges(2), "m_q"), "user_id")
        .groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1))).count()
    }
    time("salted as-of hot keys (q171)", nEvents) {
      // 4 keys over nEvents rows (25% weight each) — the workload a
      // key-clustered as-of serializes; banded form spreads each key
      // over ≤32 time-band window partitions
      val lhs = ev.filter(col("event_type") =!= "click")
        .select(col("event_id"), (col("user_id") % 4).as("hk"), col("ts"))
      val rhs = ev.filter(col("event_type") === "click")
        .select((col("user_id") % 4).as("hk"), col("ts"))
      graft.plans.AsOf.saltedLastTsAtOrBefore(
        lhs, rhs, "hk", "ts", "ts", "m", bands = 32).count()
    }
    time("token pagerank 2 iter (t97 shape)", nDocs) {
      // ~60k-node / 20M-bigram token digraph: each iteration is one
      // edges⋈ranks shuffle join + a target-keyed aggregate
      val d2 = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      val bg = d2.select(explode(transform(sequence(lit(0), size(col("ts")) - 2),
          i => struct(element_at(col("ts"), i + 1).as("w1"),
            element_at(col("ts"), i + 2).as("w2")))).as("b"))
        .select(col("b.w1"), col("b.w2"))
      // round-7 production shape: the edge aggregate and node table are
      // cut once — the unrolled plan references them ~10× otherwise
      val e = operators.Scale.cut(bg.groupBy(col("w1"), col("w2"))
        .agg((count(lit(1)) * lit(1.0)).as("w")), eager = true)
      val nodes = operators.Scale.cut(
        e.select(col("w1").as("tok")).union(e.select(col("w2"))).distinct(),
        eager = true)
      val nTot = nodes.agg((count(lit(1)) * lit(1.0)).as("nn"))
      val outw = e.groupBy(col("w1")).agg(sum(col("w")).as("ow"))
      val eo = e.join(outw, "w1")
      def step(prev: org.apache.spark.sql.DataFrame) = {
        val m = eo.join(prev.withColumnRenamed("tok", "rtok"),
            col("w1") === col("rtok"))
          .groupBy(col("w2")).agg(sum(col("r") * col("w") / col("ow")).as("m"))
        nodes.join(m, col("tok") === col("w2"), "left")
          .crossJoin(broadcast(nTot))
          .select(col("tok"), (lit(0.15) / col("nn")
            + lit(0.85) * coalesce(col("m"), lit(0.0))).as("r"))
      }
      val r0 = nodes.crossJoin(broadcast(nTot))
        .select(col("tok"), (lit(1.0) / col("nn")).as("r"))
      step(step(r0)).count()
    }
    time("weighted median bands (q174)", nEvents) {
      // ROUND-8 production shape: quantile-band the metric, find each
      // group's THRESHOLD band on the groups×bands table (≤ 5×64 rows),
      // window only that band's rows (≈ nEvents/64) — no full-table
      // sort, no checkpoint; binary-search graft_bucket banding
      import org.apache.spark.sql.expressions.Window
      val li = ev.select(col("event_type").as("k"), col("value").as("x"),
        (col("event_id") % 50 + 1).cast("double").as("wt"), col("event_id"))
      val edges = operators.Scale.quantileEdges(li, Seq(col("x")), 64).head
      val withB = li.withColumn("_b",
        operators.Scale.bucketsFromEdges(col("x"), edges))
      val wOff = Window.partitionBy(col("k")).orderBy(col("_b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = withB.groupBy(col("k"), col("_b")).agg(sum(col("wt")).as("_bw"))
        .withColumn("_off", coalesce(sum(col("_bw")).over(wOff), lit(0.0)))
        .withColumn("tot", sum(col("_bw")).over(Window.partitionBy(col("k"))))
      val thr = cum.filter(col("_off") + col("_bw") >= col("tot") / 2)
        .groupBy(col("k"))
        .agg(min_by(struct(col("_b"), col("_off"), col("tot")), col("_b")).as("s"))
        .select(col("k").as("_tk"), col("s._b").as("_tb"),
          col("s._off").as("_toff"), col("s.tot").as("tot"))
      val wLoc = Window.partitionBy(col("k"))
        .orderBy(col("x"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withB.join(broadcast(thr),
          col("k") === col("_tk") && col("_b") === col("_tb"))
        .withColumn("_cwl", sum(col("wt")).over(wLoc))
        .filter(col("_toff") + col("_cwl") >= col("tot") / 2)
        .groupBy(col("k")).agg(min(col("x"))).count()
    }
    // ---- round-12 serving-lifecycle smokes (VERDICT r11 task 6) ----
    time("RRF hybrid fusion (t118)", nDocs) {
      // the REGISTERED t118 function, unmodified, over this dir's 2M
      // synthetic documents + embeddings (vec_id ≡ doc_id): lexical
      // side postings-bounded by the 10 probes' terms, semantic side a
      // broadcast-probe codegen-dot scan, rank-only fusion
      SparkEntry.queries("t118_rrf_fusion")(spark, base).count()
    }
    operators.Scale.releasePins() // t118 pins its token explode; untimed cleanup
    time("centroid classifier train+infer (v92)", nDocs) {
      // the REGISTERED v92 function, unmodified: training is one
      // partial-aggregating pass over nDocs×16 posexploded integer-micro
      // components, the 10-row model re-enters as a broadcast, inference
      // is a single corpus scan with the codegen-dot argmax
      SparkEntry.queries("v92_centroid_classifier")(spark, base).count()
    }
    // ---- round-14 decorrelation + recursion smokes (VERDICT r12 task 1,
    // carried through r13): the r12 subquery family at 20M rows, and the
    // recursive CTE on a deeper domain ----
    ev.createOrReplaceTempView("graft_smoke_ev")
    time("correlated scalar avg (q203 shape)", nEvents) {
      // the q203 decorrelation at 20M rows / 100k correlation keys: the
      // correlated avg must become ONE hash aggregate keyed by user_id
      // joined back — two scans + one join, never a per-row rescan
      // (20M rescans of a 20M table would be unbounded)
      spark.sql(
        """SELECT event_type, count(*) AS n_small
          |FROM graft_smoke_ev e
          |WHERE value < (SELECT 0.8 * avg(value) FROM graft_smoke_ev e2
          |               WHERE e2.user_id = e.user_id)
          |GROUP BY event_type""".stripMargin).count()
    }
    time("select-list scalar count (q206 shape)", nEvents) {
      // the q206 COUNT-bug rewrite at 20M rows: LEFT OUTER against the
      // grouped side + empty-group→0 repair; the distinct outer side is
      // itself one aggregate, so the whole plan is two aggregates + one
      // join — no per-user residue
      spark.sql(
        """SELECT u.user_id,
          |       (SELECT count(*) FROM graft_smoke_ev e
          |        WHERE e.user_id = u.user_id AND e.value > 100) AS n_big
          |FROM (SELECT DISTINCT user_id FROM graft_smoke_ev) u""".stripMargin)
        .count()
    }
    locally {
      // q213's engine-owned recursion on a domain 10× the sf0.1 fixture:
      // the binary tree over 2M keys is ~21 levels (sf0.1: ~17) — wall
      // scales with LEVELS (one broadcast frontier-join job each, the
      // documented planning-floor cost), not with row volume
      spark.range(1, 2000001).toDF("k")
        .write.mode("overwrite").parquet(s"$base/keys")
      spark.read.parquet(s"$base/keys")
        .createOrReplaceTempView("graft_smoke_keys")
      // the reach set is the full 2M-key domain, past the engine's
      // SECOND loud recursion cap's 1M default (cteRecursionRowLimit);
      // the harness session sizes it for the certified workloads — at
      // production scale this cap is the row-volume twin of the level
      // limit and wants the same deliberate sizing
      time("recursive CTE reach (q213 shape, ~21 levels)", 2000000L) {
        spark.sql(
          """WITH RECURSIVE reach(k) AS (
            |  SELECT CAST(1 AS BIGINT) AS k
            |  UNION ALL
            |  SELECT t.k FROM (
            |    SELECT k * 2 AS k FROM reach
            |    UNION ALL SELECT k * 2 + 1 AS k FROM reach) c
            |  JOIN graft_smoke_keys t ON t.k = c.k)
            |SELECT count(*) AS n FROM reach""".stripMargin).head().getLong(0)
      }
      // the loud cap: a 100-level chain against a 40-level limit must
      // THROW before runaway, not grind through 100 sequential jobs
      val prevCap = spark.conf.getOption("spark.sql.cteRecursionLevelLimit")
      spark.conf.set("spark.sql.cteRecursionLevelLimit", "40")
      try {
        spark.range(0, 100).toDF("n")
          .createOrReplaceTempView("graft_smoke_chain")
        val failedLoudly =
          try {
            spark.sql(
              """WITH RECURSIVE walk(n) AS (
                |  SELECT CAST(0 AS BIGINT) AS n
                |  UNION ALL
                |  SELECT w.n + 1 FROM walk w
                |  JOIN graft_smoke_chain c ON c.n = w.n + 1)
                |SELECT count(*) FROM walk""".stripMargin).head()
            false
          } catch { case _: Exception => true }
        require(failedLoudly, "recursion level cap did not fire")
        println("[smoke] recursion cap (40) fires loudly on a 100-level " +
          "chain: ok")
      } finally prevCap match {
        case Some(v) => spark.conf.set("spark.sql.cteRecursionLevelLimit", v)
        case None => spark.conf.unset("spark.sql.cteRecursionLevelLimit")
      }
    }
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
    locally {
      // v90 segment compaction at nDocs vectors: train-once index (16-d
      // geometry → 4 subspaces, nDocs×4 code rows), two committed 5%
      // append segments, then ONE timed compaction — the honest cost is
      // reading base+appends and writing the single compacted segment
      // behind the atomic pointer swap
      val pqDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_pq").toString
      spark.conf.set(operators.Vectors.PqIndexDirKey, pqDir)
      val g = Some(graft.functions.VecGeom(dim = 16))
      val embAll = spark.read.parquet(s"$base/embeddings.parquet")
      val train = embAll.filter(col("vec_id") % 20 =!= 0)
      operators.Vectors.pqIndex(train, "smoke", rounds = 1, geom = g)
      operators.Vectors.pqIndexAppend(
        embAll.filter(col("vec_id") % 40 === 0), "smoke", "sa", geom = g)
      operators.Vectors.pqIndexAppend(
        embAll.filter(col("vec_id") % 40 === 20), "smoke", "sb", geom = g)
      time("PQ index compact (v90)", nDocs * 4) { // rows = code rows
        operators.Vectors.pqIndexCompact(spark, "smoke")
      }
      spark.conf.unset(operators.Vectors.PqIndexDirKey)
      Harness.deleteTree(java.nio.file.Paths.get(pqDir))
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
      // copy-on-write DELETE touching one file: runtime group filtering
      // must bound the rewrite to ~1 file's rows, not 20M
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
