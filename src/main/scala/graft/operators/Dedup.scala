package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Probabilistic near-dup detection (SURVEY.md §2.3): MinHash + LSH
  * banding and SimHash. Engine-specific hashing (xxhash64) → no SQL
  * oracle; ScalaTest checks recall against the exact Jaccard pairs of
  * t54 (Text.qNgramJaccard).
  *
  * Scale story: these are the sub-O(n²) paths. MinHash signatures are one
  * groupBy over exploded shingles; LSH band-bucketing means only docs
  * sharing a band bucket are ever paired — at 100 TB the shuffle is
  * per-band-bucket, never all-pairs. SimHash candidates come from 16-bit
  * chunk equality (pigeonhole: hamming<=3 guarantees a shared chunk).
  *
  * Tier C north-star extension (repo BASELINE.json; SURVEY §2.3) — beyond the reference surface.
  */
object Dedup {

  // 32 hashes in 4 bands of 8: detection ~0.99 at jaccard 0.95 while a
  // band passes only j^8 of random pairs — this corpus has background
  // jaccard ~0.3 (tiny vocabulary), so shallow bands (4 rows) leak
  // ~0.8% of ALL pairs into the candidate join; 8 rows leak ~7e-5.
  val NumHashes = 32
  val NumBands = 4
  val RowsPerBand: Int = NumHashes / NumBands

  /** Mixing constants in [1, 2^31) (seeded, fixed): each component is
    * min((a_i * h31 + b_i) mod p) with h31 = xxhash64(shingle) mod p —
    * one string hash per shingle, then integer-only work that cannot
    * overflow a signed 64-bit under ANSI mode (a*h < 2^62), all inside
    * whole-stage codegen. */
  private val MersennePrime31 = 2147483647L // 2^31 - 1
  private val mixers: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(7)
    Array.fill(NumHashes)(
      (1L + rnd.nextInt(Int.MaxValue - 1), 1L + rnd.nextInt(Int.MaxValue - 1)))
  }

  /** MinHash signature columns h0..h31 via universal hashing over one
    * base xxhash64 per shingle. */
  private def signatures(shx: org.apache.spark.sql.DataFrame) = {
    val based = shx.withColumn("h", pmod(xxhash64(col("s")), lit(MersennePrime31)))
    based.groupBy(col("doc_id")).agg(
      min(pmod(col("h") * mixers(0)._1 + mixers(0)._2, lit(MersennePrime31))).as("h0"),
      (1 until NumHashes).map(i =>
        min(pmod(col("h") * mixers(i)._1 + mixers(i)._2, lit(MersennePrime31)))
          .as(s"h$i")): _*)
  }

  /** MinHash + LSH near-dup candidate pairs with estimated Jaccard
    * (fraction of agreeing signature components) >= 0.5. Raw pair frame
    * — GraftSpec's recall/precision tests drive this; the registered
    * t58 projects its invariant contract. */
  private[graft] def minHashLshRaw(s: SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val sigs = signatures(Text.shingled(Tables.documents(s, d)))
      .withColumn("sig", array((0 until NumHashes).map(i => col(s"h$i")): _*))
    // banded feeds BOTH self-join sides: without a persist the whole
    // shingle→signature→band pipeline (the expensive explode + 32-way
    // min agg) runs twice. Doc-level rows (docs × bands), spill-backed.
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until NumBands).map { b =>
        xxhash64((b * RowsPerBand until (b + 1) * RowsPerBand)
          .map(i => col(s"h$i")): _*)
      }: _*)).as(Seq("band", "bh")))
      .transform(Scale.pin(_))
    val a = banded.select(col("doc_id").as("da"), col("sig").as("siga"),
      col("band"), col("bh"))
    val b = banded.select(col("doc_id").as("db"), col("sig").as("sigb"),
      col("band"), col("bh"))
    a.join(b, Seq("band", "bh")).filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        (aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (acc, x) => acc + x)
          / NumHashes.toDouble).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("da"), col("db"))
  }

  /** Registered t58 (r10, extending the r9 invariant-oracle pattern):
    * xxhash64 makes the candidate pairs engine-specific, but the LSH
    * RECALL FLOOR on exact duplicates is a theorem DuckDB can anchor —
    * identical texts have identical shingle sets, hence identical
    * signatures, hence collide in EVERY band with est_jaccard exactly
    * 1.0 ≥ 0.5. The oracle replays the exact-dup pair count; the flags
    * pin that every such pair was emitted, estimates sit in [0,1], and
    * pairs are canonically ordered. Recall ≥ 0.85 vs exact Jaccard +
    * zero-false-positive stay in GraftSpec. */
  val qMinHashLsh: Q = Q(
    "t58_minhash_lsh_pairs",
    """SELECT CAST((SELECT count(*) FROM documents a JOIN documents b
      |         ON a.text = b.text AND a.doc_id < b.doc_id) AS BIGINT)
      |         AS n_exact_dup_pairs,
      |       true AS exact_dups_found, true AS est_in_unit,
      |       true AS pairs_ordered""".stripMargin
  ) { (s, d) =>
    // pinned, not cut: static lineage, two consumers (optimization r19)
    val pairs = Scale.pin(minHashLshRaw(s, d))
    val docs = Tables.documents(s, d)
    val exactPairs = docs.select(col("doc_id").as("da"), col("text"))
      .join(docs.select(col("doc_id").as("db"), col("text")), Seq("text"))
      .filter(col("da") < col("db")).select(col("da"), col("db"))
    val found = exactPairs
      .join(pairs.select(col("da"), col("db")).withColumn("f", lit(true)),
        Seq("da", "db"), "left")
      .agg(count(lit(1)).as("n_exact_dup_pairs"),
        coalesce(min(coalesce(col("f"), lit(false))), lit(true))
          .as("exact_dups_found"))
    val flags = pairs.agg(
      coalesce(min(col("est_jaccard") >= 0.0 && col("est_jaccard") <= 1.0),
        lit(true)).as("est_in_unit"),
      coalesce(min(col("da") < col("db")), lit(true)).as("pairs_ordered"))
    found.crossJoin(broadcast(flags))
  }

  /** SimHash: 64-bit locality-sensitive fingerprint folded from token
    * hashes — implemented as a custom typed Aggregator (the SURVEY §2.2
    * `dd.Aggregation` analog: per-partition partial buffers merged
    * exactly like dask's chunk/agg/finalize). */
  object SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(b: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) { b(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
      b
    }
    override def merge(x: Array[Int], y: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(b: Array[Int]): Long = {
      var v = 0L; var i = 0
      while (i < 64) { if (b(i) > 0) v |= (1L << i); i += 1 }
      v
    }
    override def bufferEncoder: Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** simhash as a Column aggregate over 64-bit token hashes. */
  def simhash(tokenHash: Column): Column =
    udaf(SimHashAgg, Encoders.scalaLong)(tokenHash)

  /** Per-doc 64-bit SimHash fingerprints (raw frame — t60 and the
    * GraftSpec hamming test drive this). */
  private[graft] def simHashRaw(s: SparkSession, d: String): DataFrame =
    Scale.spreadByKey(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isNotNull) // outer+not-null: see Text.shingled
      .groupBy(col("doc_id"))
      .agg(simhash(xxhash64(col("tok"))).as("simhash"))
      .orderBy(col("doc_id"))

  /** Registered t59 (r10 invariant-oracle conversion): the fingerprint
    * BITS are engine-specific (xxhash64), but the determinism contract
    * isn't — one fingerprint per doc (n_docs exact) and identical texts
    * MUST collapse to identical fingerprints (same token multiset ⇒
    * same per-bit vote sums). n_distinct_texts replays exactly in
    * DuckDB; the near-dup hamming behavior stays in GraftSpec. */
  val qSimHash: Q = Q(
    "t59_simhash",
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
      |       true AS dup_texts_same_simhash
      |FROM documents""".stripMargin
  ) { (s, d) =>
    simHashRaw(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("text")),
        Seq("doc_id"))
      .groupBy(col("text"))
      .agg(count(lit(1)).as("nd"), count_distinct(col("simhash")).as("nsh"))
      .agg(sum(col("nd")).as("n_docs"),
        count(lit(1)).as("n_distinct_texts"),
        min(col("nsh") === 1).as("dup_texts_same_simhash"))
  }

  /** SimHash near-dup pairs: candidates share one of four 16-bit chunks
    * (finds every pair with hamming<=3; recall decays above), kept when
    * hamming <= 8. */
  private[graft] def simHashPairsRaw(s: SparkSession, d: String): DataFrame = {
    val sims = simHashRaw(s, d)
    // chunked feeds both self-join sides — persist, or the simhash
    // aggregation (explode + 64-bit vote UDAF) runs twice.
    val chunked = sims.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), 16 * c).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk", "cv")))
      .transform(Scale.pin(_))
    val a = chunked.select(col("doc_id").as("da"), col("simhash").as("sa"),
      col("chunk"), col("cv"))
    val b = chunked.select(col("doc_id").as("db"), col("simhash").as("sb"),
      col("chunk"), col("cv"))
    a.join(b, Seq("chunk", "cv")).filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy(col("da"), col("db"))
  }

  /** Registered t60 (r10 invariant-oracle conversion, t58's pattern):
    * identical texts have identical simhash, so every exact-dup pair
    * shares all four chunks and surfaces at hamming exactly 0 — the
    * recall floor DuckDB anchors via the exact-dup pair count. Flags
    * additionally pin the emitted hamming range (0..8 by the filter,
    * checked against the data) and canonical ordering. */
  val qSimHashPairs: Q = Q(
    "t60_simhash_pairs",
    """SELECT CAST((SELECT count(*) FROM documents a JOIN documents b
      |         ON a.text = b.text AND a.doc_id < b.doc_id) AS BIGINT)
      |         AS n_exact_dup_pairs,
      |       true AS exact_dups_at_h0, true AS hamming_in_range,
      |       true AS pairs_ordered""".stripMargin
  ) { (s, d) =>
    // pinned, not cut: static lineage, two consumers (optimization r19)
    val pairs = Scale.pin(simHashPairsRaw(s, d))
    val docs = Tables.documents(s, d)
    val exactPairs = docs.select(col("doc_id").as("da"), col("text"))
      .join(docs.select(col("doc_id").as("db"), col("text")), Seq("text"))
      .filter(col("da") < col("db")).select(col("da"), col("db"))
    val found = exactPairs
      .join(pairs.withColumn("f", col("hamming") === 0)
          .select(col("da"), col("db"), col("f")),
        Seq("da", "db"), "left")
      .agg(count(lit(1)).as("n_exact_dup_pairs"),
        coalesce(min(coalesce(col("f"), lit(false))), lit(true))
          .as("exact_dups_at_h0"))
    val flags = pairs.agg(
      coalesce(min(col("hamming") >= 0 && col("hamming") <= 8), lit(true))
        .as("hamming_in_range"),
      coalesce(min(col("da") < col("db")), lit(true)).as("pairs_ordered"))
    found.crossJoin(broadcast(flags))
  }

  /** Every edge `(a, b)` of `e` in both directions, as rows `(x, y)`:
    * one generate over the two-element array of direction structs, so
    * `e` is read once where a union of two projections reads it twice. */
  private[graft] def undirected(e: DataFrame, a: String, b: String,
      x: String, y: String): DataFrame =
    e.select(inline(array(struct(col(a).as(x), col(b).as(y)),
      struct(col(b).as(x), col(a).as(y)))))

  /** The exact-Jaccard (>= 1/2) near-dup pairs of t54 as an edge list
    * `(da, db)`: the input of t63's and t71's component resolution. */
  private[graft] def nearDupEdges(s: SparkSession, d: String): DataFrame =
    Text.jaccardPairs(Tables.documents(s, d).filter(col("doc_id") < 1000), 1, 2)
      .select(col("da"), col("db"))

  /** Connected components over an undirected edge list `(da, db)` by
    * iterative min-label propagation: every node starts labeled with its
    * own id; each round labels flow across edges and every node keeps the
    * minimum seen. Each round is one shuffle of |E| label messages plus a
    * groupBy-min — the standard distributed shape (what GraphX/GraphFrames
    * CC does under the hood). [[Scale.cut]] breaks lineage per round so
    * the plan stays O(1) deep instead of growing by one join per
    * iteration — `localCheckpoint` by default, a RELIABLE checkpoint
    * dir when `spark.graft.checkpoint.dir` is set (the cluster
    * fault-tolerance knob). Converges in O(component diameter) rounds with a
    * driver-side early exit (an `isEmpty` probe per round — control flow,
    * not data movement); near-dup clusters are shallow (dup groups link
    * through shared content), so the bound is small in practice — and
    * when a component's diameter DOES exceed the round budget (an
    * adversarially-long chain), the loop ESCALATES to the
    * large-star/small-star contraction ([[connectedComponentsStar]],
    * O(log² n) rounds) instead of failing: min-label is the cheap path
    * for the common shallow graph (one shuffle/round vs star's two),
    * star is the guaranteed-terminating path for arbitrary topology —
    * so the registered queries are scale-safe on ANY dup graph
    * (r10 verdict task 1). Pass `fallbackToStar = false` to get the
    * loud round-cap throw instead (the property-test probe for the
    * min-label variant in isolation).
    * Returns (node, lbl) where lbl = min node id of the component. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
      fallbackToStar: Boolean = true): DataFrame = {
    // edges are re-read every round: materialize once. PINNED, not cut
    // (optimization r19): the edge list is STATIC input — its lineage
    // never grows with the loop, so a cache gives the same compute-once
    // guarantee with zero extra jobs, and a lost block recovers by
    // recomputing from the source instead of needing checkpoint files.
    // Only the EVOLVING per-round label state keeps the reliable cut.
    // Both directions in ONE pass over `edges`: a union of two
    // projections would put the un-cached edge plan (for t63, its whole
    // pair build) into the pinned plan twice.
    val und = Scale.pin(undirected(edges, "da", "db", "src", "dst"))
    // SEEDED start (optimization r20): the classic own-id init spends the
    // whole first round computing min(own, min(neighbor)) through the
    // join+union machinery; that closed-neighborhood min is one groupBy
    // over the pinned edge list — identical to round 1's output, zero
    // extra actions (it folds into round 2's job; und is pinned, so the
    // duplicated reference costs a cheap re-aggregation, not a rescan).
    var labels: DataFrame = und.groupBy(col("src").as("node"))
      .agg(least(min(col("dst")), first(col("src"))).as("lbl"))
    var iter = 0
    var converged = false
    // convergence probe (optimization r20): labels are monotone
    // non-increasing, so the fixpoint is "no row decreased THIS round" —
    // carrying each node's previous label through the round's aggregate
    // (`old`, exactly one tagged row per node) lets one action detect it
    // in the SAME round it happens, where the former cross-round
    // sum-compare needed prevSum from a completed earlier round and so
    // always ran one extra confirming round before the seeded start
    // could be recognized. Still exactly ONE distributed action per
    // round, riding the lazy checkpoint's materialization.
    while (iter < maxIter && !converged) {
      val flowed = und.join(labels, col("dst") === col("node"))
        .select(col("src").as("node"), col("lbl"), lit(0).as("o"))
      val next = Scale.cut(
        labels.select(col("node"), col("lbl"), lit(1).as("o")).union(flowed)
          .groupBy(col("node"))
          .agg(min(col("lbl")).as("lbl"),
            max(when(col("o") === 1, col("lbl"))).as("old")),
        eager = false) // lazy: first use below materializes it
      val changed = next.agg(
        sum(when(col("lbl") < col("old"), 1L).otherwise(0L))).head().get(0)
      // null ⇔ no labeled nodes (empty edge list): trivially converged
      converged = changed == null || changed.asInstanceOf[Long] == 0L
      // the probe materialized next, so the previous round's checkpoint
      // blocks are dead (the seed frame isn't checkpointed — no-op)
      Scale.dropCheckpoint(labels)
      labels = next
      iter += 1
    }
    if (!converged) {
      // release this attempt's round state before switching strategies
      Scale.dropCheckpoint(labels)
      Scale.dropCheckpoint(und)
      // returning best-effort labels would silently split clusters (and
      // diverge from the exact oracle) — escalate to the O(log² n)
      // star contraction, or fail loudly when the caller opted out
      if (fallbackToStar) return connectedComponentsStar(edges)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint within $maxIter rounds — component " +
          "diameter exceeds the bound; raise maxIter or switch to star-contraction")
    }
    Scale.dropCheckpoint(und) // labels is checkpointed; edges are dead
    labels.select(col("node"), col("lbl")) // drop the probe's `old` column
  }

  /** Connected components by alternating large-star/small-star contraction
    * (the O(log² n)-round MapReduce formulation): each round every node
    * links its larger neighbors (large-star) then its smaller-or-equal
    * neighbors (small-star) directly to the minimum of its closed
    * neighborhood, halving component diameter per round instead of
    * propagating labels one hop. This is the drop-in upgrade over
    * [[connectedComponents]] for adversarially-long chains — min-label
    * needs O(diameter) rounds, star contraction O(log² n) — at the cost
    * of one extra shuffle per round (two star phases). Same contract:
    * (node, lbl) for every node in the edge list, lbl = component min.
    *
    * Convergence: each round's output edge set is a deterministic
    * function of the current edge set and the paper proves monotone
    * progress to a fixpoint (stars pointing at component minima), so an
    * unchanged order-independent set fingerprint (count + xxhash64 sum)
    * detects the fixpoint — one distributed action per round, same
    * probe discipline as min-label's label-sum. */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 40): DataFrame = {
    import org.apache.spark.sql.DataFrame
    def canon(e: DataFrame): DataFrame =
      e.filter(col("src") =!= col("dst")).distinct()
    // one star phase: every node u with closed-neighborhood min m links
    // the requested side of its neighborhood to m
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val und = undirected(e, "src", "dst", "u", "v")
      val mins = und.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val joined = und.join(mins, Seq("u"))
      val linked =
        if (large) joined.filter(col("v") > col("u"))
          .select(col("v").as("src"), col("m").as("dst"))
        else joined.filter(col("v") <= col("u"))
          .select(col("v").as("src"), col("m").as("dst"))
          .union(mins.select(col("u").as("src"), col("m").as("dst")))
      Scale.cut(canon(linked), eager = false) // lazy: probe below materializes
    }
    // the INITIAL edge set is static input — pinned (see und above);
    // each ROUND's output keeps the reliable cut (optimization r19)
    var cur = Scale.pin(
      canon(edges.select(col("da").as("src"), col("db").as("dst"))))
    // probe = (#edges, Σ xxhash64(src,dst)): a content fingerprint of the
    // edge SET (order-independent), equal ⇔ the phase was a no-op — the
    // paper's fixpoint. One distributed action per round.
    // two independently-seeded hash sums: one 64-bit sum could in
    // principle collide across distinct edge sets of equal count (a
    // silent early-converge); the second seed makes that ~2^-128.
    def probe(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
        sum(xxhash64(lit("graft-cc-seed2"), col("src"), col("dst"))
          .cast("decimal(38,0)"))).head()
      def d(i: Int) = Option(r.getDecimal(i)).map(_.stripTrailingZeros()).orNull
      (r.getLong(0), d(1), d(2))
    }
    var prev = probe(cur)
    var iter = 0
    var converged = false
    def sameSum(a: java.math.BigDecimal, b: java.math.BigDecimal) =
      ((a eq null) && (b eq null)) || (a != null && b != null && a.compareTo(b) == 0)
    while (iter < maxIter && !converged) {
      val mid = star(cur, large = true)
      val next = star(mid, large = false)
      val p = probe(next)
      converged = p._1 == prev._1 && sameSum(p._2, prev._2) &&
        sameSum(p._3, prev._3)
      prev = p
      // probe materialized next; the superseded round's checkpoints —
      // last round's edges AND this round's large-star intermediate —
      // are dead (the final cur is kept — the result reads it)
      Scale.dropCheckpoint(mid)
      Scale.dropCheckpoint(cur)
      cur = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar: no fixpoint within $maxIter rounds")
    // at the fixpoint every edge is (node, componentMin); the minima
    // themselves label each other via their self-star rows in smallStar's
    // (u, m) union — but self-edges were canonicalized away, so re-add
    // the root labels explicitly
    val roots = cur.select(col("dst").as("node")).distinct()
      .withColumn("lbl", col("node"))
    cur.select(col("src").as("node"), col("dst").as("lbl")).union(roots)
      .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
  }

  /** Near-dup CLUSTER resolution — the step after pair detection that an
    * actual dedup pipeline needs: pairs only say "a~b, b~c"; keep-one
    * dedup needs the transitive closure {a,b,c} with one canonical
    * survivor. Edges here are the exact-Jaccard pairs of t54 (bounded,
    * deterministic → DuckDB-oracle-able via a recursive CTE); at scale
    * the same components run over the LSH candidate pairs (t58). The
    * registered path is scale-safe on ANY dup-graph topology: min-label
    * for the common shallow graph, auto-escalating to star contraction
    * past the round cap (see [[connectedComponents]]). Emits one row
    * per cluster: canonical id (min member) and member count. */
  val qDedupClusters: Q = Q(
    "t63_dedup_clusters",
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |         FROM documents WHERE doc_id < 1000),
      |sh AS (SELECT doc_id,
      |         list_distinct(CASE WHEN len(t) >= 3
      |           THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
      |           ELSE [] END) AS shset
      |       FROM toks),
      |shx AS (SELECT doc_id, unnest(shset) AS s FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |          FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY da, db),
      |pairs AS (SELECT da, db
      |          FROM inter JOIN sizes sa ON da = sa.doc_id
      |                     JOIN sizes sb ON db = sb.doc_id
      |          WHERE 2 * i >= sa.n + sb.n - i),
      |edges AS (SELECT da AS src, db AS dst FROM pairs
      |          UNION ALL SELECT db, da FROM pairs),
      |reach(node, lbl) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
      |labels AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node)
      |SELECT cluster, count(*) AS n_members
      |FROM labels GROUP BY cluster ORDER BY cluster""".stripMargin
  ) { (s, d) =>
    connectedComponents(nearDupEdges(s, d))
      .groupBy(col("lbl").as("cluster")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("cluster"))
  }

  /** t63's cluster resolution re-run through the star-contraction CC —
    * same edges, same oracle (the recursive-CTE transitive closure),
    * proving the O(log² n) path produces identical clusters to min-label
    * propagation under the driver's hash compare. */
  val qDedupClustersStar: Q = Q(
    "t71_dedup_clusters_star",
    qDedupClusters.oracle.get
  ) { (s, d) =>
    connectedComponentsStar(nearDupEdges(s, d))
      .groupBy(col("lbl").as("cluster")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("cluster"))
  }

  /** End-to-end near-dup dedup pipeline — the composition a curation job
    * actually runs: near-dup EDGES (exact 3-gram Jaccard ≥ 1/2 here; at
    * scale the LSH candidates of t58 feed the same downstream) →
    * connected components → keep-first representative per component →
    * per-document verdict joined back onto the FULL corpus (singletons
    * keep themselves). One loop (CC) plus two relational joins; the
    * verdict table is exactly what a 100 TB rewrite stage would
    * semi-join against. Oracle = t63's recursive-CTE closure extended
    * with the left-join-back and per-cluster sizes. */
  val qNearDupPipeline: Q = Q(
    "t83_neardup_pipeline",
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |         FROM documents WHERE doc_id < 1000),
      |sh AS (SELECT doc_id,
      |         list_distinct(CASE WHEN len(t) >= 3
      |           THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
      |           ELSE [] END) AS shset
      |       FROM toks),
      |shx AS (SELECT doc_id, unnest(shset) AS s FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |          FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY da, db),
      |pairs AS (SELECT da, db
      |          FROM inter JOIN sizes sa ON da = sa.doc_id
      |                     JOIN sizes sb ON db = sb.doc_id
      |          WHERE 2 * i >= sa.n + sb.n - i),
      |edges AS (SELECT da AS src, db AS dst FROM pairs
      |          UNION ALL SELECT db, da FROM pairs),
      |reach(node, lbl) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
      |labels AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
      |asg AS (SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
      |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
      |        WHERE d.doc_id < 1000),
      |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
      |       FROM asg GROUP BY cluster)
      |SELECT a.doc_id, a.cluster, cs.cluster_size,
      |       a.doc_id = a.cluster AS is_kept
      |FROM asg a JOIN cs USING (cluster) ORDER BY a.doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d).filter(col("doc_id") < 1000)
    val pairs = Text.jaccardPairs(docs, 1, 2)
    val labels = connectedComponents(pairs.select(col("da"), col("db")))
    val asg = docs.select(col("doc_id"))
      .join(labels.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster"))
    val sizes = asg.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    asg.join(sizes, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        (col("doc_id") === col("cluster")).as("is_kept"))
      .orderBy(col("doc_id"))
  }

  /** Edit-distance fuzzy matching (record-linkage near-dup for SHORT
    * strings — the per-pair exact scorer that shingle/minhash methods
    * gate): Levenshtein over 24-char prefixes on a bounded id range.
    * Classic DP on both engines ⇒ bit-identical distances. The pair join
    * is the bounded oracle form; at scale candidates come from the LSH /
    * simhash buckets and only THEY pay the O(len²) DP. */
  val qLevenshteinPairs: Q = Q(
    "t78_levenshtein_pairs",
    """WITH d AS (SELECT doc_id, substr(text, 1, 24) AS p
      |           FROM documents WHERE doc_id < 60)
      |SELECT a.doc_id AS da, b.doc_id AS db,
      |       CAST(levenshtein(a.p, b.p) AS INT) AS dist
      |FROM d a JOIN d b ON a.doc_id < b.doc_id
      |ORDER BY dist, da, db LIMIT 20""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d).filter(col("doc_id") < 60)
      .select(col("doc_id"), substring(col("text"), 1, 24).as("p"))
    val a = docs.select(col("doc_id").as("da"), col("p").as("pa"))
    val b = docs.select(col("doc_id").as("db"), col("p").as("pb"))
    a.join(b, col("da") < col("db"))
      .select(col("da"), col("db"), levenshtein(col("pa"), col("pb")).as("dist"))
      .orderBy(col("dist"), col("da"), col("db"))
      .limit(20)
  }

  /** BLOCKED fuzzy join — the scale form of t78's bounded pair scorer
    * (record linkage / fuzzy entity match over a whole corpus): docs are
    * blocked by a cheap deterministic signature (first two tokens + a
    * length band), pairs form ONLY inside a block, and the O(len²)
    * Levenshtein DP verifies just those collisions. The signature is
    * an equi-join key, so the candidate stage is one shuffle; cross-
    * signature pairs are never materialized — the blocking-key pattern
    * every entity-resolution pipeline runs at scale (block sizes are
    * data-bounded like LSH buckets; a pathological mega-block would
    * salt/split like any hot join key). */
  val qFuzzyBlockedJoin: Q = Q(
    "t102_fuzzy_blocked_join",
    """WITH d AS (SELECT doc_id,
      |             string_split(text, ' ')[1] || '|' ||
      |             string_split(text, ' ')[2] || '|' ||
      |             CAST(len(string_split(text, ' ')) // 8 AS VARCHAR) AS sig,
      |             substr(text, 1, 32) AS p
      |           FROM documents)
      |SELECT a.doc_id AS da, b.doc_id AS db,
      |       CAST(levenshtein(a.p, b.p) AS INT) AS dist
      |FROM d a JOIN d b ON a.sig = b.sig AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.p, b.p) <= 12
      |ORDER BY da, db""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"),
      concat_ws("|", element_at(split(col("text"), " "), 1),
        element_at(split(col("text"), " "), 2),
        floor(size(split(col("text"), " ")) / 8).cast("string")).as("sig"),
      substring(col("text"), 1, 32).as("p"))
    val a = docs.select(col("doc_id").as("da"), col("sig"), col("p").as("pa"))
    val b = docs.select(col("doc_id").as("db"), col("sig"), col("p").as("pb"))
    a.join(b, Seq("sig")).filter(col("da") < col("db"))
      .select(col("da"), col("db"), levenshtein(col("pa"), col("pb")).as("dist"))
      .filter(col("dist") <= 12)
      .orderBy(col("da"), col("db"))
  }

  /** LSH PARAMETER TUNING CURVE (round 11 — the design step BEFORE
    * running t58: choosing (bands, rows/band)): for a signature of 32
    * hashes, each factorization b×r trades recall against candidate
    * volume — a pair with true Jaccard j collides in ≥1 band with
    * probability p = 1 − (1 − j^r)^b, and the S-curve's midpoint sits
    * at s* ≈ (1/b)^(1/r). This query evaluates all four factorizations
    * against the corpus's EXACT pair ground truth (the bounded t54
    * frame): per config, the expected number of detected pairs and the
    * count of confidently-detected (p ≥ 1/2) ones — the table you read
    * to pick the banding for a target threshold, computed from data
    * instead of folklore.
    *
    * Cross-engine exactness: j is the 6-rounded exact ratio (t54's
    * parity); j^r and (1−j^r)^b are LEFT-ASSOCIATED multiplication
    * chains generated identically into the Spark plan and the SQL (no
    * libm `pow`, whose last-ulp behavior differs across runtimes); the
    * per-pair p rounds to 6 before aggregation; and the expectation
    * SUM runs in DECIMAL(18,6) — exact and order-independent (the v74
    * discipline). The s* literal is computed once in Scala and embedded
    * in both plans. Scale shape: one bounded exact-pair frame (pinned),
    * four aggregate branches over it; at 100 TB the pair frame comes
    * from a SAMPLE of corpora pairs — the tuning math is unchanged. */
  val qLshTuningCurve: Q = {
    val configs = Seq((4, 8), (8, 4), (16, 2), (32, 1))
    def sStar(b: Int, r: Int): Double =
      math.rint(math.pow(1.0 / b, 1.0 / r) * 1e6) / 1e6
    def jrSql(r: Int) = "(" + List.fill(r)("j").mkString(" * ") + ")"
    def missSql(b: Int, r: Int) =
      List.fill(b)(s"(1 - ${jrSql(r)})").mkString(" * ")
    val perConfig = configs.map { case (b, r) =>
      val p = s"round(1 - ${missSql(b, r)}, 6)"
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |       CAST(${sStar(b, r)} AS DOUBLE) AS s_threshold,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(CAST($p AS DECIMAL(18, 6))) AS DOUBLE)
         |         AS expected_detected,
         |       CAST(count(*) FILTER (WHERE $p >= 0.5) AS BIGINT) AS n_confident
         |FROM pairs""".stripMargin
    }.mkString("\nUNION ALL\n")
    Q(
      "t119_lsh_tuning_curve",
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
         |              FROM documents WHERE doc_id < 1000),
         |sh AS (SELECT doc_id,
         |         list_distinct(CASE WHEN len(t) >= 3
         |           THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
         |           ELSE [] END) AS shset
         |       FROM toks),
         |shx AS (SELECT doc_id, unnest(shset) AS s FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |          FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY da, db),
         |pairs AS (SELECT round(i * 1.0 / (sa.n + sb.n - i), 6) AS j
         |          FROM inter JOIN sizes sa ON da = sa.doc_id
         |                     JOIN sizes sb ON db = sb.doc_id)
         |SELECT * FROM (
         |$perConfig
         |) ORDER BY bands""".stripMargin
    ) { (s, d) =>
      // all intersecting pairs (num=0: no threshold) — the ground truth
      val pairs = Scale.pin(Text.jaccardPairs(
          Tables.documents(s, d).filter(col("doc_id") < 1000), 0, 1)
        .select(col("jaccard").as("j")))
      def jrC(r: Int): Column = List.fill(r)(col("j")).reduce(_ * _)
      def missC(b: Int, r: Int): Column =
        List.fill(b)(lit(1) - jrC(r)).reduce(_ * _)
      configs.map { case (b, r) =>
        val p = round(lit(1) - missC(b, r), 6)
        pairs.agg(count(lit(1)).as("n_pairs"),
            sum(p.cast("decimal(18,6)")).cast("double").as("expected_detected"),
            count(when(p >= 0.5, 1)).as("n_confident"))
          .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
            lit(sStar(b, r)).as("s_threshold"), col("n_pairs"),
            col("expected_detected"), col("n_confident"))
      }.reduce(_ unionByName _).orderBy(col("bands"))
    }
  }

  val all: Seq[Q] = Seq(qMinHashLsh, qSimHash, qSimHashPairs, qDedupClusters,
    qDedupClustersStar, qNearDupPipeline, qLevenshteinPairs, qFuzzyBlockedJoin,
    qLshTuningCurve)
}
