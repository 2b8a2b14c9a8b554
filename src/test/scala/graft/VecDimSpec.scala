package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dimensionality generalization (VERDICT r5 #2): the vector/ANN
  * machinery must not hardcode the fixture's 64 dims. These tests run
  * cosine top-k, PQ encode/ADC retrieval, and the v70 projection on a
  * SYNTHETIC 128-dim corpus with `spark.graft.vec.dim=128` set on an
  * isolated child session (newSession ⇒ own conf, shared context —
  * no leakage into the pinned-at-64 fixture suites). */
class VecDimSpec extends AnyFunSuite {
  import graft.functions.{VecConf, VectorOps}

  private val Dim = 128
  private val N = 300L

  /** Child session with its own conf; extensions re-applied from the
    * shared spark.sql.extensions setting. */
  private lazy val s128: SparkSession = {
    val s = TestSession.spark.newSession()
    s.conf.set(VecConf.DimKey, Dim.toString)
    s
  }

  /** Deterministic synthetic corpus: e(id)(j) = (((id·31 + j·17) mod 97) − 48) / 48,
    * stored as array<float> like the fixture. */
  private def emb128: DataFrame =
    s128.range(N).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        j => (((col("id") * 31 + j * 17) % 97) - 48).cast("double") / 48.0)
        .cast("array<float>").as("embedding"))

  private def embRow(id: Long): Array[Double] =
    (0 until Dim).map(j => (((id * 31 + j * 17) % 97) - 48).toFloat / 48.0f)
      .map(_.toDouble).toArray

  test("graft_dot folds 128-dim arrays (conf-free dim agnosticism)") {
    val got = emb128.filter(col("vec_id") === 2)
      .select(VectorOps.dot(col("embedding"), col("embedding"))).head.getDouble(0)
    val e = embRow(2)
    val want = e.map(x => x * x).sum
    assert(math.abs(got - want) < 1e-9)
  }

  test("zero-norm vector: cosine is NULL, not an ANSI divide-by-zero job error") {
    // an all-zero embedding (nulled-out row in a real 100 TB table) has
    // no defined cosine; under Spark 4's default ANSI mode the unguarded
    // division is a JOB ERROR — one bad row must not kill the scan
    val s = TestSession.spark
    val row = s.sql(
      "SELECT array(0.0F, 0.0F) AS z, array(1.0F, 2.0F) AS v")
    val got = row.select(
      VectorOps.cosine(col("z"), col("v")).as("zv"),
      VectorOps.cosine(col("v"), col("v")).as("vv")).head
    assert(got.isNullAt(0), "zero-norm cosine must be NULL")
    assert(math.abs(got.getDouble(1) - 1.0) < 1e-9)
  }

  test("cosine top-k on 128-dim vectors: shape + per-probe descending sims") {
    val out = operators.Vectors.cosineTopK(emb128, nProbes = 5, k = 3).collect()
    assert(out.length == 15)
    out.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, rows) =>
      val byRn = rows.sortBy(_.getAs[Long]("rn"))
      assert(byRn.map(_.getAs[Long]("rn")).toSeq == Seq(1L, 2L, 3L))
      val sims = byRn.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(sims.forall(sv => sv >= -1.000001 && sv <= 1.000001))
    }
  }

  test("PQ geometry follows conf: 128 dims -> 32 subspaces of 4, codes in [0,16)") {
    assert(VecConf.pqSubs(s128) == 32)
    val (codes, cent) = operators.Vectors.pqEncode(emb128, rounds = 2)
    assert(codes.count() == N * 32)
    val subRange = codes.agg(min("sub"), max("sub")).head
    assert(subRange.getInt(0) == 0 && subRange.getInt(1) == 31)
    val cidRange = codes.agg(min("cid"), max("cid")).head
    assert(cidRange.getInt(0) >= 0 && cidRange.getInt(1) < 16)
    // every codebook entry is a 4-d centroid; <=16 per subspace
    val lens = cent.select(size(col("cv")).as("l")).distinct().collect().map(_.getInt(0))
    assert(lens.toSeq == Seq(4))
    val perSub = cent.groupBy("sub").count().agg(max("count")).head.getLong(0)
    assert(perSub <= 16)
  }

  test("ADC retrieval runs end-to-end at 128 dims and finds plausible neighbors") {
    val out = operators.Vectors.pqAdcTopK(emb128, nProbes = 3, k = 5, rounds = 2)
      .collect()
    assert(out.length == 15)
    // d2 is a squared distance: non-negative, ascending within a probe
    out.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, rows) =>
      val d2s = rows.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("d2"))
      assert(d2s.forall(_ >= -1e-6))
      assert(d2s.zip(d2s.tail).forall { case (a, b) => a <= b + 1e-9 })
    }
  }

  test("v70 projection at 128 dims: 16 output cols, differential vs local dot") {
    val out = operators.Vectors.matmulProject(emb128)
    assert(out.columns.toSeq == "vec_id" +: (0 until 16).map(j => s"p$j"))
    val row0 = out.filter(col("vec_id") === 7).head
    val e = embRow(7)
    (0 until 16).foreach { j =>
      val w = operators.Vectors.projCol(j, Dim)
      val want = e.zip(w).map { case (a, b) => a * b }.sum
      assert(math.abs(row0.getAs[Double](s"p$j") - math.round(want * 1e6) / 1e6) < 2e-6,
        s"p$j mismatch")
    }
  }

  test("IVF-PQ composite runs end-to-end at 128 dims (coarse cells + ADC + re-rank)") {
    val labeled = emb128.withColumn("label", pmod(col("vec_id"), lit(5)))
    val out = operators.Vectors.ivfPqTopK(labeled, nProbes = 2, k = 4,
      nCells = 2).collect()
    assert(out.nonEmpty && out.length <= 8)
    out.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, rows) =>
      val d2s = rows.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("d2"))
      assert(d2s.forall(_ >= -1e-6))
      assert(d2s.zip(d2s.tail).forall { case (a, b) => a <= b + 1e-9 })
    }
  }

  test("pqIndex trains once and serves from parquet on later calls") {
    val dir = TestSession.tmp("graft_pq_test")
    s128.conf.set(operators.Vectors.PqIndexDirKey, dir)
    try {
      val (codes1, cent1) = operators.Vectors.pqIndex(emb128, "t128", rounds = 1)
      val n1 = codes1.count()
      assert(n1 == N * 32)
      val success = java.nio.file.Paths.get(dir, "t128", "codes", "_SUCCESS")
      assert(java.nio.file.Files.exists(success))
      val mtime = java.nio.file.Files.getLastModifiedTime(success)
      // second call must READ, not retrain: same counts, untouched files
      val (codes2, cent2) = operators.Vectors.pqIndex(emb128, "t128", rounds = 1)
      assert(codes2.count() == n1)
      assert(cent2.count() == cent1.count())
      assert(java.nio.file.Files.getLastModifiedTime(success) == mtime)
    } finally s128.conf.unset(operators.Vectors.PqIndexDirKey)
  }

  test("parent session conf is untouched (fixture suites still see 64)") {
    assert(VecConf.dim(TestSession.spark) == 64)
    assert(VecConf.pqSubs(TestSession.spark) == 16)
  }

  test("pqIndexAppend: encode-only append serves new vectors, exactly-once per batch") {
    val dir = TestSession.tmp("graft_pq_append")
    s128.conf.set(operators.Vectors.PqIndexDirKey, dir)
    try {
      val train = emb128.filter(col("vec_id") < 200)
      val fresh = emb128.filter(col("vec_id") >= 200)
      val (codes0, _) = operators.Vectors.pqIndex(train, "tapp", rounds = 1)
      assert(codes0.count() == 200L * 32)
      val drift1 = operators.Vectors.pqIndexAppend(fresh, "tapp", "b1")
      // same synthetic distribution: the codebook still fits
      assert(drift1 > 0.2 && drift1 < 5.0, s"drift=$drift1")
      val (codes1, _) = operators.Vectors.pqIndex(train, "tapp", rounds = 1)
      assert(codes1.count() == N * 32) // appended codes are served
      assert(codes1.select("vec_id").distinct().count() == N)
      // exactly-once: replaying the batch is a no-op returning the stored drift
      val marker = java.nio.file.Paths.get(dir, "tapp", "_drift_b1")
      val mtime = java.nio.file.Files.getLastModifiedTime(marker)
      val drift2 = operators.Vectors.pqIndexAppend(fresh, "tapp", "b1")
      assert(math.abs(drift2 - drift1) < 1e-12)
      assert(java.nio.file.Files.getLastModifiedTime(marker) == mtime)
      assert(operators.Vectors.pqIndex(train, "tapp", rounds = 1)._1.count() == N * 32)
      // appended neighbors are retrievable candidates in the ADC scan
      val (codesAll, cent) = operators.Vectors.pqIndex(train, "tapp", rounds = 1)
      val served = operators.Vectors.pqAdcTopKFrom(emb128, codesAll, cent,
        nProbes = 5, k = 20).collect()
      assert(served.exists(_.getAs[Long]("cand_id") >= 200),
        "appended vectors never surface in retrieval")
    } finally s128.conf.unset(operators.Vectors.PqIndexDirKey)
  }

  test("pqIndexCompact: one segment after, serving multiset preserved, exactly-once survives") {
    val dir = TestSession.tmp("graft_pq_compact")
    s128.conf.set(operators.Vectors.PqIndexDirKey, dir)
    try {
      val train = emb128.filter(col("vec_id") < 200)
      val b1 = emb128.filter(col("vec_id") >= 200 && col("vec_id") < 250)
      val b2 = emb128.filter(col("vec_id") >= 250)
      operators.Vectors.pqIndex(train, "tcomp", rounds = 1)
      operators.Vectors.pqIndexAppend(b1, "tcomp", "s1")
      val d2before = operators.Vectors.pqIndexAppend(b2, "tcomp", "s2")
      val viewBefore = operators.Vectors.pqIndex(train, "tcomp", rounds = 1)._1
        .collect().map(_.mkString("|")).sorted
      val n = operators.Vectors.pqIndexCompact(s128, "tcomp")
      assert(n == N * 32, s"compacted $n rows")
      // pointer resolves; absorbed append dirs are gone; codes identical
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "tcomp", "_codes_current")))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "tcomp", "codes_append_s1")))
      val viewAfter = operators.Vectors.pqIndex(train, "tcomp", rounds = 1)._1
        .collect().map(_.mkString("|")).sorted
      assert(viewAfter.sameElements(viewBefore),
        "compaction changed the served code multiset")
      // exactly-once ACROSS compaction: an absorbed batchId replays as a
      // no-op (stored drift, no resurrected segment dir)
      val d2replay = operators.Vectors.pqIndexAppend(b2, "tcomp", "s2")
      assert(math.abs(d2replay - d2before) < 1e-12)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "tcomp", "codes_append_s2")))
      // a NEW post-compaction append unions into the compacted view
      val fresh = b1.withColumn("vec_id", col("vec_id") + lit(5000L))
      operators.Vectors.pqIndexAppend(fresh, "tcomp", "s3")
      val n3 = operators.Vectors.pqIndex(train, "tcomp", rounds = 1)._1.count()
      assert(n3 == (N + 50L) * 32)
      // a pointer an older writer checksummed: rewritten through
      // Hadoop's local filesystem, it gets a `.crc` beside it, which the
      // next compaction's crc-less pointer must not be read against
      val ptr = new org.apache.hadoop.fs.Path(s"$dir/tcomp/_codes_current")
      val lfs = ptr.getFileSystem(s128.sparkContext.hadoopConfiguration)
      val raw = { val in = lfs.open(ptr); try in.readAllBytes() finally in.close() }
      val o = lfs.create(ptr, true)
      try o.write(raw) finally o.close()
      val crc = java.nio.file.Paths.get(dir, "tcomp", "._codes_current.crc")
      assert(java.nio.file.Files.exists(crc))
      // second compaction absorbs it too and stays idempotent
      assert(operators.Vectors.pqIndexCompact(s128, "tcomp") == (N + 50L) * 32)
      assert(!java.nio.file.Files.exists(crc), "stale pointer checksum kept")
      assert(operators.Vectors.pqIndex(train, "tcomp", rounds = 1)._1.count()
        == (N + 50L) * 32)
    } finally s128.conf.unset(operators.Vectors.PqIndexDirKey)
  }

  test("pqIndexCompact crash window: orphan segment (crash before pointer swap) is invisible; re-run converges and sweeps it") {
    val dir = TestSession.tmp("graft_pq_crash1")
    s128.conf.set(operators.Vectors.PqIndexDirKey, dir)
    try {
      val train = emb128.filter(col("vec_id") < 200)
      val b1 = emb128.filter(col("vec_id") >= 200)
      operators.Vectors.pqIndex(train, "tcr1", rounds = 1)
      operators.Vectors.pqIndexAppend(b1, "tcr1", "s1")
      val viewBefore = operators.Vectors.pqIndex(train, "tcr1", rounds = 1)._1
        .collect().map(_.mkString("|")).sorted
      // simulate a compaction that crashed AFTER writing its versioned
      // segment but BEFORE the pointer rename: a codes_v_* dir exists,
      // no _codes_current, no _compacted sentinel (cleanup never ran).
      // Two orphans, exercising both arms of the r13 grace-period sweep
      // (Vectors.scala pqIndexCompact step 2): one AGED past the 1h
      // grace window (a long-dead crash — must be reclaimed) and one
      // FRESH (indistinguishable from a concurrent compactor's
      // just-written segment — must SURVIVE the sweep, else the r12
      // dangling-pointer race reopens).
      s128.read.parquet(s"$dir/tcr1/codes").limit(5)
        .write.parquet(s"$dir/tcr1/codes_v_orphan00")
      s128.read.parquet(s"$dir/tcr1/codes").limit(5)
        .write.parquet(s"$dir/tcr1/codes_v_orphfresh")
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(dir, "tcr1", "codes_v_orphan00"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 2L * 60 * 60 * 1000))
      // serving must still read the OLD view (base + committed append);
      // neither uncommitted segment is visible
      val viewCrashed = operators.Vectors.pqIndex(train, "tcr1", rounds = 1)._1
        .collect().map(_.mkString("|")).sorted
      assert(viewCrashed.sameElements(viewBefore),
        "orphan segment leaked into serving before its pointer landed")
      // a compaction re-run converges: pointer lands, the aged orphan is
      // swept, the fresh one survives (grace window) yet stays invisible
      assert(operators.Vectors.pqIndexCompact(s128, "tcr1") == N * 32)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "tcr1", "_codes_current")))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "tcr1", "codes_v_orphan00")),
        "aged-out orphan was not reclaimed by the sweep")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "tcr1", "codes_v_orphfresh")),
        "fresh orphan swept inside the grace window — the concurrent-" +
          "compactor protection is broken")
      val viewAfter = operators.Vectors.pqIndex(train, "tcr1", rounds = 1)._1
        .collect().map(_.mkString("|")).sorted
      assert(viewAfter.sameElements(viewBefore))
    } finally s128.conf.unset(operators.Vectors.PqIndexDirKey)
  }

  test("pqIndexAppend crash window: torn append (codes, no marker) is invisible; the retry rewrites and commits") {
    val dir = TestSession.tmp("graft_pq_crash2")
    s128.conf.set(operators.Vectors.PqIndexDirKey, dir)
    try {
      val train = emb128.filter(col("vec_id") < 200)
      val b1 = emb128.filter(col("vec_id") >= 200)
      operators.Vectors.pqIndex(train, "tcr2", rounds = 1)
      // simulate the documented torn state — codes landed, the
      // (written-last) drift marker did not — by deleting the marker
      operators.Vectors.pqIndexAppend(b1, "tcr2", "s1")
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(dir, "tcr2", "_drift_s1"))
      assert(operators.Vectors.pqIndex(train, "tcr2", rounds = 1)._1.count()
        == 200L * 32, "torn append leaked into serving without its marker")
      // the ingest retry rewrites the segment idempotently and commits
      val drift = operators.Vectors.pqIndexAppend(b1, "tcr2", "s1")
      assert(drift > 0.0 && java.lang.Double.isFinite(drift))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "tcr2", "_drift_s1")))
      assert(operators.Vectors.pqIndex(train, "tcr2", rounds = 1)._1.count()
        == N * 32)
    } finally s128.conf.unset(operators.Vectors.PqIndexDirKey)
  }

  test("lost _codes_current after compaction fails loudly (no stale fallback)") {
    val dir = TestSession.tmp("graft_pq_crash3")
    s128.conf.set(operators.Vectors.PqIndexDirKey, dir)
    try {
      val train = emb128.filter(col("vec_id") < 200)
      operators.Vectors.pqIndex(train, "tcr3", rounds = 1)
      operators.Vectors.pqIndexAppend(
        emb128.filter(col("vec_id") >= 200), "tcr3", "s1")
      operators.Vectors.pqIndexCompact(s128, "tcr3")
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(dir, "tcr3", "_codes_current"))
      // the pre-compaction fallback would silently drop the absorbed
      // append — it must refuse instead (r11 advisory)
      val e = intercept[IllegalArgumentException] {
        operators.Vectors.pqIndex(train, "tcr3", rounds = 1)._1.count()
      }
      assert(e.getMessage.contains("_codes_current"), e.getMessage)
    } finally s128.conf.unset(operators.Vectors.PqIndexDirKey)
  }

  test("pqIndexCompact CAS guard: concurrent compactor commit inside the publish window aborts the late compactor, no append lost") {
    // the index lives on wrapfs, whose hook interleaves compactor B
    val local = TestSession.tmp("graft_pq_cas")
    s128.conf.set(operators.Vectors.PqIndexDirKey, WrappedLocalFs.uri(local))
    try WrappedLocalFs.registered(s128) {
      val train = emb128.filter(col("vec_id") < 200)
      val b1 = emb128.filter(col("vec_id") >= 200 && col("vec_id") < 250)
      val b2 = emb128.filter(col("vec_id") >= 250)
      operators.Vectors.pqIndex(train, "tcas", rounds = 1)
      operators.Vectors.pqIndexAppend(b1, "tcas", "s1")
      // the r14 verdict's race, verbatim: compactor A lists {codes, s1};
      // inside A's publish window compactor B commits append s2 AND a
      // full compaction absorbing s1+s2, swapping the pointer first —
      // at A's check-and-swap read of the pointer, after A staged its
      // own. Unguarded, A's later rename would drop s2's rows from the
      // current view while its exactly-once marker blocks re-ingest.
      val d2before = new java.util.concurrent.atomic.AtomicReference[java.lang.Double](null)
      WrappedLocalFs.beforePointerCheck.set(new Runnable {
        override def run(): Unit = {
          d2before.set(operators.Vectors.pqIndexAppend(b2, "tcas", "s2"))
          assert(operators.Vectors.pqIndexCompact(s128, "tcas") == N * 32)
        }
      })
      val ex = intercept[java.util.ConcurrentModificationException] {
        operators.Vectors.pqIndexCompact(s128, "tcas")
      }
      assert(ex.getMessage.contains("concurrent compactor"), ex.getMessage)
      assert(d2before.get != null, "inner compactor B never ran")
      // no append lost: the serving view holds ALL vectors incl. s2's
      val served = operators.Vectors.pqIndex(train, "tcas", rounds = 1)._1
      assert(served.count() == N * 32)
      assert(served.select("vec_id").distinct().count() == N)
      // the late compactor cleaned up: exactly ONE versioned segment (the
      // winner's) and no tmp-pointer residue
      val residue = new java.io.File(local, "tcas").listFiles().map(_.getName)
      assert(residue.count(_.startsWith("codes_v_")) == 1,
        s"late compactor's staged segment not cleaned: ${residue.mkString(",")}")
      assert(!residue.exists(_.startsWith("_codes_current.tmp_")),
        s"tmp pointer residue: ${residue.mkString(",")}")
      // exactly-once survives: s2 replays as a stored-drift no-op
      val d2replay = operators.Vectors.pqIndexAppend(b2, "tcas", "s2")
      assert(math.abs(d2replay - d2before.get) < 1e-12)
      // and a RE-RUN of the aborted compactor converges from fresh state
      assert(operators.Vectors.pqIndexCompact(s128, "tcas") == N * 32)
      assert(operators.Vectors.pqIndex(train, "tcas", rounds = 1)._1.count() == N * 32)
    } finally {
      WrappedLocalFs.beforePointerCheck.set(null)
      s128.conf.unset(operators.Vectors.PqIndexDirKey)
    }
  }

  test("pqIndexAppend drift re-check flags a shifted ingest distribution") {
    val dir = TestSession.tmp("graft_pq_drift")
    s128.conf.set(operators.Vectors.PqIndexDirKey, dir)
    try {
      operators.Vectors.pqIndex(emb128, "tdrift", rounds = 1)
      // same-distribution batch: ratio near 1; shifted batch (embeddings
      // scaled 10x off the trained centroids): ratio far above
      val same = emb128.filter(col("vec_id") < 50)
        .withColumn("vec_id", col("vec_id") + lit(10000L))
      val shifted = same.withColumn("embedding",
        transform(col("embedding"), x => x * lit(10.0f)).cast("array<float>"))
        .withColumn("vec_id", col("vec_id") + lit(10000L))
      val dSame = operators.Vectors.pqIndexAppend(same, "tdrift", "same")
      val dShift = operators.Vectors.pqIndexAppend(shifted, "tdrift", "shifted")
      assert(dSame < 3.0, s"same-distribution drift=$dSame")
      assert(dShift > 10.0 && dShift > 3 * dSame, s"shifted drift=$dShift")
    } finally s128.conf.unset(operators.Vectors.PqIndexDirKey)
  }

  test("per-call VecGeom override: 128-d corpus through a 64-d session") {
    import graft.functions.VecGeom
    // the parent session's conf says 64 dims; the explicit geometry wins,
    // so two corpora with different dims coexist in ONE session
    val s = TestSession.spark
    assert(VecConf.dim(s) == 64)
    val emb = s.range(60).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        j => (((col("id") * 31 + j * 17) % 97) - 48).cast("double") / 48.0)
        .cast("array<float>").as("embedding"))
    val g = Some(VecGeom(dim = Dim))
    val (codes, cent) = operators.Vectors.pqEncode(emb, rounds = 1, geom = g)
    assert(codes.count() == 60L * 32) // 128/4 = 32 subspaces, not the conf's 16
    val out = operators.Vectors.pqAdcTopKFrom(emb, codes, cent,
      nProbes = 2, k = 3, geom = g).collect()
    assert(out.length == 6)
  }

  test("VecGeom and VecConf validate loudly (r6 advisory)") {
    import graft.functions.VecGeom
    val eMrl = intercept[IllegalArgumentException](VecGeom(dim = 64, mrlDim = 128))
    assert(eMrl.getMessage.contains("mrlDim"))
    val eProj = intercept[IllegalArgumentException](VecGeom(dim = 8, projDim = 0))
    assert(eProj.getMessage.contains("projDim"))
    val eDiv = intercept[IllegalArgumentException](VecGeom(dim = 20, pqSubDim = 3))
    assert(eDiv.getMessage.contains("divisible"))
    val s = TestSession.spark.newSession()
    s.conf.set(VecConf.DimKey, "64d") // the typo'd conf from the advisory
    val eConf = intercept[IllegalArgumentException](VecConf.dim(s))
    assert(eConf.getMessage.contains(VecConf.DimKey) && eConf.getMessage.contains("64d"))
  }

  // The ANN serving-quality dashboards (v84/v85) are attested HERE, in a
  // file separate from the big fixture suites, per the r7 directive: one
  // aborting suite elsewhere must not silently drop their coverage.

  test("v84 recall audit: per-probe recall in [0,1], mean >= 0.6 (matches the PQ recall bound)") {
    val rows = operators.Vectors.annRecallAuditRaw(TestSession.spark, TestSession.sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(rows.length == 10)
    rows.foreach { case (p, r) =>
      assert(r >= 0.0 && r <= 1.0, s"probe $p recall $r out of range") }
    val mean = rows.map(_._2).sum / rows.length
    assert(mean >= 0.6, s"mean recall@10 = $mean")
  }

  test("v85 probe sweep: recall non-decreasing in n_cells, all in [0,1]") {
    val rows = operators.Vectors.ivfProbeSweepRaw(TestSession.spark, TestSession.sf)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    rows.foreach { case (c, r) =>
      assert(r >= 0.0 && r <= 1.0, s"n_cells $c recall $r out of range") }
    val rs = rows.map(_._2)
    assert(rs.zip(rs.tail).forall { case (a, b) => a <= b + 1e-9 },
      s"recall not monotone: ${rs.mkString(",")}")
  }
}
