package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.4): algebraic laws that must
  * hold for any input, checked over generated local datasets. */
class PropertySpec extends AnyFunSuite {
  import TestSession.spark

  /** raw-ScalaCheck sampling (the scalatest bridge isn't on the
    * classpath): evaluate the property over seeded generator draws. */
  private def forAllSeeded[A](gen: Gen[A], seeds: Int = 5)(body: A => Unit): Unit =
    (1 to seeds).foreach { i =>
      body(gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(sys.error("gen failed")))
    }

  private val rowsGen: Gen[List[(Int, Double)]] =
    Gen.listOfN(200, Gen.zip(Gen.choose(0, 5), Gen.choose(-100.0, 100.0)))

  test("partial+final aggregation == single-pass aggregation (salting invariance)") {
    forAllSeeded(rowsGen) { rows =>
      {
        import scala.jdk.CollectionConverters._
        val df = spark.createDataFrame(
          rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType))))
        val direct = df.groupBy(col("k"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
        val salted = operators.Scale.saltedCountSum(df, col("k"), col("v"))
          .select(col("k"), col("n"), col("total").as("s"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
        // counts always identical; the helper rounds totals to 2 decimals
        // (its money-data contract), so compare within that grid
        assert(direct.map(t => (t._1, t._2)) == salted.map(t => (t._1, t._2)))
        val ds = direct.map(t => t._1 -> t._3).toMap
        salted.foreach { case (k, _, s) => assert(math.abs(s - ds(k)) <= 0.005 + 1e-9) }
      }
    }
  }

  test("quantileBuckets: ranks via globalRowNumber == window row_number, buckets bounded") {
    forAllSeeded(rowsGen) { rows =>
      {
        import scala.jdk.CollectionConverters._
        val df = spark.createDataFrame(
          rows.zipWithIndex.map { case ((_, v), i) => org.apache.spark.sql.Row(i.toLong, v) }.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType))))
        val bucket = operators.Scale.quantileBuckets(df, col("v"), 16)
        // bucket count bounded by n; bucket is monotone non-decreasing in v
        val got = operators.Scale.globalRowNumber(df, bucket,
            Seq(col("v"), col("id")), "rn")
          .select(col("id"), col("rn")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = rows.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
          .sortBy { case (i, v) => (v, i) }.zipWithIndex
          .map { case ((i, _), rk) => i -> (rk + 1L) }.toMap
        assert(got == want)
        val nb = df.select(bucket.as("b")).distinct().count()
        assert(nb <= 16, s"quantileBuckets produced $nb > 16 bands")
      }
    }
  }

  test("dropDuplicates is idempotent and bounded by the input") {
    forAllSeeded(rowsGen) { rows =>
      {
        import scala.jdk.CollectionConverters._
        val df = spark.createDataFrame(
          rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType))))
        val once = df.dropDuplicates("k")
        assert(once.count() == once.dropDuplicates("k").count())
        assert(once.count() <= df.count())
        assert(once.count() == rows.map(_._1).distinct.size)
      }
    }
  }

  test("join is symmetric: a⋈b and b⋈a produce the same row multiset") {
    import TestSession.sf
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, sf).select("c_custkey", "c_nationkey")
    val ab = o.join(c, o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "c_nationkey").collect().map(_.toString).sorted.toSeq
    val ba = c.join(o, o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "c_nationkey").collect().map(_.toString).sorted.toSeq
    assert(ab == ba)
  }

  test("filter commutes with projection (pushdown equivalence)") {
    import TestSession.sf
    val li = Tables.lineitem(spark, sf)
    val a = li.select("l_orderkey", "l_quantity").filter(col("l_quantity") > 30)
    val b = li.filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    assert(a.count() == b.count())
    assert(a.collect().map(_.toString).sorted.toSeq ==
      b.collect().map(_.toString).sorted.toSeq)
  }

  test("semi join row count equals distinct-key inner join contribution") {
    import TestSession.sf
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf).select("o_custkey")
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").count()
    val viaDistinct = c.join(o.distinct(), c("c_custkey") === o("o_custkey")).count()
    assert(semi == viaDistinct)
  }

  test("repartition count invariance: any partitioning yields the same aggregates") {
    import TestSession.sf
    val li = Tables.lineitem(spark, sf)
    val base = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(1, 3, 16).foreach { n =>
      val got = li.repartition(n).groupBy("l_returnflag").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == base, s"partitions=$n")
    }
  }

  test("connected components match a local union-find on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(30, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))
        .map(_.collect { case (a, b) if a != b => (a min b, a max b) }.distinct)
    forAllSeeded(edgeGen) { edges =>
      if (edges.nonEmpty) {
        // local reference: textbook union-find with path compression
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(ra max rb) = ra min rb
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // normalize: canonical label = min node of the component
        val want = nodes.groupBy(find).flatMap { case (_, ms) =>
          ms.map(_ -> ms.min)
        }.toMap
        val got = operators.Dedup.connectedComponents(
            spark.createDataFrame(edges).toDF("da", "db"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"edges=$edges")
      }
    }
  }

  test("star-contraction CC matches union-find, including a long chain") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(30, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))
        .map(_.collect { case (a, b) if a != b => (a min b, a max b) }.distinct)
    forAllSeeded(edgeGen) { edges =>
      if (edges.nonEmpty) {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(ra max rb) = ra min rb
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val want = nodes.groupBy(find).flatMap { case (_, ms) =>
          ms.map(_ -> ms.min)
        }.toMap
        val got = operators.Dedup.connectedComponentsStar(
            spark.createDataFrame(edges).toDF("da", "db"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"edges=$edges")
      }
    }
    // a 120-node chain: diameter 119 ≫ the 40-round cap — min-label
    // propagation could never finish inside it, star contraction must
    // (this is exactly the adversarial case the O(log² n) bound buys)
    val chain = (0L until 119L).map(i => (i, i + 1))
    val got = operators.Dedup.connectedComponentsStar(
        spark.createDataFrame(chain).toDF("da", "db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 120 && got.forall(_._2 == 0L))
  }

  test("registered CC is diameter-safe: min-label escalates to star past the cap") {
    // the REGISTERED path (t63/t83 call connectedComponents with
    // defaults) must finish on a diameter-119 chain: min-label burns its
    // round budget, then escalates to star contraction and still returns
    // exact min-id labels. A tiny cap (3) forces the escalation fast.
    val chain = (0L until 119L).map(i => (i, i + 1))
    val edges = spark.createDataFrame(chain).toDF("da", "db")
    val got = operators.Dedup.connectedComponents(edges, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 120 && got.forall(_._2 == 0L))
    // opting out of the fallback keeps the loud round-cap contract
    val ex = intercept[IllegalStateException] {
      operators.Dedup.connectedComponents(edges, maxIter = 3,
        fallbackToStar = false).collect()
    }
    assert(ex.getMessage.contains("no fixpoint"))
  }

  test("lambda lateral-alias capture: HOF lambdas bind same-named sibling aliases") {
    // The v74 round-11 bug class, pinned so an engine behavior change
    // fails a named test: in ONE select, a column reference INSIDE a
    // higher-order-function lambda resolves to a same-named SIBLING
    // alias (lateral column alias), while a plain reference correctly
    // prefers the child column. Operator discipline: never alias a
    // transformed column to its child's name in a select whose siblings
    // reference that name inside a lambda — compute the lambda
    // expression in its own projection first (see qInt8Quantize).
    import org.apache.spark.sql.functions.{aggregate => sqlAggregate}
    val df = spark.createDataFrame(Seq(Tuple1(1.0))).toDF("x")
    val hof = df.select((col("x") * 2).as("x"),
      sqlAggregate(array(lit(0.0)), lit(0.0), (acc, _) => acc + col("x")).as("y"))
      .collect()(0)
    assert(hof.getDouble(1) == 2.0, // the capture: child-x would give 1.0
      s"lambda outer-ref resolution changed: got ${hof.getDouble(1)}")
    val plain = df.select((col("x") * 2).as("x"), (col("x") + 0).as("y"))
      .collect()(0)
    assert(plain.getDouble(1) == 1.0, // plain refs prefer the child
      s"plain-ref resolution changed: got ${plain.getDouble(1)}")
  }

  test("iterative loops use a reliable checkpoint dir when configured") {
    // spark.graft.checkpoint.dir routes Scale.cut to Dataset.checkpoint
    // (fault-tolerant files) instead of localCheckpoint — the cluster
    // knob: executor loss mid-loop must not kill the job. Results must
    // be identical either way; files must actually land in the dir.
    val dir = new java.io.File(TestSession.tmp("graft-ckpt"))
    spark.conf.set(operators.Scale.CheckpointDirKey, dir.getAbsolutePath)
    try {
      val edges = spark.createDataFrame(
        Seq((0L, 1L), (1L, 2L), (5L, 6L))).toDF("da", "db")
      val got = operators.Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 5L, 6L -> 5L))
      val gotStar = operators.Dedup.connectedComponentsStar(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotStar == got)
      def files(f: java.io.File): Int =
        if (f.isFile) 1
        else Option(f.listFiles).map(_.map(files).sum).getOrElse(0)
      assert(files(dir) > 0, "no reliable checkpoint files were written")
    } finally spark.conf.unset(operators.Scale.CheckpointDirKey)
  }

  test("minhash estimate stays within [0,1] and exact-equal sets estimate 1.0") {
    // identical token sets must produce identical signatures
    val docs = spark.createDataFrame(Seq(
      (0L, "a b c d e f g"), (1L, "a b c d e f g"), (2L, "x y z w q r s")
    )).toDF("doc_id", "text")
    val pairs = {
      val shx = operators.Text.shingled(docs)
      shx.groupBy("doc_id").agg(collect_set("s").as("sh")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    }
    assert(pairs(0L) == pairs(1L) && pairs(0L) != pairs(2L))
  }

  test("ntileFromRowNumber obeys SQL NTILE laws for any n and k") {
    import spark.implicits._
    // laws: tiles ascend with rn, sizes differ by ≤1, the first (n mod k)
    // tiles are the larger ones, and the result equals WindowExec's ntile
    forAllSeeded(Gen.zip(Gen.choose(1, 97), Gen.choose(1, 11)), seeds = 8) {
      case (n, k) =>
        val df = spark.range(1, n + 1).toDF("rn")
          .withColumn("_n", lit(n.toLong))
        val got = df.withColumn("tile",
            operators.Scale.ntileFromRowNumber(col("rn"), col("_n"), k))
          .select("rn", "tile").as[(Long, Long)].collect().sortBy(_._1)
        val want = spark.range(1, n + 1).toDF("rn")
          .withColumn("tile", ntile(k).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("rn"))))
          .select(col("rn"), col("tile").cast("long")).as[(Long, Long)]
          .collect().sortBy(_._1)
        assert(got.toSeq == want.toSeq, s"n=$n k=$k")
        val sizes = got.groupBy(_._2).view.mapValues(_.size).toMap
        assert(sizes.values.max - sizes.values.min <= 1, s"n=$n k=$k sizes=$sizes")
    }
  }

  test("graft_bucket binary search == the sum-of-whens banding chain, any edges/values") {
    // bucketsFromEdges swapped its implementation in round 8 (codegen'd
    // binary search replacing a 64-branch when-chain); this law pins the
    // two forms equal over random edge sets and adversarial values —
    // nulls (band 0), NaN (top band — Spark orders NaN above all
    // numerics, so both paths assign it edges.length), ±∞, and values
    // exactly ON an edge
    // (counted into the higher band, `<=` semantics on both paths).
    val edgesGen = Gen.chooseNum(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-1000.0, 1000.0)).map(_.distinct.sorted.toArray))
    forAllSeeded(edgesGen, seeds = 8) { edges =>
      import scala.jdk.CollectionConverters._
      val vals: Seq[java.lang.Double] =
        Seq[java.lang.Double](null, Double.NaN, Double.NegativeInfinity,
          Double.PositiveInfinity, -1e9, 1e9) ++
          edges.take(5).map(e => java.lang.Double.valueOf(e)) ++       // exactly on edges
          edges.take(5).map(e => java.lang.Double.valueOf(e - 1e-9)) ++
          (1 to 50).map(i => java.lang.Double.valueOf(i * 37.7 - 900))
      val df = spark.createDataFrame(
        vals.map(v => org.apache.spark.sql.Row(v)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("x",
            org.apache.spark.sql.types.DoubleType))))
      val legacy = // the pre-r8 reference formulation, inlined
        if (edges.isEmpty) lit(0L)
        else edges.map(e => when(col("x") >= lit(e), 1L).otherwise(0L))
          .reduce(_ + _)
      val rows = df.select(
          operators.Scale.bucketsFromEdges(col("x"), edges).as("got"),
          legacy.as("want"), col("x"))
        .collect()
      rows.foreach { r =>
        assert(r.getLong(0) == r.getLong(1),
          s"x=${r.get(2)} edges=${edges.take(8).mkString(",")}: " +
            s"got ${r.getLong(0)}, want ${r.getLong(1)}")
      }
    }
  }
}
