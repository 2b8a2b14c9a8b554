package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product over two `array<float>` columns (SURVEY.md §4:
  * the one custom Expression the perf path wants — ArrayAggregate HOFs
  * are interpreted, this compiles to a tight primitive loop inside
  * whole-stage codegen).
  *
  * The fold is the same sequential left-to-right double accumulation as
  * VectorOps.dot's HOF form, so results are bit-identical and the DuckDB
  * oracle parity is unchanged.
  *
  * Perf-path custom Expression per SURVEY §4 (optional codegen upgrade).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloatArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> on both sides, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloatArr(left), isFloatArr(right))
    if (x.numElements() != y.numElements()) {
      throw new IllegalArgumentException(
        s"graft_dot: length mismatch ${x.numElements()} vs ${y.numElements()}")
    }
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      def get(arr: String, idx: String, float: Boolean): String =
        if (float) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: length mismatch " + $a.numElements() + " vs " + $b.numElements());
         |}
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${get(a, i, isFloatArr(left))} * ${get(b, i, isFloatArr(right))};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd rolling polynomial hash over a string's bytes:
  * h = fold(bytes, 0, (h, b) => (h * base + b) mod p). For ASCII input
  * this is byte-for-byte the `aggregate(transform(sequence...ascii(
  * substr)))` HOF formulation (and the DuckDB `list_reduce` oracle), but
  * it runs as one primitive loop over the UTF8String's bytes inside
  * whole-stage codegen instead of O(len) interpreted substr/ascii Column
  * evaluations — the CMS counter build (t72 shape) measured ~8× faster
  * over 2M synthetic docs. base and p ride as literal-foldable children so
  * the generated loop inlines them. */
case class StringPolyHash(child: Expression, baseE: Expression, modE: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = child
  override def second: Expression = baseE
  override def third: Expression = modE

  override def checkInputDataTypes(): TypeCheckResult =
    if (!(child.dataType == StringType && baseE.foldable && modE.foldable &&
      baseE.dataType == LongType && modE.dataType == LongType))
      TypeCheckResult.TypeCheckFailure(
        "graft_polyhash expects (string, long literal base, long literal mod)")
    else {
      // Validate the literal values at analysis time: mod <= 0 would
      // throw (or yield negative hashes) per-row, and mod >= 2^31 lets
      // h*base overflow Long silently (h < mod, base < 2^31 guarantees
      // h*base + byte < 2^62). Fail the query up front instead.
      val base = baseE.eval(null)
      val mod = modE.eval(null)
      if (base == null || mod == null)
        TypeCheckResult.TypeCheckFailure("graft_polyhash base/mod must be non-null")
      else if (mod.asInstanceOf[Long] <= 0L || mod.asInstanceOf[Long] >= (1L << 31))
        TypeCheckResult.TypeCheckFailure(
          s"graft_polyhash mod must be in (0, 2^31), got $mod")
      else if (base.asInstanceOf[Long] < 0L || base.asInstanceOf[Long] >= (1L << 31))
        TypeCheckResult.TypeCheckFailure(
          s"graft_polyhash base must be in [0, 2^31), got $base")
      else TypeCheckResult.TypeCheckSuccess
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override protected def nullSafeEval(s: Any, b: Any, m: Any): Any = {
    val bytes = s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val base = b.asInstanceOf[Long]
    val mod = m.asInstanceOf[Long]
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * base + (bytes(i) & 0xFF)) % mod; i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, b, m) => {
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * $b + ($bytes[$i] & 0xFF)) % $m;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): StringPolyHash =
    copy(child = f, baseE = s, modE = t)
}

/** Codegen'd band lookup for the banded-window decomposition
  * (Scale.bucketsFromEdges): bucket(x) = #edges ≤ x over a SORTED
  * literal edge array, found by binary search. The Column-expression
  * form this replaces was a sum of |edges| chained `when`s — a 63-branch
  * chain evaluated per row per consumer, which profiled as the dominant
  * cost of every banding query (q174: ~0.7 s per pass over 600k cached
  * rows at sf0.1 vs ~0.25 s for the bare scan). Binary search does
  * ⌈log₂ 64⌉ = 6 compares in a tight loop inside whole-stage codegen.
  *
  * Null semantics: null x → null (callers coalesce to band 0, where
  * NULLS FIRST ordering puts null metrics). The edge array must be a
  * foldable literal, sorted ascending and distinct — exactly what
  * Scale.quantileEdges emits; checked at analysis time. */
case class BandBucket(child: Expression, edgesE: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = edgesE

  override def checkInputDataTypes(): TypeCheckResult = {
    val isDoubleArr = edgesE.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_bucket expects a double metric, got ${child.dataType.simpleString}")
    else if (!edgesE.foldable || !isDoubleArr)
      TypeCheckResult.TypeCheckFailure(
        "graft_bucket expects a literal array<double> of edges")
    else {
      val v = edgesE.eval(null)
      if (v == null) TypeCheckResult.TypeCheckFailure("graft_bucket edges must be non-null")
      else {
        val ad = v.asInstanceOf[ArrayData]
        if ((0 until ad.numElements()).exists(ad.isNullAt))
          TypeCheckResult.TypeCheckFailure("graft_bucket edges must not contain nulls")
        else {
          val arr = ad.toDoubleArray()
          val sortedDistinct = arr.indices.drop(1).forall(i => arr(i - 1) < arr(i))
          if (sortedDistinct) TypeCheckResult.TypeCheckSuccess
          else TypeCheckResult.TypeCheckFailure(
            "graft_bucket edges must be sorted ascending and distinct")
        }
      }
    }
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bucket"

  // upper-bound binary search: #edges e with e <= x. NaN takes the TOP
  // band: Spark SQL comparison semantics order NaN greater than every
  // numeric (the when-chain form this replaces evaluated NaN >= e as
  // true), and a NULLS FIRST / NaN-last window ordering needs the band
  // assignment to agree — Java's NaN-poisoned <= would send it to band
  // 0, the opposite end (caught by the PropertySpec banding law).
  private def search(edges: Array[Double], x: Double): Long = {
    if (java.lang.Double.isNaN(x)) return edges.length.toLong
    var lo = 0
    var hi = edges.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (edges(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  @transient private lazy val edgeArr: Array[Double] =
    edgesE.eval(null).asInstanceOf[ArrayData].toDoubleArray()

  override protected def nullSafeEval(x: Any, e: Any): Any =
    search(edgeArr, x.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // hoist the literal edges into a per-plan field: the generated loop
    // then searches a primitive double[], not ArrayData getters
    val edgesRef = ctx.addReferenceObj("graftBucketEdges", edgeArr, "double[]")
    nullSafeCodeGen(ctx, ev, (x, _) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      s"""
         |int $lo = 0;
         |int $hi = $edgesRef.length;
         |if (Double.isNaN($x)) {
         |  $lo = $hi; // Spark orders NaN above all numerics: top band
         |} else {
         |  while ($lo < $hi) {
         |    int $mid = ($lo + $hi) >>> 1;
         |    if ($edgesRef[$mid] <= $x) { $lo = $mid + 1; } else { $hi = $mid; }
         |  }
         |}
         |${ev.value} = (long) $lo;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BandBucket =
    copy(child = newLeft, edgesE = newRight)
}

/** Session registration for graft's custom Catalyst expressions (the
  * FunctionRegistry path is the supported Spark 4 way to hand an
  * Expression to the Column API — `call_function` resolves it). */
/** Character n-gram TABLE FUNCTION — a custom Catalyst GENERATOR (the
  * one extension point the engine had not yet exercised next to scalar
  * Expressions (DotProduct/BandBucket/StringPolyHash), the optimizer
  * Rule, and the LogicalPlan+Strategy as-of plan): one output row per
  * character n-gram of the input string, with its 0-based position.
  * SQL-exposed as `graft_char_ngrams(str, n)` via LATERAL VIEW — the
  * classic language-ID / fuzzy-blocking feature extractor, emitted
  * row-wise so the downstream count-aggregate never materializes a
  * per-row gram array (`transform`+`explode` builds the whole array
  * first; a Generator streams it). `n` must be a foldable INT.
  * Runs under GenerateExec via CodegenFallback — generators stream
  * through codegen stages even when the generator itself is
  * interpreted. */
case class CharNgrams(child: Expression, nExpr: Expression)
  extends org.apache.spark.sql.catalyst.expressions.Generator
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(child, nExpr)
  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("gram", StringType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        "graft_char_ngrams: first argument must be STRING")
    else if (nExpr.dataType != IntegerType || !nExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_char_ngrams: n must be a foldable INT")
    else TypeCheckResult.TypeCheckSuccess
  @transient private lazy val n: Int = nExpr.eval(null).asInstanceOf[Int]
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null || n <= 0) Nil
    else {
      // CODEPOINT grams, not UTF-16 code units: String.substring would
      // split surrogate pairs on astral text (emoji, rare CJK) and count
      // differently than DuckDB's character-based substr/len — the
      // oracle-parity unit is the codepoint (r11 review finding)
      val cps = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString.codePoints().toArray
      if (cps.length < n) Nil
      else (0 to cps.length - n).iterator.map { i =>
        org.apache.spark.sql.catalyst.InternalRow(i,
          org.apache.spark.unsafe.types.UTF8String
            .fromString(new String(cps, i, n)))
      }
    }
  }
  override def prettyName: String = "graft_char_ngrams"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), nExpr = newChildren(1))
}

object GraftFunctions {
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")
    if (!registry.functionExists(ident)) {
      registry.createOrReplaceTempFunction(
        "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
    }
    // Spark ships BloomFilterAggregate/BloomFilterMightContain as
    // internal expressions (used by its own runtime join filters) but
    // does not expose them in the SQL registry; surface them under graft
    // names for the incremental-dedup gate (Curation.bloomIncrementalDedup)
    val bloomAgg = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_bloom_agg")
    if (!registry.functionExists(bloomAgg)) {
      registry.createOrReplaceTempFunction(
        "graft_bloom_agg",
        exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0), exprs(1), exprs(2)),
        "scala_udf")
      registry.createOrReplaceTempFunction(
        "graft_might_contain",
        exprs => org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(exprs(0), exprs(1)),
        "scala_udf")
      registry.createOrReplaceTempFunction(
        "graft_polyhash",
        exprs => StringPolyHash(exprs(0), exprs(1), exprs(2)),
        "scala_udf")
      registry.createOrReplaceTempFunction(
        "graft_bucket",
        exprs => BandBucket(exprs(0), exprs(1)),
        "scala_udf")
      registry.createOrReplaceTempFunction(
        "graft_char_ngrams",
        exprs => CharNgrams(exprs(0), exprs(1)),
        "scala_udf")
    }
  }
}
