package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{
  And, ArrayExists, ArrayFilter, Expression, ExpressionInfo, GreaterThan,
  GreaterThanOrEqual, LambdaFunction, LessThan, Literal, Size
}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Strength-reduce `size(filter(arr, f)) > 0` to `exists(arr, f)` inside
  * Filter conditions. `filter` materializes a whole intermediate array
  * per row only for its length to be compared to zero; `exists`
  * short-circuits on the first match and allocates nothing — on a wide
  * corpus scan (the quality-cut shape in the text pipeline) that is the
  * difference between O(|arr|) allocation per row and an early-exit
  * probe.
  *
  * Scoped to TOP-LEVEL CONJUNCTS of Filter conditions on purpose: there
  * the two forms differ only as false-vs-null — for a NULL input array
  * (`size` yields -1 legacy / NULL ANSI, `exists` yields NULL) and for
  * 3VL `exists` returning NULL where the count comparison returns false
  * — and a filter drops both identically. In any other position (under
  * NOT, inside coalesce, compared to another boolean) false and null are
  * NOT interchangeable, so nested occurrences are deliberately left
  * alone.
  *
  * Only single-argument lambdas are rewritten: `filter` also accepts a
  * two-argument (value, index) lambda which `exists` has no equivalent
  * for.
  */
object ExistsOverSizeFilter extends Rule[LogicalPlan] {
  private def oneArg(f: Expression): Boolean = f match {
    case l: LambdaFunction => l.arguments.size == 1
    case _ => false
  }

  // rewrite ONLY a whole top-level conjunct, never a subexpression
  private def rewriteConjunct(e: Expression): Expression = e match {
    case GreaterThan(Size(ArrayFilter(arr, fn), _), Literal(0, IntegerType))
        if oneArg(fn) => ArrayExists(arr, fn)
    case LessThan(Literal(0, IntegerType), Size(ArrayFilter(arr, fn), _))
        if oneArg(fn) => ArrayExists(arr, fn)
    case GreaterThanOrEqual(Size(ArrayFilter(arr, fn), _), Literal(1, IntegerType))
        if oneArg(fn) => ArrayExists(arr, fn)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val rewritten = conjuncts.map(rewriteConjunct)
      if (conjuncts.zip(rewritten).forall { case (a, b) => a.fastEquals(b) }) f
      else Filter(rewritten.reduce(And), child)
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
    case other => Seq(other)
  }
}

/** Deployment-grade session wiring for graft's Catalyst extensions
  * (`spark.sql.extensions=graft.functions.GraftExtensions`). It installs:
  *   - six session functions usable from SQL text, not just the Column
  *     API: `graft_dot`, `graft_polyhash`, `graft_bloom_agg`,
  *     `graft_might_contain`, `graft_bucket` and the `graft_char_ngrams`
  *     generator;
  *   - the optimizer rule [[ExistsOverSizeFilter]];
  *   - the planner strategy [[graft.plans.GraftStrategies]] (the native
  *     merge as-of join);
  *   - the parser [[graft.plans.GraftSqlParser]] (lake maintenance SQL);
  *   - the AQE query-stage preparation rule
  *     [[graft.plans.SmallSortGather]], which sorts a small ORDER BY
  *     input in one task. It keys on the existing adaptive broadcast
  *     threshold and adds no conf of its own.
  * `Tables` still calls `GraftFunctions.ensureRegistered` so sessions
  * built *without* the conf keep their functions; this class is the path
  * a cluster deployment uses.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_polyhash"),
      new ExpressionInfo(classOf[StringPolyHash].getName, "graft_polyhash"),
      (exprs: Seq[Expression]) => StringPolyHash(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (exprs: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_bucket"),
      new ExpressionInfo(classOf[BandBucket].getName, "graft_bucket"),
      (exprs: Seq[Expression]) => BandBucket(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_char_ngrams"),
      new ExpressionInfo(classOf[CharNgrams].getName, "graft_char_ngrams"),
      (exprs: Seq[Expression]) => CharNgrams(exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => ExistsOverSizeFilter)
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
    // lake maintenance SQL (OPTIMIZE …, VACUUM … RETAIN n VERSIONS) —
    // a delegating parser that intercepts only that grammar
    ext.injectParser((_, parser) => new graft.plans.GraftSqlParser(parser))
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallSortGather)
  }
}
