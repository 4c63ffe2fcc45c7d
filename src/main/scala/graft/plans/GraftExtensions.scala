package graft.plans

import graft.functions.CosineDot
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType}

/** Optimizer rule: fuse the declarative float-array dot-product fold
  *
  *   aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, (acc,v) -> acc+v)
  *   aggregate(v, 0d, (acc,x) -> acc + double(x)*double(x))        (self-dot)
  *
  * into the native [[CosineDot]] expression. Semantics are identical
  * (sequential double accumulation, null-element → null), but the fused
  * form skips the intermediate zipped array allocation and stays inside
  * whole-stage codegen — this is the hot inner loop of every similarity /
  * ANN / embedding-dedup query, executed O(n·k) times at scale.
  *
  * Correctness never depends on this rule firing: the declarative fold
  * computes the same values if the pattern drifts.
  */
object FuseDotProduct extends Rule[LogicalPlan] {
  private def isDoubleCastOf(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case c: Cast => c.dataType == DoubleType && (c.child match {
      case u: NamedLambdaVariable => u.exprId == v.exprId
      case _ => false
    })
    case _ => false
  }

  private def isVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case u: NamedLambdaVariable => u.exprId == v.exprId
    case _ => false
  }

  /** The lambda body's element access matching array `arr`'s element
    * type: a FLOAT array element must appear under an explicit double
    * cast (a bare float multiply would be float arithmetic — different
    * semantics); a DOUBLE array element may appear bare or under a
    * (no-op) double cast, whichever the optimizer left behind.
    */
  private def isElem(arr: Expression, e: Expression, v: NamedLambdaVariable): Boolean =
    arr.dataType match {
      case ArrayType(DoubleType, _) => isVar(e, v) || isDoubleCastOf(e, v)
      case ArrayType(FloatType, _)  => isDoubleCastOf(e, v)
      case _ => false
    }

  private def isNumArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // zip_with form: dot(a, b) — float and/or double arrays
    case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(mul: Multiply, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(0.0d, DoubleType),
          LambdaFunction(add: Add, Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
          LambdaFunction(fin, Seq(facc: NamedLambdaVariable), _))
        if isNumArray(a) && isNumArray(b) &&
           isElem(a, mul.left, x) && isElem(b, mul.right, y) &&
           isVar(add.left, acc) && isVar(add.right, v) && isVar(fin, facc) =>
      CosineDot(a, b)
    // self-dot form: aggregate(v, 0d, (acc,x) -> acc + x*x) (double) /
    // acc + double(x)*double(x) (float)
    case ArrayAggregate(
          arr,
          Literal(0.0d, DoubleType),
          LambdaFunction(add: Add, Seq(acc: NamedLambdaVariable, x: NamedLambdaVariable), _),
          LambdaFunction(fin, Seq(facc: NamedLambdaVariable), _))
        if isNumArray(arr) && isVar(add.left, acc) && isVar(fin, facc) &&
           (add.right match {
             case m: Multiply => isElem(arr, m.left, x) && isElem(arr, m.right, x)
             case _ => false
           }) =>
      CosineDot(arr, arr)
  }
}

/** Rewrites `Filter(graft_topk(key, order, tiebreak, k), child)` into the
  * [[TopKPerKey]] logical operator (the marker-function route is the
  * public-API way to introduce a custom node into an existing Dataset's
  * plan).
  */
object RewriteTopKMarker extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(TopKMarker(Seq(key, order, tiebreak, Literal(k: Int, IntegerType))), child) =>
      TopKPerKey(key, order, tiebreak, k, child)
  }
}

/** Plans [[TopKPerKey]] as partial (map-side bounded heaps) → exchange on
  * key (from FinalTopKExec's required distribution) → final exact top-k.
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(key, order, tiebreak, k, child) =>
      FinalTopKExec(key, order, tiebreak, k,
        PartialTopKExec(key, order, tiebreak, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Session extensions: registers the `cosine_dot` SQL function, the
  * `graft_topk` marker, the `graft_as_of` table function, the
  * [[FuseDotProduct]]/[[RewriteTopKMarker]]/[[KeyedRegionPrune]]
  * optimizer rules, and the [[TopKStrategy]] planner strategy. Installed
  * on every session [[graft.GraftSession.local]] builds — the
  * Spark-native analog of the reference's "custom machinery" surface
  * (SURVEY.md §7.2 M4).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Table-valued SQL surface for the versioned store's time travel:
    * `SELECT … FROM graft_as_of('/store/dir', 3)` resolves to the
    * snapshot's parquet relation — `VersionedStore.asOf` reachable from
    * raw SQL text (the FOR VERSION AS OF idiom of the lakehouse
    * formats, expressed as a TVF so no parser extension is needed).
    * Arguments must be foldable (a table source can't depend on row
    * values); the manifest resolution happens at analysis, so the plan
    * below is an ordinary multi-path parquet scan with every pushdown
    * intact.
    */
  private def asOfPlan(exprs: Seq[Expression]): LogicalPlan = {
    def fold(e: Expression): Any = e match {
      case Literal(v, _) => v
      case other if other.foldable => other.eval()
      case other => throw new IllegalArgumentException(
        s"graft_as_of arguments must be literals, got: ${other.sql}")
    }
    require(exprs.size == 2,
      "usage: graft_as_of(<store dir string>, <version int>)")
    val dir = fold(exprs.head).toString
    val version = fold(exprs(1)).asInstanceOf[Number].intValue()
    graft.ops.VersionedStore.asOf(
      org.apache.spark.sql.SparkSession.active, dir, version)
      .queryExecution.analyzed
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectTableFunction((
      new FunctionIdentifier("graft_as_of"),
      new ExpressionInfo(classOf[graft.ops.VersionedStore.type].getName,
        "graft_as_of"),
      (exprs: Seq[Expression]) => asOfPlan(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("cosine_dot"),
      new ExpressionInfo(classOf[CosineDot].getName, "cosine_dot"),
      (exprs: Seq[Expression]) => CosineDot(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[graft.functions.SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (exprs: Seq[Expression]) =>
        graft.functions.SortedIntersectCount(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("morton_interleave"),
      new ExpressionInfo(classOf[graft.functions.MortonInterleave].getName,
        "morton_interleave"),
      (exprs: Seq[Expression]) =>
        graft.functions.MortonInterleave(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sliding"),
      new ExpressionInfo(classOf[graft.functions.SlidingWindows].getName,
        "graft_sliding"),
      (exprs: Seq[Expression]) =>
        graft.functions.SlidingWindows(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKMarker].getName, "graft_topk"),
      (exprs: Seq[Expression]) => TopKMarker(exprs)))
    ext.injectOptimizerRule(_ => FuseDotProduct)
    ext.injectOptimizerRule(_ => RewriteTopKMarker)
    ext.injectOptimizerRule(_ => KeyedRegionPrune)
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }
}
