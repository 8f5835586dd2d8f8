package graft

import graft.functions.{BottomKSorted, FloatVecDot, FloatVecSqNorm, HllRegisters, MgCandidates, Simhash16, SortedIntersectSize}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering the engine's native Catalyst expressions
  * (SURVEY.md §7, "custom Catalyst work"): enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — the
  * public `SparkSessionExtensions` injection point, no private Spark API.
  * The functions are then reachable from SQL and from the Column API via
  * `functions.call_function("vec_dot", a, b)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: built-in size(array_intersect(sorted-distinct,
    // sorted-distinct)) → the native merge walk (IntersectRewrite)
    ext.injectOptimizerRule(_ => graft.functions.IntersectRewrite)
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vec_dot(arrayOfFloat, arrayOfFloat)")
        FloatVecDot(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "sorted_intersect_size"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "sorted_intersect_size(arrayOfLong, arrayOfLong)")
        SortedIntersectSize(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[Simhash16].getName, "simhash16"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash16(arrayOfInt)")
        Simhash16(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("hll_registers"),
      new ExpressionInfo(classOf[HllRegisters].getName, "hll_registers"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "hll_registers(stringKey)")
        HllRegisters(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("bottomk_sorted"),
      new ExpressionInfo(classOf[BottomKSorted].getName, "bottomk_sorted"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "bottomk_sorted(stringHash, doubleValue, kLiteral)")
        BottomKSorted(args.head, args(1), intLiteral("bottomk_sorted", args(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("mg_candidates"),
      new ExpressionInfo(classOf[MgCandidates].getName, "mg_candidates"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "mg_candidates(stringKey, kLiteral)")
        MgCandidates(args.head, intLiteral("mg_candidates", args(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_sqnorm"),
      new ExpressionInfo(classOf[FloatVecSqNorm].getName, "vec_sqnorm"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "vec_sqnorm(arrayOfFloat)")
        FloatVecSqNorm(args.head)
      }))
  }

  /** The integer literal argument `k` of function `fn`. */
  private def intLiteral(fn: String, k: Expression): Int = {
    require(k.foldable, s"$fn: k must be a literal")
    k.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => sys.error(s"$fn: integer k expected, got $other")
    }
  }
}
