package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension wiring (SURVEY.md §3.2 / §4). Its one entry point is
  * `spark.sql.extensions=graft.plans.GraftExtensions`, which
  * [[graft.GraftSession.configure]] sets; a session built that way gets the
  * SQL functions `ppdb_split`, `dot_product` and `l2_norm` and the planner
  * strategy [[AsOfJoinStrategy]]. It adds no optimizer rule: queries run
  * the kernels they call, and a lambda fold stays a lambda fold. There is
  * no imperative registration: a session built otherwise has none.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("ppdb_split"),
        new ExpressionInfo(
          classOf[PpdbSplitLine].getCanonicalName,
          "ppdb_split",
          "ppdb_split(line) - one-pass split of a PPDB release line on ' ||| '"),
        (args: Seq[Expression]) => PpdbSplitLine(args.head)),
      (
        FunctionIdentifier("dot_product"),
        new ExpressionInfo(
          classOf[DotProduct].getCanonicalName,
          "dot_product",
          "dot_product(a, b) - codegen'd double-array dot product (left-fold IEEE order)"),
        (args: Seq[Expression]) => DotProduct(args.head, args(1))),
      (
        FunctionIdentifier("l2_norm"),
        new ExpressionInfo(
          classOf[L2Norm].getCanonicalName,
          "l2_norm",
          "l2_norm(a) - codegen'd double-array L2 norm (left-fold IEEE order)"),
        (args: Seq[Expression]) => L2Norm(args.head)))
}
