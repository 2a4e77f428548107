package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.functions._

import graft.plans.{DotProduct, L2Norm}

/** Vector math over array<double> columns: the native kernels
  * ([[graft.plans.VecExprs]]) as Columns. The kernels are the one shipped
  * form; their sums are the same left-associated IEEE fold as a lambda
  * `aggregate(zip_with(...))`, bit for bit, but run as one call inside
  * whole-stage codegen instead of one closure call per element.
  */
object Vec {

  /** [[graft.plans.DotProduct]] as a Column: one call inside whole-stage
    * codegen, any dimension, no per-element closures, no intermediate
    * arrays. Built directly, so it needs no function registration in the
    * session (SQL text reaches the same kernel as `dot_product`).
    */
  def dotNative(a: String, b: String): Column =
    GraftSqlShim.column(DotProduct(GraftSqlShim.expression(expr(a)), GraftSqlShim.expression(expr(b))))

  /** [[graft.plans.L2Norm]] as a Column (SQL: `l2_norm`). */
  def l2Native(a: String): Column =
    GraftSqlShim.column(L2Norm(GraftSqlShim.expression(expr(a))))
}
