package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{DataType, ObjectType}

/** A Catalyst expression that is one call of a static kernel method,
  * `owner.method(children..., constants...)`. Spark's own
  * `objects.StaticInvoke` runs the call both interpreted (`eval`, by
  * reflection) and compiled (`doGenCode`, the same `Owner.method(args)` in
  * the generated Java), so each kernel is written once, as its static
  * method.
  *
  * A kernel declares its owner object's class, the method name and the
  * expected type of each child (checked at analysis as "`<name>` expects
  * `<type>`, got `<type>`"), plus
  *  - `constants`: arguments after the children. Ints, longs and booleans
  *    become inline literals; any other object (a `HashSet`, `long[]`,
  *    `double[][]`) a reference literal of its raw class, the one type
  *    string Janino compiles for a generic class;
  *  - one NULL rule: by default a NULL child gives NULL out and the method
  *    never sees it; with `passNull` the method receives NULL children and
  *    decides itself (e.g. `minhash_sig(NULL)` is k NULLs). Separately,
  *    `nullResult` says the method may return null.
  * `nullable` follows from the rule.
  *
  * The `StaticInvoke` is built from these (not kept as a child), so the
  * plan shows the kernel's own name and case-class fields, and structural
  * equality, canonicalization and common-subexpression elimination see the
  * kernel's `Seq`-typed parameters, not the objects built from them. It is
  * per instance and holds an argument buffer, so the kernel is `stateful`:
  * Spark copies it for each interpreted projection. Subexpression
  * elimination does not read `stateful`. The base is `Serializable` itself,
  * as plans ship to executors and its constructor takes arguments.
  */
abstract class NativeKernel(owner: Class[_], method: String, argTypes: DataType*)
  extends Expression with Serializable {

  /** Arguments after the children, in the method's order. Write a list
    * that mixes Int and Long as `Seq[Any](...)`: `Seq(1, 2L)` widens the
    * Int, and the method lookup then misses.
    */
  protected def constants: Seq[Any] = Nil

  /** The method takes NULL children itself instead of NULL in, NULL out. */
  protected def passNull: Boolean = false

  /** The method may return null. */
  protected def nullResult: Boolean = false

  override def nullable: Boolean = (!passNull && children.exists(_.nullable)) || nullResult
  override def foldable: Boolean = children.forall(_.foldable)
  override def stateful: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    children.zip(argTypes).collectFirst {
      case (c, t) if !DataTypeUtils.sameType(c.dataType, t) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects ${t.catalogString}, got ${c.dataType.catalogString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  @transient private lazy val call: Expression = StaticInvoke(
    owner, dataType, method, children ++ constants.map {
      case v @ (_: Int | _: Long | _: Boolean) => Literal(v)
      case o: AnyRef => Literal(o, ObjectType(o.getClass))
    },
    propagateNull = !passNull, returnNullable = nullResult)

  override def eval(input: InternalRow): Any = call.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.genCode(ctx)
}
