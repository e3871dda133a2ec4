package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types.DataType

/** Bridge into the `private[sql]` Column ↔ Expression converters of the
  * classic (non-connect) API, so the engine's Catalyst kernels can be
  * exposed as `Column`s. Same technique many Spark extension libraries use;
  * confined to this one file. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The value of a foldable column (a literal), read when the plan is built. */
  def foldedValue(c: Column): Any = classic.ColumnNodeToExpressionConverter(c.node).eval()

  /** `obj.method(args)` for a Scala object `obj`, as Spark's `StaticInvoke`:
    * a plain static call in whole-stage generated code. The method takes and
    * returns Catalyst values (`UTF8String`, `ArrayData`, `InternalRow`,
    * `Array[Byte]`, primitives). With `propagateNull` a null argument gives
    * null without a call; without it the method sees the nulls.
    * `returnNullable` says the method itself may return null.
    * `deterministic = false` keeps the optimizer from moving or copying the
    * call (see `HotPathFunctions.text_features`). */
  def staticCall(obj: AnyRef, method: String, dataType: DataType, args: Seq[Column],
      propagateNull: Boolean = true, returnNullable: Boolean = false,
      deterministic: Boolean = true): Column =
    column(StaticInvoke(obj.getClass, dataType, method, args.map(expression),
      propagateNull = propagateNull, returnNullable = returnNullable,
      isDeterministic = deterministic))

  /** `kernel.method(args)` as Spark's `Invoke`, the kernel instance carried
    * in the plan as one literal. Kernels holding plan-time parameters are
    * case classes, so equal parameters give equal literals and independently
    * built plans stay `sameResult` (CacheManager reuse). Null flags as in
    * [[staticCall]]. */
  def instanceCall(kernel: Product with Serializable, method: String,
      dataType: DataType, args: Seq[Column],
      propagateNull: Boolean = true, returnNullable: Boolean = false): Column =
    column(Invoke(Literal.fromObject(kernel), method, dataType, args.map(expression),
      propagateNull = propagateNull, returnNullable = returnNullable))

  /** The persisted RDD behind a `localCheckpoint`ed Dataset. `Dataset
    * .unpersist()` is a no-op on checkpoint-backed frames (their blocks are
    * not in the CacheManager), so explicit cleanup must unpersist the
    * underlying `LogicalRDD`'s RDD — this resolves it. */
  def checkpointRdd(ds: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    ds.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }
}
