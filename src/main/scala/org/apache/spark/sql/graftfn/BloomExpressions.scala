// Hosted under org.apache.spark.sql for the same private[sql] plumbing
// access as VectorExpressions.
package org.apache.spark.sql.graftfn

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ExpectsInputTypes, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd Bloom probe of a long column against a DRIVER-built filter,
  * riding into generated code as one reference object. Only for answers
  * that depend on the false positives (`Dedup.incrementalExactBloom`);
  * prefilters build theirs in the query with [[BloomFunctions.might_contain]].
  */
case class BloomMightContainLong(child: Expression, filter: BloomFilter)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain_long"

  override def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", filter,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomFunctions {
  /** Column face of [[BloomMightContainLong]]. */
  def bloom_might_contain_long(key: Column, filter: BloomFilter): Column =
    ExpressionUtils.column(
      BloomMightContainLong(ExpressionUtils.expression(key), filter))

  /** Spark's `BloomFilterAggregate` over a long column (capped at the
    * `runtime.bloomFilter.maxNumItems`/`maxNumBits` confs); null if empty.
    */
  def bloom_filter_agg(key: Column, expectedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(new BloomFilterAggregate(ExpressionUtils.expression(key),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Spark's `BloomFilterMightContain`: `filter` a constant or scalar
    * subquery over [[bloom_filter_agg]]; null if either side is null. */
  def might_contain(filter: Column, key: Column): Column =
    ExpressionUtils.column(BloomFilterMightContain(
      ExpressionUtils.expression(filter), ExpressionUtils.expression(key)))
}
