package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, when}

/** Public face of the native Catalyst vector expressions (implementation
  * lives in org.apache.spark.sql.graftfn for private[sql] access), and the
  * library's one integer division.
  */
package object functions {
  val VectorFunctions = org.apache.spark.sql.graftfn.VectorFunctions

  /** Integer division truncated toward zero: Spark's `div`
    * (`IntegralDivide`), Java's `/` and DuckDB's `//` on integers. Exact
    * for every long — Column `/` always divides in double and loses
    * integers above 2^53. Integral (or decimal) operands only: a double
    * operand fails analysis.
    */
  def div(a: Column, b: Column): Column = call_function("div", a, b)

  /** Integer division rounded toward negative infinity, as
    * `Math.floorDiv`: the truncated quotient, less one when a non-zero
    * remainder and the divisor differ in sign. Exact for every long;
    * DuckDB's `//` for non-negative operands.
    */
  def floorDiv(a: Column, b: Column): Column = {
    val r = a % b
    div(a, b) - when(r =!= 0 && (r < 0) =!= (b < 0), 1L).otherwise(0L)
  }
}
