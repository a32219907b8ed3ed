package graft

/** Public face of the native Catalyst vector expressions (implementation
  * lives in org.apache.spark.sql.graftfn for private[sql] access).
  */
package object functions {
  val VectorFunctions = org.apache.spark.sql.graftfn.VectorFunctions
}
