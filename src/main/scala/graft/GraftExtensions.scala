package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graftfn.VectorFunctions

/** Cluster-wide installation point for the library's native functions:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or programmatically:
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Every session built with the extension resolves the graftfn expressions
  * by name in SQL (`SELECT simhash60(text) FROM corpus`), without the
  * per-session `VectorFunctions.register` call (which remains for
  * already-built sessions). Both install the one table,
  * `VectorFunctions.sqlFunctions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    VectorFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("org.apache.spark.sql.graftfn", name),
        builder))
    }
}
