package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.VectorExprs

/** SparkSessionExtensions entry point: enables the graft native functions
  * for any session via
  * `--conf spark.sql.extensions=graft.GraftExtensions` (cluster-wide,
  * no code change), complementing the imperative
  * [[graft.functions.VectorExprs.register]] used inside the library.
  * Both inject the same table, [[graft.functions.VectorExprs.functions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    for ((name, cls, build) <- VectorExprs.functions)
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
}
