package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: makes every SQL name in
  * [[GraftFunctions.sqlFunctions]] available cluster-wide via
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (`GraftFunctions.register` is the per-session form).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, "", "", "", "", "", "", "",
          "built-in"),
        builder))
    }
}
