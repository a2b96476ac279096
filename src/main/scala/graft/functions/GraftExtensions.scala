package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions hook: makes the engine's native functions
  * available in ANY session created with
  * `spark.sql.extensions=graft.functions.GraftExtensions` — no explicit
  * [[GraftFunctions.register]] call needed (library code still calls
  * register() defensively; it installs only what is missing).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build)))
    ext.injectOptimizerRule(_ => ReduceSplitSizeToNTokens)
  }
}
