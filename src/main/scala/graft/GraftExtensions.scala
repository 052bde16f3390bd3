package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Standard extension entry point: makes the graft SQL functions available
  * in every session via
  * `--conf spark.sql.extensions=graft.GraftExtensions` — no code changes
  * needed in the consuming application. Injects the same function table
  * `functions.registerAll` registers.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.scalarFunctions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), functions.infoOf(name, cls), builder))
    }
    functions.tableFunctions.foreach { case (name, cls, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name), functions.infoOf(name, cls), builder))
    }
  }
}
