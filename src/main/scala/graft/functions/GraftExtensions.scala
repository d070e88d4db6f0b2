package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions installer for graft's native functions — the
  * production injection path: a deployment sets
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) and every session on the
  * cluster has every [[GraftFunctions.entries]] function from birth,
  * catalog-visible with usage strings — no per-query
  * `GraftFunctions.register` call to forget. The per-query register
  * remains for ad-hoc sessions; both read the same entry list, so they
  * bind the same names to the same Expression builders.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.entries.foreach { e =>
      ext.injectFunction((FunctionIdentifier(e.name), GraftFunctions.info(e, "built-in"), e.builder))
    }
}
