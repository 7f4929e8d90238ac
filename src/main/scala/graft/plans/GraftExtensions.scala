package graft.plans

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Session extension carrying the engine's native Catalyst expressions
  * and [[NativeVectorRule]]. [[graft.GraftSession]] loads it into every
  * session it builds; on a shared cluster the same classes load through
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * }}}
  *
  * The functions are the rows of [[GraftFunctions.Kernels]], the same
  * table `GraftFunctions.ensureRegistered` reads, so a session behaves the
  * same with or without the extension; the extension makes every kernel
  * first-class from pure SQL (`SELECT graft_vec_dot(a, b)`), including in
  * `newSession()` children.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: interpreted HOF dot/sqdist folds -> native kernels
    // (strict bit-identical match only; see NativeVectorRule)
    ext.injectOptimizerRule(_ => NativeVectorRule)
    GraftFunctions.Kernels.foreach(k =>
      ext.injectFunction((FunctionIdentifier(k.name), k.info, k.build)))
  }
}
