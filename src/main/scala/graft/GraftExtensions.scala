package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.CwlEvents

/** The idiomatic deployment hook for graft's SQL surface: set
  * `spark.sql.extensions=graft.GraftExtensions` (spark-submit,
  * spark-defaults.conf, or `SparkSession.builder().withExtensions`)
  * and every session of the application resolves the `graft_*`
  * functions from SQL with no library call at all — the cluster-wide
  * twin of [[GraftSession.ensureRegistered]], which operators naming a
  * function in SQL text invoke so a plain session also works.
  * Both paths register the same [[GraftSession.sqlFunctions]] list.
  *
  * It also injects [[graft.functions.CwlEvents.Prune]], the optimizer
  * rule that narrows the fused CWL decode to the columns a query
  * reads. [[GraftSession.builder]] installs these extensions; a
  * session without them decodes every column, with identical rows.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSession.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    ext.injectOptimizerRule(_ => CwlEvents.Prune)
  }
}
