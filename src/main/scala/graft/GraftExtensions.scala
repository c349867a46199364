package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graftx.GraftExpr

/** Cluster-wide registration of graft's native SQL functions:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * makes every function of `GraftExpr.sqlFunctions` (`dot_long`,
  * `sorted_jaccard`, `hamming_dist`, the n-gram hashes, ...) available to
  * every session (including pure-SQL users, thrift/Connect servers, and
  * notebooks that never touch the Scala API) — the deploy-time complement
  * of the per-session `GraftFunctions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExpr.sqlFunctions.foreach { f =>
      ext.injectFunction((new FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name, f.usage, ""),
        f.build))
    }
}
