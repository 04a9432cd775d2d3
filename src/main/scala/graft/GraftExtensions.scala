package graft

import graft.functions.GraftExpressions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions entry point: injects every function in
  * `GraftExpressions.functions` at session build time. A builder's
  * `.withExtensions(new GraftExtensions)`, or
  *
  * {{{
  * spark-sql --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * for `spark-sql` / Thrift users who never touch the Scala API, makes the
  * graft_* functions available in SQL on every session. Every engine entry
  * point builds through `GraftSession.builder`, which adds this. A session
  * built without it (an embedding application's own) gets the same list
  * from `GraftExpressions.ensureRegistered`, which each `QueryDef` run
  * calls first.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExpressions.functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name), GraftExpressions.info(name), builder))
    }
}
