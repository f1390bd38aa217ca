package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.expr.Kernel

/**
 * Session-extension entry point: ship the whole function surface into any
 * session at build time —
 *
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 *
 * or `SparkSession.builder.withExtensions(new GraftExtensions)`. This is
 * the production registration path (`registerAll` is the imperative
 * library-call equivalent). No optimizer rules or strategies are injected:
 * every graft operator lands on stock physical operators by design
 * (SURVEY.md §4), so functions are the entire extension surface.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Kernel.all.foreach { k =>
      ext.injectFunction((FunctionIdentifier(k.name), new ExpressionInfo("graft", k.name), k.apply))
    }
}
