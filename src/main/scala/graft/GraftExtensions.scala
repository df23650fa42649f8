package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions

/** Gives a session the library's custom codegen expressions
  * ([[GraftFunctions.all]]) when it is built. [[LocalSession]] and the
  * test session build with `.withExtensions(new GraftExtensions)`; a
  * cluster sets `spark.sql.extensions=graft.GraftExtensions`. No
  * analyzer/optimizer rules or strategies are injected: SURVEY.md §4 —
  * every plan shape the engine needs is native (scan → shuffle → window →
  * agg → broadcast-join → window → sink).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.entries.foreach(e.injectFunction)
}
