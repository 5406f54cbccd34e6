package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension wiring for the engine's native functions, optimizer
  * rules and planner strategies (the one list in
  * [[graft.functions.GraftFunctions]]): build a session with
  * `.withExtensions(new GraftExtensions)` or set
  * `spark.sql.extensions=graft.GraftExtensions`. Query functions also
  * self-register idempotently ([[graft.functions.GraftFunctions
  * .ensureRegistered]]) so they work on externally built sessions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    val g = graft.functions.GraftFunctions
    g.functions.foreach(ext.injectFunction)
    g.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    g.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}
