package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The Spark internals graft's specs inspect that Spark keeps
  * package-private.
  */
object GraftSpecBridge {

  /** Deliver every listener event posted so far, so the status tracker
    * reflects every job that ended before this call.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The planner strategies and optimizer rules `register` injects into a
    * fresh extensions object, in injection order.
    */
  def injected(register: SparkSessionExtensions => Unit,
      s: SparkSession): (Seq[SparkStrategy], Seq[Rule[LogicalPlan]]) = {
    val ext = new SparkSessionExtensions
    register(ext)
    (ext.buildPlannerStrategies(s), ext.buildOptimizerRules(s))
  }
}
