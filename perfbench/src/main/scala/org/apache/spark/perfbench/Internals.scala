package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.util.AccumulatorContext

/** The two Spark internals the tracer needs; both are private to Spark,
  * hence this package.
  */
object Internals {
  /** Block until every listener has processed every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The name of a live accumulator, such as a SQL metric's. */
  def accumulatorName(id: Long): Option[String] = AccumulatorContext.get(id).flatMap(_.name)
}
