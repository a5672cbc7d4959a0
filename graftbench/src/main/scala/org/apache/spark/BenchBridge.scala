package org.apache.spark

/** The Spark-private calls the harness needs: block until every queued
  * listener event has been delivered (so the span ledger is complete
  * before it is read), and resolve an accumulator id to its name (so
  * driver-side SQL metrics such as "number of files read" can be told
  * apart).
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def accumulatorName(id: Long): Option[String] =
    org.apache.spark.util.AccumulatorContext.get(id).flatMap(_.name)
}
