package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run reads listener counters only after every event of a
  * finished job has been delivered.
  */
object BenchShims {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
