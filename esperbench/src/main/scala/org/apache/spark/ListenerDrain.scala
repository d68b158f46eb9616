package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so
  * counters read after a run include its last tasks. (The bus's drain
  * call is package-private to Spark, hence this file's package.) */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
