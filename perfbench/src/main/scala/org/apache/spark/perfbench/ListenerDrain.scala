package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which is `private[spark]`, so the tracer can
  * read a span's jobs only after every event posted so far was delivered.
  * A fixed sleep is a race: the largest job's events arrive last.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
