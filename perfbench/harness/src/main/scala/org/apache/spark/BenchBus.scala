package org.apache.spark

/** The one private Spark hook the benchmark needs: block until the listener
  * bus has delivered every event posted so far, so a span's counters are
  * complete when the span closes. Lives in Spark's package because
  * `listenerBus` is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
