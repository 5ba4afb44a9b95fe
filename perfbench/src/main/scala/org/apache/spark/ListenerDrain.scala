package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer must see
  * every job, stage and task event of a span before it reads the span's
  * counts. `waitUntilEmpty` is `private[spark]`, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
