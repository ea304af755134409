package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private:
  * the tracer drains it after each span so that every job, task and
  * progress event of the span has been counted before the span is read. */
object LayerbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
