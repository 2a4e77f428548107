package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: a
  * spec that counts listener events drains the bus before reading them.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
