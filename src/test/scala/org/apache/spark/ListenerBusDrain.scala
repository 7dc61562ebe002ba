package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps package-private:
  * a spec that counts events asserts only after every posted event landed. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
