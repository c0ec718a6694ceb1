package org.apache.spark

/** Access to the listener bus, which is private to the `org.apache.spark`
  * package: the benchmark drains it between passes so that every event of
  * a pass (job ends, task ends, stream progress) is counted in that pass.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
