package org.apache.spark

/** The one package-private hook the benchmark needs: its listener's books are
  * read only after every event already posted has been delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
