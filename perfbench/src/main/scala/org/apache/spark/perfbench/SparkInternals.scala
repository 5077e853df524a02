package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** Engine internals the benchmark needs, which Spark keeps package-private:
  * storage memory in use (cached, checkpoint and broadcast blocks), a drained
  * listener bus (so a rep's metrics are complete before they are read), and
  * freeing broadcast blocks between reps.
  */
object SparkInternals {

  def storageMemoryUsed(): Long = SparkEnv.get.memoryManager.storageMemoryUsed

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Remove every broadcast variable's blocks (the benchmark runs with the
    * context cleaner's reference tracking off, so nothing else frees them).
    */
  def dropBroadcasts(): Unit = {
    val env = SparkEnv.get
    env.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.distinct
      .foreach(id => env.broadcastManager.unbroadcast(id, removeFromDriver = true, blocking = true))
  }
}
