/* Package shim: BlockManagerMaster and SparkEnv internals are
 * private[spark], so the deterministic between-query release used by
 * graft.Bench/Verify lives in an org.apache.spark subpackage (same
 * pattern as the sql/graft Column↔Expression shim).
 */
package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

object MemoryRelease {

  /** Drop every broadcast block from the block manager (driver and
    * executors). The ContextCleaner only removes a broadcast after
    * its driver-side object is GC'd; over a ~120-query benchmark the
    * accumulated blocks occupy unified storage memory and push
    * memory-hungry aggregations into spills. Calling System.gc()
    * instead would release them too — but a per-query full GC
    * measurably slowed every subsequent iterative query (cause not
    * isolated; not the codegen class cache, which in Spark 4.1 is a
    * NonFateSharingCache bounded at spark.sql.codegen.cache.maxEntries,
    * default 100, evicted by entry count rather than by GC). This
    * removal is targeted: block-manager state only, JVM caches
    * untouched. Safe between queries because no plan re-reads a prior
    * query's broadcast.
    */
  def dropBroadcasts(): Unit = {
    val master = SparkEnv.get.blockManager.master
    master
      .getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case BroadcastBlockId(id, _) => id }
      .distinct
      .foreach(id => master.removeBroadcast(id, removeFromMaster = true, blocking = true))
  }

  /** Drain the listener bus so a profiling listener has seen every
    * event of the job that just finished (graft.Profile only — the
    * bus is private[spark], same shim rationale as above).
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
