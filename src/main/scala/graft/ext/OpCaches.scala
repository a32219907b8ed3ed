package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lifecycle registry for operator-internal persisted frames.
  *
  * Several operators persist an intermediate that the returned plan
  * references two or three times (minhash / n-gram shingle sets, tf-idf
  * term frequencies, packSequences' range-partitioned base). The operator
  * cannot unpersist it before returning — the returned plan is lazy and
  * still references the cached lineage, so an eager unpersist would defeat
  * the reuse — and silently pinning MEMORY_AND_DISK blocks for the life of
  * the session is a leak. Ownership therefore transfers to the caller:
  * every such persist goes through [[persist]] (or [[checkpoint]]) and
  * registers here, and after the terminal action
  * on an operator's result the caller calls [[releaseAll]] (idempotent,
  * non-blocking unpersist of everything registered since the last call).
  *
  * `graft.Verify` and `graft.Bench` release between queries; Bench and
  * `graft.tools.Profile` release through [[releaseAllLeaks]] and report
  * what survives — the regression guard that keeps a full gate run
  * cache-neutral.
  */
object OpCaches {
  private val reg = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val rddReg =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  /** Persist an operator-internal frame at the session's default cache
    * level (`spark.sql.defaultCacheStorageLevel`, MEMORY_AND_DISK unless
    * set) and register it for [[releaseAll]]; returns the persisted frame.
    */
  private[graft] def persist(df: DataFrame): DataFrame = {
    val cached = df.persist()
    reg.add(cached)
    cached
  }

  /** Eagerly `localCheckpoint(true)` a frame and register its blocks for
    * [[releaseAll]]; returns the checkpointed frame. Checkpoint blocks
    * live OUTSIDE the CacheManager — neither `Dataset.unpersist` nor
    * `catalog.clearCache` reaches them, and the ContextCleaner only
    * reclaims them on a lucky GC — so the iterative fitters' per-round
    * barriers must hand their raw RDDs to the registry (the
    * `cache_leaked_blocks` root cause, VERDICT r8 #2: Bradley-Terry's
    * final-round block outlived every bench query).
    *
    * Caveat sharpening the usual contract: a released checkpoint block is
    * NOT recomputable (LocalCheckpointRDD has no lineage), so re-running
    * a released frame throws instead of silently recomputing. Call
    * [[releaseAll]] only after the terminal action, and rebuild the query
    * for another run — exactly what Verify/Bench already do per rep.
    */
  private[graft] def checkpoint(df: DataFrame): DataFrame = {
    val barrier = df.localCheckpoint(true)
    org.apache.spark.sql.graftfn.CheckpointRdd.of(barrier).foreach(rddReg.add)
    barrier
  }

  /** Unpersist every registered frame (non-blocking) and clear the
    * registry. Safe to call at any time: frames whose results were already
    * computed into the caller's action are simply dropped from the cache.
    */
  def releaseAll(): Unit = {
    var df = reg.poll()
    while (df != null) { df.unpersist(blocking = false); df = reg.poll() }
    var r = rddReg.poll()
    while (r != null) { r.unpersist(blocking = false); r = rddReg.poll() }
  }

  /** [[releaseAll]], then unpersist and return every persisted RDD that
    * survives it: a block some operator persisted outside this registry.
    * A localCheckpoint block is only weakly held (the ContextCleaner drops
    * it on GC), so survivors are re-read after one GC before they count.
    * Survivors are dropped from both cache layers — `clearCache` never
    * reaches raw-RDD persists — so a leak cannot distort the next run.
    */
  def releaseAllLeaks(spark: SparkSession): Seq[RDD[_]] = {
    releaseAll()
    val sc = spark.sparkContext
    if (sc.getPersistentRDDs.nonEmpty) { System.gc(); Thread.sleep(100) }
    val left = sc.getPersistentRDDs.values.toSeq
    if (left.nonEmpty) {
      spark.catalog.clearCache()
      left.foreach(_.unpersist(blocking = false))
    }
    left
  }
}
