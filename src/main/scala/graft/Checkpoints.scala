package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of `localCheckpoint` storage.
  *
  * `Dataset.localCheckpoint` pins its materialized partitions: lineage is
  * truncated, so Spark can never evict-and-recompute the blocks, and they
  * stay in the block store until the RDD is explicitly unpersisted or the
  * context dies. Iterative operators (label propagation, recursive
  * fixpoints, Lloyd training) that checkpoint every round therefore leak
  * one pinned RDD per round per invocation — on a long-lived session
  * (a real cluster's driver as much as a bench loop) the block store
  * fills with superseded rounds and every rep gets slower. This object is
  * the discipline: the moment a checkpointed frame is superseded, release
  * it; for the frame a query RETURNS (whose blocks the caller still has
  * to read), release it when the NEXT invocation of the same operator
  * supersedes it.
  */
object Checkpoints {

  /** Unpersist every checkpointed RDD in the frame's lineage. The frame
    * (and any other frame sharing those leaves) must not be executed
    * afterwards — lineage is truncated, recompute is impossible. Safe to
    * call twice (unpersist is idempotent). */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Checkpoint-backed frames a query returns, keyed by operator name +
    * session: registering a new result releases the previous invocation's
    * blocks (by then consumed — invocations of one operator are
    * sequential in verify/bench/tests alike). Entries for stopped
    * sessions are dropped on access so the map never pins a dead
    * session's plans. */
  private val lastResult = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), DataFrame]()

  /** PER-INVOCATION evictable materializations, keyed by (source DataFrame
    * instance, config tag) for release bookkeeping only. A relation an
    * operator references several times in ONE invocation (the minhash gram
    * arrays feed the banding pass, the signature pass and both verify join
    * sides; a planning action executes it a first time before the query
    * even returns) is persisted so that single invocation computes it
    * once. The persist is NOT a cross-invocation memo: re-requesting a
    * (src, tag) UNPERSISTS the previous entry and rebuilds, so every
    * bench rep and every oracle run recomputes the relation from the
    * parquet scan — a bench statistic must never time a predecessor rep's
    * warm blocks. The previous entry is unpersisted BEFORE the new
    * persist: CacheManager matches semantically-equal plans, so
    * persisting first would log "already cached" and silently hand the
    * new invocation the old blocks. persist, not localCheckpoint: blocks
    * stay evictable under memory pressure (they recompute from the scan),
    * and a superseded entry's release keeps the block store flat across
    * reps instead of stacking a pinned copy each rep. Entries whose
    * session has stopped drop on access (their blocks died with the
    * context). */
  private val matCache =
    new java.util.concurrent.ConcurrentHashMap[(DataFrame, String), DataFrame]()

  def materialized(src: DataFrame, tag: String)
      (build: => DataFrame): DataFrame = {
    val it = matCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.sparkSession.sparkContext.isStopped) it.remove()
    }
    val prev = matCache.remove((src, tag))
    if (prev != null) prev.unpersist(blocking = false)
    val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    matCache.put((src, tag), df)
    df
  }

  /** Checkpoints that belong to the result built over them rather than to
    * an operator, held weakly: only the result decides how long they live.
    * Once it is unreachable, Spark's ContextCleaner unpersists them (a
    * local checkpoint registers for that cleanup); [[releaseAll]] releases
    * the session's at once. A later invocation never releases them, so a
    * result the caller still holds stays readable. */
  private val owned = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_], org.apache.spark.sql.SparkSession]())

  /** Registers `rdd`, a local checkpoint that `result` reads, as owned by
    * the result (see [[owned]]); returns `result`. */
  def ownedBy(result: DataFrame, rdd: org.apache.spark.rdd.RDD[_]): DataFrame = {
    owned.put(rdd, result.sparkSession)
    result
  }

  /** Release EVERY registered last-result checkpoint of the session.
    * A sequential harness (bench, verify) calls this between queries:
    * the previous query's result is fully consumed by then, and the next
    * query deserves the whole scratch budget — without this, one
    * checkpoint-heavy operator's pinned blocks ride along under every
    * later query in the session (at the sf1-equivalent scale that is
    * gigabytes of disk a later shuffle-heavy query then can't have). */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val it = lastResult.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) { release(e.getValue); it.remove() }
    }
    // the finished query's per-invocation persists are consumed too: drop
    // them so their blocks don't sit under every later query's scratch
    // (and so no later query can ever resolve against them via
    // CacheManager plan matching)
    val mit = matCache.entrySet().iterator()
    while (mit.hasNext) {
      val e = mit.next()
      if (e.getValue.sparkSession eq spark) {
        e.getValue.unpersist(blocking = false); mit.remove()
      }
    }
    owned.synchronized {
      val oit = owned.entrySet().iterator()
      while (oit.hasNext) {
        val e = oit.next()
        if (e.getValue eq spark) { e.getKey.unpersist(blocking = false); oit.remove() }
      }
    }
  }

  def superseding(key: String, df: DataFrame): DataFrame = {
    val it = lastResult.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getKey._1.sparkContext.isStopped) it.remove()
    }
    val prev = lastResult.put((df.sparkSession, key), df)
    if (prev != null && (prev ne df)) release(prev)
    df
  }
}
