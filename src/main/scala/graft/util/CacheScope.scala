package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scopes intra-query `.cache()` handles to the query that needs them
  * (r19, VERDICT r18 #5: `ivfTopKAdaptive` cached the WHOLE CORPUS per
  * adaptive query and leaned on the session owner's `clearCache()` — a
  * library caller that never clears leaves a MEMORY_AND_DISK corpus copy
  * pinned per invocation; the r18 `exR`/`exCapped`/`pruned`/`blk` sites
  * leak the same way at smaller size).
  *
  * The lazily-returned plan cannot unpersist behind itself, so the free
  * is event-driven: [[freeAfterUse]] registers a one-shot
  * [[QueryExecutionListener]] that fires after the FIRST completed
  * execution (success or failure) whose analyzed plan CONTAINS the
  * returned relation's plan — i.e. the caller's action on the query these
  * caches serve — then unpersists every handle (non-blocking) and
  * deregisters itself. Multi-read happens only inside that one plan, so
  * after its action the blocks are dead weight by construction.
  *
  * Properties:
  *  - timing-neutral for the measured action: the free runs on the
  *    listener bus AFTER the action completes (Bench's timed region and
  *    rep-to-rep behavior are unchanged — it clears caches between
  *    queries anyway);
  *  - re-execution safe: unpersist only drops blocks; a second action on
  *    the same DataFrame recomputes through the un-cached plan with
  *    identical semantics (and re-populates nothing — one-shot scope);
  *  - plan-only safe: a consumer that never executes (`explain`, plan
  *    specs) registers no blocks, so the unfired listener holds only a
  *    plan reference, and at most [[MaxPending]] such listeners stay
  *    registered — the oldest is forgotten without a free;
  *  - checkpoint-aware: handles that are `localCheckpoint`ed rather than
  *    cached are freed through [[Checkpoints.free]] (block-level RDD
  *    unpersist) — `Dataset.unpersist` alone would be a no-op for them.
  *    Only the handle's own checkpoint is freed, never a `LogicalRDD`
  *    inside its plan (the caller's input). A freed checkpoint cannot be
  *    recomputed, so a relation the result re-reads on a second action
  *    must be a cache, not a checkpoint.
  */
object CacheScope {
  // NOTE (r19, measured then rejected): an eager cache-materializing
  // count() before concurrent consumers was prototyped for the relations
  // whose profiles show several overlapping jobs "racing" a fresh cache
  // (the IVF ranked assignment, the media fingerprint/dhash relations).
  // The block manager already serializes cached-partition computation
  // (BlockInfoManager write-locks: the second task waits, then reads),
  // so the overlap is lock wait, not duplicated work — the up-front pass
  // only added a job and measured flat-to-worse in 7-rep A/Bs
  // (q119 +0.37 s, q114 +0.22 s, q121/q36 flat). Lazy caches stand.

  /** Most scopes left pending at once. A scope whose result never
    * executes (`explain`, plan specs) would stay registered for the session,
    * its plan tested by `sameResult` on every later execution; past this
    * many the oldest is forgotten — deregistered WITHOUT a free, so its
    * handles stay cached until the owner's `clearCache()`.
    */
  val MaxPending = 64

  private val pending = new java.util.LinkedHashMap[QueryExecutionListener, SparkSession]()

  /** Scopes registered and neither fired nor forgotten. */
  def pendingCount: Int = pending.synchronized(pending.size)

  def freeAfterUse(result: DataFrame, handles: Seq[DataFrame]): DataFrame = {
    val spark = result.sparkSession
    val target = result.queryExecution.analyzed
    lazy val listener: QueryExecutionListener = new QueryExecutionListener {
      private def maybeFree(qe: QueryExecution): Unit = {
        val hit =
          try qe.analyzed.exists(_.sameResult(target))
          catch { case _: Throwable => false }
        if (hit && deregister(listener))
          handles.foreach { h =>
            try h.unpersist(blocking = false) catch { case _: Throwable => () }
            try Checkpoints.free(h) catch { case _: Throwable => () }
          }
      }
      override def onSuccess(
          funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        maybeFree(qe)
      override def onFailure(
          funcName: String, qe: QueryExecution, exception: Exception): Unit =
        maybeFree(qe)
    }
    val forgotten = pending.synchronized {
      pending.put(listener, spark)
      spark.listenerManager.register(listener)
      val it = pending.keySet.iterator
      List.fill(math.max(0, pending.size - MaxPending))(it.next())
    }
    forgotten.foreach(deregister)
    result
  }

  /** Removes a pending scope; true only for the call that removed it. */
  private def deregister(listener: QueryExecutionListener): Boolean = {
    val spark = pending.synchronized(pending.remove(listener))
    spark != null && {
      try spark.listenerManager.unregister(listener) catch { case _: Throwable => () }
      true
    }
  }
}
