package graft.util

import org.apache.spark.sql.DataFrame

/** Frees the block storage behind `localCheckpoint()`ed DataFrames.
  *
  * The checkpointed RDD lives inside the Dataset's
  * [[org.apache.spark.sql.execution.LogicalRDD]] plan node;
  * `Dataset.unpersist` would be a no-op (it only talks to the
  * CacheManager; localCheckpoint blocks belong to the underlying RDD), so
  * the RDD itself is unpersisted — immediately, instead of waiting for
  * the ContextCleaner. Shared by the iterative loops that supersede a
  * checkpoint per round (NearDup star-rounds, BPE).
  *
  * Log hygiene (r13 hygiene item, de-raced in r15 per VERDICT r14 #8):
  * `RDD.unpersist` warns that a locally-checkpointed RDD's "lineage has
  * been truncated and cannot be recomputed after unpersisting" — which is
  * precisely the POINT of this call (the checkpoint is superseded and
  * must never be read again), and 222 copies per test run were burying
  * real warnings in the log tails. Suppression is a MESSAGE-KEYED log4j2
  * filter installed once on the root logger config — it denies exactly
  * this one message text and nothing else, so (unlike the r13/r14
  * temporary logger-level flip) a concurrent thread's legitimate warning
  * on the same logger can never be swallowed, no matter how ParJobs
  * interleaves. `tools/claims_gate.py` polices the committed logs for the
  * pattern so a regression here is mechanical, not anecdotal.
  */
object Checkpoints {
  /** The fixed fragment of the known-benign warning (the same string
    * `tools/claims_gate.py` counts in committed logs).
    */
  private[util] val BenignFragment = "was locally checkpointed, its lineage has been"

  /** Installed exactly once (lazy val memoizes the Unit). Attached to the
    * ROOT LoggerConfig because the emitting logger's name is the RDD's
    * runtime class (MapPartitionsRDD, SQLExecutionRDD, …) and varies by
    * plan; the filter itself is keyed on level + message text, so it is
    * a no-op for every other event.
    *
    * Scope (ADVICE r15): once installed the suppression is PROCESS-WIDE
    * and permanent — any caller that unpersists a local checkpoint it
    * still needs loses the (then-legitimate) warning too, and events
    * routed through a non-additive child LoggerConfig bypass the root
    * filter entirely. Accepted over the r14 level-flip alternative
    * (which had a race window that could swallow UNRELATED warnings
    * while active); every in-repo unpersist of a local checkpoint goes
    * through [[free]] after its consumers have materialized, which is
    * exactly the case the warning does not apply to. [[suppressedCount]]
    * counts the denied events so a log-tail claim can state how many
    * suppressions this filter performed.
    */
  private lazy val filterInstalled: Unit = {
    import org.apache.logging.log4j.core.Filter.Result
    import org.apache.logging.log4j.core.filter.AbstractFilter
    val ctx = org.apache.logging.log4j.LogManager
      .getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addFilter(new AbstractFilter(Result.DENY, Result.NEUTRAL) {
      override def filter(
          event: org.apache.logging.log4j.core.LogEvent): Result =
        if (event.getLevel == org.apache.logging.log4j.Level.WARN &&
            event.getMessage.getFormattedMessage.contains(BenignFragment)) {
          suppressed.incrementAndGet()
          Result.DENY
        } else Result.NEUTRAL
    })
    ctx.updateLoggers()
  }

  private val suppressed = new java.util.concurrent.atomic.AtomicLong(0)

  /** How many benign lineage-truncated warnings the filter has denied
    * process-wide (ADVICE r15 — makes the suppression itself auditable).
    */
  def suppressedCount: Long = suppressed.get()

  /** Unpersists `df`'s own checkpoint: the `LogicalRDD` at the root of
    * its analyzed plan, which is what `localCheckpoint()` returns. Any
    * other handle — a cached frame, a projection over a checkpoint — frees
    * nothing here, so a `LogicalRDD` deeper in the plan (a caller's
    * checkpointed input) is never dropped under its owner.
    */
  def free(df: DataFrame): Unit = {
    filterInstalled
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
