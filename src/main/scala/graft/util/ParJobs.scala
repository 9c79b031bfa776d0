package graft.util

/** Submit independent Spark actions as CONCURRENT jobs from one driver
  * thread. At micro-batch cadence the per-job fixed cost (DAG schedule +
  * task launch + the parquet commit protocol over a handful of rows)
  * dominates tiny writes, so N sequential appends pay that latency N
  * times; SparkContext job submission is thread-safe, and a local[32]
  * scheduler runs these few-task jobs side by side. Used by the
  * streaming loops for their per-batch index write-backs and routing
  * appends — ONLY for actions with no ordering constraint between them
  * (the loops still await the whole index group before any routing
  * append starts, preserving the write-back-first replay discipline).
  *
  * Failure: once every task has finished, the first failure in argument
  * order propagates to the caller (the micro-batch fails and replays).
  * Waiting for the siblings keeps a caller's `finally` (say, unpersisting
  * the batch cache the tasks read) from running under a job still in
  * flight.
  */
object ParJobs {
  def run(tasks: (() => Unit)*): Unit =
    if (tasks.sizeIs <= 1) tasks.foreach(_.apply())
    else {
      import scala.concurrent.{Await, Future, blocking}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      // blocking{}: these task bodies BLOCK on Spark job completion, and
      // the global EC is sized to CPU count — several concurrently
      // draining streams each submitting append groups would otherwise
      // saturate the pool and serialize (or starve unrelated users of
      // the global EC). blocking tells the fork-join pool to grow past
      // its parallelism for the duration (ADVICE r13).
      val running = tasks.map(t => Future(blocking(t()))).toVector
      running.foreach(Await.ready(_, Duration.Inf))
      running.foreach(_.value.get.get)
    }
}
