package graft.util

import org.apache.spark.sql.SparkSession

/** The one local session every main builds ([[local]]: Bench, Verify,
  * OptProf, SfScale, the probes and the streaming demo), and the tuning it
  * carries ([[tuned]], which the benchmark harness applies to its own
  * session).
  *
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (Spark
  * default 1 MB) is AQE's floor on coalesced-partition size. With
  * `parallelismFirst` (default true) a post-shuffle stage gets
  * `max(totalBytes / defaultParallelism, minPartitionSize)`-sized
  * partitions — so any stage whose total shuffle bytes are under
  * `cores × 1 MB` is coalesced BELOW the session's parallelism purely on
  * byte count. That heuristic assumes compute ∝ bytes, which this
  * library's hot operators break by orders of magnitude: a 64-dim
  * quantized-dot candidate row is ~30 bytes but ~64 multiplies, a
  * posting-pair row is ~24 bytes into a hash aggregate. Measured (r18,
  * sf0.1, local[32]): q36's serving join — 3.8 MB of shuffle — ran in 3
  * AQE-coalesced tasks for 2.5 s where 32 tasks take ~0.4 s; q102's pair
  * aggregation (1.8 MB) ran single-task for 1.8 s.
  *
  * Lowering the floor to 128 KB restores the parallelism-first intent for
  * compute-dense small-byte stages while changing NOTHING at scale: once
  * `totalBytes / defaultParallelism` exceeds 128 KB (i.e. any shuffle past
  * ~4 MB/core — every real-data stage at 100 TB), the floor is inert
  * and AQE's byte-based coalescing behaves exactly as before. The value
  * was SWEPT, not asserted (r18 A/B over the two affected query classes,
  * 3-rep medians at local[32]): 16 KB maximizes the dense-join win (q36's
  * serving join 0.9 s at 32 tasks) but taxes iteration-heavy queries
  * whose 20-40 sequential jobs each carry a few-hundred-KB shuffle
  * (q124/q126 +1.5-2 s from scheduling ~18 near-empty tasks per stage);
  * 1 MB (the Spark default) restores those but serializes the dense joins
  * again (q36 +1.6 s). 128 KB holds ≥ 14-30 tasks on the MB-scale dense
  * stages while letting KB-scale iteration shuffles collapse to 1-2
  * tasks — best subset total of {16k, 64k, 128k, 256k, 1m}. The resolved
  * default stays env-overridable so a deployment with genuinely
  * byte-proportional work can restore the 1 MB floor without a rebuild.
  *
  * The `file:` scheme is [[ForkFreeLocalFs]] / [[ForkFreeLocalFileSystem]].
  * Without libhadoop, Hadoop's local file system forks `chmod` on every
  * create and mkdir and `readlink` on every FileContext rename, and a
  * streaming checkpoint (offset log, commit log, state-store delta, each
  * written to a temp file, renamed, and shadowed by a `.crc`) does both on
  * every trigger. Measured with JFR `jdk.ProcessStart` over one
  * `events_stream` benchmark run (27,000 events, 4-core VM): 4,512
  * processes with Hadoop's classes (3,230 `readlink`, 1,253 `chmod`, 29
  * Spark housekeeping), 42 with these (all Spark housekeeping: `rm -rf`
  * clean-ups, one `getconf`, one `setsid`). `.crc` files, checksum
  * verification and the fail-if-exists rename are unchanged: both are
  * Hadoop's checksummed wrappers over a raw local file system that
  * overrides only those two calls.
  */
object SessionTuning {
  val MinCoalescedPartitionSize: String =
    sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", "128k")

  /** Hadoop keys that make `file:` the fork-free local file system. */
  val LocalFileSystemConf: Map[String, String] = Map(
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName)

  private val TunedConf: Map[String, String] =
    LocalFileSystemConf.map { case (k, v) => s"spark.hadoop.$k" -> v } +
      ("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> MinCoalescedPartitionSize)

  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    TunedConf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** The core count in `SPARK_GRAFT_CPUS` (`raw`), or `default` when it is
    * unset. It must be a bare integer: it becomes `local[n]`, the shuffle
    * partition count and the `cpus` field of Bench's JSON line, so `*` or a
    * stray suffix fails here, naming the value, instead of producing an
    * unrecordable thread count or invalid JSON.
    */
  def cpus(raw: Option[String], default: Int): Int =
    raw.fold(default)(v => v.trim.toIntOption.getOrElse(sys.error(
      s"SPARK_GRAFT_CPUS must be a bare integer (local[*] is not supported " +
        s"here - thread counts must be recordable), got '$v'")))

  /** Everything [[local]] sets on its builder for `cpus` cores. */
  def localConf(cpus: Int): Map[String, String] = TunedConf ++ Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The tuned local session on `SPARK_GRAFT_CPUS` cores (`defaultCpus`
    * when unset), log level WARN.
    */
  def local(defaultCpus: Int): SparkSession = {
    val spark = localConf(cpus(sys.env.get("SPARK_GRAFT_CPUS"), defaultCpus))
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
