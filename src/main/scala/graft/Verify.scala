package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryNamePrefix...] — extra args (local use
    // only; the driver passes two) restrict the run to matching queries
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSeq
    val spark = graft.util.SessionTuning.local(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // Failures must leave a durable artifact, not just a stderr line — a
    // query missing from a 96-entry compare is invisible; errors.json and
    // the per-query .error file make it a red row anyone can diff.
    val errors = scala.collection.mutable.Map[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.exists(name.startsWith) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg.linesIterator.next().take(500)
        Files.writeString(Paths.get(s"$outDir/$name.error"), msg)
      }
      // Cache convention (central note — ops reference it): operators
      // cache() relations their own plan reads 2-3× (shingle sets, ranked
      // postings, fingerprint indexes) and deliberately do NOT unpersist —
      // the returned DataFrame is lazy, so the builder cannot know when
      // the caller's action has run. The session owner frees them between
      // independent workloads, which is exactly what this does per query.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.toSeq.sorted.mkString(", ")}")
    spark.stop()
  }
}
