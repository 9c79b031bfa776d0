package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A JSON string literal: backslash, quote, `\n`/`\r`/`\t` and every
    * other control char (< 0x20, as `\u00XX`) escaped — a tab or CR in an
    * oracle's SQL text would otherwise make `oracle_sql.json` unparseable
    * for the compare tool. Bench's JSON line uses it too.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

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
      // each query starts from an empty cache
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.toSeq.sorted.mkString(", ")}")
    spark.stop()
  }
}
