package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** Every free in the program goes through [[CacheScope.release]]:
  * `Dataset.unpersist` alone leaves a local checkpoint's blocks pinned, so
  * a free site that calls it directly has to know which kind of handle it
  * holds, and twelve such sites once got it wrong.
  */
class ReleasePathSpec extends AnyFunSuite {
  test("no source file outside util/CacheScope.scala calls .unpersist( " +
    "or a Checkpoints. helper") {
    val allowed = new java.io.File(ReleasePathSpec.root, "graft/util/CacheScope.scala")
      .getCanonicalFile
    val offending = ReleasePathSpec.mainLines(f => f.getCanonicalFile != allowed) { line =>
      line.contains(".unpersist(") || "\\bCheckpoints\\.".r.findFirstIn(line).isDefined
    }
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}

object ReleasePathSpec {
  val root = new java.io.File("src/main/scala")

  /** `path:line: text` of every line of a main Scala source accepted by
    * `file` that matches `bad`.
    */
  def mainLines(file: java.io.File => Boolean)(bad: String => Boolean): Seq[String] = {
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    for {
      f <- files(root) if f.getName.endsWith(".scala") && file(f)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq.zipWithIndex
      if bad(line)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
  }
}
