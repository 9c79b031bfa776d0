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
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val allowed = new java.io.File(root, "graft/util/CacheScope.scala").getCanonicalFile
    val offending = for {
      f <- files(root) if f.getName.endsWith(".scala") && f.getCanonicalFile != allowed
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq.zipWithIndex
      if line.contains(".unpersist(") || "\\bCheckpoints\\.".r.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
