package graft.util

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, FSDataInputStream, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions.lit

import graft.SparkSpec
import graft.datagen.EventGenerator
import graft.sink.InMemorySink
import graft.streaming.Pipeline

/** The fork-free `file:` file system, driven the way streaming checkpoints
  * drive it (through FileContext): Hadoop's permissions, checksums and
  * rename semantics, and no process started.
  */
class ForkFreeLocalFsSpec extends SparkSpec {

  private def tmpDir(prefix: String): JPath = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  /** A non-default umask, so a permission the JVM's own file creation gets
    * from the process umask cannot pass for the one Hadoop sets. */
  private def conf(forkFree: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    if (forkFree) SessionTuning.LocalFileSystemConf.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def fileContext(forkFree: Boolean = true): FileContext =
    FileContext.getFileContext(conf(forkFree))

  private def write(fc: FileContext, p: Path, bytes: Array[Byte]): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    try out.write(bytes) finally out.close()
  }

  /** Reads through `open(p, bufferSize)`, ChecksumFs' verifying open.
    * (`FileContext.open(p)` without a buffer size reaches `FilterFs.open`,
    * which hands the raw stream out unverified in Hadoop's `LocalFs`.)
    */
  private def read(fc: FileContext, p: Path): String =
    readAll(fc.open(p, 4096))

  private def readAll(in: FSDataInputStream): String =
    try new String(in.readAllBytes(), "UTF-8") finally in.close()

  private def posix(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("file: resolves to the fork-free file systems") {
    assert(fileContext().getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    val fs = FileSystem.newInstance(URI.create("file:///"), conf(forkFree = true))
    try assert(fs.isInstanceOf[ForkFreeLocalFileSystem]) finally fs.close()
  }

  test("permissions after create and mkdir equal Hadoop's default under the umask") {
    def created(forkFree: Boolean): (String, String) = {
      val fc = fileContext(forkFree)
      val dir = new Path(new Path(tmpDir("graft-fs-perm").toUri), "a/b")
      fc.mkdir(dir, FsPermission.getDirDefault, true)
      val file = new Path(dir, "f")
      write(fc, file, Array[Byte](1, 2, 3))
      (posix(dir), posix(file))
    }
    val umask = fileContext().getUMask
    val expected = (FsPermission.getDirDefault.applyUMask(umask).toString,
      FsPermission.getFileDefault.applyUMask(umask).toString)
    assert(expected == ("rwxr-x---", "rw-r-----"))
    assert(created(forkFree = true) == expected)
    assert(created(forkFree = false) == expected)
  }

  test("setPermission: bits up to 0777 set directly, a sticky bit through Hadoop") {
    val fc = fileContext()
    val dir = new Path(tmpDir("graft-fs-chmod").toUri)
    fc.setPermission(dir, new FsPermission(Integer.parseInt("705", 8).toShort))
    assert(posix(dir) == "rwx---r-x")
    fc.setPermission(dir, new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(posix(dir) == "rwxr-x---")
    assert(fc.getFileStatus(dir).getPermission.getStickyBit)
  }

  test("rename without OVERWRITE onto an existing file still fails") {
    val fc = fileContext()
    val base = tmpDir("graft-fs-rename")
    val (src, dst) = (new Path(base.resolve("src").toUri), new Path(base.resolve("dst").toUri))
    write(fc, src, "new".getBytes("UTF-8"))
    write(fc, dst, "old".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(read(fc, dst) == "old" && fc.util.exists(src))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(fc, dst) == "new" && !fc.util.exists(src))
    // the checksum moved with its file
    assert(Files.exists(base.resolve(".dst.crc")) && !Files.exists(base.resolve(".src.crc")))
  }

  test("the .crc is written, and a flipped byte fails the read with ChecksumException") {
    for (forkFree <- Seq(true, false)) {
      val fc = fileContext(forkFree)
      val dir = tmpDir("graft-fs-crc")
      val p = new Path(dir.resolve("0").toUri)
      val body = "v1\n" + """{"logOffset":0}""" * 40
      write(fc, p, body.getBytes("UTF-8"))
      assert(Files.exists(dir.resolve(".0.crc")))
      assert(read(fc, p) == body && readAll(fc.open(p)) == body)
      val raf = new RandomAccessFile(dir.resolve("0").toFile, "rw")
      try {
        raf.seek(100)
        val b = raf.read()
        raf.seek(100)
        raf.write(b ^ 0x01)
      } finally raf.close()
      intercept[ChecksumException](read(fc, p))
      if (forkFree) {
        // the one-argument open, which Spark's checkpoint reads make
        intercept[ChecksumException](readAll(fc.open(p)))
        val checkpoints = CheckpointFileManager.create(new Path(dir.toUri), conf(forkFree))
        intercept[ChecksumException](readAll(checkpoints.open(p)))
      }
    }
  }

  test("getFileLinkStatus agrees with RawLocalFileSystem's for a symlink and a plain file") {
    val dir = tmpDir("graft-fs-link")
    val plain = Files.write(dir.resolve("plain"), "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("link"), plain)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val hadoop = new RawLocalFileSystem
    val forkFree = new ForkFreeRawLocalFileSystem
    Seq(hadoop, forkFree).foreach(_.initialize(URI.create("file:///"), conf(forkFree = false)))
    def status(fs: RawLocalFileSystem, p: Path): String =
      Try(fs.getFileLinkStatus(p).toString).fold(_.getClass.getName, identity)
    // both the plain path string and the qualified `file:` form
    for (f <- Seq(plain, link, dangling); p <- Seq(new Path(f.toString), new Path(f.toUri)))
      assert(status(forkFree, p) == status(hadoop, p), p)
    // the comparison covers a link target read, live and dangling
    assert(hadoop.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(hadoop.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  /** Processes Spark itself starts, whatever the file system: its
    * `JavaUtils.deleteRecursively` clean-ups (session artifacts, temp
    * dirs; run whenever a cleaner gets to them) and the executor metrics'
    * page-size probe (once per JVM).
    */
  private val SparkHousekeeping = Seq("rm -rf ", "getconf PAGESIZE")

  test("two micro-batches of Pipeline.start on the fork-free file system spawn no file-system process") {
    val in = tmpDir("graft-fs-in")
    val cp = tmpDir("graft-fs-cp")
    val sink = new InMemorySink
    val gen = new EventGenerator(seed = 7L, anomalyRate = 0.1)
    val spawned = new ConcurrentLinkedQueue[String]()
    val sentinelSeen = new CountDownLatch(1)
    val jfr = new RecordingStream()
    try {
      jfr.enable("jdk.ProcessStart")
      // events arrive ordered; keep the ones before the sentinel's
      jfr.onEvent("jdk.ProcessStart", e => {
        val command = e.getString("command")
        if (command == "true") sentinelSeen.countDown()
        else if (sentinelSeen.getCount > 0 && !SparkHousekeeping.exists(command.startsWith))
          spawned.add(s"${Option(e.getThread).map(_.getJavaName).orNull}: $command")
      })
      jfr.startAsync()
      SessionTuning.LocalFileSystemConf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val q = Pipeline.start(spark, in.toString, cp.toString, sink, triggerMs = 100,
          now = lit("2024-01-31 00:00:00").cast("timestamp"))
        // the sentinel runs before stop(): stopping deletes the query's
        // session artifacts with Spark's own `rm -rf`
        try {
          (0 until 2).foreach { b =>
            gen.writeCsvAtomic(in, s"b$b.csv", gen.batch(b, 50))
            q.processAllAvailable()
          }
          // JFR delivers events in flushes; once the sentinel's arrives,
          // every process started before it has been seen
          new ProcessBuilder("true").start().waitFor()
          assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel process event not seen")
        } finally q.stop()
      } finally SessionTuning.LocalFileSystemConf.keys.foreach(spark.conf.unset)
    } finally jfr.close()
    assert(sink.rowCount("ecommerce_events") + sink.rowCount("dead_letter_events") == 100)
    assert(spawned.isEmpty, spawned.asScala.groupBy(identity).map { case (c, n) => s"$c x${n.size}" })
    // checkpoint files still carry their checksums
    Seq("offsets", "commits").foreach { d =>
      assert(Files.exists(cp.resolve(d).resolve(".1.crc")), s"$d/.1.crc")
    }
  }
}
