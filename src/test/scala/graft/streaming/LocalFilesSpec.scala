package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under its own scheme, which Hadoop's `FileContext`
  * does not know: `CheckpointFileManager.create` gives it Spark's
  * FileSystem-based manager. */
class NoFcLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "nofc"
  override def getUri: URI = URI.create("nofc:///")
}

/** [[LocalFiles]]: the no-fork local filesystem leaves what Hadoop's own
  * leaves — modes, `.crc` sidecars, bytes — without forking; the
  * checkpoint manager keeps Spark's atomic-write contract on `file:` paths
  * and hands every other scheme to Spark's own choice. */
class LocalFilesSpec extends AnyFunSuite {

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def local(c: Configuration): FileSystem =
    FileSystem.get(URI.create("file:///"), c)

  /** Every (relative path → mode, bytes) under `root`; bytes empty for a
    * directory. Hidden `.crc` sidecars included. */
  private def tree(root: JPath): Map[String, (Int, Seq[Byte])] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff,
          if (Files.isDirectory(p)) Seq.empty[Byte]
          else Files.readAllBytes(p).toSeq)
    }.toMap

  /** The process starts the current thread makes while `f` runs. */
  private def forks(f: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val dump = Files.createTempFile("localfiles", ".jfr")
    try {
      rec.dump(dump)
      val me = Thread.currentThread().getId
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.count(e =>
        e.getThread != null && e.getThread.getJavaThreadId == me)
    } finally { rec.close(); Files.delete(dump) }
  }

  private val payload = "one micro-batch's bytes\n".getBytes(UTF_8)

  /** The file calls the ingest path makes, plus a sticky directory and a
    * directory under a setgid parent (modes `java.nio` cannot set or
    * would clear). */
  private def exercise(fs: FileSystem, root: Path, oddModes: Boolean): Unit = {
    fs.mkdirs(new Path(root, "t/.batch_id=0.tmp"))
    val out = fs.create(new Path(root, "t/.batch_id=0.tmp/part-00000"))
    try out.write(payload) finally out.close()
    fs.create(new Path(root, "t/.batch_id=0.tmp/_SUCCESS")).close()
    assert(fs.rename(new Path(root, "t/.batch_id=0.tmp"),
      new Path(root, "t/batch_id=0")))
    fs.create(new Path(root, "books/0"), perm("640"), true, 4096,
      1.toShort, 1L << 20, null).close()
    assert(fs.rename(new Path(root, "books/0"), new Path(root, "books/1")))
    fs.mkdirs(new Path(root, "private"), perm("700"))
    fs.setPermission(new Path(root, "t/batch_id=0/_SUCCESS"), perm("600"))
    if (oddModes) {
      fs.mkdirs(new Path(root, "sticky"))
      fs.setPermission(new Path(root, "sticky"), perm("1777"))
      fs.mkdirs(new Path(root, "setgid"))
      val dir = new java.io.File(new Path(root, "setgid").toUri)
      assert(new ProcessBuilder("chmod", "2775", dir.toString).start()
        .waitFor() === 0)
      fs.mkdirs(new Path(root, "setgid/sub"))
      fs.setPermission(new Path(root, "setgid/sub"), perm("750"))
    }
  }

  test("the no-fork filesystem leaves the modes, .crc sidecars and bytes of Hadoop's, and forks nothing") {
    val base = Files.createTempDirectory("localfiles")
    val (mine, ref) = (base.resolve("mine"), base.resolve("ref"))
    val noFork = local(LocalFiles.conf(new Configuration()))
    val plain = local {
      val c = new Configuration()
      c.set("fs.file.impl", classOf[LocalFileSystem].getName)
      c.setBoolean("fs.file.impl.disable.cache", true)
      c
    }
    assert(noFork.isInstanceOf[NoForkLocalFileSystem])
    assert(plain.getClass === classOf[LocalFileSystem])
    assert(forks(exercise(noFork, new Path(mine.toUri), oddModes = false))
      === 0)
    exercise(noFork, new Path(mine.resolve("odd").toUri), oddModes = true)
    exercise(plain, new Path(ref.toUri), oddModes = false)
    exercise(plain, new Path(ref.resolve("odd").toUri), oddModes = true)
    val (got, want) = (tree(mine), tree(ref))
    assert(got.keySet === want.keySet)
    got.keys.toSeq.sorted.foreach { k =>
      assert(got(k)._1.toOctalString === want(k)._1.toOctalString, k)
      assert(got(k)._2 === want(k)._2, k)
    }
    Seq("t/batch_id=0/.part-00000.crc", "t/batch_id=0/._SUCCESS.crc",
      "books/.1.crc").foreach(c => assert(got.contains(c), c))
    assert(got("odd/sticky")._1 === Integer.parseInt("1777", 8))
    assert(got("odd/setgid/sub")._1 === want("odd/setgid/sub")._1)
  }

  /** The filesystem under Spark's FileSystem-based manager (its `fs` is
    * protected in Scala, public in bytecode). */
  private def fsOf(fm: CheckpointFileManager): FileSystem =
    classOf[FileSystemBasedCheckpointFileManager].getMethod("fs").invoke(fm)
      .asInstanceOf[FileSystem]

  private def manager(dir: JPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte],
      overwrite: Boolean): Unit = {
    val os = fm.createAtomic(p, overwriteIfPossible = overwrite)
    os.write(bytes)
    os.close()
  }

  test("the checkpoint manager on file: writes atomically with no fork; an existing file refuses a create-only write") {
    val dir = Files.createTempDirectory("localfiles_ckpt")
    val fm = manager(dir)
    assert(fsOf(fm.asInstanceOf[LocalCheckpointFileManager].delegate)
      .isInstanceOf[NoForkLocalFileSystem])
    val p = new Path(new Path(dir.toUri), "0")
    assert(forks(write(fm, p, payload, overwrite = false)) === 0)
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .toSet === Set("0", ".0.crc"))
    intercept[FileAlreadyExistsException] {
      write(fm, p, "other".getBytes(UTF_8), overwrite = false)
    }
    // the refused write's temp file and its .crc are gone
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .toSet === Set("0", ".0.crc"))
    val in = fm.open(p)
    try assert(in.readAllBytes().toSeq === payload.toSeq) finally in.close()
    // a path without a scheme is qualified against fs.defaultFS (file:)
    assert(new LocalCheckpointFileManager(new Path(dir.toString),
      new Configuration()).delegate
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("a cancelled stream leaves nothing behind") {
    val dir = Files.createTempDirectory("localfiles_cancel")
    val fm = manager(dir)
    val os = fm.createAtomic(new Path(new Path(dir.toUri), "0"),
      overwriteIfPossible = true)
    os.write(payload)
    os.cancel()
    assert(fm.list(new Path(dir.toUri)).isEmpty)
    assert(Files.list(dir).count() === 0L)
  }

  test("an overwrite reads back through Spark's FileContext manager: no stale .crc") {
    val dir = Files.createTempDirectory("localfiles_overwrite")
    val fm = manager(dir)
    val p = new Path(new Path(dir.toUri), "books")
    write(fm, p, payload, overwrite = true)
    val longer = ("a longer second version, so a stale checksum of the " +
      "first would fail the read").getBytes(UTF_8)
    write(fm, p, longer, overwrite = true)
    val in = new FileContextBasedCheckpointFileManager(new Path(dir.toUri),
      new Configuration()).open(p)
    try assert(in.readAllBytes().toSeq === longer.toSeq) finally in.close()
  }

  test("another scheme gets the manager CheckpointFileManager.create picks with no manager class set") {
    val c = new Configuration()
    c.set("fs.nofc.impl", classOf[NoFcLocalFileSystem].getName)
    val root = new Path("nofc:///" +
      Files.createTempDirectory("localfiles_nofc").toString.stripPrefix("/"))
    val unset = CheckpointFileManager.create(root, c)
    // as a session conf would carry it: the manager must not pick itself
    c.set(LocalFiles.CheckpointManagerKey,
      classOf[LocalCheckpointFileManager].getName)
    val picked = CheckpointFileManager.create(root, c)
    assert(picked.isInstanceOf[LocalCheckpointFileManager])
    val delegate = picked.asInstanceOf[LocalCheckpointFileManager].delegate
    assert(delegate.getClass === unset.getClass)
    assert(fsOf(delegate).isInstanceOf[NoFcLocalFileSystem])
  }
}
