package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** graft.streaming.LocalCheckpointFileManager: a GraftSession installs it,
  * and on local paths it keeps the contract of Spark's default manager. */
class CheckpointFileManagerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def withDir[T](body: java.nio.file.Path => T): T = {
    val dir = Files.createTempDirectory("ckpt_fm_")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
      f.delete(): Unit
    }
    try body(dir) finally rm(dir.toFile)
  }

  private def manager(dir: java.nio.file.Path): CheckpointFileManager = {
    TestSpark.session // building a GraftSession installs the manager
    CheckpointFileManager.create(new Path(dir.toString), spark.sessionState.newHadoopConf())
  }

  private def write(fm: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] = dir.toFile.list().toSet

  test("a GraftSession installs it; a manager the user set is kept") {
    withDir { dir =>
      val fm = manager(dir)
      assert(fm.isInstanceOf[LocalCheckpointFileManager], fm.getClass)
      assert(fm.isLocal)
      val own = classOf[FileContextBasedCheckpointFileManager].getName
      val user = spark.newSession()
      user.conf.set(LocalCheckpointFileManager.ConfKey, own)
      new GraftSession(user)
      assert(user.conf.get(LocalCheckpointFileManager.ConfKey) == own)
    }
  }

  test("other schemes get the manager Spark would have picked") {
    // no FileContext binding for `graftfake`, so Spark falls back to its
    // FileSystem-based manager over the scheme's own file system
    withDir { dir =>
      TestSpark.session // installs the manager
      val conf = spark.sessionState.newHadoopConf()
      conf.set("fs.graftfake.impl", classOf[FakeSchemeFileSystem].getName)
      val before = TestSpark.graftCheckpointBytes(spark)
      val fm = CheckpointFileManager.create(new Path(s"graftfake://$dir"), conf)
      assert(fm.isInstanceOf[LocalCheckpointFileManager], fm.getClass)
      write(fm, new Path(s"graftfake://$dir/0"), "zero")
      assert(Files.readString(dir.resolve("0")) == "zero")
      assert(TestSpark.graftCheckpointBytes(spark) == before,
        "a non-file: path went through graft's local file system")
    }
  }

  test("createAtomic publishes on close; cancel leaves nothing behind") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toString, "1")
      val out = fm.createAtomic(p, false)
      out.write("one".getBytes("UTF-8"))
      assert(!fm.exists(p), "visible before close")
      out.close()
      assert(read(fm, p) == "one")
      assert(names(dir) == Set("1", ".1.crc"))
      val cancelled = fm.createAtomic(new Path(dir.toString, "2"), false)
      cancelled.write("two".getBytes("UTF-8"))
      cancelled.cancel()
      assert(names(dir) == Set("1", ".1.crc"))
    }
  }

  test("no overwrite onto an existing file raises FileAlreadyExistsException") {
    // HDFSMetadataLog relies on this exception to detect a concurrent writer
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toString, "0")
      write(fm, p, "first")
      intercept[FileAlreadyExistsException](write(fm, p, "second"))
      assert(read(fm, p) == "first")
      write(fm, p, "third", overwrite = true)
      assert(read(fm, p) == "third")
    }
  }

  test("a flipped byte in a committed file fails its .crc check on read") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toString, "0")
      write(fm, p, "offsets " * 64)
      val file = dir.resolve("0")
      val bytes = Files.readAllBytes(file)
      bytes(100) = (bytes(100) ^ 1).toByte
      Files.write(file, bytes)
      intercept[ChecksumException](read(fm, p))
      assert(Files.exists(file), "the corrupt file stays where it was")
    }
  }

  test("checkpoints written by Spark's default manager read back, and the other way round") {
    withDir { dir =>
      val graft = manager(dir)
      val default = new FileContextBasedCheckpointFileManager(new Path(dir.toString),
        spark.sessionState.newHadoopConf())
      val (old, neu) = (new Path(dir.toString, "0"), new Path(dir.toString, "1"))
      write(default, old, "offsets " * 200)
      write(graft, neu, "commits " * 200)
      assert(read(graft, old) == "offsets " * 200)
      assert(read(default, neu) == "commits " * 200)
    }
  }

  test("new files and directories get the modes Spark's default manager gives them") {
    withDir { dir =>
      val conf = spark.sessionState.newHadoopConf()
      def modes(fm: CheckpointFileManager, sub: String): Seq[String] = {
        val root = new Path(dir.toString, sub)
        fm.mkdirs(new Path(root, "a/b"))
        write(fm, new Path(root, "a/b/f"), "x")
        Seq("a", "a/b", "a/b/f").map(s => PosixFilePermissions.toString(
          Files.getPosixFilePermissions(dir.resolve(sub).resolve(s))))
      }
      val graft = modes(manager(dir), "graft")
      val default = modes(new FileContextBasedCheckpointFileManager(new Path(dir.toString), conf),
        "default")
      assert(graft == default)
      assert(FsPermission.getUMask(conf).toShort == Integer.parseInt("022", 8))
      assert(graft == Seq("rwxr-xr-x", "rwxr-xr-x", "rw-r--r--"))
    }
  }
}

/** A local file system under another scheme name. */
class FakeSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfake:///")
  override def getScheme: String = "graftfake"
}
