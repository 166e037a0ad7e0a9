package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

import graft.streaming.{LocalCheckpointFileManager, StreamOps}

/** What one streaming checkpoint file costs under StreamOps.withCappedState:
  * its own bytes, not the `chmod`/`readlink` processes Hadoop's local
  * filesystem starts per metadata operation without the native library
  * (about 3.6 kB of spawn pipes each, charged to the calling thread), with
  * the mode bits Hadoop would have set, and Spark's default manager for
  * any scheme but `file:`. */
class CheckpointFileCostSpec extends QuerySuiteBase {

  private val Payload = 100
  /** Hadoop's `.crc` sidecar of a 100 B file: 8 B header + one 4 B CRC per
    * 512 B chunk. The manager writes none; the bound allows one. */
  private val Crc = 12

  /** Bytes this thread has written (files, pipes, terminal) so far. */
  private def threadWchar(): Long =
    scala.io.Source.fromFile("/proc/thread-self/io").getLines()
      .collectFirst { case l if l.startsWith("wchar:") =>
        l.stripPrefix("wchar:").trim.toLong }.get

  private def manager(path: Path): CheckpointFileManager =
    CheckpointFileManager.create(path, spark.sessionState.newHadoopConf())

  private def write(fm: CheckpointFileManager, path: Path): Unit = {
    val out = fm.createAtomic(path, overwriteIfPossible = false)
    out.write(Array.fill[Byte](Payload)(7))
    out.close()
  }

  test("a checkpoint file costs its bytes, not process starts") {
    val dir = new Path(Files.createTempDirectory("graft-ckpt-cost").toUri)
    StreamOps.withCappedState(spark) {
      val fm = manager(dir)
      write(fm, new Path(dir, "warm")) // one-time class loading and logs
      val before = threadWchar()
      for (i <- 0 until 20) write(fm, new Path(dir, s"f$i"))
      val spent = threadWchar() - before
      assert(spent <= 20 * (Payload + Crc + 512),
        s"20 checkpoint files of $Payload B wrote $spent B on this thread")
    }
  }

  test("files and directories get Hadoop's umasked default modes") {
    val root = Files.createTempDirectory("graft-ckpt-mode")
    val dir = new Path(root.toUri)
    StreamOps.withCappedState(spark) {
      val fm = manager(dir)
      assert(fm.asInstanceOf[LocalCheckpointFileManager].underlying
        .isInstanceOf[FileSystemBasedCheckpointFileManager])
      fm.mkdirs(new Path(dir, "a/b"))
      write(fm, new Path(dir, "a/b/f"))
      def mode(rel: String) = PosixFilePermissions.toString(
        Files.getPosixFilePermissions(root.resolve(rel)))
      assert(mode("a") == "rwxr-xr-x")
      assert(mode("a/b") == "rwxr-xr-x")
      assert(mode("a/b/f") == "rw-r--r--")
      assert(Files.readAllBytes(root.resolve("a/b/f")).length == Payload)
      // No Hadoop .crc sidecar, and no temp file left behind.
      assert(Files.list(root.resolve("a/b")).toArray.length == 1)
    }
  }

  test("an overwriting rename replaces the file") {
    val root = Files.createTempDirectory("graft-ckpt-rename")
    val dir = new Path(root.toUri)
    StreamOps.withCappedState(spark) {
      val fm = manager(dir)
      write(fm, new Path(dir, "f"))
      val out = fm.createAtomic(new Path(dir, "f"), overwriteIfPossible = true)
      out.write(Array[Byte](1, 2, 3))
      out.close()
      assert(Files.readAllBytes(root.resolve("f")).toSeq == Seq[Byte](1, 2, 3))
      assert(Files.list(root).toArray.length == 1)
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
        fm.createAtomic(new Path(dir, "f"), overwriteIfPossible = false)
          .close()
      }
    }
  }

  test("a non-file URI gets Spark's default manager") {
    val root = Files.createTempDirectory("graft-ckpt-viewfs")
    StreamOps.withCappedState(spark) {
      // viewfs: a client-side mount table, here onto the local temp dir.
      val conf = spark.sessionState.newHadoopConf()
      conf.set("fs.viewfs.mounttable.graft.link./ckpt", root.toUri.toString)
      val path = new Path("viewfs://graft/ckpt")
      val fm = CheckpointFileManager.create(path, conf)
      val spark0 = {
        val c = new Configuration(conf)
        c.unset(LocalCheckpointFileManager.ClassKey)
        CheckpointFileManager.create(path, c)
      }
      assert(spark0.isInstanceOf[FileContextBasedCheckpointFileManager])
      assert(fm.asInstanceOf[LocalCheckpointFileManager].underlying.getClass
        == spark0.getClass)
      write(fm, new Path(path, "f"))
      assert(Files.readAllBytes(Paths.get(root.toString, "f")).length ==
        Payload)
    }
  }
}
