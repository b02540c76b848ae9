package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.DataStream

/** The fork-free local filesystem must answer exactly like Hadoop's
  * stock `RawLocalFileSystem`, and a checkpointed streaming query on
  * `Graft.session` must start no helper process per micro-batch.
  */
class LocalFsSpec extends AnyFunSuite with SparkSpec {

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val forkFree = init(new ForkFreeRawLocalFileSystem)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("getFileLinkStatus matches the stock raw filesystem on a file, a " +
      "directory, a symlink (qualified and bare) and a missing path") {
    val dir = Files.createTempDirectory("graft-localfs")
    val file = Files.write(dir.resolve("f"), "hello".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val missing = dir.resolve("missing")

    // kind, length and symlink target, or the exception class
    def fields(fs: FileSystem, p: Path) = Try(fs.getFileLinkStatus(p)).map { s =>
      (s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        if (s.isSymlink) Some(s.getSymlink) else None)
    }.toEither.left.map(_.getClass)

    val cases = Seq(file, sub, link, missing).flatMap { p =>
      Seq(new Path(p.toUri), new Path(p.toString))
    }
    cases.foreach { p =>
      assert(fields(forkFree, p) == fields(stock, p), s"at $p")
    }
    // the cases cover each branch: the bare link reads as a link, the
    // qualified one (as in stock Hadoop) as its target, and a missing
    // path throws
    assert(fields(forkFree, new Path(link.toString)) ==
      Right((false, false, true, 5L, Some(new Path(file.toUri)))))
    assert(fields(forkFree, new Path(link.toUri)).map(_._1) == Right(true))
    assert(fields(forkFree, new Path(missing.toString)) ==
      Left(classOf[FileNotFoundException]))
  }

  test("setPermission leaves the same bits as the stock raw filesystem; " +
      "a sticky bit takes the stock path") {
    val dir = Files.createTempDirectory("graft-localfs-perm")
    Seq("0644", "0755", "0600", "0000").foreach { octal =>
      val perm = new FsPermission(octal)
      val a = Files.createFile(dir.resolve(s"stock-$octal"))
      val b = Files.createFile(dir.resolve(s"forkfree-$octal"))
      stock.setPermission(new Path(a.toUri), perm)
      forkFree.setPermission(new Path(b.toUri), perm)
      val want = Files.getPosixFilePermissions(a)
      assert(Files.getPosixFilePermissions(b) == want, s"mode $octal")
      assert(PosixFilePermissions.toString(want) == perm.toString,
        s"stock result for $octal")
    }
    // FileContext hands down FsCreateModes, whose toString differs
    val modes = org.apache.hadoop.fs.permission.FsCreateModes.create(
      new FsPermission("0640"), new FsPermission("0666"))
    val c = Files.createFile(dir.resolve("forkfree-createmodes"))
    forkFree.setPermission(new Path(c.toUri), modes)
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(c)) ==
      "rw-r-----")
    // nio has no sticky bit: only the stock `chmod` can set it
    val sticky = new FsPermission("1755")
    val a = Files.createDirectory(dir.resolve("stock-sticky"))
    val b = Files.createDirectory(dir.resolve("forkfree-sticky"))
    stock.setPermission(new Path(a.toUri), sticky)
    forkFree.setPermission(new Path(b.toUri), sticky)
    assert(mode(a) == Integer.parseInt("1755", 8))
    assert(mode(b) == mode(a))
  }

  test("create without overwrite refuses an existing path like the stock " +
      "raw filesystem, and creates missing parents") {
    val dir = Files.createTempDirectory("graft-localfs-create")
    Seq(stock, forkFree).foreach { fs =>
      val name = fs.getClass.getSimpleName
      val p = new Path(dir.resolve(s"$name/sub/f").toUri)
      val out = fs.create(p, false)
      out.write(1); out.close()
      assert(fs.getFileStatus(p).getLen == 1, name)
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
        fs.create(p, false)
      }
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
        fs.create(p.getParent, false)
      }
      assert(fs.getFileStatus(p).getLen == 1, s"$name kept the first write")
      fs.create(p, true).close()
      assert(fs.getFileStatus(p).getLen == 0, s"$name overwrites on request")
    }
  }

  test("a checkpointed window query starts no chmod, readlink or rm " +
      "after its first micro-batch") {
    val s = spark
    import s.implicits._
    val hadoopConf = s.sparkContext.hadoopConfiguration
    // FileSystem.CACHE is per JVM: an instance made before the first
    // session, from a conf without fs.file.impl, would stay stock
    assert(FileSystem.get(URI.create("file:///"), hadoopConf).getClass ==
      classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hadoopConf)
      .getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])

    val ckpt = Files.createTempDirectory("graft-spawns").resolve("ckpt")
    val input = MemoryStream[(Long, String)](s)
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val q = DataStream(input.toDF().toDF("ms", "k")
        .withColumn("ts", timestamp_millis($"ms")), "ts")
      .window(Seq($"k"), Seq(count(lit(1)).as("n")), "5 seconds")
      .sink((df, _) => emitted.addAndGet(df.count()))
      .option("checkpointLocation", ckpt.toString)
      .start()
    def batch(i: Int): Unit = {
      input.addData((i * 5000L, "a"), (i * 5000L, "b"))
      q.processAllAvailable()
    }
    // Batch 0 leaves the watermark at 0, so it is one micro-batch.
    // Every later input batch runs as two: the data, then the no-data
    // batch that evicts the windows its watermark closed. Micro-batches
    // 1..6 (ids) stay inside one snapshot interval
    // (`stateStore.minDeltasForSnapshot`, 10 commits): the changelog
    // store's periodic snapshot still deletes its local copy with one
    // `rm -rf` per partition, once per interval, not per batch.
    val rec = new jdk.jfr.Recording()
    try {
      batch(0)
      rec.enable("jdk.ProcessStart")
      rec.start()
      (1 to 3).foreach(batch)
      rec.stop()
      assert(q.lastProgress.batchId == 6)
      assert(emitted.get > 0, "closed windows must reach the sink")
      val jfr = Files.createTempFile("graft-spawns", ".jfr")
      rec.dump(jfr)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .map(_.getString("command")).toList
      val tools = Set("chmod", "readlink", "rm")
      val spawned = commands.filter { c =>
        tools(c.trim.split("\\s+").head.split('/').last)
      }
      assert(spawned.isEmpty,
        s"${spawned.size} spawns in micro-batches 1..6, e.g. ${spawned.take(3)}")
    } finally {
      rec.close()
      q.stop()
    }
  }
}
