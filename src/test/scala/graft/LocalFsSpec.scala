package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{NioLocalFileSystem, NioLocalFs}

/** The engine's `file:` file system: writes through the session start no
  * `chmod` process, and the modes it leaves equal stock Hadoop's. Process
  * starts are read from an in-JVM flight recording (`jdk.ProcessStart`).
  */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark.spark

  /** `body` with the command line of every process the JVM started meanwhile. */
  private def processStarts[T](body: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val f = Files.createTempFile("graft-procs", ".jfr")
    try {
      rec.dump(f)
      (out, jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq.map(_.getString("command")))
    } finally { rec.close(); Files.deleteIfExists(f): Unit }
  }

  /** The commands in `cmds` that start program `name`. */
  private def runs(name: String, cmds: Seq[String]): Seq[String] =
    cmds.filter(_.split(' ').head.split('/').last == name)

  private def chmods(cmds: Seq[String]): Seq[String] = runs("chmod", cmds)

  /** Stock Hadoop forks `chmod` only without libhadoop's native chmod. */
  private val stockForks = !NativeIO.isAvailable

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def withDir[T](body: JPath => T): T =
    graft.streaming.StreamingExtract.withTempDir("graft-localfs")(d => body(java.nio.file.Paths.get(d)))

  test("the session's file: file system is NioLocalFileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new URI("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[NioLocalFileSystem.Raw])
  }

  test("a rename onto an existing file fails and leaves both files") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    withDir { d =>
      val Seq(a, b) = Seq("a", "b").map { n =>
        Files.write(d.resolve(n), n.getBytes("UTF-8"))
        new Path(d.resolve(n).toUri)
      }
      assert(!fs.rename(a, b))
      assert(Files.readString(d.resolve("a")) == "a" && Files.readString(d.resolve("b")) == "b")
      assert(fs.rename(a, new Path(d.resolve("c").toUri)))
      assert(Files.readString(d.resolve("c")) == "a")
    }
  }

  test("a partitionBy parquet write of 16 partitions starts no chmod") {
    withDir { d =>
      val out = d.resolve("t").toString
      val (_, cmds) = processStarts(
        spark.range(0, 640).selectExpr("id", "id % 16 AS p").repartition(4)
          .write.partitionBy("p").parquet(out))
      assert(chmods(cmds).isEmpty, s"chmod processes: ${chmods(cmds).take(3)}")
      val parts = new java.io.File(out).list().filter(_.startsWith("p=")).sorted
      assert(parts.length == 16)
      assert(spark.read.parquet(out).count() == 640)
      // the recording does see a chmod when stock Hadoop forks one
      val stock = new org.apache.hadoop.fs.RawLocalFileSystem
      stock.initialize(new URI("file:///"), new Configuration())
      val (_, seen) = processStarts(stock.setPermission(new Path(out), new FsPermission(0x1ed.toShort)))
      assert(chmods(seen).nonEmpty == stockForks)
    }
  }

  test("a streaming drain to parquet starts no chmod: checkpoints go through NioLocalFs") {
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fc.getDefaultFileSystem.getClass == classOf[NioLocalFs])
    withDir { d =>
      val src = d.resolve("src").toString
      for (i <- 0 until 4) spark.range(i * 10L, i * 10L + 10).coalesce(1).write.mode("append").parquet(src)
      // one file per micro-batch: four offset, commit and sink-log rounds
      val (_, cmds) = processStarts(graft.streaming.Drain.toParquet(
        graft.streaming.Drain.files(spark, src, maxFilesPerTrigger = Some(1)),
        d.resolve("ckpt").toString, d.resolve("out").toString))
      assert(chmods(cmds).isEmpty, s"${chmods(cmds).size} chmod processes: ${chmods(cmds).take(3)}")
      val readlinks = runs("readlink", cmds)
      assert(readlinks.isEmpty, s"${readlinks.size} readlink processes: ${readlinks.take(3)}")
      assert(spark.read.parquet(d.resolve("out").toString).count() == 40)
    }
  }

  test("link status equals stock Hadoop's for a file, a directory and a symbolic link") {
    val nio = new NioLocalFileSystem.Raw
    val stock = new org.apache.hadoop.fs.RawLocalFileSystem
    for (fs <- Seq(nio, stock)) fs.initialize(new URI("file:///"), new Configuration())
    def fields(s: org.apache.hadoop.fs.FileStatus) = (s.getPath, s.isFile, s.isDirectory,
      s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
      s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, s.getReplication, s.getBlockSize)
    withDir { d =>
      Files.write(d.resolve("file"), Array[Byte](1, 2, 3))
      Files.createDirectory(d.resolve("dir"))
      Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
      // as a file: URI (how Spark names its paths) and as a bare path
      for (name <- Seq("file", "dir", "link"); p <- Seq(d.resolve(name).toUri.toString, d.resolve(name).toString)) {
        val want = fields(stock.getFileLinkStatus(new Path(p)))
        val (got, cmds) = processStarts(nio.getFileLinkStatus(new Path(p)))
        assert(fields(got) == want, p)
        if (name != "link") assert(runs("readlink", cmds).isEmpty, p)
      }
    }
  }

  test("file and directory modes equal stock Hadoop's under the default umask") {
    val conf = new Configuration()
    val umask = FsPermission.getUMask(conf).toShort.toInt
    val nio = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), conf)
    withDir { d =>
      // 0644, 0755, 0600, 0700, 0444, 0000
      for (m <- Seq(0x1a4, 0x1ed, 0x180, 0x1c0, 0x124, 0)) {
        val perm = new FsPermission(m.toShort)
        def made(fs: FileSystem, tag: String): Seq[Int] = {
          val f = new Path(d.resolve(s"$tag-$m.bin").toUri)
          val o = fs.create(f, perm, false, 4096, 1.toShort, 1L << 20, null)
          try o.write(Array[Byte](1, 2, 3)) finally o.close()
          val dir = new Path(d.resolve(s"$tag-$m-dir").toUri)
          assert(fs.mkdirs(dir, perm))
          Seq(f, fs.asInstanceOf[LocalFileSystem].getChecksumFile(f), dir)
            .map(p => mode(java.nio.file.Paths.get(p.toUri)))
        }
        val got = made(nio, "nio")
        assert(got == made(stock, "stock"), f"mode $m%04o")
        assert(got == Seq.fill(3)(m & ~umask), f"mode $m%04o")
      }
    }
  }

  test("a sticky-bit mode takes stock Hadoop's path") {
    val raw = new NioLocalFileSystem.Raw
    raw.initialize(new URI("file:///"), new Configuration())
    withDir { d =>
      val p = new Path(d.toUri)
      val (_, plain) = processStarts(raw.setPermission(p, new FsPermission(0x1c0.toShort)))
      assert(chmods(plain).isEmpty && mode(d) == 0x1c0)
      val (_, sticky) = processStarts(raw.setPermission(p, new FsPermission(0x3ed.toShort)))
      assert(chmods(sticky).nonEmpty == stockForks && mode(d) == 0x3ed, f"mode ${mode(d)}%04o")
    }
  }
}
