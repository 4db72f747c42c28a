package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The fork-free local file system (GraftLocalFileSystem, GraftLocalFs)
  * behaves like Hadoop's stock one — permission bits, symlink status,
  * FileNotFound, `.crc` checksums, atomic checkpoint writes — without
  * starting processes, and `Confs.localFileSystem` is what selects it. */
class LocalFsSpec extends SparkSpecBase {

  /** The Hadoop conf that Spark derives from Confs' keys. */
  private def graftConf: Configuration = {
    val c = new Configuration()
    Confs.localFileSystem.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }

  // newInstance, not get: FileSystem's cache is keyed by scheme, not conf
  private lazy val fs = FileSystem.newInstance(new URI("file:///"), graftConf)

  private def withTempDir[T](body: java.nio.file.Path => T): T = {
    val d = Files.createTempDirectory("localfs")
    try body(d) finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  private def hpath(p: java.nio.file.Path) = new Path(p.toUri)

  test("Confs' file keys resolve to the graft classes on both Hadoop APIs") {
    assert(fs.getClass === classOf[GraftLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(graftConf).getDefaultFileSystem.getClass ===
      classOf[GraftLocalFs])
    val session = spark.sparkContext.hadoopConfiguration
    Confs.localFileSystem.foreach { case (k, v) =>
      assert(session.get(k.stripPrefix("spark.hadoop.")) === v, s"test session lacks $k")
    }
  }

  test("setPermission round-trips plain modes; a sticky-bit mode still applies") {
    withTempDir { d =>
      val f = d.resolve("f")
      Files.writeString(f, "x")
      Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "700" -> "rwx------").foreach {
        case (octal, rwx) =>
          fs.setPermission(hpath(f), new FsPermission(Integer.parseInt(octal, 8).toShort))
          assert(Files.getPosixFilePermissions(f) === PosixFilePermissions.fromString(rwx), octal)
      }
      val sub = Files.createDirectory(d.resolve("sticky"))
      fs.setPermission(hpath(sub), new FsPermission(Integer.parseInt("1755", 8).toShort))
      val back = fs.getFileStatus(hpath(sub)).getPermission
      assert(back.getStickyBit && back.toShort === Integer.parseInt("1755", 8).toShort, back)
      intercept[FileNotFoundException](
        fs.setPermission(hpath(d.resolve("missing")), new FsPermission("644")))
    }
  }

  test("getFileLinkStatus: symlink with its target, regular file as getFileStatus, missing throws") {
    withTempDir { d =>
      val target = d.resolve("target")
      Files.writeString(target, "abc")
      val link = Files.createSymbolicLink(d.resolve("link"), target)
      // scheme-less: Hadoop's own readlink is handed `Path.toString`, so
      // it sees a link only there, and this class keeps that behaviour
      val ls = fs.getFileLinkStatus(new Path(link.toString))
      assert(ls.isSymlink && ls.getSymlink.toUri.getPath === target.toString, ls)

      Seq(hpath(target), hpath(d)).foreach { p =>
        def view(s: org.apache.hadoop.fs.FileStatus) = (s.getPath, s.isDirectory, s.isSymlink,
          s.getLen, s.getModificationTime, s.getPermission, s.getOwner)
        assert(view(fs.getFileLinkStatus(p)) === view(fs.getFileStatus(p)), p)
      }
      intercept[FileNotFoundException](fs.getFileLinkStatus(hpath(d.resolve("missing"))))
    }
  }

  test("FileSystem-API writes keep their .crc checksum") {
    withTempDir { d =>
      val out = fs.create(hpath(d.resolve("part")))
      out.write("payload".getBytes(UTF_8))
      out.close()
      assert(Files.exists(d.resolve(".part.crc")))
      val in = fs.open(hpath(d.resolve("part")))
      try assert(new String(in.readAllBytes(), UTF_8) === "payload") finally in.close()
    }
  }

  /** `/proc/stat`'s count of processes started on the host since boot. */
  private def processesStarted(): Option[Long] = {
    val stat = Paths.get("/proc/stat")
    if (!Files.isReadable(stat)) None
    else Files.readAllLines(stat).asScala.collectFirst {
      case l if l.startsWith("processes ") => l.split("\\s+")(1).toLong
    }
  }

  test("100 atomic checkpoint writes start fewer than 100 processes") {
    withTempDir { d =>
      val dir = hpath(d.resolve("offsets"))
      val cfm = CheckpointFileManager.create(dir, graftConf)
      cfm.mkdirs(dir)
      def write(i: Int): Unit = {
        val out = cfm.createAtomic(new Path(dir, i.toString), false)
        out.write(s"v$i".getBytes(UTF_8))
        out.close()
      }
      write(0) // class loading and Hadoop's one-off shell probes
      // best of three rounds: the counter is host-wide, so other
      // processes forking meanwhile can only inflate a round
      val started = (0 until 3).flatMap { r =>
        val before = processesStarted()
        (1 to 100).foreach(i => write(r * 100 + i))
        for (b <- before; a <- processesStarted()) yield a - b
      }

      val names = Files.list(d.resolve("offsets")).iterator.asScala
        .map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSet
      assert(names === (0 to 300).map(_.toString).toSet, "atomic writes left temp files")
      assert(Files.readString(d.resolve("offsets/300")) === "v300")
      // the stock local file system starts about 1,000 per round (2 chmod
      // + 8 readlink per write) when native libhadoop is absent
      if (started.nonEmpty) assert(started.min < 100, s"processes started per round: $started")
    }
  }
}
