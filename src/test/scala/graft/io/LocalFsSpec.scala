package graft.io

import java.net.URI
import java.nio.file.{Files, Paths, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.merge.{LogTable, Merge}
import graft.streaming.{Medallion, MedallionFixtures}

/** The fork-free local file system: `core-site.xml` puts it under `file:`
  * for `FileSystem` and `FileContext`, it keeps Hadoop's semantics, and the
  * program's write paths start no process. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): NioPath = Files.createTempDirectory(prefix)
  private def mode(p: NioPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("core-site.xml registers the NIO file systems for file:") {
    val conf = new Configuration()
    assert(FileSystem.get(new URI("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      classOf[NioLocalFileSystem].getName)
  }

  test("permissions: a 0640 file and a 0750 dir read back through NIO") {
    val fs = FileSystem.getLocal(new Configuration())
    val root = tmp("localfs-perm-")
    val dir = new Path(root.resolve("d").toUri)
    assert(fs.mkdirs(dir, perm("750")))
    val file = new Path(root.resolve("f").toUri)
    fs.create(file, perm("640"), true, 4096, 1.toShort, 1L << 20, null).close()
    assert(mode(root.resolve("d")) == "rwxr-x---")
    assert(mode(root.resolve("f")) == "rw-r-----")
    // the sticky bit renders as a trailing 't' in toString; the mode bits hold
    fs.setPermission(dir, perm("1755"))
    assert(mode(root.resolve("d")) == "rwxr-xr-x")
  }

  test("link status: a regular file's equals its file status; a symlink's is a link") {
    val fs = FileSystem.getLocal(new Configuration())
    val root = tmp("localfs-link-")
    val f = Files.write(root.resolve("f"), "x".getBytes)
    val p = new Path(f.toUri)
    def fields(s: org.apache.hadoop.fs.FileStatus) =
      (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime, s.getPermission)
    assert(fields(fs.getFileLinkStatus(p)) == fields(fs.getFileStatus(p)))
    val link = Files.createSymbolicLink(root.resolve("l"), f)
    // Hadoop's symlink branch resolves the path as a plain file name, so it
    // is given without the file: scheme
    val ls = fs.getFileLinkStatus(new Path(link.toString))
    assert(ls.isSymlink)
    assert(ls.getSymlink.toUri.getPath == f.toString)
    intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(root.resolve("none").toUri)))
  }

  test("FileContext.rename with OVERWRITE replaces the target and its checksum") {
    val fc = FileContext.getLocalFSFileContext(new Configuration())
    val root = tmp("localfs-rename-")
    def put(name: String, body: String): Path = {
      val p = new Path(root.resolve(name).toUri)
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      try out.write(body.getBytes) finally out.close()
      p
    }
    val src = put("src", "new")
    val dst = put("dst", "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(root.resolve("src")))
    // the read verifies the checksum: a stale .dst.crc would fail it
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes()) == "new") finally in.close()
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      fc.rename(put("src2", "x"), dst, Options.Rename.NONE))
  }

  /** Processes Spark itself starts, which no file-system call causes: the
    * `rm -rf` that deletes a finished streaming query's session artifact
    * dir, and the one-time page-size probe of its executor metrics. */
  private def sparkOwn(command: String): Boolean =
    command.startsWith(s"rm -rf ${Paths.get(System.getProperty("java.io.tmpdir"), "artifacts-")}") ||
      command == "getconf PAGESIZE"

  /** The command lines of every process the JVM starts while `body` runs,
    * apart from Spark's own ([[sparkOwn]]). */
  private def forks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("forks-", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).filterNot(sparkOwn)
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("no process is forked: bucketed LogTable append, merge and read") {
    spark.range(1).count() // session start-up is not under test
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val started = forks {
      val t = new LogTable(spark, tmp("localfs-forks-").resolve("t").toString, schema,
        Some((Seq("k"), 4)))
      t.append((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"))
      t.merge(Seq((1L, "u"), (21L, "n")).toDF("k", "v"))((cur, b) => Merge.scd1(cur, b, Seq("k")))
      assert(t.read().count() == 21)
    }
    assert(started.isEmpty, s"${started.size} processes: ${started.take(5).mkString("; ")}")
  }

  test("no process is forked: Medallion.runAll over set 1") {
    spark.range(1).count()
    val root = tmp("localfs-medallion-")
    val landing = root.resolve("landing")
    MedallionFixtures.set1(landing)
    val m = new Medallion(spark, landing.toString, s"$root/tables", s"$root/ckpt",
      lit("2024-01-15").cast("date"))
    val started = forks(m.runAll(MedallionFixtures.dateLookup(spark)))
    assert(m.summaryTable.read().count() == 1)
    assert(started.isEmpty, s"${started.size} processes: ${started.take(5).mkString("; ")}")
  }
}
