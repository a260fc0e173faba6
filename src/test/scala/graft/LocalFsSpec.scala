package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import org.apache.hadoop.fs.{ChecksumException, ChecksumFs, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, NioRawLocalFs}

class LocalFsSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()
  def conf = spark.sparkContext.hadoopConfiguration
  val local = new URI("file:///")

  def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(local, conf); fs
  }

  def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
  def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  /** Everything a status says, `equals` compares only the path. */
  def fields(s: FileStatus): scala.Seq[Any] = scala.Seq(s.getPath, s.getLen,
    s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getAccessTime,
    s.getPermission, s.getOwner, s.getGroup)

  /** Reaped-child CPU ticks of this JVM (cutime + cstime). */
  def childTicks(): Long = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "UTF-8")
    val f = stat.substring(stat.lastIndexOf(')') + 2).trim.split(" ")
    f(13).toLong + f(14).toLong
  }

  test("sessions route file: through graft.io.LocalFs for FileSystem and FileContext") {
    // newInstance: the FileSystem cache is keyed by URI and user, not conf
    val fs = FileSystem.newInstance(local, conf)
    try {
      assert(fs.isInstanceOf[NioLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    } finally fs.close()
    val afs = FileContext.getFileContext(local, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs])
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[NioRawLocalFs])
  }

  test("statuses equal the stock RawLocalFileSystem's: file, dir, links, missing") {
    val d = Files.createTempDirectory("graft-lfs")
    val file = Files.write(d.resolve("f"), "hello".getBytes("UTF-8"))
    Files.createDirectory(d.resolve("sub"))
    val sticky = Files.createDirectory(d.resolve("sticky"))
    Files.setAttribute(sticky, "unix:mode", Integer.valueOf(octal("1777")))
    Files.createSymbolicLink(d.resolve("ln"), file)
    Files.createSymbolicLink(d.resolve("lnrel"), Paths.get("sub"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("none"))
    val stock = raw(new RawLocalFileSystem)
    val nio = raw(new NioRawLocalFileSystem)
    for (name <- scala.Seq("f", "sub", "sticky", "ln", "lnrel", "dangling", "none");
         p <- scala.Seq(new Path(d.resolve(name).toString),
           new Path(d.resolve(name).toUri))) {
      def same(op: RawLocalFileSystem => FileStatus): Unit = {
        val want = try Right(fields(op(stock)))
          catch { case _: FileNotFoundException => Left("missing") }
        val got = try Right(fields(op(nio)))
          catch { case _: FileNotFoundException => Left("missing") }
        assert(got == want, s"$p")
      }
      same(_.getFileStatus(p))
      same(_.getFileLinkStatus(p))
    }
    // a link's status reads its target's attributes (unqualified path)
    val ln = nio.getFileLinkStatus(new Path(d.resolve("ln").toString))
    assert(ln.isSymlink && ln.getSymlink == new Path(file.toUri) && ln.getLen == 5)
    assert(nio.getFileStatus(new Path(sticky.toString)).getPermission.getStickyBit)
    intercept[FileNotFoundException](nio.getFileStatus(new Path(d.resolve("none").toString)))
    assert(nio.listStatus(new Path(d.toString)).map(fields).toSeq.sortBy(_.head.toString) ==
      stock.listStatus(new Path(d.toString)).map(fields).toSeq.sortBy(_.head.toString))
  }

  test("mkdirs, create and setPermission leave the stock FS's mode bits") {
    val umask = FsPermission.getUMask(conf)
    def modes(fs: RawLocalFileSystem): scala.Seq[Int] = {
      val d = Files.createTempDirectory("graft-lfs-mode")
      val p = new Path(d.toString)
      assert(fs.mkdirs(new Path(p, "a/b"), new FsPermission(octal("777"))))
      fs.create(new Path(p, "f"), new FsPermission(octal("666")).applyUMask(umask),
        true, 4096, 1.toShort, 1L << 20, null).close()
      fs.create(new Path(p, "g"), true).close()
      fs.setPermission(new Path(p, "g"), new FsPermission(octal("1750")))
      val sgid = Files.createDirectory(d.resolve("sgid"))
      Files.setAttribute(sgid, "unix:mode", Integer.valueOf(octal("2775")))
      fs.setPermission(new Path(p, "sgid"), new FsPermission(octal("700")))
      scala.Seq("a", "a/b", "f", "g", "sgid").map(n => mode(d.resolve(n)))
    }
    assert(modes(raw(new NioRawLocalFileSystem)) == modes(raw(new RawLocalFileSystem)))
  }

  test("the CRC layer stays: .crc siblings, checksum errors, no-overwrite atomic writes") {
    val d = Files.createTempDirectory("graft-lfs-crc")
    val fs = FileSystem.newInstance(local, conf)
    try {
      val p = new Path(d.resolve("data").toString)
      val out = fs.create(p)
      out.write(Array.fill[Byte](512)(7)); out.close()
      assert(Files.exists(d.resolve(".data.crc")))
      val f = new RandomAccessFile(d.resolve("data").toFile, "rw")
      try { f.seek(100); f.write(8) } finally f.close()
      intercept[ChecksumException] {
        val in = fs.open(p)
        try in.readFully(new Array[Byte](512)) finally in.close()
      }
    } finally fs.close()
    val mgr = CheckpointFileManager.create(new Path(d.toString), conf)
    assert(mgr.getClass.getSimpleName == "FileContextBasedCheckpointFileManager")
    def write(p: Path): Unit = {
      val out = mgr.createAtomic(p, false)
      out.write(1); out.close()
    }
    val log = new Path(d.resolve("0").toString)
    write(log)
    assert(Files.exists(d.resolve(".0.crc")))
    intercept[FileAlreadyExistsException](write(log))
  }

  test("checkpoint writes and a file_stream → file run start no child process") {
    assume(Files.isReadable(Paths.get("/proc/self/stat")))
    val d = Files.createTempDirectory("graft-lfs-fork")
    val mgr = CheckpointFileManager.create(new Path(d.toString), conf)
    val src = Files.createDirectory(d.resolve("in"))
    val out = d.resolve("out").toString
    val spec = graft.runtime.Config.load(
      s"""input:
         |  file_stream:
         |    path: $src
         |    format: json
         |pipeline:
         |  processors:
         |    - bloblang: 'root.id = this.id'
         |output:
         |  file:
         |    path: $out
         |    codec: json
         |    mode: append
         |""".stripMargin)
    def drop(batch: Int): Unit = {
      val tmp = Files.write(d.resolve(s"b$batch.tmp"),
        (0 until 5).map(i => s"""{"id":${batch * 5 + i}}""").mkString("\n")
          .getBytes("UTF-8"))
      Files.move(tmp, src.resolve(s"b$batch.json"))
    }
    spark.range(1).count() // session start is not the subject
    val before = childTicks()
    mgr.mkdirs(new Path(d.resolve("log").toString))
    for (i <- 0 until 50) {
      val o = mgr.createAtomic(new Path(d.resolve(s"log/$i").toString), false)
      o.write(i); o.close()
    }
    drop(0)
    val q = spec.runStream(spark, d.resolve("ckpt").toString)
    try {
      q.processAllAvailable()
      drop(1); q.processAllAvailable()
      drop(2); q.processAllAvailable()
    } finally q.stop()
    val ticks = childTicks() - before
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    assert(spark.read.json(out).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 15L))
    assert(ticks == 0, s"child processes took $ticks ticks of CPU")
  }
}
