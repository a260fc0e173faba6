package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.Envelope
import graft.sinks.Sinks

/** DynamicPathSink: ONE partitionBy pass + metadata renames, whatever
  * the number of resolved paths, must produce the `base/<resolved path>/`
  * layout, and must reject null and base-escaping paths before anything
  * lands under `base`. */
class SinksSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()

  private def tmpDir(): java.io.File = {
    val f = java.nio.file.Files.createTempDirectory("graft_sinks").toFile
    f.deleteOnExit(); f
  }

  private def env(n: Int, pathOf: Int => String) = {
    import spark.implicits._
    Envelope.wrapUnordered(
      (0 until n).map(i => (i.toLong, pathOf(i), s"payload-$i"))
        .toDF("id", "p", "body"))
  }

  private def lines(dir: java.io.File): scala.Seq[String] =
    Option(dir.listFiles()).getOrElse(Array.empty).toIndexedSeq
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)

  test("one directory per distinct resolved path") {
    val base = tmpDir()
    Sinks.DynamicPathSink(base.getPath, "this.p", "lines")
      .write(env(30, i => s"t${i % 3}"))
    (0 until 3).foreach { k =>
      val got = lines(new java.io.File(base, s"t$k"))
      assert(got.size == 10, s"t$k: ${got.size} lines")
      assert(got.forall(_.contains(s""""p":"t$k"""")))
    }
  }

  test("auto-partitionBy regime: same layout, one data pass, nested paths") {
    val base = tmpDir()
    // 12 distinct nested paths → one partitionBy write + renames
    Sinks.DynamicPathSink(base.getPath, "this.p", "lines")
      .write(env(48, i => s"d${i % 3}/u${i % 12}"))
    (0 until 12).foreach { k =>
      val got = lines(new java.io.File(base, s"d${k % 3}/u$k"))
      assert(got.size == 4, s"d${k % 3}/u$k: ${got.size} lines")
      assert(got.forall(_.contains(s""""p":"d${k % 3}/u$k"""")))
    }
    // the staging dir must be gone
    assert(!Option(base.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.startsWith("_graft_tmp_")))
  }

  test("auto-partitionBy regime: empty-string paths land in base itself, like per-path") {
    // Spark stores "" as __HIVE_DEFAULT_PARTITION__ — the rename step must
    // map the sentinel back to the base directory, not create a literal
    // __HIVE_DEFAULT_PARTITION__/ subdir
    val base = tmpDir()
    Sinks.DynamicPathSink(base.getPath, "this.p", "lines")
      .write(env(24, i => if (i % 6 == 0) "" else s"t${i % 6}"))
    assert(!new java.io.File(base, "__HIVE_DEFAULT_PARTITION__").exists())
    val inBase = lines(base)
    assert(inBase.size == 4, s"base: ${inBase.size} lines")
    assert(inBase.forall(_.contains("\"p\":\"\"")))
    (1 until 6).foreach { k =>
      assert(lines(new java.io.File(base, s"t$k")).size == 4)
    }
  }

  test("auto-partitionBy regime rejects null paths (detected on the single write pass)") {
    val e = intercept[IllegalArgumentException] {
      Sinks.DynamicPathSink(tmpDir().getPath, "this.p", "lines")
        .write(env(16, i => if (i % 4 == 0) null else s"ok$i"))
    }
    assert(e.getMessage.contains("resolved to null"))
  }

  test("a path escaping the base directory is rejected") {
    val e1 = intercept[IllegalArgumentException] {
      Sinks.DynamicPathSink(tmpDir().getPath, "this.p", "lines")
        .write(env(4, _ => "../escape"))
    }
    assert(e1.getMessage.contains("escapes the base"))
    val e2 = intercept[IllegalArgumentException] {
      Sinks.DynamicPathSink(tmpDir().getPath, "this.p", "lines")
        .write(env(16, i => if (i % 4 == 0) "../escape" else s"ok$i"))
    }
    assert(e2.getMessage.contains("escapes the base"))
  }

  test("a rejected write leaves base untouched: no resolved path lands before the escaping one") {
    val base = tmpDir()
    val e = intercept[IllegalArgumentException] {
      Sinks.DynamicPathSink(base.getPath, "this.p", "lines")
        .write(env(16, i => if (i == 7) "../escape" else s"ok${i % 5}"))
    }
    assert(e.getMessage.contains("escapes the base"))
    def files(f: java.io.File): scala.Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(files)
      else scala.Seq(f)
    assert(files(base).isEmpty, files(base).mkString(", "))
    assert(!Option(base.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.startsWith("_graft_tmp_")))
  }

  test("byte codecs: rejected on an interpolated path and, for a static one, on a URI path; an interpolated path needs a local base") {
    Seq("append", "all-bytes").foreach { c =>
      val e1 = intercept[IllegalArgumentException](
        Sinks.DynamicPathSink(tmpDir().getPath, "this.p", c))
      assert(e1.getMessage.contains("cannot write an interpolated path"))
      val e2 = intercept[IllegalArgumentException](
        Sinks.FileSink("s3a://bucket/out", c))
      assert(e2.getMessage.contains("writes local files"))
    }
    Sinks.FileSink("s3a://bucket/out", "delim:;")
    Sinks.FileSink(tmpDir().getPath, "append")
    // the renames after an interpolated write go through java.io
    val e3 = intercept[IllegalArgumentException](
      Sinks.DynamicPathSink("s3a://bucket", "this.p", "json"))
    assert(e3.getMessage.contains("needs a local base directory"))
  }
}
