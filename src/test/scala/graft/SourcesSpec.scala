package graft

import java.nio.file.{Files, Path, StandardOpenOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.obs.JobProfile
import graft.sources.Sources

/** The `file` input's JSON schema memo: a read over an unchanged file
  * listing reuses the inferred schema; any change re-infers. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()

  /** Spark jobs `f` starts, counted by the JobProfile. */
  private def jobsDuring(f: => Unit): Int = {
    val profile = JobProfile.attach(spark.sparkContext)
    try {
      profile.drain().take()
      f
      profile.drain().take().jobs.size
    } finally profile.detach()
  }

  private def columns(path: String): Set[String] =
    Sources.file(spark, path, "json").schema("doc").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet

  private def write(p: Path, lines: String*): Unit =
    Files.write(p, lines.map(_ + "\n").mkString.getBytes("UTF-8"))

  test("an unchanged listing reuses the inferred schema; a changed one re-infers") {
    val dir = Files.createTempDirectory("graft-json-memo")
    write(dir.resolve("a.json"), """{"id":1,"v":2}""", """{"id":2,"v":3}""")
    write(dir.resolve("b.json"), """{"id":3,"v":4,"only_b":true}""")
    val path = dir.toString + "/*.json"
    def read(): (Int, Set[String]) = {
      var cols = Set.empty[String]
      val n = jobsDuring { cols = columns(path) }
      (n, cols)
    }
    val (first, c1) = read()
    assert(first > 0 && c1 == Set("id", "v", "only_b"))
    assert(read() == (0, c1))

    // a line with a new field appended to one file
    Files.write(dir.resolve("a.json"), "{\"id\":4,\"appended\":1}\n".getBytes("UTF-8"),
      StandardOpenOption.APPEND)
    val (n2, c2) = read()
    assert(n2 > 0 && c2 == c1 + "appended")
    assert(read() == (0, c2))

    // a file added
    write(dir.resolve("c.json"), """{"id":5,"added":"x"}""")
    val (n3, c3) = read()
    assert(n3 > 0 && c3 == c2 + "added")

    // a file removed
    Files.delete(dir.resolve("b.json"))
    val (n4, c4) = read()
    assert(n4 > 0 && c4 == c3 - "only_b")
    assert(read() == (0, c4))

    // a changed SQL conf that inference reads
    write(dir.resolve("bad.json"), """{"id":6,""")
    val (n5, c5) = read()
    assert(n5 > 0 && c5 == c4 + "_corrupt_record")
    spark.conf.set("spark.sql.columnNameOfCorruptRecord", "_broken")
    try {
      val (n6, c6) = read()
      assert(n6 > 0 && c6 == c4 + "_broken")
    } finally spark.conf.unset("spark.sql.columnNameOfCorruptRecord")
    assert(read() == (0, c5))
  }

  test("a glob that matches no files fails as a plain JSON read does") {
    val path = Files.createTempDirectory("graft-json-none").toString + "/*.json"
    val plain = intercept[Exception](spark.read.json(path))
    val viaFile = intercept[Exception](Sources.file(spark, path, "json"))
    assert(viaFile.getClass == plain.getClass)
    assert(viaFile.getMessage == plain.getMessage)
  }
}
