package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.blobl.Mapping
import graft.model.Envelope

/** Regression coverage for methods not exercised elsewhere. */
class MethodCoverageSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()

  def jdf(rows: String*) = {
    import spark.implicits._
    spark.read.json(spark.createDataset(rows))
  }
  def run(mapping: String, rows: String*): List[String] = {
    val out = Mapping.compile(mapping).applyPlain(jdf(rows: _*))
    out.select(to_json(struct(out.columns.map(col).toIndexedSeq: _*))).collect()
      .map(_.getString(0)).toList
  }

  test("trim with cutset, trim_prefix, trim_suffix") {
    assert(run(
      """root.a = this.s.trim("!?")
        |root.b = this.s.trim_prefix("!!")
        |root.c = this.s.trim_suffix("??")""".stripMargin,
      """{"s":"!!hello??"}""")
      == List("""{"a":"hello","b":"hello??","c":"!!hello"}"""))
  }

  test("replace_many unrolls pairs") {
    assert(run("""root.out = this.s.replace_many(["<", "&lt;", ">", "&gt;"])""",
      """{"s":"<b>"}""") == List("""{"out":"&lt;b&gt;"}"""))
  }

  test("re_find_object with named groups") {
    // key "0" = the full match, like the reference's doc examples
    assert(run(
      """root.parts = this.s.re_find_object("(?<y>\\d{4})-(?<m>\\d{2})")""",
      """{"s":"on 2024-03 ok"}""")
      == List("""{"parts":{"0":"2024-03","y":"2024","m":"03"}}"""))
  }

  test("parse_timestamp_unix with layout") {
    assert(run(
      """root.u = this.d.parse_timestamp_unix("2006-01-02")""",
      """{"d":"1970-01-03"}""") == List("""{"u":172800}"""))
  }

  test("values key_values map_each_key on maps") {
    val env = Envelope.wrap(jdf("""{"id":1}"""), scala.Seq(col("id")))
    val out = graft.ops.BloblangProc(
      """meta a = "1"
        |meta b = "2"
        |root.vals = root_meta().values().sort()
        |root.keys_up = root_meta().map_each_key(k -> k.uppercase()).keys().sort()""".stripMargin)(env)
    val got = out.select(to_json(col("doc"))).head().getString(0)
    assert(got == """{"vals":["1","2"],"keys_up":["A","B"]}""")
  }

  test("unique and enumerated on strings arrays") {
    assert(run(
      """root.u = this.xs.unique().sort()""",
      """{"xs":["b","a","b","a"]}""") == List("""{"u":["a","b"]}"""))
  }

  test("number/int/bool casts are permissive (null on failure)") {
    assert(run(
      """root.n = this.s.number()
        |root.i = this.s.int()
        |root.bad = this.junk.number()""".stripMargin,
      """{"s":"42.5","junk":"xyz"}""")
      == List("""{"n":42.5,"i":42}""")) // bad → null → omitted from JSON
  }

  private val langRows = scala.Seq(
    """{"id":1,"lang":"en","s":"one"}""", """{"id":2,"lang":"de","s":"zwei"}""",
    """{"id":3,"lang":"en","s":"three"}""")

  /** Writes `langRows` through a YAML `file` output with the interpolated
    * path `<base>/${! this.lang }`, compiled by `Config.loadOutput` to a
    * `DynamicPathSink` (one partitioned write, renamed to one directory
    * per resolved path). Returns the base directory of the write. */
  private def writeByLang(codec: String): scala.Seq[String] = {
    val base = java.nio.file.Files.createTempDirectory("graft-dyn").toString
    val sink = graft.runtime.Config.loadOutput(scala.Seq("file:",
      s"  path: '$base/$${! this.lang }'", s"  codec: $codec").mkString("\n"))
    assert(sink.isInstanceOf[graft.sinks.Sinks.DynamicPathSink],
      s"interpolated path compiled to $sink")
    sink.write(Envelope.wrap(jdf(langRows: _*), scala.Seq(col("id"))))
    assert(new java.io.File(base).list().sorted.toSeq == scala.Seq("de", "en"))
    scala.Seq(base)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): scala.Seq[scala.Seq[Any]] =
    df.select("id", "lang", "s").orderBy("id").collect().map(_.toSeq).toSeq

  test("interpolated dynamic-path sink partitions by value") {
    writeByLang("lines").foreach { base =>
      // each line is the whole doc, serialized
      assert(rows(spark.read.json(s"$base/en")) ==
        scala.Seq(scala.Seq(1L, "en", "one"), scala.Seq(3L, "en", "three")))
      assert(rows(spark.read.json(s"$base/de")) == scala.Seq(scala.Seq(2L, "de", "zwei")))
    }
  }

  test("interpolated dynamic-path sink: structured (parquet) format") {
    writeByLang("parquet").foreach { base =>
      val en = spark.read.parquet(s"$base/en")
      assert(en.columns.toSeq == scala.Seq("id", "lang", "s"))
      assert(rows(en) ==
        scala.Seq(scala.Seq(1L, "en", "one"), scala.Seq(3L, "en", "three")))
      assert(rows(spark.read.parquet(s"$base/de")) == scala.Seq(scala.Seq(2L, "de", "zwei")))
    }
  }

  test("COVERAGE.md names only registered queries and existing specs") {
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")
    // a query key is `q<N>_<name>`; the document cites `qN` and `qN-qM`
    val registered = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    val cited = """\bq(\d+)(?:\s*-\s*q(\d+))?\b""".r.findAllMatchIn(doc).flatMap { m =>
      val lo = m.group(1).toInt
      (lo to Option(m.group(2)).fold(lo)(_.toInt)).map(n => s"q$n")
    }.toSet
    assert(cited.size > 50)
    assert(cited -- registered == Set.empty, "gates that name no registered query")
    val specs = """\b[A-Z]\w*Spec\b""".r.findAllIn(doc).toSet
    assert(specs.size > 20)
    assert(specs.filterNot(s => new java.io.File(s"src/test/scala/graft/$s.scala").exists)
      == Set.empty, "specs that are no test file")
    // ops/CacheOps.scala cites this section for the awk json codec
    assert(doc.contains("## Documented divergences") && doc.contains("- awk json codec:"))
  }
}
