package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.blobl.Mapping

/** Golden tests for the Bloblang → Catalyst compiler, modeled on the
  * reference's executable doc examples (`NewExampleSpec` pairs in
  * `internal/bloblang/query/methods*.go` / `functions.go`).
  */
class BloblSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()

  def jdf(rows: String*): DataFrame = {
    import spark.implicits._
    spark.read.json(spark.createDataset(rows))
  }

  /** Apply mapping to JSON rows, return result rows as JSON strings. */
  def run(mapping: String, rows: String*): List[String] = {
    val out = Mapping.compile(mapping).applyPlain(jdf(rows: _*))
    out.select(to_json(struct(out.columns.map(col).toIndexedSeq: _*))).collect()
      .map(_.getString(0)).toList
  }

  test("simple projection + uppercase") {
    assert(run("""root.foo = this.bar.uppercase()""", """{"bar":"hello"}""")
      == List("""{"foo":"HELLO"}"""))
  }

  test("arithmetic and nested paths") {
    assert(run(
      """root.total = this.a.x * (1 - this.rate)
        |root.id = this.id""".stripMargin,
      """{"a":{"x":10.0},"rate":0.5,"id":7}""")
      == List("""{"total":5.0,"id":7}"""))
  }

  test("string methods chain") {
    assert(run("""root.out = this.s.trim().lowercase().replace("world","benthos")""",
      """{"s":"  Hello World  "}""")
      == List("""{"out":"hello benthos"}"""))
  }

  test("split join slice") {
    assert(run("""root.parts = this.s.split(",")
                 |root.first2 = this.s.split(",").slice(0, 2).join("-")""".stripMargin,
      """{"s":"a,b,c,d"}""")
      == List("""{"parts":["a","b","c","d"],"first2":"a-b"}"""))
  }

  test("if expression with else") {
    assert(run("""root.size = if this.v > 10 { "big" } else { "small" }""",
      """{"v":20}""", """{"v":3}""")
      == List("""{"size":"big"}""", """{"size":"small"}"""))
  }

  test("if without else keeps previous (Nothing semantics)") {
    assert(run(
      """root.x = "default"
        |root.x = if this.v > 10 { "big" }""".stripMargin,
      """{"v":20}""", """{"v":3}""")
      == List("""{"x":"big"}""", """{"x":"default"}"""))
  }

  test("match expression") {
    assert(run(
      """root.bucket = match this.v {
        |  this < 5 => "low"
        |  this < 15 => "mid"
        |  _ => "high"
        |}""".stripMargin,
      """{"v":1}""", """{"v":10}""", """{"v":99}""")
      == List("""{"bucket":"low"}""", """{"bucket":"mid"}""", """{"bucket":"high"}"""))
  }

  test("match on literal values") {
    assert(run(
      """root.t = match this.kind { "a" => 1, "b" => 2, _ => 0 }""",
      """{"kind":"a"}""", """{"kind":"b"}""", """{"kind":"z"}""")
      == List("""{"t":1}""", """{"t":2}""", """{"t":0}"""))
  }

  test("deleted() filters rows") {
    assert(run(
      """root.v = this.v
        |root = if this.v < 0 { deleted() }""".stripMargin,
      """{"v":1}""", """{"v":-5}""", """{"v":2}""")
      == List("""{"v":1}""", """{"v":2}"""))
  }

  test("field-level delete via without") {
    assert(run("""root = this.without("secret")""",
      """{"a":1,"secret":"x"}""") == List("""{"a":1}"""))
  }

  test("let variables") {
    assert(run(
      """let rev = this.price * this.qty
        |root.rev = $rev
        |root.big = $rev > 100""".stripMargin,
      """{"price":20,"qty":10}""")
      == List("""{"rev":200,"big":true}"""))
  }

  test("pipe coalesce operator") {
    assert(run("""root.v = this.a | this.b | "fallback"""",
      """{"a":null,"b":"bee"}""", """{"a":null,"b":null}""")
      == List("""{"v":"bee"}""", """{"v":"fallback"}"""))
  }

  test("structured: map_each filter sum sort unique flatten") {
    assert(run(
      """root.doubled = this.ints.map_each(i -> i * 2)
        |root.evens = this.ints.filter(i -> i % 2 == 0)
        |root.total = this.ints.sum()
        |root.sorted = this.ints.sort()
        |root.uniq = this.dups.unique()
        |root.flat = this.nest.flatten()""".stripMargin,
      """{"ints":[3,1,2],"dups":[1,1,2],"nest":[[1],[2,3]]}""")
      == List("""{"doubled":[6,2,4],"evens":[2],"total":6,"sorted":[1,2,3],"uniq":[1,2],"flat":[1,2,3]}"""))
  }

  test("structured: fold enumerated append contains index") {
    assert(run(
      """root.folded = this.ints.fold(0, item -> item.tally + item.value)
        |root.en = this.ints.enumerated()
        |root.app = this.ints.append(9)
        |root.has2 = this.ints.contains(2)
        |root.last = this.ints.index(-1)""".stripMargin,
      """{"ints":[3,1,2]}""")
      == List("""{"folded":6,"en":[{"index":0,"value":3},{"index":1,"value":1},{"index":2,"value":2}],"app":[3,1,2,9],"has2":true,"last":2}"""))
  }

  test("sort_by") {
    assert(run(
      """root.sorted = this.xs.sort_by(e -> e.rank)""",
      """{"xs":[{"rank":3,"n":"c"},{"rank":1,"n":"a"},{"rank":2,"n":"b"}]}""")
      == List("""{"sorted":[{"n":"a","rank":1},{"n":"b","rank":2},{"n":"c","rank":3}]}"""))
  }

  test("object methods: keys values merge without") {
    assert(run(
      """root.ks = this.obj.keys()
        |root.merged = this.obj.merge(this.extra)""".stripMargin,
      """{"obj":{"a":1,"b":2},"extra":{"b":9,"c":3}}""")
      == List("""{"ks":["a","b"],"merged":{"a":1,"b":[2,9],"c":3}}"""))
  }

  test("number methods") {
    assert(run(
      """root.a = this.v.abs()
        |root.c = this.v.ceil()
        |root.f = this.v.floor()
        |root.r = this.v.abs().round()""".stripMargin,
      """{"v":-2.4}""")
      == List("""{"a":2.4,"c":-2,"f":-3,"r":2}"""))
  }

  test("hash and encode") {
    assert(run("""root.h = this.s.hash("md5").encode("hex")
                 |root.b64 = this.s.encode("base64")""".stripMargin,
      """{"s":"hello world"}""")
      == List("""{"h":"5eb63bbbe01eeed093cb22bb8f5acdc3","b64":"aGVsbG8gd29ybGQ="}"""))
  }

  test("timestamp go-layout round trip") {
    assert(run(
      """root.y = this.d.parse_timestamp("2006-01-02").format_timestamp("Jan 2 2006")""",
      """{"d":"2021-02-03"}""")
      == List("""{"y":"Feb 3 2021"}"""))
  }

  test("format_timestamp_unix + strftime") {
    assert(run(
      """root.u = this.d.parse_timestamp_strptime("%Y-%m-%d %H:%M:%S").format_timestamp_unix()""",
      """{"d":"1970-01-02 00:00:00"}""")
      == List("""{"u":86400}"""))
  }

  test("parse_json variant access") {
    assert(run(
      """root.k = this.props.parse_json().k.number()""",
      """{"props":"{\"k\": 42}"}""")
      == List("""{"k":42.0}"""))
  }

  test("meta assignment on envelope") {
    import graft.model.Envelope
    val df = jdf("""{"a":1}""", """{"a":2}""")
    val env = Envelope.wrap(df, scala.Seq(col("a")))
    val out = Mapping.compile(
      """meta key = this.a.string()
        |root.a = this.a * 10""".stripMargin).applyEnvelope(env)
    val got = out.select(col("doc.a"), element_at(col("meta"), "key")).collect().toList
    assert(got == List(Row(10L, "1"), Row(20L, "2")))
  }

  test("batch functions over envelope") {
    import graft.model.Envelope
    val df = jdf("""{"a":"x"}""", """{"a":"y"}""", """{"a":"z"}""")
    val env = Envelope.wrap(df, scala.Seq(col("a")), batchSize = 2)
    val out = Mapping.compile(
      """root.i = batch_index()
        |root.n = batch_size()
        |root.all = this.a.from_all().join(",")""".stripMargin).applyEnvelope(env)
    val got = out.select("doc.i", "doc.n", "doc.all").orderBy("doc.all").collect().toList
    assert(got == List(Row(0L, 2L, "x,y"), Row(1L, 2L, "x,y"), Row(0L, 1L, "z")))
  }

  test("from with negative indices over a batch (parser/query_method_parser_test.go)") {
    import graft.model.Envelope
    val df = jdf("""{"foo":1}""", """{"foo":2}""", """{"foo":3}""", """{"foo":4}""")
    val env = Envelope.wrap(df, scala.Seq(col("foo")), batchSize = 4)
    val out = Mapping.compile(
      """root.a = this.foo.from(0)
        |root.b = this.foo.from(1)
        |root.c = this.foo.from(-1)
        |root.d = this.foo.from(-2)""".stripMargin).applyEnvelope(env)
    val got = out.select("doc.a", "doc.b", "doc.c", "doc.d").distinct().collect().toList
    assert(got == List(Row(1L, 2L, 4L, 3L)))
  }

  test("named maps via apply") {
    assert(run(
      """map squared {
        |  root.sq = this * this
        |}
        |root.out = this.v.apply("squared")""".stripMargin,
      """{"v":4}""")
      == List("""{"out":{"sq":16}}"""))
  }

  test("root replace then field surgery") {
    assert(run(
      """root = this
        |root.extra = "tag"
        |root.b = deleted()""".stripMargin,
      """{"a":1,"b":2}""")
      == List("""{"a":1,"extra":"tag"}"""))
  }

  test("object and array literals") {
    assert(run(
      """root.obj = {"x": this.v, "y": [1, 2, this.v]}""",
      """{"v":9}""")
      == List("""{"obj":{"x":9,"y":[1,2,9]}}"""))
  }

  test("type method") {
    assert(run(
      """root.ts = this.s.type()
        |root.tn = this.n.type()
        |root.ta = this.arr.type()""".stripMargin,
      """{"s":"x","n":1.5,"arr":[1]}""")
      == List("""{"ts":"string","tn":"number","ta":"array"}"""))
  }

  test("range and length functions") {
    assert(run(
      """root.r = range(0, 5, 2)
        |root.l = this.s.length()""".stripMargin,
      """{"s":"abcdef"}""")
      == List("""{"r":[0,2,4],"l":6}"""))
  }

  test("an array literal carries its elements' errors") {
    val env = graft.model.Envelope.wrapUnordered(jdf("""{"n":1}"""))
    val out = graft.ops.BloblangProc("""root.a = [this.n, throw("x")]""")(env)
    assert(out.select(col(graft.model.Envelope.Error)).head().getString(0) == "x")
  }
}
