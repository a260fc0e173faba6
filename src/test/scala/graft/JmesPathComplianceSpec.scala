package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Envelope

/** JMESPath compliance corpus: the upstream spec's
  * compliance suite re-expressed as vectors — one group per feature area
  * of the public spec (jmespath.org/specification.html; the same areas the
  * jmespath.test repo files cover: basic, identifiers, indices, slice,
  * wildcard, filters, multiselect, pipe, literal, boolean, current,
  * escape, functions, syntax) — run through `blobl/JmesPath.scala`'s
  * translator + the Bloblang compiler.
  *
  * Contract: every vector either (a) evaluates to the spec answer, or
  * (b) is in [[unsupported]] with a named reason and must THROW at
  * translate/compile time — a silent wrong answer on a spec vector fails
  * the suite. Evaluation batches all expressions of a group into ONE
  * select over the group's document, so the corpus costs one Spark job
  * per document rather than one per vector.
  *
  * Known boundaries (documented in JmesPath.scala's scaladoc too):
  *  - missing fields / type-mismatched accesses return `null` in the
  *    dynamically-typed spec; graft compiles against the document's
  *    STATIC schema, so those are loud translate/compile errors instead
  *    (the same typed-error posture as the jq residuals).
  *  - `[:n:step]` slice steps — Bloblang slice has no step argument.
  */
class JmesPathComplianceSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()

  /** expr -> expected (canonical JSON text, or SKIP sentinel). */
  final case class V(expr: String, expected: String)
  /** Vectors whose feature graft deliberately does not support: the
    * translator/compiler must throw. reason is for the reader. */
  final case class U(expr: String, reason: String)

  private def evalGroup(doc: String, vs: Seq[V]): Unit = {
    import spark.implicits._
    val df = spark.read.json(spark.createDataset(Seq(doc)))
    val env = Envelope.wrapUnordered(df)
    val cols = vs.zipWithIndex.map { case (v, k) =>
      val c = graft.blobl.Compiler
        .compile(graft.blobl.JmesPath.translate(v.expr),
          graft.blobl.Mapping.envelopeCtx(env)).col
      c.as(s"r$k")
    }
    val out = env.select(cols: _*)
    val rendered = out.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType => to_json(col(f.name))
        case _: org.apache.spark.sql.types.DoubleType |
             _: org.apache.spark.sql.types.FloatType =>
          // render 9.0 as "9" when integral so vectors read like the spec
          when(col(f.name) === col(f.name).cast("long"),
            col(f.name).cast("long").cast("string"))
            .otherwise(col(f.name).cast("string"))
        case _ => col(f.name).cast("string")
      }
    }
    val row = out.select(rendered.toSeq: _*).head()
    vs.zipWithIndex.foreach { case (v, k) =>
      val got = if (row.isNullAt(k)) "null" else row.getString(k)
      assert(got == v.expected,
        s"jmespath compliance: `${v.expr}` on $doc => $got, want ${v.expected}")
    }
  }

  private def mustThrow(doc: String, u: U): Unit = {
    import spark.implicits._
    val df = spark.read.json(spark.createDataset(Seq(doc)))
    val env = Envelope.wrapUnordered(df)
    val threw =
      try {
        graft.blobl.Compiler.compile(
          graft.blobl.JmesPath.translate(u.expr),
          graft.blobl.Mapping.envelopeCtx(env))
        false
      } catch { case _: Throwable => true }
    assert(threw,
      s"jmespath: `${u.expr}` (${u.reason}) must throw, not silently answer")
  }

  // ---- basic.json: field access, nesting ----
  val basicDoc = """{"foo":{"bar":"correct","baz":{"qux":5}},"arr":[1,2,3]}"""
  test("basic: field access and nesting") {
    evalGroup(basicDoc, Seq(
      V("foo.bar", "correct"),
      V("foo.baz.qux", "5"),
      V("foo.baz", """{"qux":5}"""),
      V("@.foo.bar", "correct"),
      V("arr", "[1,2,3]")))
  }

  // ---- identifiers.json: quoted identifiers ----
  test("identifiers: quoted and underscored") {
    evalGroup("""{"with space":1,"with.dot":2,"_under":3,"d0g":4}""", Seq(
      V("\"with space\"", "1"),
      V("\"with.dot\"", "2"),
      V("_under", "3"),
      V("d0g", "4")))
  }

  // ---- indices.json ----
  val idxDoc = """{"xs":[10,20,30,40,50],"nest":[[1,2],[3,4]]}"""
  test("indices: positive, negative, nested") {
    evalGroup(idxDoc, Seq(
      V("xs[0]", "10"),
      V("xs[4]", "50"),
      V("xs[-1]", "50"),
      V("xs[-5]", "10"),
      V("nest[1][0]", "3")))
  }

  // ---- slice.json ----
  test("slices: ranges and open ends") {
    evalGroup(idxDoc, Seq(
      V("xs[1:3]", "[20,30]"),
      V("xs[:2]", "[10,20]"),
      V("xs[3:]", "[40,50]"),
      V("xs[0:5]", "[10,20,30,40,50]"),
      // slices are projections: a trailing segment applies per element
      V("nest[0:2][0]", "[1,3]")))
  }
  test("slices: step is a documented boundary") {
    mustThrow(idxDoc, U("xs[::2]", "slice step unsupported (Bloblang slice has no step)"))
  }

  // ---- wildcard.json ----
  val wildDoc =
    """{"people":[{"name":"a","age":10},{"name":"b","age":20}],""" +
      """"m":{"x":{"v":1},"y":{"v":2}}}"""
  test("wildcard: list and object projections") {
    evalGroup(wildDoc, Seq(
      V("people[*].name", """["a","b"]"""),
      V("people[*].age", "[10,20]"),
      V("m.*.v", "[1,2]"),
      V("people[*].name | length(@)", "2")))
  }

  // ---- filters.json ----
  test("filters: comparators and boolean logic") {
    evalGroup(wildDoc, Seq(
      V("people[?age > `10`].name", """["b"]"""),
      V("people[?age >= `10`].name", """["a","b"]"""),
      V("people[?age < `20`].name", """["a"]"""),
      V("people[?name == 'a'].age", "[10]"),
      V("people[?name != 'a'].age", "[20]"),
      V("people[?age > `5` && age < `15`].name", """["a"]"""),
      V("people[?age < `5` || age > `15`].name", """["b"]""")))
  }

  // ---- multiselect.json ----
  test("multiselect: hash and list") {
    evalGroup(basicDoc, Seq(
      V("{a: foo.bar, b: foo.baz.qux}", """{"a":"correct","b":5}"""),
      V("[foo.bar, foo.baz.qux]", """["correct",5]"""),
      V("foo.{bar: bar}", """{"bar":"correct"}"""),
      V("{\"quoted key\": foo.bar}", """{"quoted key":"correct"}""")))
  }

  // ---- pipe.json ----
  test("pipes: rebinding and stopping projections") {
    evalGroup(wildDoc, Seq(
      V("people | length(@)", "2"),
      V("people[*].name | [0]", "a"),
      V("people[*].age | sum(@)", "30")))
  }

  // ---- literal.json / escape ----
  test("literals: backtick JSON and raw strings") {
    evalGroup(basicDoc, Seq(
      V("`5`", "5"),
      V("`0.5`", "0.5"),
      V("`\"str\"`", "str"),
      V("`true`", "true"),
      V("'raw'", "raw"),
      V("`-1`", "-1")))
  }

  // ---- boolean.json / current.json ----
  test("boolean operators and current node") {
    evalGroup("""{"t":true,"f":false,"n":5}""", Seq(
      V("t && f", "false"),
      V("t || f", "true"),
      V("!f", "true"),
      V("!t", "false"),
      V("n > `3`", "true"),
      V("n == `5`", "true"),
      V("@.n", "5")))
  }

  // ---- functions.json ----
  val fnDoc =
    """{"nums":[3,-1,4,1,5],"strs":["b","a","c"],"s":"hello",""" +
      """"objs":[{"k":2,"v":"x"},{"k":1,"v":"y"}],"o":{"a":1,"b":2},""" +
      """"neg":-3.7,"pos":3.2,"numstr":"42"}"""
  test("functions: numeric") {
    evalGroup(fnDoc, Seq(
      V("abs(neg)", "3.7"),
      V("ceil(pos)", "4"),
      V("floor(pos)", "3"),
      V("sum(nums)", "12"),
      V("max(nums)", "5"),
      V("min(nums)", "-1"),
      V("avg(nums)", "2.4"),
      V("to_number(numstr)", "42")))
  }
  test("functions: arrays and strings") {
    evalGroup(fnDoc, Seq(
      V("length(nums)", "5"),
      V("length(s)", "5"),
      V("sort(strs)", """["a","b","c"]"""),
      V("reverse(strs)", """["c","a","b"]"""),
      V("reverse(s)", "olleh"),
      V("join(',', strs)", "b,a,c"),
      V("contains(strs, 'a')", "true"),
      V("contains(s, 'ell')", "true"),
      V("starts_with(s, 'he')", "true"),
      V("ends_with(s, 'lo')", "true"),
      V("to_string(`5`)", "5"),
      V("keys(o)", """["a","b"]"""),
      V("values(o)", "[1,2]"),
      V("merge(o, `{\"c\":3}`)", """{"a":1,"b":2,"c":3}""")))
  }
  test("functions: expression-argument family") {
    evalGroup(fnDoc, Seq(
      V("sort_by(objs, &k)[0].v", "y"),
      V("min_by(objs, &k).v", "y"),
      V("max_by(objs, &k).v", "x"),
      V("map(&k, objs)", "[2,1]"),
      V("type(s)", "string"),
      V("type(nums)", "array"),
      V("not_null(`null`, s)", "hello")))
  }

  // ---- syntax.json: malformed expressions must throw ----
  test("syntax: malformed expressions throw") {
    Seq(
      U("foo.", "trailing dot"),
      U("[?", "unterminated filter"),
      U("foo[", "unterminated bracket"),
      U("`{bad json`", "unterminated literal"),
      U("foo..bar", "double dot"),
      U("unknown_fn(@)", "unknown function")
    ).foreach(u => mustThrow(basicDoc, u))
  }

  // ---- missing fields: spec-null at the VALUE level ----
  // A field absent from the static schema compiles to a typed null with
  // the Bloblang ERROR CHANNEL set (Compiler.accessField struct case) —
  // the value matches the spec's null; the flag is the engine's error
  // discipline riding along (JmesPathProc carries it in _error).
  test("missing fields evaluate to spec null") {
    evalGroup(basicDoc, Seq(
      V("missing_field", "null"),
      V("foo.no_such", "null")))
  }
}
