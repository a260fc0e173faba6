package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.blobl.Mapping

/** Value-level test vectors ported from the reference's own table-driven
  * method tests (`internal/bloblang/query/methods_test.go`) — the edge
  * cases its engine is pinned to: negative/out-of-bounds slicing, merge
  * collision rules, order-preserving unique, fold/filter/map_each
  * lambdas. Each test names the Go case(s) it ports. Expressed as
  * mappings over literals (the reference builds the same method chains
  * programmatically).
  */
class ReferenceVectorsSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()

  /** mapping + line-JSON input → exact output JSON (key order as given). */
  def check(mapping: String, in: String, want: String): Unit = {
    import spark.implicits._
    val df = spark.read.json(spark.createDataset(scala.Seq(in)))
    val out = Mapping.compile(mapping).applyPlain(df)
    val got = out.select(to_json(struct(out.columns.map(col).toIndexedSeq: _*)))
      .head().getString(0)
    assert(got == want, s"\nmapping: $mapping\nin: $in\ngot: $got")
  }

  /** Key-order-insensitive variant (Go map serialization order is an
    * artifact): both sides canonicalized through schema inference. */
  def checkCanon(mapping: String, in: String, want: String): Unit = {
    import spark.implicits._
    def canon(j: String): String = {
      val df = spark.read.json(spark.createDataset(scala.Seq(j)))
      df.select(to_json(struct(df.columns.sorted.map(col).toIndexedSeq: _*)))
        .head().getString(0)
    }
    val df = spark.read.json(spark.createDataset(scala.Seq(in)))
    val out = Mapping.compile(mapping).applyPlain(df)
    val got = out.select(to_json(struct(out.columns.map(col).toIndexedSeq: _*)))
      .head().getString(0)
    assert(canon(got) == canon(want), s"\nmapping: $mapping\nin: $in\ngot: $got")
  }

  val nil = """{"z":0}""" // dummy input for literal-only mappings

  /** Raw-content query vector (query_method_parser_test.go style): the
    * content is NOT pre-parsed — `json()` reads it as a dynamic (variant)
    * document, which carries the reference's exact error-vs-null
    * semantics. `want` compares the result cast to string (None = SQL
    * null, matching the Go `null` outputs). */
  def checkRaw(query: String, content: String, want: Option[String]): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val df = scala.Seq(content).toDF("c").select(
      col("c").cast(BinaryType).as("content"),
      try_parse_json(col("c")).as("doc"),
      map().cast(MapType(StringType, StringType)).as("meta"),
      lit(null).cast(StringType).as("_error"),
      lit(0L).as("batch_id"), lit(0L).as("seq"))
    val got = df.select(Mapping.envelopeExpr(df, query).cast(StringType))
      .head()
    val gotS = if (got.isNullAt(0)) None else Some(got.getString(0))
    assert(gotS == want, s"\nquery: $query\ncontent: $content\ngot: $gotS")
  }

  test("bloblang() dynamic-mapping method, literal case (plugins/bloblang.go doc example)") {
    // root.body = this.body.bloblang(mapping): the mapping runs on the
    // TARGET value as `this` (pure context)
    check("""root.body = this.body.bloblang("root.foo = this.foo.uppercase()")""",
      """{"body":{"foo":"hello world"}}""",
      """{"body":{"foo":"HELLO WORLD"}}""")
    // with its own map definition inside the dynamic mapping
    check("""root.r = this.v.bloblang("map up { root = this.uppercase() }\nroot = this.apply(\"up\")")""",
      """{"v":"hey"}""", """{"r":"HEY"}""")
  }

  test("bloblang() dynamic dispatch: if/match over literal mapping alternatives") {
    // the realistic non-literal shape: the mapping is CHOSEN per row
    // among literal alternatives — every alternative compiles once, the
    // dispatch expression selects in-plan
    val dispatch =
      """root.r = this.v.bloblang(
        |  if this.kind == "up" { "root = this.uppercase()" }
        |  else { "root = this.lowercase()" })""".stripMargin
    check(dispatch, """{"v":"Hey","kind":"up"}""", """{"r":"HEY"}""")
    check(dispatch, """{"v":"Hey","kind":"dn"}""", """{"r":"hey"}""")
    // match form with a fall-through default
    val m =
      """root.r = this.v.bloblang(match this.kind {
        |  "rev" => "root = this.reverse()",
        |  _ => "root = this" })""".stripMargin
    check(m, """{"v":"abc","kind":"rev"}""", """{"r":"cba"}""")
    check(m, """{"v":"abc","kind":"other"}""", """{"r":"abc"}""")
    // a per-row-computed mapping that the data probe can't bound (the
    // field is absent, so only null mappings exist) is a compile error
    val e = intercept[graft.blobl.CompileError] {
      check("""root.r = this.v.bloblang(this.m)""", nil, "")
    }
    assert(e.getMessage.contains("string literal"))
  }

  test("bloblang() per-row-computed mapping resolves via the bounded data probe") {
    // the mapping string comes FROM THE DATA (plugins/bloblang.go fully
    // dynamic case): the distinct mapping strings are probed (bounded)
    // and compiled once each, dispatched in-plan
    import spark.implicits._
    val df = spark.read.json(spark.createDataset(scala.Seq(
      """{"v":"Hey","m":"root = this.uppercase()"}""",
      """{"v":"Hey","m":"root = this.lowercase()"}""",
      """{"v":"abc","m":"root = this.reverse()"}""")))
    val out = Mapping.compile("""root.r = this.v.bloblang(this.m)""")
      .applyPlain(df)
    assert(out.select("r").collect().map(_.getString(0)).sorted.toList
      == List("HEY", "cba", "hey"))
  }

  test("bloblang() dynamic dispatch miss rides the error channel, not silent null") {
    // the probe rewrite's drift guard: a selector value with no matching
    // alternative (data mutated between the plan-time probe and
    // execution) must flag _error — a throwing fallback mapping is the
    // mechanism, exercised here through an explicit dispatch miss
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = spark.read.json(spark.createDataset(scala.Seq(
      """{"v":"Hey","kind":"up","seq":0}""",
      """{"v":"Hey","kind":"DRIFTED","seq":1}""")))
    val df = base.select(
      lit(null).cast(BinaryType).as("content"),
      struct(col("kind"), col("v")).as("doc"),
      map().cast(MapType(StringType, StringType)).as("meta"),
      lit(null).cast(StringType).as("_error"),
      lit(0L).as("batch_id"),
      col("seq").as("seq"))
    val out = Mapping.compile(
      """root.r = this.v.bloblang(
        |  if this.kind == "up" { "root = this.uppercase()" }
        |  else { "root = throw(\"unprobed dynamic mapping value\")" })"""
        .stripMargin).applyEnvelope(df)
    val rows = out.select(col("doc.r").cast(StringType), col("_error"))
      .orderBy(col("seq")).collect()
    assert(rows(0).getString(0) == "HEY" && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) &&
      rows(1).getString(1).contains("unprobed dynamic mapping value"))
  }

  test("json() on a RAW envelope parses the content (functions.go json semantics)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // lines-codec shape: doc is the raw STRING, content the raw bytes
    val df = scala.Seq("""{"foo":"yep","n":3}""", """not json at all""")
      .toDF("c").select(
        col("c").cast(BinaryType).as("content"),
        col("c").as("doc"),
        map().cast(MapType(StringType, StringType)).as("meta"),
        lit(null).cast(StringType).as("_error"),
        lit(0L).as("batch_id"), monotonically_increasing_id().as("seq"))
    val got = df.select(
      Mapping.envelopeExpr(df, """json("foo").catch("bad")""").cast(StringType).as("foo"),
      Mapping.envelopeExpr(df, """json("n").catch(-1).number()""").as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == scala.Seq(("yep", 3.0), ("bad", -1.0)))
  }

  test("uncaught expression errors flag _error; caught ones don't (ProcessMessage failure path)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val df = scala.Seq("""{"n":"42"}""", """{"n":"not-a-number"}""")
      .toDF("c").select(
        col("c").cast(BinaryType).as("content"),
        try_parse_json(col("c")).as("doc"),
        map().cast(MapType(StringType, StringType)).as("meta"),
        lit(null).cast(StringType).as("_error"),
        lit(0L).as("batch_id"), monotonically_increasing_id().as("seq"))
    // uncaught: number() failure flags the message, value nulls, row flows
    val out = Mapping.compile("root.v = this.n.number()").applyEnvelope(df)
    val rows = out.select(col("doc.v"), col("_error")).collect()
    assert(rows.length == 2)
    assert(rows(0).getDouble(0) == 42.0 && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).getString(1) != null)
    // caught: the catch consumes the error — _error stays clear
    val caught = Mapping.compile("root.v = this.n.number().catch(-1)")
      .applyEnvelope(df)
      .select(col("doc.v"), col("_error")).collect()
    assert(caught(1).getDouble(0) == -1.0 && caught(1).isNullAt(1))
  }

  test("match/if propagate the target's and condition's error channel") {
    // an errored target routed through a match whose branches can't
    // error must still fire catch / flag _error (regression: branchErr
    // returned None and the target error was dropped)
    check("""root.r = match this.z.number() { 1 => "one", _ => "other" }.catch("ERR")""",
      """{"z":"not-a-number"}""", """{"r":"ERR"}""")
    check("""root.r = match this.z.number() { 1 => "one", _ => "other" }.catch("ERR")""",
      """{"z":"1"}""", """{"r":"one"}""")
    // an erroring CASE PATTERN expression flags too (this rebinds to
    // the match target, so pattern paths go through it)
    check("""root.r = match this { this.z.number() > 0 => "pos", _ => "other" }.catch("ERR")""",
      """{"z":"nope"}""", """{"r":"ERR"}""")
    // if: an erroring condition expression is an expression error
    check("""root.r = (if this.z.number() > 0 { "pos" } else { "neg" }).catch("ERR")""",
      """{"z":"oops"}""", """{"r":"ERR"}""")
    check("""root.r = (if this.z.number() > 0 { "pos" } else { "neg" }).catch("ERR")""",
      """{"z":"3"}""", """{"r":"pos"}""")
    // legitimate null target does NOT error (null vs error distinction)
    check("""root.r = match this.maybe { null => "was-null", _ => "other" }.catch("ERR")""",
      """{"maybe":null,"z":"x"}""", """{"r":"was-null"}""")
  }

  test("parse-method failures are catch-able errors (timestamp/duration/yaml)") {
    check("""root.r = this.z.string().parse_timestamp("2006-01-02").catch("bad")""",
      nil, """{"r":"bad"}""")
    check("""root.r = "250ms".parse_duration().catch(-1)""",
      nil, """{"r":250000000}""")
    check("""root.r = "not a duration".parse_duration().catch(-1)""",
      nil, """{"r":-1}""")
  }

  test("this.catch(deleted()) deletes non-structured messages (methods.go catch example)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val df = scala.Seq("""{"doc":{"foo":"bar"}}""", """not structured data""")
      .toDF("c").select(
        col("c").cast(BinaryType).as("content"),
        try_parse_json(col("c")).as("doc"),
        map().cast(MapType(StringType, StringType)).as("meta"),
        lit(null).cast(StringType).as("_error"),
        lit(0L).as("batch_id"), monotonically_increasing_id().as("seq"))
    val out = Mapping.compile("root = this.catch(deleted())").applyEnvelope(df)
    val kept = out.select(col("doc").cast(StringType)).collect().map(_.getString(0))
    assert(kept.length == 1 && kept(0).contains("\"foo\":\"bar\""),
      s"got: ${kept.mkString("; ")}")
  }

  test("variant comparisons coerce to the typed side; == null is a null check") {
    // dynamic-JSON predicates must compile: the variant operand casts to
    // the literal's type (mismatch degrades to null, error-as-null)
    checkRaw("""json("k") == "up"""", """{"k":"up"}""", Some("true"))
    checkRaw("""json("k") == "up"""", """{"k":"dn"}""", Some("false"))
    checkRaw("""json("v") > 5""", """{"v":7}""", Some("true"))
    checkRaw("""json("v") > 5""", """{"v":3}""", Some("false"))
    // type mismatch: "x" as a number is null, so the comparison is null
    checkRaw("""json("v") > 5""", """{"v":"x"}""", None)
    // == null / != null are NULL CHECKS (dynamic semantics), not SQL's
    // null-propagating equality; a missing key and an explicit json null
    // both read as null
    checkRaw("""json("missing") == null""", """{"z":0}""", Some("true"))
    checkRaw("""json("n") == null""", """{"n":null}""", Some("true"))
    checkRaw("""json("z") == null""", """{"z":0}""", Some("false"))
    checkRaw("""json("z") != null""", """{"z":0}""", Some("true"))
    // variant-to-variant equality via the canonical json form: type-
    // strict (false ≠ "false"), deep for scalars/arrays
    checkRaw("""json("a") == json("b")""", """{"a":7,"b":7}""", Some("true"))
    checkRaw("""json("a") == json("b")""", """{"a":7,"b":8}""", Some("false"))
    checkRaw("""json("a") != json("b")""", """{"a":false,"b":"false"}""",
      Some("true"))
    checkRaw("""json("a") == json("b")""", """{"a":[1,2],"b":[1,2]}""",
      Some("true"))
  }

  test("json catch 1-4: catch fires on parse error, NOT on legitimate null (query_method_parser_test.go)") {
    // "json catch": unparseable content is an error -> fallback
    checkRaw("""json().catch("nope")""", "this %$#% isnt json", Some("nope"))
    // "json catch 2": content `null` IS valid JSON -> null propagates
    checkRaw("""json().catch("nope")""", "null", None)
    // "json catch 3": foo present with null value -> legitimate null
    checkRaw("""json("foo").catch("nope")""", """{"foo":null}""", None)
    // "json catch 4": value present -> value
    checkRaw("""json("foo").catch("nope")""", """{"foo":"yep"}""", Some("yep"))
  }

  test("or fires on null AND on missing (query_method_parser_test.go)") {
    // "or json null": explicit null -> backup
    checkRaw("""json("foo").or("backup")""", """{"foo":null}""", Some("backup"))
    // "or json null 2": absent field (an error in the reference) -> backup
    checkRaw("""json("foo").or("backup")""", """{"bar":"nope"}""", Some("backup"))
    // "or json null 3": fallback is itself a query
    checkRaw("""json("foo").or(json("bar"))""", """{"bar":"yep"}""", Some("yep"))
  }

  test("catch on missing field errors; pipe consumes the error (arithmetic.go coalesce)") {
    // absent field is an error -> catch fires (unlike present-null above)
    checkRaw("""json("foo").catch("nope")""", """{"bar":1}""", Some("nope"))
    // pipe = or: falls back on error or null
    checkRaw("""json("foo") | "backup"""", """{"foo":null,"bar":"from_bar"}""", Some("backup"))
    checkRaw("""json("foo") | json("bar")""", """{"foo":null,"bar":"from_bar"}""", Some("from_bar"))
  }

  test("without single / double / nested / combination (methods_test.go)") {
    checkCanon("""root.r = {"a":"first","b":"second"}.without("a")""",
      nil, """{"r":{"b":"second"}}""")
    checkCanon("""root.r = {"a":"first","b":"second","c":"third"}.without("a", "c")""",
      nil, """{"r":{"b":"second"}}""")
    checkCanon(
      """root.r = {"inner":{"a":"first","b":"second","c":"third"}}.without("inner.a", "inner.c", "thisdoesntexist")""",
      nil, """{"r":{"inner":{"b":"second"}}}""")
    checkCanon(
      """root.r = {"d":"fourth","e":"fifth","inner":{"a":"first","b":"second","c":"third"}}.without("d", "inner.a", "inner.c")""",
      nil, """{"r":{"e":"fifth","inner":{"b":"second"}}}""")
  }

  test("unique preserves first-occurrence order (methods_test.go)") {
    check("""root.r = ["a","b","c","b","d","a"].unique()""",
      nil, """{"r":["a","b","c","d"]}""")
    check("""root.r = [3.0,5,3,4,5.1,5].unique()""",
      nil, """{"r":[3.0,5.0,4.0,5.1]}""")
  }

  test("join variants (methods_test.go)") {
    check("""root.r = ["foo","bar"].join(",")""", nil, """{"r":"foo,bar"}""")
    check("""root.r = ["foo"].join(",")""", nil, """{"r":"foo"}""")
    check("""root.r = ["foo","bar"].join()""", nil, """{"r":"foobar"}""")
  }

  test("index out-of-bounds caught (methods_test.go)") {
    check("""root.r = ["foo","bar","baz"].index(1)""", nil, """{"r":"bar"}""")
    check("""root.r = ["foo","bar","baz"].index(-1)""", nil, """{"r":"baz"}""")
    check("""root.r = ["foo","bar","baz"].index(4).catch("buz")""",
      nil, """{"r":"buz"}""")
    check("""root.r = ["foo","bar","baz"].index(-4).catch("buz")""",
      nil, """{"r":"buz"}""")
  }

  test("slice negative and out-of-bounds (methods_test.go)") {
    check("""root.r = "foo bar baz".slice(0, 3)""", nil, """{"r":"foo"}""")
    check("""root.r = "foo bar baz".slice(8)""", nil, """{"r":"baz"}""")
    check("""root.r = "foo bar baz".slice(-1)""", nil, """{"r":"z"}""")
    check("""root.r = "foo bar baz".slice(-2)""", nil, """{"r":"az"}""")
    check("""root.r = "foo bar baz".slice(-100)""", nil, """{"r":"foo bar baz"}""")
    check("""root.r = "foo bar baz".slice(0, -1)""", nil, """{"r":"foo bar ba"}""")
    check("""root.r = "foo bar baz".slice(0, -2)""", nil, """{"r":"foo bar b"}""")
    check("""root.r = "foo bar baz".slice(0, -100)""", nil, """{"r":""}""")
    check("""root.r = "foo bar baz".slice(0, 30)""", nil, """{"r":"foo bar baz"}""")
    check("""root.r = ["foo","bar","baz","buz"].slice(1, 3)""",
      nil, """{"r":["bar","baz"]}""")
    check("""root.r = ["foo","bar","baz"].slice(0, 30)""",
      nil, """{"r":["foo","bar","baz"]}""")
  }

  test("enumerated (methods_test.go)") {
    check("""root.r = ["foo","bar","baz"].enumerated()""",
      nil,
      """{"r":[{"index":0,"value":"foo"},{"index":1,"value":"bar"},{"index":2,"value":"baz"}]}""")
  }

  test("merge collision rules (methods_test.go)") {
    checkCanon("""root.r = {"foo":"val1"}.merge({"bar":"val2"})""",
      nil, """{"r":{"foo":"val1","bar":"val2"}}""")
    // merge 2: colliding scalars gather into an array (source order)
    checkCanon("root.r = this.foo.merge(this.bar)",
      """{"bar":{"second":"val2","third":6},"foo":{"first":"val1","third":3}}""",
      """{"r":{"first":"val1","second":"val2","third":[3,6]}}""")
    // merge 4: colliding arrays concatenate
    checkCanon("root.r = this.foo.merge(this.bar)",
      """{"bar":{"second":"val2","third":[6]},"foo":{"first":"val1","third":[3]}}""",
      """{"r":{"first":"val1","second":"val2","third":[3,6]}}""")
    // merge 5: double merge gathers repeatedly
    checkCanon("root.r = this.foo.merge(this.bar).merge(this.foo)",
      """{"bar":{"second":"val2","third":[6]},"foo":{"first":"val1","third":[3]}}""",
      """{"r":{"first":["val1","val1"],"second":"val2","third":[3,6,3]}}""")
    // merge arrays 2: array-on-array appends
    check("""root.r = ["foo"].merge(["bar","baz"])""",
      nil, """{"r":["foo","bar","baz"]}""")
  }

  test("contains: array membership, object values, substring (methods_test.go)") {
    check("""root.r = ["nope","foo","bar"].contains("foo")""", nil, """{"r":true}""")
    check("""root.r = ["nope","bar"].contains("foo")""", nil, """{"r":false}""")
    check("""root.r = this.m.contains("foo")""",
      """{"m":{"1":"nope","2":"foo","3":"bar"}}""", """{"r":true}""")
    check("""root.r = this.m.contains("foo")""",
      """{"m":{"1":"nope","3":"bar"}}""", """{"r":false}""")
    check("""root.r = this.foo.contains("foo")""",
      """{"foo":"hello foo world"}""", """{"r":true}""")
    check("""root.r = this.foo.contains("foo")""",
      """{"foo":"hello bar world"}""", """{"r":false}""")
  }

  test("fold sum (methods_test.go)") {
    check("""root.r = [3,5,2].fold(0, item -> item.tally + item.value)""",
      nil, """{"r":10}""")
  }

  test("keys / values sorted (methods_test.go)") {
    check("""root.r = {"foo":1,"bar":2}.keys().sort()""",
      nil, """{"r":["bar","foo"]}""")
    check("""root.r = {"foo":1,"bar":2}.values().sort()""",
      nil, """{"r":[1,2]}""")
  }

  test("any / all over literals (methods_test.go)") {
    check("""root.r = ["foo","bar","baz"].any(v -> v == "bar")""",
      nil, """{"r":true}""")
    check("""root.r = ["foo","buz","baz"].any(v -> v == "bar")""",
      nil, """{"r":false}""")
    check("""root.r = [10,11,12].all(v -> v > 9)""", nil, """{"r":true}""")
    check("""root.r = [10,8,12].all(v -> v > 9)""", nil, """{"r":false}""")
  }

  test("replace_many (methods_test.go)") {
    check(
      """root.r = "<i>hello</i> <b>world</b>".replace_many(["<b>","BOLD","</b>","!BOLD","<i>","ITA","</i>","!ITA"])""",
      nil, """{"r":"ITAhello!ITA BOLDworld!BOLD"}""")
  }

  test("index_of hit and miss (methods_test.go)") {
    check("""root.r = "foobar".index_of("bar")""", nil, """{"r":3}""")
    check("""root.r = "foofoo".index_of("bar")""", nil, """{"r":-1}""")
  }

  test("reverse string (methods_test.go)") {
    check("""root.r = "foobar".reverse()""", nil, """{"r":"raboof"}""")
  }

  test("trim default and cutset (methods_test.go)") {
    check("""root.r = " the foo bar   ".trim()""", nil, """{"r":"the foo bar"}""")
    check("""root.r = "!!?!the foo bar!".trim("!?")""", nil, """{"r":"the foo bar"}""")
  }

  test("unquote (methods_test.go)") {
    check("""root.r = "\"foo\\nbar\\nbaz\"".unquote()""",
      nil, """{"r":"foo\nbar\nbaz"}""")
  }

  test("unquote: full strconv.Unquote surface (octal, quote forms, ErrSyntax)") {
    // exprs/GoUnquote.scala — octal \NNN (exactly three digits, <256)
    check("""root.r = "\"A\\101B\"".unquote()""", nil, """{"r":"AAB"}""")
    // \x hex byte + \u rune
    check("""root.r = "\"\\x41\\u0042\"".unquote()""", nil, """{"r":"AB"}""")
    // single-quote char literal: exactly one rune
    check("""root.r = "'\\n'".unquote()""", nil, """{"r":"\n"}""")
    // backquoted raw string: no escape expansion
    check("""root.r = "`a\\nb`".unquote()""", nil, """{"r":"a\\nb"}""")
    // malformed input is a catchable method error (strconv.ErrSyntax)
    check("""root.r = "no quotes".unquote().catch("syntax")""",
      nil, """{"r":"syntax"}""")
    check("""root.r = "'ab'".unquote().catch("syntax")""",
      nil, """{"r":"syntax"}""")
  }

  test("map_each on arrays and objects (methods_test.go)") {
    check("""root.r = ["foo","bar"].map_each(v -> v.uppercase())""",
      nil, """{"r":["FOO","BAR"]}""")
    checkCanon(
      """root.r = {"foo":"hello world","bar":"this is ash"}.map_each(item -> item.value.uppercase())""",
      nil, """{"r":{"foo":"HELLO WORLD","bar":"THIS IS ASH"}}""")
  }

  /** Numeric-tolerant compare (Go marshals float64(4) as `4`). */
  def checkNum(mapping: String, in: String, want: String): Unit = {
    import spark.implicits._
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val om = new ObjectMapper()
    def sameTree(a: JsonNode, b: JsonNode): Boolean =
      if (a.isNumber && b.isNumber)
        a.decimalValue().compareTo(b.decimalValue()) == 0
      else if (a.isObject && b.isObject) {
        import scala.jdk.CollectionConverters._
        val ka = a.fieldNames().asScala.toSet
        ka == b.fieldNames().asScala.toSet && ka.forall(k => sameTree(a.get(k), b.get(k)))
      } else if (a.isArray && b.isArray)
        a.size == b.size && (0 until a.size).forall(i => sameTree(a.get(i), b.get(i)))
      else a == b
    val df = spark.read.json(spark.createDataset(scala.Seq(in)))
    val out = Mapping.compile(mapping).applyPlain(df)
    val got = out.select(to_json(struct(out.columns.map(col).toIndexedSeq: _*)))
      .head().getString(0)
    assert(sameTree(om.readTree(got), om.readTree(want)),
      s"\nmapping: $mapping\nin: $in\ngot: $got\nwant: $want")
  }

  test("boolean precedence chains (arithmetic_test.go comparisons 1-3)") {
    check("""root.r = true && false || true && false""", nil, """{"r":false}""")
    check("""root.r = false || true && true || false""", nil, """{"r":true}""")
    check("""root.r = true || false && true""", nil, """{"r":true}""")
    check("""root.r = !true || false""", nil, """{"r":false}""")
    check("""root.r = false || !false""", nil, """{"r":true}""")
  }

  test("string concat and int mod (arithmetic_test.go)") {
    check("""root.r = "foo" + "bar" + "baz"""", nil, """{"r":"foobarbaz"}""")
    check("""root.r = 5 % 2""", nil, """{"r":1}""")
  }

  test("numeric comparisons across int/float (arithmetic_test.go)") {
    check("""root.r = 15.0 > 0""", nil, """{"r":true}""")
    check("""root.r = 0 > 15.0""", nil, """{"r":false}""")
    check("""root.r = 15 >= 15""", nil, """{"r":true}""")
    check("""root.r = 15 <= 15.0""", nil, """{"r":true}""")
    check("""root.r = 15 < 15.0""", nil, """{"r":false}""")
  }

  test("mixed int/float arithmetic yields float (arithmetic_test.go)") {
    checkNum("""root.r = 2 + 3 * 2.0 + 1 * 3""", nil, """{"r":11}""")
    checkNum("""root.r = 6 - 6 / 2.0 + 1""", nil, """{"r":4}""")
  }

  test("pipe coalesce on null fields (arithmetic_test.go coalesce json)") {
    check("""root.r = this.foo | this.bar""",
      """{"foo":null,"bar":"from_bar"}""", """{"r":"from_bar"}""")
    check("""root.r = this.foo | "not this"""",
      """{"foo":"from_foo"}""", """{"r":"from_foo"}""")
  }

  test("bool / number fallback args (methods.go bool, number)") {
    check("""root.r = "nope".bool(true)""", nil, """{"r":true}""")
    check("""root.r = "true".bool(false)""", nil, """{"r":true}""")
    checkNum("""root.r = "nope".number(5) * 10""", nil, """{"r":50}""")
    checkNum("""root.r = "7".number(5) * 10""", nil, """{"r":70}""")
  }

  test("object equality (arithmetic_test.go compare maps)") {
    check("""root.r = {"foo":"bar"} == {"foo":"bar"}""", nil, """{"r":true}""")
    check("""root.r = {"foo":"bar"} != {"foo":"baz"}""", nil, """{"r":true}""")
  }

  test("if / else-if chains incl. Nothing on no-else miss (query/expression_test.go)") {
    // "if false": no else branch and a false condition maps Nothing —
    // the field is simply absent from the output
    check("""root.r = if 10 > 20 { "foo" }""", nil, """{}""")
    check("""root.r = if 10 > 20 { "foo" } else { "bar" }""", nil, """{"r":"bar"}""")
    check("""root.r = if 10 < 20 { "foo" }""", nil, """{"r":"foo"}""")
    check(
      """root.r = if false { "foo" } else if false { "bar" } else if true { "baz" } else { "buz" }""",
      nil, """{"r":"baz"}""")
  }

  test("match rebinds context; all-fail maps Nothing (query/expression_test.go)") {
    check(
      """root.r = match "context" {
        |  true => this
        |}""".stripMargin, nil, """{"r":"context"}""")
    check(
      """root.r = match "context" {
        |  false => "foo"
        |  false => "bar"
        |}""".stripMargin, nil, """{}""")
  }

  test("coercion round-trips, case, format (parser/query_method_parser_test.go)") {
    check("""root.r = 5.string() == "5"""", nil, """{"r":true}""")
    check("""root.r = "5".number() == 5""", nil, """{"r":true}""")
    check("""root.r = "foobar".uppercase()""", nil, """{"r":"FOOBAR"}""")
    check("""root.r = "FOOBAR".lowercase()""", nil, """{"r":"foobar"}""")
    check("""root.r = "foo %v bar".format("test")""", nil, """{"r":"foo test bar"}""")
  }

  test("get / exists on paths (parser/query_method_parser_test.go)") {
    check("""root.r = this.get("foo")""",
      """{"foo":"bar"}""", """{"r":"bar"}""")
    check("""root.r = this.get("foo.bar")""",
      """{"foo":{"bar":"baz"}}""", """{"r":"baz"}""")
    check("""root.r = this.exists("foo")""",
      """{"foo":"bar"}""", """{"r":true}""")
    check("""root.r = this.exists("foo.bar")""",
      """{"foo":{"bar":"baz"}}""", """{"r":true}""")
    check("""root.r = this.exists("foo.bar")""",
      """{"foo":{"nope":"baz"}}""", """{"r":false}""")
  }

  test("flatten one level (methods_structured.go; homogeneous form — " +
      "the doc example's mixed ['foo',[...]] array can't type in Spark)") {
    check("""root.r = [["foo"],["bar","baz"],["buz"]].flatten()""",
      nil, """{"r":["foo","bar","baz","buz"]}""")
  }

  test("sum over literal array (parser/query_method_parser_test.go)") {
    check("""root.r = [1,2,2].sum()""", nil, """{"r":5}""")
  }

  test("division is always float (arithmetic.go ArithmeticDiv)") {
    checkNum("""root.r = 5 / 2""", nil, """{"r":2.5}""")
    checkNum("""root.r = 6 / 2""", nil, """{"r":3}""")
  }

  test("map_each legacy this-context (parser/query_method_parser_test.go)") {
    check("""root.r = this.foo.map_each(this + 10)""",
      """{"foo":[1,2,2]}""", """{"r":[11,12,12]}""")
  }

  test("naked-path statements desugar to root/this (parser/mapping_parser_test.go)") {
    // "simple json map 2": `foo = foo + 2` ≡ `root.foo = this.foo + 2`
    checkCanon(
      """
        |foo = foo + 2
        |
        |bar = "test1"
        |
        |zed = deleted()
        |""".stripMargin,
      """{"foo":10,"zed":"gone"}""",
      """{"bar":"test1","foo":12}""")
    // "test variables and json": naked RHS in let + quoted variable name
    check(
      """let foo = foo
        |let "bar baz" = "test1"
        |bar.baz = var("bar baz")""".stripMargin,
      """{"foo":"bar"}""", """{"bar":{"baz":"test1"}}""")
  }

  test("bare query maps to root (parser/mapping_parser_test.go compressed arithmetic)") {
    import spark.implicits._
    val df = spark.read.json(spark.createDataset(scala.Seq("""{"foo":5,"bar":3}""")))
    val env = graft.model.Envelope.wrap(df, scala.Seq(col("foo")))
    val out = Mapping.compile("this.foo+this.bar").applyEnvelope(env)
    assert(out.select(col("doc")).head().getLong(0) == 8L)
    val out2 = Mapping.compile("this.foo-this.bar").applyEnvelope(env)
    assert(out2.select(col("doc")).head().getLong(0) == 2L)
  }

  test("quoted path segments and a field called root (parser/mapping_parser_test.go)") {
    check("""root."bar baz".test = 5 + 2""", nil, """{"bar baz":{"test":7}}""")
    check("""root.root = "not set at root"""", nil, """{"root":"not set at root"}""")
  }

  test("import and from file statements (parser/mapping_parser_test.go)") {
    val dir = java.nio.file.Files.createTempDirectory("blobl-imp")
    val goodMap = dir.resolve("foo_map.blobl")
    java.nio.file.Files.writeString(goodMap,
      """map foo {
        |  foo = "this is valid"
        |  nested = this
        |}""".stripMargin)
    val directMap = dir.resolve("direct_map.blobl")
    java.nio.file.Files.writeString(directMap, """root.nested = this""")
    val noMaps = dir.resolve("no_maps.blobl")
    java.nio.file.Files.writeString(noMaps, """root.nope = "not a map"""")
    // "test imported map"
    checkCanon(
      s"""import "$goodMap"
         |
         |root = this.apply("foo")""".stripMargin,
      """{"outter":{"inner":"hello world"}}""",
      """{"foo":"this is valid","nested":{"outter":{"inner":"hello world"}}}""")
    // "test directly imported map"
    check(s"""from "$directMap"""",
      """{"inner":"hello world"}""",
      """{"nested":{"inner":"hello world"}}""")
    // "no maps file import"
    val e1 = intercept[Exception] {
      Mapping.compile(s"""import "$noMaps"
                         |
                         |root.foo = this.bar.apply("from_import")""".stripMargin)
    }
    assert(e1.getMessage.contains("no maps to import"))
    // "colliding maps file import"
    val e2 = intercept[Exception] {
      Mapping.compile(
        s"""map "foo" { root.a = this }
           |import "$goodMap"
           |root.foo = this.bar.apply("foo")""".stripMargin)
    }
    assert(e2.getMessage.contains("collision"))
  }

  test("range with step and negative step (functions.go)") {
    check(
      """root.a = range(0, 10)
        |root.b = range(0, this.max, 2)
        |root.c = range(0, -this.max, -2)""".stripMargin,
      """{"max":10}""",
      """{"a":[0,1,2,3,4,5,6,7,8,9],"b":[0,2,4,6,8],"c":[0,-2,-4,-6,-8]}""")
  }

  test("maps with naked bodies via apply (parser/mapping_parser_test.go test maps)") {
    checkCanon(
      """map foo {
        |  foo = "static foo"
        |  bar = this
        |  applied = ["foo"]
        |}
        |root = this.apply("foo")""".stripMargin,
      """{"outter":{"inner":"hello world"}}""",
      """{"applied":["foo"],"bar":{"outter":{"inner":"hello world"}},"foo":"static foo"}""")
  }

  test("interpolation leaves unsuspicious strings alone (field/expression_test.go)") {
    import spark.implicits._
    val df = graft.model.Envelope.wrapUnordered(scala.Seq("bar").toDF("foo"))
    def render(t: String): String =
      df.select(graft.blobl.Interpolation.column(df, t).as("r"))
        .head().getString(0)
    assert(render("static string hello world") == "static string hello world")
    assert(render("${{! not a thing") == "${{! not a thing")
    assert(render("${! not a thing") == "${! not a thing")
    assert(render("hello $ world") == "hello $ world")
    assert(render("foo ${! this.foo } bar") == "foo bar bar")
  }

  test("filter on arrays and objects (methods_test.go)") {
    check("""root.r = [2,14,4,11,7].filter(v -> v > 10)""",
      nil, """{"r":[14,11]}""")
    checkCanon(
      """root.r = {"foo":"hello ! world","bar":"this is ash","baz":"im cool!"}.filter(item -> item.value.contains("!"))""",
      nil, """{"r":{"foo":"hello ! world","baz":"im cool!"}}""")
  }

  /** Hand-built RFC 9639 stream exercising wasted-bits decode — the
    * in-repo encoder never emits wasted bits, so this is the only
    * coverage of that path. A FIXED order-1 subframe with wasted=1:
    * warmup and residuals live in the 15-bit (shifted-down) domain and
    * the 1-bit shift applies to ALL samples after reconstruction
    * (libFLAC order) — regression pin for mixing shifted warmup with
    * unshifted residuals. */
  test("FLAC wasted-bits subframe decodes to the shifted PCM (RFC 9639)") {
    import graft.llmops.Flac
    val pcm = Array(10, 14, 20, 28, 38) // all even → 1 wasted bit legal
    val eff = pcm.map(_ >> 1) // [5,7,10,14,19]; order-1 residuals [2,3,4,5]
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val si = new Flac.BitWriter
    si.writeBits(16, 16); si.writeBits(16, 16) // min/max block
    si.writeBits(0, 24); si.writeBits(0, 24) // frame sizes unknown
    si.writeBits(8000, 20) // sample rate
    si.writeBits(0, 3) // channels - 1 (mono)
    si.writeBits(15, 5) // bps - 1 (16)
    si.writeBits(pcm.length.toLong, 36)
    si.writeBits(0, 64); si.writeBits(0, 64) // md5 unset
    val siBytes = si.toBytes
    out.write(0x80); out.write(0); out.write(0); out.write(siBytes.length)
    out.write(siBytes)
    val w = new Flac.BitWriter
    w.writeBits(0x3ffe, 14); w.writeBits(0, 2) // sync + reserved/strategy
    w.writeBits(0x7, 4) // block size: 16-bit at header end
    w.writeBits(0x0, 4) // sample rate from STREAMINFO
    w.writeBits(0x0, 4) // mono independent
    w.writeBits(0x4, 3); w.writeBits(0, 1) // 16-bit + reserved
    w.writeBits(0, 8) // frame number 0
    w.writeBits(pcm.length - 1, 16)
    val head = w.toBytes
    val w2 = new Flac.BitWriter
    head.foreach(b => w2.writeBits(b & 0xffL, 8))
    w2.writeBits(Flac.crc8(head, 0, head.length), 8)
    w2.writeBits(0, 1) // subframe pad bit
    w2.writeBits(9, 6) // FIXED order 1
    w2.writeBits(1, 1); w2.writeUnary(0) // wasted flag, unary(wasted-1=0)
    w2.writeBits((eff(0).toLong << 49) >>> 49, 15) // warmup at effBits=15
    w2.writeBits(0, 2) // residual method 0 (rice 4-bit)
    w2.writeBits(0, 4) // partition order 0
    w2.writeBits(0, 4) // rice parameter 0 → pure unary zigzag
    (1 until pcm.length).foreach { i =>
      val res = eff(i) - eff(i - 1)
      w2.writeUnary(((res << 1) ^ (res >> 31))) // zigzag, all positive here
    }
    val frame = w2.toBytes
    out.write(frame)
    val c16 = Flac.crc16(frame, 0, frame.length)
    out.write(c16 >> 8); out.write(c16 & 0xff)
    val got = Flac.decode(out.toByteArray)
    assert(got != null && got.toSeq == pcm.toSeq,
      s"wasted-bits decode: got ${if (got == null) "null" else got.mkString(",")}")
  }
}
