package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.blobl.JqProc
import graft.model.Envelope

class JqSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()

  def jdf(rows: String*) = {
    import spark.implicits._
    spark.read.json(spark.createDataset(rows))
  }

  def run(query: String, row: String): String = {
    val env = Envelope.wrapUnordered(jdf(row))
    val out = JqProc(query)(env)
    out.schema(Envelope.Doc).dataType match {
      case _: org.apache.spark.sql.types.StructType |
           _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType =>
        out.select(to_json(col(Envelope.Doc))).head().getString(0)
      case _ => out.select(col(Envelope.Doc).cast("string")).head().getString(0)
    }
  }

  test("paths, pipes, arithmetic") {
    assert(run(".a.b", """{"a":{"b":5}}""") == "5")
    assert(run(".a | .b + 1", """{"a":{"b":5}}""") == "6")
    assert(run(".xs[1]", """{"xs":[10,20,30]}""") == "20")
  }

  test("object and array construction") {
    assert(run("""{id: .a, twice: (.b * 2)}""", """{"a":7,"b":3}""")
      == """{"id":7,"twice":6}""")
    assert(run("""[.a, .b]""", """{"a":1,"b":2}""") == "[1,2]")
  }

  test("builtins: map, select, add, join, sort") {
    assert(run(".xs | map(. * 10) | add", """{"xs":[1,2,3]}""") == "60")
    assert(run(".xs | map(select(. > 1)) | length", """{"xs":[1,2,3]}""") == "2")
    assert(run(""".words | sort | join("-")""", """{"words":["b","a"]}""") == "a-b")
  }

  test("reference doc example: cities mapping (lib/processor/jq.go)") {
    assert(run(
      """{Cities: .locations | map(select(.state == "WA").name) | sort | join(", ") }""",
      """{"locations":[{"name":"Seattle","state":"WA"},{"name":"New York","state":"NY"},{"name":"Bellevue","state":"WA"},{"name":"Olympia","state":"WA"}]}""")
      == """{"Cities":"Bellevue, Olympia, Seattle"}""")
  }

  test("alternative operator and strings") {
    assert(run(".missing // .a", """{"a":"fallback"}""") == "fallback")
    assert(run(".s | ascii_upcase", """{"s":"hey"}""") == "HEY")
    assert(run(""".s | ltrimstr("foo")""", """{"s":"foobar"}""") == "bar")
  }

  test("builtins: has, type, first/last, flatten, any/all, abs, test, gsub") {
    assert(run("""has("a")""", """{"a":1}""") == "true")
    assert(run("""has("zz")""", """{"a":1}""") == "false")
    assert(run(".a | type", """{"a":[1]}""") == "array")
    assert(run(".xs | first", """{"xs":[7,8,9]}""") == "7")
    assert(run(".xs | last", """{"xs":[7,8,9]}""") == "9")
    assert(run(".xs | flatten | add", """{"xs":[[1,2],[3]]}""") == "6")
    assert(run(".bs | any", """{"bs":[false,true]}""") == "true")
    assert(run(".bs | all", """{"bs":[false,true]}""") == "false")
    assert(run(".n | abs", """{"n":-4}""") == "4")
    assert(run(""".s | test("b.r")""", """{"s":"bar"}""") == "true")
    assert(run(""".s | gsub("o"; "0")""", """{"s":"foo"}""") == "f00")
  }

  test("reference TestJQ vectors: types preserved through extraction") {
    // lib/processor/jq_test.go:76-122
    assert(run(".foo.bar", """{"foo":{"bar":{"baz":1}}}""") == """{"baz":1}""")
    assert(run(".foo.bar", """{"foo":{"bar":["baz","qux"]}}""")
      == """["baz","qux"]""")
    assert(run(".foo.bar", """{"foo":{"bar":"hello world"}}""") == "hello world")
    assert(run(".foo.bar", """{"foo":{"bar":0.123}}""") == "0.123")
    assert(run(".foo.bar", """{"foo":{"bar":123}}""") == "123")
    assert(run(".foo.bar", """{"foo":{"bar":true}}""") == "true")
  }

  test("reference TestJQMutation: pipe stage path assignment") {
    // lib/processor/jq_test.go:52 — `{foo: .foo} | .foo.bar = "baz"`
    assert(run("""{foo: .foo} | .foo.bar = "baz"""",
      """{"foo":{"original":{"content":"is this"}},"bar":"remove this"}""")
      == """{"foo":{"original":{"content":"is this"},"bar":"baz"}}""")
    // overwrite an existing nested field
    assert(run(""".a.b = 9""", """{"a":{"b":1,"c":2}}""")
      == """{"a":{"b":9,"c":2}}""")
    // RHS reads the same input value
    assert(run(""".a.sum = (.a.b + .a.c)""", """{"a":{"b":1,"c":2}}""")
      == """{"a":{"b":1,"c":2,"sum":3}}""")
    // `==` still parses as comparison, not assignment
    assert(run(""".a.b == 1""", """{"a":{"b":1}}""") == "true")
  }

  test("if/elif/else/end") {
    assert(run("""if .a > 2 then "big" else "small" end""", """{"a":5}""") == "big")
    assert(run("""if .a > 2 then "big" else "small" end""", """{"a":1}""") == "small")
    assert(run("""if .a > 10 then "x" elif .a > 2 then "y" else "z" end""",
      """{"a":5}""") == "y")
    // no else = identity (jq passes `.` through)
    assert(run(""".a | if . > 10 then 0 end""", """{"a":5}""") == "5")
  }

  test("slices on arrays and strings") {
    assert(run(".xs[1:3]", """{"xs":[10,20,30,40]}""") == "[20,30]")
    assert(run(".xs[:2]", """{"xs":[10,20,30]}""") == "[10,20]")
    assert(run(".xs[1:]", """{"xs":[10,20,30]}""") == "[20,30]")
    assert(run(".xs[-2:]", """{"xs":[10,20,30]}""") == "[20,30]")
    assert(run(".s[1:3]", """{"s":"hello"}""") == "el")
  }

  test("optional '?' suppresses errors to null") {
    // `number` is double-typed, so the fallback unifies to double
    assert(run("(.a | tonumber?) // -1", """{"a":"xyz"}""") == "-1.0")
    assert(run("(.a | tonumber?) // -1", """{"a":"7"}""") == "7.0")
  }

  test("string interpolation and escapes") {
    assert(run(""""id-\(.a)-\(.b * 2)"""", """{"a":"x","b":3}""") == "id-x-6")
    assert(run(""".s | split("\t") | length""", """{"s":"a\tb\tc"}""") == "3")
  }

  test("new builtins: ceil, tojson/fromjson, del, with_entries, sort_by") {
    assert(run(".a | ceil", """{"a":1.2}""") == "2")
    assert(run(".m | tojson", """{"m":{"a":1}}""") == """{"a":1}""")
    assert(run(""".s | fromjson | .k""", """{"s":"{\"k\":42}"}""") == "42")
    assert(run("""del(.b)""", """{"a":1,"b":2}""") == """{"a":1}""")
    assert(run("""del(.a.b, .c)""", """{"a":{"b":1,"k":2},"c":3,"d":4}""")
      == """{"a":{"k":2},"d":4}""")
    assert(run(""".m | with_entries({key: .key, value: (.value * 10)})""",
      """{"m":{"a":1,"b":2}}""") == """{"a":10,"b":20}""")
    assert(run(""".xs | sort_by(.v) | map(.k) | join("")""",
      """{"xs":[{"k":"b","v":2},{"k":"a","v":1}]}""") == "ab")
    assert(run(""".xs | min_by(.v) | .k""",
      """{"xs":[{"k":"b","v":2},{"k":"a","v":1}]}""") == "a")
    assert(run(""".xs | max_by(.v) | .k""",
      """{"xs":[{"k":"b","v":2},{"k":"a","v":1}]}""") == "b")
    assert(run("""keys_unsorted | length""", """{"b":1,"a":2}""") == "2")
    assert(run(""".["a b"]""", """{"a b":9}""") == "9")
  }

  test(".[] generator explodes into one row per element") {
    import spark.implicits._
    val env = Envelope.wrapUnordered(jdf("""{"xs":[{"v":1},{"v":2},{"v":3}]}"""))
    val out = JqProc(".xs[] | .v * 10")(env)
    assert(out.count() == 3)
    assert(out.select(col(Envelope.Doc).cast("long")).as[Long].collect().sorted
      .toSeq == Seq(10L, 20L, 30L))
    // postfix form .xs[].v
    val out2 = JqProc(".xs[].v")(env)
    assert(out2.select(col(Envelope.Doc).cast("long")).as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L))
    // bare generator yields the elements themselves
    val out3 = JqProc(".xs[]")(env)
    assert(out3.count() == 3)
    // seq stays strictly increasing in element order
    val seqs = out.select(col(Envelope.Seq)).as[Long].collect().toSeq
    assert(seqs == seqs.sorted)
    // generators in later pipe stages are supported since r9 (see the
    // "root refs beside a generator" test); inside genuinely locked
    // contexts (parens) they still reject
    intercept[IllegalArgumentException] {
      JqProc("(.xs[]) | .v")(env).collect()
    }
  }

  test("wrap mode: reference part semantics (jq.go 0->drop, 1->value, " +
      ">1->array)") {
    import spark.implicits._
    def runWrap(q: String, row: String): Seq[String] = {
      val out = JqProc(q, wrap = true)(Envelope.wrapUnordered(jdf(row)))
      out.select(to_json(col(Envelope.Doc))).as[String].collect().toSeq
    }
    // multiple outputs -> ONE part holding the array
    assert(runWrap(".xs[]", """{"xs":[1,2,3]}""") == Seq("[1,2,3]"))
    assert(runWrap(".xs[] | .v * 10",
      """{"xs":[{"v":1},{"v":2}]}""") == Seq("[10,20]"))
    // top-level stream comma (rejected by the row-emitting path) is
    // exactly gojq's multi-output: one array part
    assert(runWrap(".a, .b", """{"a":1,"b":2}""") == Seq("[1,2]"))
    // a single output replaces the part unwrapped
    assert(runWrap(".a", """{"a":5}""") == Seq("5"))
    assert(runWrap(".xs[]", """{"xs":[7]}""") == Seq("7"))
    assert(runWrap(".xs[] | select(. > 2)", """{"xs":[1,2,3]}""") == Seq("3"))
    // zero outputs DROP the part
    assert(runWrap(".xs[]", """{"xs":[]}""").isEmpty)
    assert(runWrap("empty", """{"a":1}""").isEmpty)
    assert(runWrap(".xs[] | select(. > 99)", """{"xs":[1,2,3]}""").isEmpty)
    // row count never exceeds input: two input docs, one drops
    val env2 = Envelope.wrapUnordered(
      jdf("""{"xs":[1,2]}""", """{"xs":[]}"""))
    assert(JqProc(".xs[]", wrap = true)(env2).count() == 1)
    // wrap=false default unchanged: rows out
    assert(JqProc(".xs[]")(Envelope.wrapUnordered(
      jdf("""{"xs":[1,2,3]}"""))).count() == 3)
  }

  test("to_entries / from_entries round trip") {
    assert(run(".m | to_entries", """{"m":{"a":1,"b":2}}""")
      == """[{"key":"a","value":1},{"key":"b","value":2}]""")
    val rt = run(".m | to_entries | from_entries", """{"m":{"a":1,"b":2}}""")
    assert(rt == """{"a":1,"b":2}""" || rt == """{"b":2,"a":1}""", rt)
  }

  test("reduce folds a generator source (gojq query_test.go reduce forms)") {
    assert(run(".xs | reduce .[] as $x (0; . + $x)", """{"xs":[1,2,3,4]}""") == "10")
    assert(run("reduce .xs[] as $v (1; . * $v)", """{"xs":[2,3,4]}""") == "24")
    // accumulator referenced through arithmetic both sides
    assert(run(".xs | reduce .[] as $x (100; . - $x)", """{"xs":[10,20]}""") == "70")
  }

  test("foreach emits every intermediate accumulator (collected)") {
    assert(run("[foreach .xs[] as $x (0; . + $x)]", """{"xs":[1,2,3]}""") == "[1,3,6]")
    assert(run("foreach .xs[] as $v (1; . * $v)", """{"xs":[2,3,4]}""")
      == "[2,6,24]")
  }

  test("recurse/.. collects all descendants pre-order (gojq recurse)") {
    assert(run("[..]", """{"a":{"b":1}}""")
      == """[{"a":{"b":1}},{"b":1},1]""")
    assert(run("[recurse]", """{"xs":[1,2]}""")
      == """[{"xs":[1,2]},[1,2],1,2]""")
    // chained: count every value in the document tree (root, .a, .a.b, .c)
    assert(run(".. | length", """{"a":{"b":1},"c":2}""") == "4")
  }

  test("recurse(f) walks a tree via a generator f (bounded depth)") {
    // classic tree walk: every node via .children[], pre-order by level
    val tree =
      """{"v":1,"children":[{"v":2,"children":[{"v":4,"children":[]}]},
        |{"v":3,"children":[]}]}""".stripMargin.replace("\n", "")
    assert(run("recurse(.children[]) | map(.v)", tree) == "[1,2,3,4]")
    // linked-list walk via a scalar f: null output terminates the branch
    assert(run("recurse(.next) | map(.v)",
      """{"v":1,"next":{"v":2,"next":{"v":3,"next":null}}}""")
      == "[1,2,3]")
  }

  test("recurse(f; cond) iterates while cond holds (gojq numeric idiom)") {
    assert(run("[.n | recurse(. * 2; . < 40)]", """{"n":3}""")
      == "[3,6,12,24]")
    // the initial value is emitted unconditionally (gojq definition)
    assert(run("[.n | recurse(. * 2; . < 1)]", """{"n":5}""") == "[5]")
  }

  test("until / while iterate with a bounded cap (gojq numeric idioms)") {
    // until returns the FIRST value satisfying cond
    assert(run(".n | until(. > 100; . * 2)", """{"n":3}""") == "192")
    assert(run(".n | until(. > 100; . * 2)", """{"n":500}""") == "500")
    // while emits values while cond HOLDS, collected
    assert(run("[.n | while(. < 40; . * 2)]", """{"n":3}""") == "[3,6,12,24]")
    assert(run("[.n | while(. < 1; . * 2)]", """{"n":5}""") == "[]")
    // still-unsatisfied past the cap rides the error channel
    val env = Envelope.wrapUnordered(jdf("""{"n":1}"""))
    val out = JqProc(".n | until(. < 0; . + 1)")(env)
    val row = out.select(col(Envelope.Doc), col(Envelope.Error)).head()
    assert(row.isNullAt(0) && row.getString(1).contains("until"))
    // explicit cap extension for a deep but converging walk
    assert(run(".n | until(. > 100000; . * 2; 128)", """{"n":1}""")
      == "131072")
  }

  test("recurse(f) past the depth cap errors instead of truncating") {
    // a walk that never converges (no cond, +1 forever) leaves the
    // frontier live after the default 16 levels: the row takes the
    // error path (value nulls, _error flags) instead of silently
    // truncating the output
    val env = Envelope.wrapUnordered(jdf("""{"n":1}"""))
    val out = JqProc("[.n | recurse(. + 1)] | length")(env)
    val row = out.select(col(Envelope.Doc), col(Envelope.Error)).head()
    assert(row.isNullAt(0) && row.getString(1).contains("depth cap"))
    // an explicit cap extension bounds a known-deep walk
    assert(run("[.n | recurse(. * 2; . < 100000; 32)] | length",
      """{"n":1}""") == "17")
  }

  test("paths(type-filter) / leaf_paths keep typed paths only") {
    assert(run("[paths(numbers)]", """{"a":{"b":1},"s":"x"}""")
      == """[["a","b"]]""")
    assert(run("[paths(strings)]", """{"a":{"b":1},"s":"x"}""")
      == """[["s"]]""")
    assert(run("[leaf_paths]", """{"a":{"b":1},"s":"x"}""")
      == """[["a","b"],["s"]]""")
    assert(run("[paths(objects)]", """{"a":{"b":1},"s":"x"}""")
      == """[["a"]]""")
    assert(run("[paths(arrays)]", """{"c":[5,6]}""") == """[["c"]]""")
  }

  test(".. / recurse / paths walk DYNAMIC (variant) documents at runtime") {
    // raw-content pipelines parse to VARIANT — the static schema walk
    // can't see inside, so these run the runtime binary-variant walk
    import org.apache.spark.sql.types._
    def runVariant(q: String, row: String): String = {
      import spark.implicits._
      val df = scala.Seq(row).toDF("c").select(
        col("c").cast(BinaryType).as("content"),
        try_parse_json(col("c")).as("doc"),
        map().cast(MapType(StringType, StringType)).as("meta"),
        lit(null).cast(StringType).as("_error"),
        lit(0L).as("batch_id"), lit(0L).as("seq"))
      JqProc(q)(df).select(to_json(col("doc"))).head().getString(0)
    }
    assert(runVariant("[..]", """{"a":{"b":1}}""")
      == """[{"a":{"b":1}},{"b":1},1]""")
    assert(runVariant("[recurse]", """{"xs":[1,2]}""")
      == """[{"xs":[1,2]},[1,2],1,2]""")
    assert(runVariant("[paths]", """{"a":{"b":1}}""")
      == """[["a"],["a","b"]]""")
    assert(runVariant("[paths]", """{"c":[5,6]}""")
      == """[["c"],["c",0],["c",1]]""")
    assert(runVariant("[paths(numbers)]", """{"a":{"b":1},"s":"x"}""")
      == """[["a","b"]]""")
    assert(runVariant("[leaf_paths]", """{"a":{"b":1},"s":"x"}""")
      == """[["a","b"],["s"]]""")
  }

  test("paths lists every path, root excluded (gojq paths)") {
    assert(run("[paths]", """{"a":{"b":1}}""") == """[["a"],["a","b"]]""")
    assert(run("[paths]", """{"c":[5,6]}""") == """[["c"],["c",0],["c",1]]""")
  }

  test("getpath with literal path (gojq getpath)") {
    assert(run("""getpath(["a","b"])""", """{"a":{"b":"x"}}""") == "x")
    assert(run("""getpath(["xs",1])""", """{"xs":[10,20]}""") == "20")
  }

  test("as-bindings and destructuring (gojq variable patterns)") {
    assert(run(""".xs as $v | {first: $v[0], n: ($v | length)}""",
      """{"xs":[7,8,9]}""") == """{"first":7,"n":3}""")
    assert(run(""".pair as [$a, $b] | $a + $b""",
      """{"pair":[20,22]}""") == "42")
    assert(run(""".o as {x: $x, y: $y} | $x * $y""",
      """{"o":{"x":6,"y":7}}""") == "42")
    // `.` is NOT rebound by the binding (gojq semantics)
    assert(run(""".a as $v | .b + $v""", """{"a":1,"b":2}""") == "3")
  }

  test("limit slices the collected generator (gojq limit)") {
    assert(run("limit(2; .xs[])", """{"xs":[1,2,3,4]}""") == "[1,2]")
    assert(run("limit(10; .xs[])", """{"xs":[1,2]}""") == "[1,2]")
  }

  test("generators in value positions: [g] collects, pipes map (r8)") {
    // [.xs[] | f]: the canonical jq collect-a-generator form
    assert(run("[.xs[] | . * 2]", """{"xs":[1,2,3]}""") == "[2,4,6]")
    assert(run("[.xs[]]", """{"xs":[5,6]}""") == "[5,6]")
    assert(run("""[.locs[] | .name]""",
      """{"locs":[{"name":"a"},{"name":"b"}]}""") == """["a","b"]""")
    // nested in an object value — the {a: [.xs[] | f]} class
    assert(run("""{doubled: [.xs[] | . + 1], n: (.xs | length)}""",
      """{"xs":[1,2]}""") == """{"doubled":[2,3],"n":2}""")
    // multi-stage mapping after the generator
    assert(run("""[.xs[] | .v | . * 10]""",
      """{"xs":[{"v":1},{"v":2}]}""") == "[10,20]")
    // pipes map inside other collected positions too
    assert(run("first(.xs[] | . * 3)", """{"xs":[7,8]}""") == "21")
    assert(run("limit(2; .xs[] | . + 1)", """{"xs":[1,2,3]}""") == "[2,3]")
    // [limit(...)] brackets are identity on an already-collected value
    assert(run("[limit(2; .xs[])]", """{"xs":[1,2,3]}""") == "[1,2]")
    // nested generators flatten (jq stream concatenation)
    assert(run("[.xs[] | .ys[]]",
      """{"xs":[{"ys":[1,2]},{"ys":[3]}]}""") == "[1,2,3]")
    assert(run("[.xs[] | .ys[] | . * 2]",
      """{"xs":[{"ys":[1,2]},{"ys":[3]}]}""") == "[2,4,6]")
    assert(run("limit(2; .xs[] | .ys[])",
      """{"xs":[{"ys":[1,2]},{"ys":[3]}]}""") == "[1,2]")
    // recurse(.[]) == jq's default recurse == `..` (walks object values)
    assert(run("[recurse(.[])] | length",
      """{"a":{"b":[1,2]},"c":3}""") ==
      run("[..] | length", """{"a":{"b":[1,2]},"c":3}"""))
    // scalar bodies with an INNER collected parse stay scalars: first's
    // [] must not leak generator-ness to the enclosing recurse (r7
    // advisor — the walk silently stopped at the root, length 1, before)
    assert(run("recurse(first(.kids[]); . != null) | length",
      """{"n":1,"kids":[{"n":2,"kids":[{"n":3,"kids":[]}]}]}""")
      == "3")
  }

  test("select inside a collected pipe DROPS rejected elements (r9)") {
    // jq: [.xs[] | select(. > 2)] on [1,2,3] is [3], never [null,null,3]
    assert(run("[.xs[] | select(. > 2)]", """{"xs":[1,2,3]}""") == "[3]")
    assert(run("[.xs[] | select(. > 2) | . * 10]",
      """{"xs":[1,2,3,4]}""") == "[30,40]")
    // first takes the first PASSING element, not null for a failing head
    assert(run("first(.xs[] | select(. > 1))", """{"xs":[1,2,3]}""") == "2")
    assert(run("last(.xs[] | select(. < 3))", """{"xs":[1,2,3]}""") == "2")
    // limit counts passing elements only (jq: first n outputs of g)
    assert(run("limit(2; .xs[] | select(. != 2))",
      """{"xs":[1,2,3,4]}""") == "[1,3]")
    // select after a prior mapped stage
    assert(run("[.xs[] | . + 1 | select(. > 2)]",
      """{"xs":[1,2,3]}""") == "[3,4]")
    // type filters are select-shaped and must also drop (variant path
    // via fromjson — JSON inference stringifies mixed-type arrays)
    assert(run("""[.s | fromjson | .[] | numbers]""",
      """{"s":"[1,\"a\",2]"}""") == "[1,2]")
    // object-value position (the {a: [g]} class)
    assert(run("""{big: [.xs[] | select(. > 1)]}""",
      """{"xs":[1,2,3]}""") == """{"big":[2,3]}""")
  }

  test("bare generator in an object value emits one object per element (r8)") {
    def runAll(query: String, row: String): Seq[String] = {
      val env = Envelope.wrapUnordered(jdf(row))
      val out = JqProc(query)(env)
      val docCol = out.schema(Envelope.Doc).dataType match {
        case _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             org.apache.spark.sql.types.VariantType =>
          to_json(col(Envelope.Doc))
        case _ => col(Envelope.Doc).cast("string")
      }
      out.orderBy(col(Envelope.Seq))
        .select(docCol).collect().map(_.getString(0)).toSeq
    }
    assert(runAll("{a: .xs[]}", """{"xs":[1,2,3]}""") ==
      Seq("""{"a":1}""", """{"a":2}""", """{"a":3}"""))
    assert(runAll("{w: {v: .xs[]}, k: 9}", """{"xs":[5,6]}""") ==
      Seq("""{"w":{"v":5},"k":9}""", """{"w":{"v":6},"k":9}"""))
    // `.[]` on an OBJECT iterates its VALUES (jq), schema order
    assert(runAll(".o[]", """{"o":{"a":1,"b":2}}""") == Seq("1", "2"))
    assert(runAll(".o[] | . * 10", """{"o":{"a":1,"b":2}}""") ==
      Seq("10", "20"))
  }

  test("root refs beside a generator and generator cartesians (r9)") {
    def runAll(query: String, row: String): Seq[String] = {
      val env = Envelope.wrapUnordered(jdf(row))
      val out = JqProc(query)(env)
      val docCol = out.schema(Envelope.Doc).dataType match {
        case _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             org.apache.spark.sql.types.VariantType =>
          to_json(col(Envelope.Doc))
        case _ => col(Envelope.Doc).cast("string")
      }
      out.orderBy(col(Envelope.Seq))
        .select(docCol).collect().map(_.getString(0)).toSeq
    }
    // sibling ROOT reference beside the generator reads the
    // pre-explode row (jq: {a: .xs[], b: .n} on each element)
    assert(runAll("{a: .xs[], b: .n}", """{"xs":[1,2],"n":7}""") ==
      Seq("""{"a":1,"b":7}""", """{"a":2,"b":7}"""))
    // root ref in arithmetic with the element
    assert(runAll(".xs[] + .n", """{"xs":[1,2],"n":10}""") ==
      Seq("11", "12"))
    // two bare generators: jq's cartesian, first varies slowest
    assert(runAll("{a: .xs[], b: .ys[]}",
      """{"xs":[1,2],"ys":[3,4]}""") ==
      Seq("""{"a":1,"b":3}""", """{"a":1,"b":4}""",
          """{"a":2,"b":3}""", """{"a":2,"b":4}"""))
    // dependent nested iteration: .xs[].ys[]
    assert(runAll(".xs[].ys[]",
      """{"xs":[{"ys":[1,2]},{"ys":[3]}]}""") == Seq("1", "2", "3"))
    assert(runAll(".xs[].ys[] * 10",
      """{"xs":[{"ys":[1,2]},{"ys":[3]}]}""") == Seq("10", "20", "30"))
    // generators in LATER pipe stages: `.` is the prior pipe value
    assert(runAll(".xs[] | .ys[]",
      """{"xs":[{"ys":[1,2]},{"ys":[3]}]}""") == Seq("1", "2", "3"))
    assert(runAll(".xs[] | .ys[] | . + 1",
      """{"xs":[{"ys":[1,2]},{"ys":[3]}]}""") == Seq("2", "3", "4"))
    assert(runAll(".a | .xs[]",
      """{"a":{"xs":[5,6]}}""") == Seq("5", "6"))
    // stage with a generator AND a plain ref to the same pipe value
    assert(runAll(".xs[] | {w: .ys[], n: .n}",
      """{"xs":[{"ys":[1,2],"n":7},{"ys":[3],"n":8}]}""") ==
      Seq("""{"w":1,"n":7}""", """{"w":2,"n":7}""", """{"w":3,"n":8}"""))
    // generator among array items is segment concatenation (jq)
    assert(run("[.a, .xs[], .b]", """{"a":0,"xs":[1,2],"b":9}""")
      == "[0,1,2,9]")
    // iterating a statically-absent field is the empty stream
    assert(runAll(".missing[]?", """{"xs":[1]}""").isEmpty)
    assert(runAll(".missing[]", """{"xs":[1]}""").isEmpty)
  }

  test("raw: true binds `.` to the raw content string (JQConfig.Raw)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // raw content part (not valid JSON — exactly the case raw exists for)
    val env = scala.Seq("hello world").toDF("s").select(
      col("s").cast(BinaryType).as(Envelope.Content),
      lit(null).cast(StringType).as(Envelope.Doc),
      map().cast(MapType(StringType, StringType)).as(Envelope.Meta),
      lit(null).cast(StringType).as(Envelope.Error),
      lit(0L).as(Envelope.BatchId),
      lit(0L).as(Envelope.Seq))
    val out = JqProc("ascii_upcase", raw = true)(env)
    assert(out.select(col(Envelope.Doc).cast("string")).head().getString(0)
      == "HELLO WORLD")
    // and the explode path: raw string split, exploded in stage 2
    val out2 = JqProc("""split(" ") | .[]""", raw = true)(env)
    assert(out2.orderBy(col(Envelope.Seq))
      .select(col(Envelope.Doc).cast("string"))
      .collect().map(_.getString(0)).toSeq == scala.Seq("hello", "world"))
  }

  test("zero jq outputs DROP the row, as the reference does (r9)") {
    import spark.implicits._
    // lib/processor/jq.go: an empty emitted list removes the part
    val docs = scala.Seq((1L, 5L), (2L, 15L), (3L, 25L)).toDF("id", "v")
    val env = Envelope.wrapUnordered(docs)
    // bare empty: every row dropped
    assert(JqProc("empty")(env).count() == 0)
    // top-level select: rejected rows dropped, survivors unchanged
    val sel = JqProc("select(.v > 10)")(env)
    assert(sel.select(col("doc.id")).as[Long].collect().sorted.toSeq
      == scala.Seq(2L, 3L))
    // trailing select after a pipe: condition sees the piped value
    val sel2 = JqProc(".v | select(. > 10)")(env)
    assert(sel2.select(col(Envelope.Doc).cast("long")).as[Long]
      .collect().sorted.toSeq == scala.Seq(15L, 25L))
  }

  test("object values iterate in SORTED-key order on non-alphabetical schemas (r9)") {
    import spark.implicits._
    // JSON inference sorts field names, masking order bugs — build the
    // struct with a deliberately non-alphabetical field order instead
    val df = scala.Seq(1).toDF("x").select(
      struct(lit(9L).as("z"), lit(1L).as("a"), lit(5L).as("m")).as("o"))
    val env = Envelope.wrapUnordered(df)
    // collected position
    val c = JqProc("[.o[]]")(env)
    assert(c.select(to_json(col(Envelope.Doc))).head().getString(0)
      == "[1,5,9]")
    // leading-generator position
    val g = JqProc(".o[]")(env)
    assert(g.orderBy(col(Envelope.Seq))
      .select(col(Envelope.Doc).cast("string"))
      .collect().map(_.getString(0)).toSeq == scala.Seq("1", "5", "9"))
    // map values too
    val dfm = scala.Seq(1).toDF("x").select(
      map(lit("z"), lit(9L), lit("a"), lit(1L)).as("o"))
    val cm = JqProc("[.o[]]")(Envelope.wrapUnordered(dfm))
    assert(cm.select(to_json(col(Envelope.Doc))).head().getString(0)
      == "[1,9]")
  }

  test("collected .o[] iterates object values too (r8)") {
    assert(run("[.o[]]", """{"o":{"a":1,"b":2}}""") == "[1,2]")
    assert(run("[.o[] | . + 1]", """{"o":{"a":1,"b":2}}""") == "[2,3]")
    assert(run("reduce .o[] as $x (0; . + $x)",
      """{"o":{"a":3,"b":4}}""") == "7")
    assert(run("first(.o[])", """{"o":{"a":9,"b":2}}""") == "9")
    // arrays unchanged through the same marker
    assert(run("[.xs[]]", """{"xs":[5,6]}""") == "[5,6]")
  }

  test("update-assignment |= applies f to the current path value (gojq)") {
    assert(run(""".a |= . + 1""", """{"a":5,"b":9}""") == """{"a":6,"b":9}""")
    assert(run(""".a.b |= . * 2""", """{"a":{"b":21},"c":1}""")
      == """{"a":{"b":42},"c":1}""")
    assert(run(""".xs |= map(. + 1)""", """{"xs":[1,2,3]}""")
      == """{"xs":[2,3,4]}""")
    assert(run(""".s |= ascii_upcase""", """{"s":"ab"}""") == """{"s":"AB"}""")
    // chained through a pipe with a plain assignment
    assert(run(""".a |= . + 1 | .b = .a * 10""", """{"a":1,"b":0}""")
      == """{"a":2,"b":20}""")
  }

  test("arithmetic update-assignment += family; rhs sees the root (gojq)") {
    assert(run(""".a += 10""", """{"a":5}""") == """{"a":15}""")
    assert(run(""".a -= 1""", """{"a":5}""") == """{"a":4}""")
    assert(run(""".a *= 3""", """{"a":5}""") == """{"a":15}""")
    assert(run(""".a /= 2""", """{"a":5}""") == """{"a":2.5}""")
    assert(run(""".a %= 3""", """{"a":5}""") == """{"a":2}""")
    // rhs references the ROOT, not the path value
    assert(run(""".a += .b""", """{"a":5,"b":7}""") == """{"a":12,"b":7}""")
    // //= keeps an existing value, fills a null one
    assert(run(""".a //= "filled"""", """{"a":null,"b":1}""")
      == """{"a":"filled","b":1}""")
    assert(run(""".a //= "filled"""", """{"a":"kept","b":1}""")
      == """{"a":"kept","b":1}""")
    // jq's alternative also replaces FALSE (gojq: .a //= 1 on {a:false})
    assert(run(""".a //= "filled"""", """{"a":false,"b":1}""")
      == """{"a":"filled","b":1}""")
  }

  test("// alternative falls back on null OR false, unlike null-only coalesce") {
    assert(run(""".a // "alt"""", """{"a":null}""") == "alt")
    assert(run(""".a // "alt"""", """{"a":false}""") == "alt")
    assert(run(""".a // "alt"""", """{"a":true}""") == "true")
    // a STRING "false" is truthy in jq — must be kept
    assert(run(""".a // "alt"""", """{"a":"false"}""") == "false")
    assert(run(""".a // "alt"""", """{"a":7}""") == "7")
  }

  test("// alternative on a VARIANT doc distinguishes false from \"false\"") {
    // raw-content path: the doc is a VARIANT, so the false test must use
    // the json form (boolean false = `false`, string = `"false"`)
    import org.apache.spark.sql.types._
    def runVariant(row: String): String = {
      import spark.implicits._
      val df = scala.Seq(row).toDF("c").select(
        col("c").cast(BinaryType).as("content"),
        try_parse_json(col("c")).as("doc"),
        map().cast(MapType(StringType, StringType)).as("meta"),
        lit(null).cast(StringType).as("_error"),
        lit(0L).as("batch_id"), lit(0L).as("seq"))
      JqProc(""".a // "alt"""")(df)
        .select(to_json(col("doc"))).head().getString(0)
    }
    assert(runVariant("""{"a":false}""") == "\"alt\"")
    assert(runVariant("""{"a":null}""") == "\"alt\"")
    assert(runVariant("""{"a":"false"}""") == "\"false\"") // kept: truthy
    assert(runVariant("""{"a":7}""") == "7")
  }

  test("group_by orders null keys FIRST (jq value order)") {
    assert(run(""".u | group_by(.k) | map(map(.v))""",
      """{"u":[{"k":2,"v":"a"},{"k":null,"v":"n"},{"k":1,"v":"b"}]}""")
      == """[["n"],["b"],["a"]]""")
    assert(run(""".u | unique_by(.k) | map(.v)""",
      """{"u":[{"k":2,"v":"a"},{"k":null,"v":"n"},{"k":2,"v":"c"}]}""")
      == """["n","a"]""")
  }

  test("group_by / unique_by (jq manual semantics)") {
    assert(run(""".u | group_by(.k)""",
      """{"u":[{"k":2,"v":"a"},{"k":1,"v":"b"},{"k":2,"v":"c"}]}""")
      == """[[{"k":1,"v":"b"}],[{"k":2,"v":"a"},{"k":2,"v":"c"}]]""")
    assert(run(""".xs | group_by(.)""", """{"xs":[3,1,3,2,1]}""")
      == "[[1,1],[2],[3,3]]")
    assert(run(""".xs | unique_by(. % 3)""", """{"xs":[3,1,4,2,6]}""")
      == "[3,1,2]")
  }

  test("range builtin, collected (gojq range forms)") {
    assert(run("range(4)", """{"z":0}""") == "[0,1,2,3]")
    assert(run("range(2;6)", """{"z":0}""") == "[2,3,4,5]")
    assert(run("range(0;10;3)", """{"z":0}""") == "[0,3,6,9]")
    assert(run("[range(3)]", """{"z":0}""") == "[0,1,2]")
  }

  test("empty ranges yield the empty stream, not a sequence error") {
    // jq/gojq: inverted or zero-length boundaries produce no values;
    // Spark's sequence() would throw on them, so the compiler must route
    // around it
    assert(run("range(0)", """{"z":0}""") == "[]")
    assert(run("range(2;2)", """{"z":0}""") == "[]")
    assert(run("range(5;2)", """{"z":0}""") == "[]")
    assert(run("range(0;5;-1)", """{"z":0}""") == "[]")
    assert(run("[range(.n)]", """{"n":0}""") == "[]")
    // descending ranges still work
    assert(run("range(5;2;-1)", """{"z":0}""") == "[5,4,3]")
  }

  test("capture with named groups → object (gojq capture)") {
    assert(run(""".s | capture("(?<user>[a-z]+)@(?<host>[a-z.]+)")""",
      """{"s":"ab@cd.ef"}""") == """{"user":"ab","host":"cd.ef"}""")
    assert(run(""".s | capture("(?P<n>[0-9]+)").n""",
      """{"s":"id-42x"}""") == "42")
  }

  test("env / $ENV expose the process environment (gojq env)") {
    val path = sys.env.getOrElse("PATH", "")
    assert(run("env.PATH", """{"z":0}""") == path)
    assert(run("$ENV.PATH", """{"z":0}""") == path)
    // a missing variable reads null, like gojq
    assert(run("env.GRAFT_NO_SUCH_VAR_12345", """{"z":0}""") == null)
  }

  test("env.KEY projects only the accessed variable into the AST") {
    // baking the full environment in as literals would expose every
    // secret in df.explain()/the Spark UI — keyed access must translate
    // to the single value; the bare-object form is a translate-time
    // error unless -Dgraft.jq.env.bare=true opts in
    import graft.blobl.Ast._
    assert(graft.blobl.Jq.translate("env.PATH") == LitString(sys.env("PATH")))
    val err = intercept[IllegalArgumentException] {
      graft.blobl.Jq.translate("env")
    }
    assert(err.getMessage.contains("env.KEY"))
    val prop = "graft.jq.env.bare"
    System.setProperty(prop, "true")
    try assert(graft.blobl.Jq.translate("env").isInstanceOf[LitObject])
    finally System.clearProperty(prop)
  }

  test("sub replaces FIRST match only; gsub replaces all") {
    assert(run(""".s | sub("o"; "0")""", """{"s":"foo boo"}""") == "f0o boo")
    assert(run(""".s | gsub("o"; "0")""", """{"s":"foo boo"}""") == "f00 b00")
    // regex alternation + no-match passthrough
    assert(run(""".s | sub("[0-9]+"; "#")""", """{"s":"a12b34"}""") == "a#b34")
    assert(run(""".s | sub("[0-9]+"; "#")""", """{"s":"abc"}""") == "abc")
  }

  test("@sh quotes strings POSIX-style, numbers plain, arrays joined") {
    assert(run(""".s | @sh""", """{"s":"a b"}""") == "'a b'")
    assert(run(""".s | @sh""", """{"s":"it's"}""") == "'it'\\''s'")
    assert(run(""".n | @sh""", """{"n":7}""") == "7")
    assert(run(""".xs | @sh""", """{"xs":["a b","c"]}""") == "'a b' 'c'")
  }

  test("transpose pads ragged rows with null (jq transpose)") {
    assert(run(".xs | transpose", """{"xs":[[1,2],[3,4],[5,6]]}""")
      == "[[1,3,5],[2,4,6]]")
    assert(run(".xs | transpose", """{"xs":[[1,2,3],[4]]}""")
      == "[[1,4],[2,null],[3,null]]")
    assert(run(".xs | transpose", """{"xs":[]}""") == "[]")
  }

  test("scan(re) collects every match in order (gojq scan)") {
    assert(run("""[.s | scan("[0-9]+")]""", """{"s":"a12b3c456"}""")
      == """["12","3","456"]""")
    assert(run("""[.s | scan("z+")]""", """{"s":"abc"}""") == "[]")
    assert(run("""[.s | scan("AB"; "i")] | length""", """{"s":"ab AB aB"}""")
      == "3")
  }

  test("splits / index / rindex / inside / utf8bytelength (gojq string tail)") {
    assert(run("""[.s | splits("[,;] *")]""", """{"s":"a, b;c"}""")
      == """["a","b","c"]""")
    assert(run(""".s | index("bc")""", """{"s":"abcbc"}""") == "1")
    assert(run(""".s | rindex("bc")""", """{"s":"abcbc"}""") == "3")
    assert(run(""".s | index("zz")""", """{"s":"abc"}""") == null)
    assert(run(""".s | rindex("zz")""", """{"s":"abc"}""") == null)
    assert(run(""".s | inside("the string")""", """{"s":"str"}""") == "true")
    assert(run(""".s | inside("the string")""", """{"s":"xyz"}""") == "false")
    assert(run(""".s | utf8bytelength""", """{"s":"héllo"}""") == "6")
  }

  test("regex flags: test(re; \"i\"), sub/gsub flags incl. g, split 2-arg regex") {
    assert(run(""".s | test("HEY"; "i")""", """{"s":"hey"}""") == "true")
    assert(run(""".s | test("HEY")""", """{"s":"hey"}""") == "false")
    // sub with the g flag behaves as gsub; i flag case-folds
    assert(run(""".s | sub("o"; "0"; "g")""", """{"s":"foo boo"}""") == "f00 b00")
    assert(run(""".s | sub("O"; "0"; "i")""", """{"s":"foo boo"}""") == "f0o boo")
    // 2-arg split is REGEX (1-arg stays literal)
    assert(run(""".s | split("[,;]"; "")""", """{"s":"a,b;c"}""")
      == """["a","b","c"]""")
    assert(run(""".s | split(",")""", """{"s":"a,b;c"}""") == """["a","b;c"]""")
  }

  test("math tail: sqrt, pow, exp, log2, log10") {
    assert(run(".x | sqrt", """{"x":9}""") == "3.0")
    assert(run("pow(.x; 3)", """{"x":2}""") == "8.0")
    assert(run(".x | log2", """{"x":8}""") == "3.0")
    assert(run(".x | log10", """{"x":1000}""") == "3.0")
    assert(run(".x | exp | log", """{"x":2}""") == "2.0")
  }

  test("todate / fromdate round the unix-seconds ↔ ISO8601 trip") {
    assert(run(".t | todate", """{"t":1712345678}""") == "2024-04-05T19:34:38Z")
    assert(run(".d | fromdate", """{"d":"2024-04-05T19:34:38Z"}""")
      == "1712345678")
    assert(run(".t | todate | fromdate", """{"t":1712345678}""") == "1712345678")
  }

  test("error(msg) is catchable and flags uncaught rows (gojq error)") {
    assert(run("""(.x | error("boom")) // "caught"""", """{"x":1}""")
      == "caught")
  }

  /** The document and `_error` of `query` on one row. */
  def outErr(query: String, row: String): (String, String) = {
    val out = JqProc(query)(Envelope.wrapUnordered(jdf(row)))
    val r = out.select(to_json(col(Envelope.Doc)), col(Envelope.Error)).head()
    (r.getString(0), r.getString(1))
  }

  test("an array literal carries its elements' errors (gojq raises)") {
    assert(outErr(""".n | [., error("x")]""", """{"n":1}""")._2 == "x")
    // (both try branches must share a type: the catch value is an array too)
    assert(run(""".s | try [., error("x")] catch ["fell"]""", """{"s":"a"}""") == """["fell"]""")
  }

  test("an object literal carries its fields' errors (gojq raises)") {
    assert(outErr("""{a: error("x")}""", """{"n":1}""")._2 == "x")
  }

  test("del with a trailing array index removes that position") {
    // (spark.read.json field order is alphabetical: k before xs)
    assert(run("""del(.xs[1])""", """{"xs":[1,2,3],"k":9}""")
      == """{"k":9,"xs":[1,3]}""")
    assert(run("""del(.xs[-1])""", """{"xs":[1,2,3],"k":9}""")
      == """{"k":9,"xs":[1,2]}""")
    // field-path del unchanged
    assert(run("""del(.k)""", """{"xs":[1],"k":9}""") == """{"xs":[1]}""")
  }

  test("trim strips surrounding whitespace (jq 1.8)") {
    assert(run(""".s | trim""", """{"s":"  hey  "}""") == "hey")
  }

  test("try/catch expression form (gojq try)") {
    // (numbers follow Spark typing: number() is double, so 42 reads 42.0)
    assert(run("""try (.s | tonumber) catch -1""", """{"s":"42"}""") == "42.0")
    assert(run("""try (.s | tonumber) catch -1""", """{"s":"abc"}""") == "-1.0")
    // bare try suppresses the error to null
    assert(run("""try (.s | tonumber)""", """{"s":"abc"}""") == null)
    assert(run("""try error("x") catch "fell"""", """{"z":0}""") == "fell")
  }

  test("setpath with a literal path (gojq setpath)") {
    assert(run("""setpath(["a","b"]; 42)""", """{"a":{"b":1,"c":2}}""")
      == """{"a":{"b":42,"c":2}}""")
    // integer segments address array positions
    assert(run("""setpath(["xs",1]; 9)""", """{"xs":[1,2,3]}""")
      == """{"xs":[1,9,3]}""")
  }

  test("array-index path assignment: .xs[i] = / |= / += (gojq paths)") {
    assert(run(""".xs[1] = 9""", """{"xs":[1,2,3]}""") == """{"xs":[1,9,3]}""")
    assert(run(""".xs[-1] = 9""", """{"xs":[1,2,3]}""") == """{"xs":[1,2,9]}""")
    assert(run(""".xs[0] |= . * 10""", """{"xs":[1,2,3]}""")
      == """{"xs":[10,2,3]}""")
    assert(run(""".xs[2] += 5""", """{"xs":[1,2,3]}""") == """{"xs":[1,2,8]}""")
    // nested: field under an indexed element
    assert(run(""".items[0].price = 7""",
      """{"items":[{"price":1},{"price":2}]}""")
      == """{"items":[{"price":7},{"price":2}]}""")
    assert(run(""".items[1].price |= . + 100""",
      """{"items":[{"price":1},{"price":2}]}""")
      == """{"items":[{"price":1},{"price":102}]}""")
  }

  test("assignment creates containers through null/missing intermediates (gojq setpath)") {
    // absent field with a deeper path: the whole chain is created
    assert(run(""".p.q = 3""", """{"id":1}""") == """{"id":1,"p":{"q":3}}""")
    // null struct intermediate: becomes an object around the set leaf
    // (schema-known siblings stay null; to_json drops null fields)
    val env = Envelope.wrapUnordered(
      jdf("""{"a":{"c":5},"id":1}""", """{"a":null,"id":2}"""))
    val out = graft.blobl.JqProc(""".a.b = 1""")(env)
    val got = out.select(to_json(col(Envelope.Doc)).as("j"))
      .orderBy(col("j")).collect().map(_.getString(0)).toList
    // static path keeps schema field order (c before the appended b)
    assert(got == List(
      """{"a":{"b":1},"id":2}""",
      """{"a":{"c":5,"b":1},"id":1}"""))
  }

  test("index assignment past the end extends with nulls (gojq setpath)") {
    // jq: .[5] = v on a short array pads with nulls to index 5
    assert(run(""".xs[4] = 9""", """{"xs":[1,2]}""")
      == """{"xs":[1,2,null,null,9]}""")
    // exactly one past the end: plain append shape
    assert(run(""".xs[2] = 9""", """{"xs":[1,2]}""")
      == """{"xs":[1,2,9]}""")
    // in-range still updates in place
    assert(run(""".xs[2] = 9""", """{"xs":[1,2,3,4]}""")
      == """{"xs":[1,2,9,4]}""")
  }

  test("capture errors on non-matching input (gojq) instead of fabricating empty groups") {
    // `//` coalesces on the capture ERROR; matching input is untouched
    assert(run(""".s | capture("(?<n>[0-9]+)") // {n: "none"} | .n""",
      """{"s":"no digits here"}""") == "none")
    assert(run(""".s | capture("(?<n>[0-9]+)") // {n: "none"} | .n""",
      """{"s":"id-42x"}""") == "42")
  }

  test("type filters: values/strings/numbers/arrays select by type") {
    assert(run(".a | values", """{"a":5}""") == "5")
    assert(run(".a | numbers", """{"a":5}""") == "5")
    assert(run(".a | strings // \"not-str\"", """{"a":5}""") == "not-str")
    // inside map, rejected elements DROP (jq empty), not null — routed
    // through fromjson because Spark's JSON schema inference stringifies
    // mixed-type arrays; the variant path preserves per-element types
    assert(run(""".s | fromjson | map(strings) | join(",")""",
      """{"s":"[\"a\",1,\"b\",true]"}""") == "a,b")
    assert(run(""".s | fromjson | map(numbers) | length""",
      """{"s":"[\"a\",1,\"b\",2]"}""") == "2")
  }

  test("format strings: @base64, @base64d, @csv, @tsv, @json, @uri") {
    assert(run(""".s | @base64""", """{"s":"hello"}""") == "aGVsbG8=")
    assert(run(""".s | @base64d""", """{"s":"aGVsbG8="}""") == "hello")
    assert(run(""".s | fromjson | @csv""", """{"s":"[1,\"a,b\",2]"}""")
      == """1,"a,b",2""")
    assert(run(""".s | fromjson | @tsv""", """{"s":"[\"a\\tb\",1]"}""")
      == "a\\tb\t1")
    assert(run(""".n | @json""", """{"n":{"a":1}}""") == """{"a":1}""")
    assert(run(""".s | @uri""", """{"s":"a b&c"}""") == "a+b%26c" ||
      run(""".s | @uri""", """{"s":"a b&c"}""") == "a%20b%26c")
  }

  test("strptime|mktime and strftime time idioms (gojq)") {
    assert(run(""".t | strptime("%Y-%m-%dT%H:%M:%SZ") | mktime""",
      """{"t":"2015-03-05T23:51:47Z"}""") == "1425599507")
    assert(run(""".e | strftime("%Y-%m-%d")""",
      """{"e":1425599507}""") == "2015-03-05")
  }

  test("in: key membership, the flipped has") {
    assert(run(""".k | in({"a": 1, "b": 2})""", """{"k":"a"}""") == "true")
    assert(run(""".k | in({"a": 1, "b": 2})""", """{"k":"z"}""") == "false")
  }

  test("first(g)/last(g) and any(f)/all(f) argument forms") {
    assert(run("first(.xs[])", """{"xs":[7,8,9]}""") == "7")
    assert(run("last(.xs[])", """{"xs":[7,8,9]}""") == "9")
    assert(run("first(range(3; 9))", """{"xs":[]}""") == "3")
    assert(run(".xs | any(. > 2)", """{"xs":[1,2,3]}""") == "true")
    assert(run(".xs | all(. > 2)", """{"xs":[1,2,3]}""") == "false")
  }

  test("def: user functions inline — zero-arity, filter params, $ params") {
    assert(run("def double: . * 2; .n | double", """{"n":5}""") == "10")
    assert(run("def add2(a; b): a + b; add2(.x; .y)",
      """{"x":1,"y":2}""") == "3")
    // $ params bind the value AND expose the filter name (jq manual:
    // def f($x): E ≡ def f(x): x as $x | E)
    assert(run("def sq($v): $v * $v; sq(.n)", """{"n":3}""") == "9")
    assert(run("def f($v): $v + v; f(.n)", """{"n":3}""") == "6")
    // call-by-name: the param filter re-evaluates against f's input
    assert(run("def heads(f): map(f); .xs | heads(.a)",
      """{"xs":[{"a":1},{"a":2}]}""") == "[1,2]")
    // defs chain (later bodies see earlier defs) and scope in parens
    assert(run("def inc: . + 1; def inc2: inc | inc; .n | inc2",
      """{"n":5}""") == "7")
    assert(run("(def three: 3; three) + .n", """{"n":1}""") == "4")
    // defs shadow builtins, params shadow defs
    assert(run("def length: 42; .s | length", """{"s":"abc"}""") == "42")
    // non-terminating recursion bottoms out on the error channel (the
    // bounded-unfold posture), not a hang or a parse error
    assert(run("""(def f: f; .n | f)? // "rec"""", """{"n":1}""") == "rec")
  }

  test("$__loc__, delpaths, pick") {
    assert(run("$__loc__", """{"n":1}""")
      == """{"file":"<stdin>","line":1}""")
    assert(run("""delpaths([["a","b"],["c"]])""",
      """{"a":{"b":1,"k":2},"c":3,"d":4}""")
      == """{"a":{"k":2},"d":4}""")
    assert(run("pick(.a.b, .c)",
      """{"a":{"b":1,"z":9},"c":2,"d":3}""") == """{"a":{"b":1},"c":2}""")
  }

  test("match: offsets/lengths in codepoints, captures, g flag") {
    assert(run(""".s | match("l+") | .offset""", """{"s":"hello"}""") == "2")
    assert(run(""".s | match("l+") | .string""", """{"s":"hello"}""") == "ll")
    // codepoint offsets past a non-BMP char (🙂 is 2 UTF-16 units)
    assert(run(""".s | match("b") | .offset""", """{"s":"a🙂b"}""") == "2")
    assert(run(""".s | [match("a."; "g") | .string] | join(",")""",
      """{"s":"axayaz"}""") == "ax,ay,az")
    assert(run(""".s | match("(?<w>l+)o") | .captures[0].name""",
      """{"s":"hello"}""") == "w")
    assert(run(""".s | match("(?<w>l+)o") | .captures[0].offset""",
      """{"s":"hello"}""") == "2")
  }

  test("indices: string substring, array element, array subarray") {
    assert(run(""".s | indices(", ")""", """{"s":"a,b, cd, efg, hij"}""")
      == "[3,7,12]")
    assert(run(""".xs | indices(1)""", """{"xs":[0,1,2,1,3,1,4]}""")
      == "[1,3,5]")
    assert(run(""".xs | indices([1,2])""",
      """{"xs":[0,1,2,3,1,4,2,5,1,2,6,7]}""") == "[1,8]")
    assert(run(""".s | indices("zz")""", """{"s":"abc"}""") == "[]")
  }

  test("explode/implode: codepoint round-trips") {
    assert(run(".s | explode", """{"s":"AB"}""") == "[65,66]")
    assert(run(".cps | implode", """{"cps":[72,105]}""") == "Hi")
    assert(run(".s | explode | implode", """{"s":"héλ🙂"}""") == "héλ🙂")
    assert(run(".s | explode | length", """{"s":"a🙂b"}""") == "3")
  }

  test("walk: bottom-up transform with static type dispatch") {
    assert(run(
      """walk(if type == "string" then ascii_downcase else . end)""",
      """{"a":"FOO","b":{"c":"BAR","n":1},"xs":["X","Y"]}""")
      == """{"a":"foo","b":{"c":"bar","n":1},"xs":["x","y"]}""")
    assert(run(
      """walk(if type == "number" then . + 1 else . end)""",
      """{"n":1,"b":{"m":2},"xs":[3,4]}""")
      == """{"b":{"m":3},"n":2,"xs":[4,5]}""" ||
      run(
        """walk(if type == "number" then . + 1 else . end)""",
        """{"n":1,"b":{"m":2},"xs":[3,4]}""")
        == """{"n":2,"b":{"m":3},"xs":[4,5]}""")
  }

  test("repeat: bounded generator sliced by limit") {
    assert(run(".n | limit(4; repeat(. * 2))", """{"n":1}""")
      == "[1,2,4,8]")
    assert(run(".n | [limit(3; repeat(. + 10))]",
      """{"n":0}""") == "[0,10,20]")
  }

  test("limit(k; repeat(f)): the cap pushdown keeps output and error flag when f fails past k") {
    // f fails at the 4th application (. = 8); k = 3 stops before it
    val f = """if . < 8 then . * 2 else error("boom") end"""
    def outErr(q: String): (String, String) = {
      val out = JqProc(q)(Envelope.wrapUnordered(jdf("""{"n":1}""")))
      val r = out.select(to_json(col(Envelope.Doc)), col(Envelope.Error)).head()
      (r.getString(0), r.getString(1))
    }
    val pushedQ = s".n | limit(3; repeat($f))"
    // a non-literal k is not eligible: repeat runs to its default cap 64
    val plainQ = s".n | limit(3 + 0; repeat($f))"
    assert(!graft.blobl.Jq.translate(pushedQ).toString.contains("LitLong(64)"))
    assert(graft.blobl.Jq.translate(plainQ).toString.contains("LitLong(64)"))
    val pushed = outErr(pushedQ)
    val plain = outErr(plainQ)
    assert(pushed == plain)
    assert(pushed == (("[1,2,4]", null)))
  }

  test("math tail: exp2/exp10/trunc/cbrt/atan2, nan/infinite classifiers") {
    assert(run(".n | exp2", """{"n":3}""") == "8.0")
    assert(run(".n | exp10", """{"n":2}""") == "100.0")
    assert(run(".n | trunc", """{"n":3.7}""") == "3")
    assert(run(".n | trunc", """{"n":-3.7}""") == "-3")
    assert(run(".n | cbrt", """{"n":27}""") == "3.0")
    assert(run("atan2(.y; .x) * 4", """{"y":1,"x":1}""")
      .startsWith("3.14159"))
    assert(run(".n | isnan", """{"n":1.5}""") == "false")
    assert(run("nan | isnan", """{"n":1}""") == "true")
    assert(run("infinite | isinfinite", """{"n":1}""") == "true")
    assert(run(".n | isinfinite", """{"n":1.5}""") == "false")
    assert(run(".n | isnormal", """{"n":1.5}""") == "true")
    assert(run("infinite > 1e308", """{"n":1}""") == "true")
    assert(run(".n | logb", """{"n":8}""") == "3.0")
  }

  test("combinations: cartesian of inner arrays") {
    assert(run("[.xss | combinations]", """{"xss":[[1,2],[3,4]]}""")
      == "[[1,3],[1,4],[2,3],[2,4]]")
    assert(run(".xss | combinations | length",
      """{"xss":[[1,2],[3,4],[5]]}""") == "4")
    assert(run("[.xss | combinations]", """{"xss":[[1,2],[],[5]]}""")
      == "[]")
  }

  test("def: bounded self-recursion unfolds inline (r9 boundary closed)") {
    // classic factorial — terminates within the 16-level cap
    assert(run(
      "def fact: if . <= 1 then 1 else . * (. - 1 | fact) end; .n | fact",
      """{"n":5}""") == "120")
    // with a filter parameter and an accumulator-style $ param
    assert(run(
      """def rep($s; n): if n <= 0 then "" else $s + rep($s; n - 1) end;
        |rep(.w; 3)""".stripMargin,
      """{"w":"ab"}""") == "ababab")
    // fib-shaped (two self-calls): node budget keeps the plan sane; the
    // cap-throw branch is a typed null, so int-ness survives the cut
    assert(run(
      "def fib: if . < 2 then . else (. - 1 | fib) + (. - 2 | fib) end; .n | fib",
      """{"n":9}""") == "34")
    // past the cap: error channel, catchable like the recurse cap
    assert(run(
      """(def down: if . <= 0 then 0 else . - 1 | down end;
        |.n | down)? // "deep"""".stripMargin,
      """{"n":100}""") == "deep")
    // a self-reference inside a REDEFINITION resolves to the previous
    // def (jq scoping), not recursion
    assert(run("def f: 10; def f: f + 1; f", """{"n":1}""") == "11")
    // a nested def capturing an outer recursive marker, called OUTSIDE
    // the outer def's expansion: typed error, not a silent field access
    val leak = intercept[Exception] {
      run("def a: def b: a; 1; b", """{"n":1}""")
    }
    assert(leak.getMessage.contains("recursive reference"))
  }

  test("math tail r9: gamma family, frexp/modf, two-arg libm, fma") {
    assert(run(".n | expm1", """{"n":0}""") == "0.0")
    assert(run(".n | log1p", """{"n":0}""") == "0.0")
    // Γ(5) = 24; gamma ≡ lgamma (log|Γ|) per libm tradition
    assert(run(".n | tgamma | round", """{"n":5}""") == "24")
    assert(run(".n | gamma | exp | round", """{"n":5}""") == "24")
    assert(run(".n | lgamma", """{"n":1}""") == "0.0")
    assert(run(".n | frexp", """{"n":10}""") == "[0.625,4.0]")
    assert(run(".n | frexp", """{"n":0}""") == "[0.0,0.0]")
    assert(run(".n | modf", """{"n":10.5}""") == "[0.5,10.0]")
    assert(run(".n | modf", """{"n":-3.25}""") == "[-0.25,-3.0]")
    assert(run("drem(.a; .b)", """{"a":5,"b":3}""") == "-1.0")
    assert(run("ldexp(.a; .b)", """{"a":3,"b":2}""") == "12.0")
    assert(run("scalb(.a; .b)", """{"a":1,"b":10}""") == "1024.0")
    assert(run("nextafter(.a; .b)", """{"a":1,"b":2}""")
      == "1.0000000000000002")
    assert(run("copysign(.a; .b)", """{"a":3,"b":-1}""") == "-3.0")
    assert(run("fmin(.a; .b)", """{"a":3,"b":-1}""") == "-1.0")
    assert(run("fmax(.a; nan)", """{"a":3}""") == "3.0") // C fmin/fmax skip NaN
    assert(run("fdim(.a; .b)", """{"a":5,"b":3}""") == "2.0")
    assert(run("fdim(.b; .a)", """{"a":5,"b":3}""") == "0.0")
    assert(run("fma(.a; .b; .c)", """{"a":2,"b":3,"c":4}""") == "10.0")
    assert(run(".n | pow10", """{"n":3}""") == "1000.0")
  }

  test("tostream: [path,leaf] events + closing markers (gojq vectors)") {
    // jq manual example: {"a":[1,2],"b":1}
    assert(run("[.d | tostream]", """{"d":{"a":[1,2],"b":1}}""")
      == """[[["a",0],1],[["a",1],2],[["a",1]],[["b"],1],[["b"]]]""")
    // nested container closings, inner before outer (mixed-type array →
    // the true-variant route; the static JSON reader would infer
    // array<string> for [1,{"b":2}], a schema-inference artifact)
    assert(run("""[.s | fromjson | tostream]""",
      """{"s":"{\"a\":[1,{\"b\":2}]}"}""")
      == """[[["a",0],1],[["a",1,"b"],2],[["a",1,"b"]],[["a",1]],[["a"]]]""")
    // scalars and empty containers are leaves with the root (empty) path
    assert(run("[.n | tostream]", """{"n":5}""") == "[[[],5]]")
    assert(run("[.xs | tostream]", """{"xs":[]}""") == "[[[],[]]]")
    // works on raw variant docs too (fromjson route)
    assert(run("""[.s | fromjson | tostream]""",
      """{"s":"{\"k\":[true,null]}"}""")
      == """[[["k",0],true],[["k",1],null],[["k",1]],[["k"]]]""")
  }

  test("fromstream: reconstruction (roundtrip + manual vectors)") {
    // roundtrip identity: fromstream(tostream) == .
    assert(run(".d as $dot | fromstream($dot | tostream)",
      """{"d":{"a":[1,2],"b":{"c":"x"}}}""")
      == """{"a":[1,2],"b":{"c":"x"}}""")
    // scalar roundtrip (2-event with empty path emits immediately)
    assert(run(".n as $n | fromstream($n | tostream)", """{"n":7}""") == "7")
    // jq manual: fromstream(1|truncate_stream(tostream)) extracts the
    // sub-values one level down
    assert(run(
      ".d as $dot | fromstream(1 | truncate_stream($dot | tostream))",
      """{"d":{"a":[2,3]}}""") == "[2,3]")
    // a depth-1 LEAF's events truncate away entirely (path not longer
    // than the depth — jq drops them, it does not emit the leaf)
    assert(run(
      ".d as $dot | fromstream(1 | truncate_stream($dot | tostream))",
      """{"d":{"a":[2,3],"b":"x"}}""") == "[2,3]")
    // multiple reconstructions come back collected (engine convention)
    assert(run(
      ".d as $dot | fromstream(1 | truncate_stream($dot | tostream))",
      """{"d":{"a":[2,3],"b":{"c":"x"}}}""") == """[[2,3],{"c":"x"}]""")
  }

  test("truncate_stream: drops depth path segments, short events drop") {
    // jq manual example: [1|truncate_stream([[0],1],[[1,0],2],[[1,0]],[[1]])]
    // = [[[0],2],[[0]]] — the literal event stream arrives through a
    // binding ($e), since inside `1 | ...` the input is the depth; the
    // fromjson hop keeps the mixed-depth events variant-typed (the
    // static JSON reader would stringify them)
    assert(run(
      "(.s | fromjson) as $e | [1 | truncate_stream($e[])]",
      """{"s":"[[[0],1],[[1,0],2],[[1,0]],[[1]]]"}""")
      == "[[[0],2],[[0]]]")
    // depth 0 is identity on the event stream
    assert(run("[.d as $dot | 0 | truncate_stream($dot | tostream)]",
      """{"d":{"a":1}}""") == """[[["a"],1],[["a"]]]""")
  }

  test("walk(f) on a VARIANT document (true runtime walk, r10)") {
    // bottom-up numeric transform through mixed nesting the static
    // schema reader can't type (array of [number, object])
    assert(run(
      """.s | fromjson | walk(if type == "number" then . + 1 else . end)""",
      """{"s":"{\"a\":[1,{\"b\":2}],\"c\":\"x\"}"}""")
      == """{"a":[2,{"b":3}],"c":"x"}""")
    // string transform at every depth
    assert(run(
      """.s | fromjson | walk(if type == "string" then ascii_upcase else . end)""",
      """{"s":"{\"k\":[\"ab\",{\"d\":\"cd\"}]}"}""")
      == """{"k":["AB",{"D1":"CD"}]}""".replace("D1", "d"))
    // f sees REBUILT containers (bottom-up): [1,2] -> 2 first, so the
    // rebuilt xs = [2,[3]] is itself 2-element and becomes 2
    assert(run(
      """.s | fromjson | walk(if type == "array" and length == 2 then length else . end)""",
      """{"s":"{\"xs\":[[1,2],[3]],\"y\":0}"}""")
      == """{"xs":2,"y":0}""")
    // f errors surface on the error channel, catchable
    assert(run(
      """(.s | fromjson | walk(if type == "number" then error("no nums") else . end))? // "caught"""",
      """{"s":"{\"n\":1}"}""") == "caught")
  }

  test("ltrim/rtrim/trimstr (jq 1.7.1/1.8 string tail)") {
    assert(run(".s | ltrim", """{"s":"  hi  "}""") == "hi  ")
    assert(run(".s | rtrim", """{"s":"  hi  "}""") == "  hi")
    // jq trims UNICODE whitespace (strings.TrimSpace) — NBSP/ideographic
    assert(run(".s | ltrim", "{\"s\":\" 　hi\"}") == "hi")
    assert(run(".s | rtrim", "{\"s\":\"hi 　\"}") == "hi")
    assert(run(""".s | trimstr("ab")""", """{"s":"abxyzab"}""") == "xyz")
    assert(run(""".s | trimstr("ab")""", """{"s":"xyz"}""") == "xyz")
  }

  test("nth, localtime/strflocaltime, stderr, input_line_number") {
    assert(run(".xs | nth(1)", """{"xs":[10,20,30]}""") == "20")
    assert(run("nth(2; .xs[] | . * 10)", """{"xs":[1,2,3]}""") == "30")
    // UTC session: localtime ≡ gmtime, strflocaltime ≡ strftime
    assert(run(""".t | localtime | strflocaltime("%Y-%m-%d")""",
      """{"t":86400}""") == "1970-01-02")
    assert(run(".n | stderr", """{"n":7}""") == "7")
    assert(run("input_line_number", """{"n":1}""") == "0")
    // input/inputs: typed error (the reference's gojq compiles without
    // an input iterator — jq.go:114-116)
    val e = intercept[IllegalArgumentException] {
      run("[inputs]", """{"n":1}""")
    }
    assert(e.getMessage.contains("input iterator"))
  }

  test("$metadata: the reference's part-metadata variable") {
    import org.apache.spark.sql.types.StringType
    val env0 = Envelope.wrapUnordered(jdf("""{"n":7}"""))
    val env = env0.withColumn(Envelope.Meta,
      map(lit("topic"), lit("alpha"), lit("src"), lit("k1")))
    val out = JqProc("""{n: .n, t: $metadata.topic, s: $metadata.src}""")(env)
    assert(out.select(to_json(col(Envelope.Doc))).head().getString(0)
      == """{"n":7,"t":"alpha","s":"k1"}""")
    // whole-object form
    val out2 = JqProc("""$metadata | length""")(env)
    assert(out2.select(col(Envelope.Doc).cast(StringType)).head().getString(0)
      == "2")
  }

  test("toarray, @base32/@base32d, halt_error") {
    assert(run(".n | toarray", """{"n":5}""") == "[5]")
    assert(run(".xs | toarray", """{"xs":[1,2]}""") == "[1,2]")
    assert(run(".s | @base32", """{"s":"hi"}""") == "NBUQ====")
    assert(run(".s | @base32 | @base32d", """{"s":"hello-32"}""")
      == "hello-32")
    // halt_error rides the error channel: catchable like error(msg)
    assert(run("""(.s | halt_error)? // "caught"""", """{"s":"boom"}""")
      == "caught")
  }
}
