package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Envelope
import graft.ops._
import graft.ops.{BatchOps => B, FlowOps => F, ErrorOps => E}

/** Unit tests for processors without a DuckDB-oracle query
  * (the oracle-gated ones are covered by Verify + OpsQueries). */
class OpsSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()

  def env(rows: String*) = {
    import spark.implicits._
    Envelope.wrap(spark.read.json(spark.createDataset(rows)), scala.Seq(col("id")))
  }

  test("try/catch keep errored rows flowing, catch clears flag") {
    val df = E.FlagError("this.v < 0", "negative")(env(
      """{"id":1,"v":5}""", """{"id":2,"v":-3}"""))
    // same-schema children: doc surgery only
    val out = Pipeline(scala.Seq(
      E.TryProc(scala.Seq(BloblangProc("root = this\nroot.v = this.v * 10"))),
      E.CatchProc(scala.Seq(BloblangProc("root = this\nroot.v = 0")))))(df)
    val got = Envelope.unwrap(out).orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List((1L, 50L), (2L, 0L)))
    assert(out.filter(col(Envelope.Error).isNotNull).count() == 0)
  }

  test("split by byte_size batches on cumulative content bytes") {
    import spark.implicits._
    // contents of 4,4,4,4 bytes; byte_size=8 → batches of 2
    val df = Envelope.wrap(
      scala.Seq((1L, "aaaa"), (2L, "bbbb"), (3L, "cccc"), (4L, "dddd"))
        .toDF("id", "s"), scala.Seq(col("id")))
      .withColumn(Envelope.Content, col("doc.s").cast("binary"))
    val out = B.Split(size = 1L, byteSize = 8L)(df)
    val got = out.select(col("doc.id"), col(Envelope.BatchId)).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)))
  }

  test("split-on-check: batch ends WITH each matching message") {
    val df = env("""{"id":1,"flush":false}""", """{"id":2,"flush":true}""",
      """{"id":3,"flush":false}""", """{"id":4,"flush":true}""",
      """{"id":5,"flush":false}""")
    val out = B.SplitOnCheck("this.flush")(df)
    val batches = out.select(col("doc.id"), col(Envelope.BatchId))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(batches == List((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 2L)))
  }

  test("parts-scoped processor touches only the listed batch indices") {
    // one batch of 4 parts; child uppercases; scope = first + last
    val df = env("""{"id":1,"s":"a"}""", """{"id":2,"s":"b"}""",
      """{"id":3,"s":"c"}""", """{"id":4,"s":"d"}""")
    val out = B.PartsScoped(scala.Seq(0L, -1L),
      BloblangProc("root = this\nroot.s = this.s.uppercase()"))(df)
    val got = Envelope.unwrap(out).orderBy("id").collect()
      .map(r => r.getAs[String]("s")).toList
    assert(got == List("A", "b", "c", "D"))
  }

  test("while loops until condition fails") {
    val out = F.WhileProc("this.v < 100", scala.Seq(
      BloblangProc("root = this\nroot.v = this.v * 2")), maxLoops = 10)(
      env("""{"id":1,"v":3}""", """{"id":2,"v":120}"""))
    val got = Envelope.unwrap(out).orderBy("id").collect().map(_.getLong(1)).toList
    assert(got == List(192L, 120L)) // 3→6→...→192; 120 untouched
  }

  test("insert_part synthesizes a part per batch") {
    val out = B.InsertPart(-1, """root.id = 999
                                 |root.v = 0""".stripMargin)(
      env("""{"id":1,"v":1}""", """{"id":2,"v":2}"""))
    assert(out.count() == 3)
    assert(Envelope.unwrap(out).filter(col("id") === 999).count() == 1)
  }

  test("merge_json deep-merges a batch: scalars collect, arrays concat") {
    // reference semantics (lib/processor/merge_json_test.go): colliding
    // scalars gather into an array in part order; array fields concat
    val out = B.MergeJson()(env(
      """{"id":1,"v":1,"tags":["a"],"nest":{"x":10}}""",
      """{"id":2,"v":2,"tags":["b","c"],"nest":{"x":20}}""",
      """{"id":3,"v":3,"tags":[],"nest":{}}"""))
    assert(out.count() == 1)
    val doc = Envelope.unwrap(out).head()
    assert(doc.getSeq[Long](doc.fieldIndex("id")) == scala.Seq(1L, 2L, 3L))
    assert(doc.getSeq[Long](doc.fieldIndex("v")) == scala.Seq(1L, 2L, 3L))
    assert(doc.getSeq[String](doc.fieldIndex("tags")) == scala.Seq("a", "b", "c"))
    val nest = doc.getStruct(doc.fieldIndex("nest"))
    assert(nest.getSeq[Long](nest.fieldIndex("x")) == scala.Seq(10L, 20L))
  }

  test("merge_json skips null (absent) fields") {
    val out = B.MergeJson()(env(
      """{"id":1,"v":5}""", """{"id":2}"""))
    val doc = Envelope.unwrap(out).head()
    assert(doc.getSeq[Long](doc.fieldIndex("v")) == scala.Seq(5L))
    assert(doc.getSeq[Long](doc.fieldIndex("id")) == scala.Seq(1L, 2L))
  }

  // ---- merge_json EXACT path (gabs fold, lib/processor/merge_json.go) ----

  /** Dynamic envelope: one batch of raw JSON parts, variant docs, a
    * per-part metadata marker. */
  private def rawEnv(parts: String*) = {
    import spark.implicits._
    val df = parts.toSeq.zipWithIndex.toDF("c", "i")
    df.select(
      col("c").cast("binary").as(Envelope.Content),
      try_parse_json(col("c")).as(Envelope.Doc),
      map(lit("m"), concat(lit("v"), col("i"))).as(Envelope.Meta),
      lit(null).cast("string").as(Envelope.Error),
      lit(0L).as(Envelope.BatchId),
      col("i").cast("long").as(Envelope.Seq))
  }

  private def partsOf(out: org.apache.spark.sql.DataFrame): List[(String, String)] =
    out.orderBy(Envelope.Seq)
      .select(col(Envelope.Content).cast("string"),
        element_at(col(Envelope.Meta), "m"))
      .collect().map(r => (r.getString(0), r.getString(1))).toList

  test("merge_json exact: the reference's own vectors (merge_json_test.go)") {
    // object fields union (sorted-key render), val collision -> array,
    // existing array expands
    val vectors = scala.Seq(
      (("""{"baz":{"foo":1}}""", """{"baz":{"bar":5}}""")
        -> """{"baz":{"bar":5,"foo":1}}"""),
      (("""{"baz":{"foo":3}}""", """{"baz":{"foo":5}}""")
        -> """{"baz":{"foo":[3,5]}}"""),
      (("""{"baz":{"foo":[1,2,3]}}""", """{"baz":{"foo":5}}""")
        -> """{"baz":{"foo":[1,2,3,5]}}"""))
    vectors.foreach { case ((a, b), expect) =>
      val got = partsOf(B.MergeJson(exact = true)(rawEnv(a, b)))
      assert(got.map(_._1) == List(expect))
    }
  }

  test("merge_json exact: lone value stays unwrapped; retain keeps originals") {
    // TestMergeJSONRetention: {"foo":1}+{"foo":2} retain -> originals +
    // merged; lone {"foo":1} -> merged STILL {"foo":1}, not [1]
    val two = partsOf(B.MergeJson(retain = true, exact = true)(
      rawEnv("""{"foo":1}""", """{"foo":2}""")))
    assert(two.map(_._1) == List("""{"foo":1}""", """{"foo":2}""", """{"foo":[1,2]}"""))
    val lone = partsOf(B.MergeJson(retain = true, exact = true)(
      rawEnv("""{"foo":1}""")))
    assert(lone.map(_._1) == List("""{"foo":1}""", """{"foo":1}"""))
  }

  test("merge_json exact: parts selection, passthrough order, metadata") {
    // TestMergeJSONNoRetention: parts [0,-1] of three parts - the middle
    // non-JSON part passes through FIRST, merged part appended with the
    // metadata of the first listed target part (part 0)
    val out = partsOf(B.MergeJson(parts = scala.Seq(0, -1), exact = true)(
      rawEnv("""{"foo":1}""", "not related", """{"foo":2}""")))
    assert(out == List(("not related", "v1"), ("""{"foo":[1,2]}""", "v0")))
  }

  test("merge_json exact: non-object roots drop; no parse -> skipped; empty -> {}") {
    // gabs MergeFn only walks object roots (merge starts from gabs.New())
    val got = partsOf(B.MergeJson(exact = true)(
      rawEnv("5", """["a"]""", """{"k":1}""", "not json")))
    assert(got.map(_._1) == List("""{"k":1}"""))
    val empty = partsOf(B.MergeJson(exact = true)(rawEnv("7")))
    assert(empty.map(_._1) == List("{}"))
  }

  test("gabs merge rendering: Go float form, HTML escapes, null collisions") {
    import graft.exprs.GabsMerge
    assert(GabsMerge.goDouble(1.0) == "1")
    assert(GabsMerge.goDouble(2.5) == "2.5")
    assert(GabsMerge.goDouble(-0.0) == "-0")
    assert(GabsMerge.goDouble(1e-6) == "0.000001")
    assert(GabsMerge.goDouble(1.5e-7) == "1.5e-7")
    assert(GabsMerge.goDouble(1e21) == "1e+21")
    assert(GabsMerge.goDouble(1.25e-12) == "1.25e-12")
    assert(GabsMerge.mergeDocs(Iterator("""{"a":1.0,"s":"<&>"}"""))
      == "{\"a\":1,\"s\":\"" + "\\u003c\\u0026\\u003e" + "\"}")
    // gabs nil-collision rule: a null side yields to the other
    assert(GabsMerge.mergeDocs(Iterator("""{"a":null}""", """{"a":3}"""))
      == """{"a":3}""")
    assert(GabsMerge.mergeDocs(Iterator("""{"a":3}""", """{"a":null}"""))
      == """{"a":3}""")
  }

  test("resource registry round trip") {
    F.Resources.register("up", BloblangProc("root = this\nroot.v = this.v + 1"))
    val out = F.Resource("up")(env("""{"id":1,"v":1}"""))
    assert(Envelope.unwrap(out).select("v").head().getLong(0) == 2L)
  }

  test("conditional two-armed switch") {
    val out = F.conditional("this.v > 5",
      scala.Seq(BloblangProc("root.id = this.id\nroot.big = true")),
      scala.Seq(BloblangProc("root.id = this.id\nroot.big = false")))(
      env("""{"id":1,"v":10}""", """{"id":2,"v":1}"""))
    val got = Envelope.unwrap(out).orderBy("id").collect().map(_.getBoolean(1)).toList
    assert(got == List(true, false))
  }

  test("grok pattern compiler") {
    val (regex, fields) = Grok.compile("%{IP:ip} - %{WORD:verb} %{NUMBER:code}")
    assert(fields == List("ip", "verb", "code"))
    val m = java.util.regex.Pattern.compile(regex).matcher("10.0.0.1 - GET 200")
    assert(m.matches() && m.group(1) == "10.0.0.1" && m.group(3) == "200")
  }

  test("sample retains roughly the fraction") {
    val rows = (1 to 200).map(i => s"""{"id":$i,"v":$i}""")
    val n = SampleProc(0.5)(env(rows: _*)).count()
    assert(n > 60 && n < 140)
  }

  test("group_by_value re-batches by key and sets meta") {
    val out = B.GroupByValue("this.v.string()")(env(
      """{"id":1,"v":7}""", """{"id":2,"v":7}""", """{"id":3,"v":9}"""))
    assert(out.select(Envelope.BatchId).distinct().count() == 2)
    val metas = out.select(element_at(col(Envelope.Meta), "group_value")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(metas == Set("7", "9"))
  }

  // ---------- routed processors: one fused projection vs the union of arms ----------

  /** Not a Project/Filter, so an arm holding it takes the router's union
    * path; the rows pass through unchanged. */
  private case object Barrier extends Processor {
    def apply(df: org.apache.spark.sql.DataFrame) = df.repartition(2)
  }

  /** Rows with a null `kind` (checks on it evaluate to null), an errored
    * row, and a `s` that is not JSON. */
  private def mixed = E.FlagError("this.v < 0", "negative")(env(
    """{"id":1,"kind":"a","v":5,"s":"{\"k\":1}"}""",
    """{"id":2,"kind":"b","v":-3,"s":"{\"k\":2}"}""",
    """{"id":3,"v":40,"s":"nope"}""",
    """{"id":4,"kind":"a","v":95,"s":"{\"k\":4}"}""",
    """{"id":5,"kind":"c","v":12,"s":"{\"k\":5}"}""",
    """{"id":6,"kind":"b","v":60,"s":"{\"k\":6}"}""",
    """{"id":7,"kind":"a","v":-1,"s":"{\"k\":7}"}"""))

  private def unions(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isDefined

  private def rows(df: org.apache.spark.sql.DataFrame): List[String] =
    df.orderBy(Envelope.Seq).collect().map(_.toString).toList

  /** `fused` is one projection (or, for a router nesting another, holds
    * fused arms), `union` the union of arms, same rows. */
  private def sameRows(fused: org.apache.spark.sql.DataFrame,
      union: org.apache.spark.sql.DataFrame, nested: Boolean = false): List[String] = {
    assert(nested || !unions(fused), fused.queryExecution.analyzed.treeString)
    assert(unions(union))
    assert(fused.schema.simpleString == union.schema.simpleString)
    val got = rows(fused)
    assert(got == rows(union))
    got
  }

  private val switchCases = scala.Seq(
    Some("this.kind == \"a\"") -> scala.Seq[Processor](BloblangProc(
      "root = if this.v > 90 { deleted() } else { this }\nroot.tag = \"A\"")),
    Some("this.kind == \"b\"") -> scala.Seq[Processor](
      FilterProc("this.v > 10"), BloblangProc("root.id = this.id\nroot.tag = \"B\"")),
    None -> scala.Seq[Processor](BloblangProc("root = this\nroot.tag = \"other\"")))

  private def barred(cases: scala.Seq[(Option[String], scala.Seq[Processor])]) =
    cases.map { case (c, ps) => c -> (ps :+ Barrier) }

  test("switch: fused arms equal the union path (default case, null check, deleted(), filter)") {
    val got = sameRows(F.Switch(switchCases)(mixed), F.Switch(barred(switchCases))(mixed))
    // id 4 deleted in its arm, id 2 filtered in its arm; null kind → default
    assert(got.size == 5)
    val out = F.Switch(switchCases)(mixed)
    assert(out.filter(col("doc.tag") === "other").select("doc.id").collect()
      .map(_.getLong(0)).sorted.toList == List(3L, 5L))
  }

  test("switch without a default drops unmatched rows on both paths") {
    val cases = switchCases.init
    val got = sameRows(F.Switch(cases)(mixed), F.Switch(barred(cases))(mixed))
    assert(got.size == 3) // ids 1, 6, 7
  }

  test("group_by: fused groups equal the union path") {
    val groups = scala.Seq(
      "this.v >= 50" -> scala.Seq[Processor](BloblangProc("root = this\nroot.tier = \"high\"")),
      "this.kind == \"a\"" -> scala.Seq[Processor](BloblangProc("root = this\nroot.tier = \"a\"")))
    val got = sameRows(B.GroupBy(groups)(mixed),
      B.GroupBy(groups.map { case (c, ps) => c -> (ps :+ Barrier) })(mixed))
    assert(got.size == 4) // ids 1, 4, 6, 7; the others match no group and drop
  }

  test("try, catch and try + catch: fused arms equal the union path") {
    val t = scala.Seq[Processor](BloblangProc("root.id = this.id\nroot.k = this.s.parse_json().k"))
    val c = scala.Seq[Processor](BloblangProc("root.id = this.id\nroot.k = -1"))
    sameRows(E.TryProc(t)(mixed), E.TryProc(t :+ Barrier)(mixed))
    sameRows(E.CatchProc(c)(mixed), E.CatchProc(c :+ Barrier)(mixed))
    // the catch router nested in TryCatch's try arm is fused; its arm index
    // would be evaluated once per output column in the outer projection,
    // so the outer router keeps the union of its two arms
    val got = sameRows(E.TryCatch(t, c)(mixed), E.TryCatch(t :+ Barrier, c :+ Barrier)(mixed),
      nested = true)
    assert(got.size == 7)
  }

  test("try arm's parse_json failures run the catch arm (Benthos try/catch)") {
    val out = E.TryCatch(
      scala.Seq(BloblangProc("root.id = this.id\nroot.k = this.s.parse_json().k")),
      scala.Seq(BloblangProc("root.id = this.id\nroot.k = -1")))(mixed)
    assert(out.filter(col(Envelope.Error).isNotNull).count() == 0)
    val k = out.select(col("doc.id"), to_json(col("doc.k"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // 2 and 7 were flagged before, 3's `s` is not JSON: all repaired
    assert(k == Map(1L -> "1", 2L -> "-1", 3L -> "-1", 4L -> "4", 5L -> "5", 6L -> "6", 7L -> "-1"))
  }

  test("a case holding a dedupe takes the union path") {
    val out = F.Switch(scala.Seq(
      Some("this.kind == \"a\"") -> scala.Seq[Processor](DedupeProc("this.kind")),
      None -> scala.Seq[Processor](Noop)))(mixed)
    assert(unions(out))
    assert(out.count() == 5) // the three kind=a rows dedupe to one
  }

  test("dedupe → switch reads the dedupe's shuffle once: one final aggregate") {
    val out = Pipeline(scala.Seq(DedupeProc("this.id"), F.Switch(switchCases)))(mixed)
    val plan = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val finals = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Final) => a
    }
    assert(finals.size == 1, plan.treeString)
  }
}
