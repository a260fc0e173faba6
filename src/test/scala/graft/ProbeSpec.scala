package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {
  test("scale rows merge into an artifact, keeping untouched rows byte for byte") {
    // rows as an older probe wrote them (a 32-core header, a field order
    // and a trailing-zero wall the current writer would not reproduce)
    val a1 = """{"op":"a","mult":1,"rows_in":10,"wall_s":1.500,"rows_out":3}"""
    val a4 = """{"op":"a","mult":4,"rows_in":40,"wall_s":9.900,"rows_out":12}"""
    val b1 = """{"op":"b","mult":1,"rows_in":10,"wall_s":2.000,"rows_out":5,"cross_pairs":0}"""
    val b4 = """{"op":"b","mult":4,"rows_in":40,"wall_s":7.250,"rows_out":20,"cross_pairs":0}"""
    val f = Files.createTempFile("scale", ".json")
    try {
      Files.write(f, ("""{"sf":"sf0.1","mults":[1,4],"results":[""" +
        s"\n  $a1,\n  $b1,\n  $a4,\n  $b4\n]}\n").getBytes(UTF_8))
      Probe.writeJson(f.toString, Seq(4, 16), Seq(
        Probe.Row("a", 4, 40L, 4.25, 12L),
        Probe.Row("a", 16, 160L, 17.5, 48L)))
      val lines = new String(Files.readAllBytes(f), UTF_8).split("\n").toSeq
      assert(lines.head == """{"sf":"sf0.1","mults":[1,4,16],"results":[""")
      assert(lines.last == "]}")
      assert(lines.slice(1, lines.size - 1) == Seq(
        s"  $a1,",
        s"  $b1,",
        """  {"op":"a","mult":4,"rows_in":40,"wall_s":4.250,"rows_out":12},""",
        s"  $b4,",
        """  {"op":"a","mult":16,"rows_in":160,"wall_s":17.500,"rows_out":48}"""))
      // the merged file still parses as one JSON document
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
      assert(root.get("results").size == 5)
    } finally Files.deleteIfExists(f)
  }

  test("stream rows merge into their --out artifact the same way") {
    // STREAMSCALE rows as `stream` wrote them before counters, one per line
    def row(op: String, mult: Int, wall: String, state: Int) =
      s"""{"op":"$op","mult":$mult,"rows_in":${mult * 100000},"wall_s":$wall,""" +
        s""""rows_out":${mult * 7},"batches":${mult * 4 + 1},"max_state_rows":$state,""" +
        """"dropped_by_watermark":0}"""
    val s1 = row("session_agg", 1, "7.878", 15092)
    val j1 = row("interval_join", 1, "8.427", 10106)
    val s4 = row("session_agg", 4, "9.181", 15170)
    val j4 = row("interval_join", 4, "9.900", 10200)
    val f = Files.createTempFile("streamscale", ".json")
    try {
      Files.write(f, ("""{"sf":"sf0.1","mults":[1,4],"results":[""" +
        s"\n  $s1,\n  $j1,\n  $s4,\n  $j4\n]}\n").getBytes(UTF_8))
      Probe.writeJson(f.toString, Seq(4, 64), Seq(
        Probe.Row("session_agg", 4, 400000L, 9.5, 28L,
          stream = Some(Probe.StreamStats(17L, 15171L, 0L))),
        Probe.Row("session_agg", 64, 6400000L, 90.25, 448L,
          stream = Some(Probe.StreamStats(257L, 15200L, 0L)))))
      val lines = new String(Files.readAllBytes(f), UTF_8).split("\n").toSeq
      assert(lines.head == """{"sf":"sf0.1","mults":[1,4,64],"results":[""")
      assert(lines.last == "]}")
      assert(lines.slice(1, lines.size - 1) == Seq(
        s"  $s1,",
        s"  $j1,",
        """  {"op":"session_agg","mult":4,"rows_in":400000,"wall_s":9.500,"rows_out":28,""" +
          """"batches":17,"max_state_rows":15171,"dropped_by_watermark":0},""",
        s"  $j4,",
        """  {"op":"session_agg","mult":64,"rows_in":6400000,"wall_s":90.250,"rows_out":448,""" +
          """"batches":257,"max_state_rows":15200,"dropped_by_watermark":0}"""))
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
      assert(root.get("results").size == 5)
    } finally Files.deleteIfExists(f)
  }

  test("a stream row with counters reads back through StreamScaleSpec's reader") {
    val counts = graft.obs.JobProfile.Counts(tasks = 12, retried = 0, runMs = 900L,
      cpuMs = 700L, gcMs = 20L, shuffleReadBytes = 3000L, shuffleWriteBytes = 4000L,
      records = 50L, spillBytes = 0L, spillDiskBytes = 0L)
    val row = Probe.Row("ttl_dedupe", 4, 400000L, 12.5, 9000L,
      counters = Some(Probe.Counters(counts, 1.25)),
      stream = Some(Probe.StreamStats(17L, 9000L, 3L)))
    // the counters come before the stream fields
    assert(row.json == """{"op":"ttl_dedupe","mult":4,"rows_in":400000,"wall_s":12.500,""" +
      """"rows_out":9000,"shuffle_bytes":7000,"spill_bytes":0,"shuffle_read":3000,""" +
      """"shuffle_write":4000,"retried_tasks":0,"shuffle_records":50,"spill_disk":0,""" +
      """"task_time_ms":900,"cpu_time_ms":700,"gc_time_ms":20,"load":1.3,""" +
      """"batches":17,"max_state_rows":9000,"dropped_by_watermark":3}""")
    val f = Files.createTempFile("streamscale", ".json")
    try {
      Files.delete(f)
      Probe.writeJson(f.toString, Seq(4), Seq(row))
      assert(StreamScaleSpec.readPoints(f.toFile) ==
        Seq(StreamScaleSpec.P("ttl_dedupe", 4, 400000L, 12.5, 9000L, 17L, 9000L, 3L)))
    } finally Files.deleteIfExists(f)
  }

  test("usage errors come back as values, without exiting") {
    def err(args: String*): String = Probe.parse(args).left.getOrElse(fail(s"parsed: $args"))
    assert(err() == "no subcommand")
    assert(err("profile", "q1_agg") == "unknown subcommand 'profile'")
    assert(err("scale", "--out") == "--out requires a value")
    assert(err("stream", "1", "--out") == "--out requires a value")
    assert(err("scale", "--ops") == "--ops requires a value")
    assert(err("scale", "4", "x16") == "multiplier 'x16' is not a positive integer")
    assert(err("stream", "--ops", "a", "1") == "multiplier '--ops' is not a positive integer")
    assert(err("query") == "query needs a query name")
    assert(err("query", "q1_agg", "0") == "reps must be positive, got 0")
    assert(err("query", "q1_agg", "no_such_query") == "unknown query: no_such_query")
    assert(err("plan", "q1_agg", "nope1", "nope2") == "unknown query: nope1, nope2")
  }

  test("each subcommand parses its arguments and defaults") {
    assert(Probe.parse(Seq("query", "q2_join_brand", "q1_agg", "3")) ==
      Right(Probe.Query(Seq("q2_join_brand", "q1_agg"), 3)))
    assert(Probe.parse(Seq("query", "q1_agg")) == Right(Probe.Query(Seq("q1_agg"), 2)))
    assert(Probe.parse(Seq("plan", "q1_agg")) == Right(Probe.Plan(Seq("q1_agg"))))
    assert(Probe.parse(Seq("scale")) ==
      Right(Probe.Scale("SCALE_r10.json", Set.empty, attr = false, Seq(1, 4, 16))))
    assert(Probe.parse(Seq("scale", "--ops", "bm25, semdedup", "--attr", "--out", "/o.json", "64")) ==
      Right(Probe.Scale("/o.json", Set("bm25", "semdedup"), attr = true, Seq(64))))
    assert(Probe.parse(Seq("stream", "1", "4")) ==
      Right(Probe.Stream("STREAMSCALE_r10.json", Seq(1, 4))))
  }

  test("the query selector: all queries sorted, or the names given, in order") {
    val all = SparkEntry.queries.keySet
    assert(Probe.select(Nil) == Right(all.toSeq.sorted))
    assert(Probe.select(Seq("q2_join_brand", "q1_agg", "q2_join_brand")) ==
      Right(Seq("q2_join_brand", "q1_agg")))
    assert(Probe.select(Seq("q1_agg", "q1_agg_typo")) == Left("unknown query: q1_agg_typo"))
  }
}
