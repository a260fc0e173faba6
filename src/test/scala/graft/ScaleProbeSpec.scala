package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class ScaleProbeSpec extends AnyFunSuite {
  test("writeJson merges into an existing artifact, keeping untouched rows byte for byte") {
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
      ScaleProbe.writeJson(f.toString, Seq(4, 16), Seq(
        ScaleProbe.Result("a", 4, 40L, 4.25, 12L),
        ScaleProbe.Result("a", 16, 160L, 17.5, 48L)))
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

  test("StreamProbe merges into its --out artifact the same way") {
    // STREAMSCALE rows as StreamProbe writes them, one per line
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
      StreamProbe.writeJson(f.toString, Seq(4, 64), Seq(
        StreamProbe.Result("session_agg", 4, 400000L, 9.5, 28L, 17L, 15171L, 0L),
        StreamProbe.Result("session_agg", 64, 6400000L, 90.25, 448L, 257L, 15200L, 0L)))
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
}
