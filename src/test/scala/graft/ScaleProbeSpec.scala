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
}
