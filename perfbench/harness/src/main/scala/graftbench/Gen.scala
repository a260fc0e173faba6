package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators. Each also computes, without graft, the output
  * the benchmark expects the program to produce from those inputs. */
object Gen {

  val EventTypes: Array[String] = Array("click", "view", "purchase", "error", "signup")

  /** One event as the pipelines see it after their reshape. */
  final case class Event(id: Long, user: Long, kind: String, value: Double, k: Int) {
    def json(extra: String = ""): String =
      s"""{"event_id":$id,$extra"user_id":$user,"event_type":"$kind",""" +
        s""""value":$value,"props":"{\\"k\\": $k}"}"""
  }

  def event(r: SplittableRandom, id: Long): Event =
    Event(id, r.nextLong(1000), EventTypes(r.nextInt(EventTypes.length)),
      r.nextInt(10000) / 100.0, r.nextInt(100))

  // ---------- pipeline_batch ----------

  /** Input line count and, per output bucket, the digest of its rows. */
  final case class BatchExpect(lines: Long, perBucket: Map[String, Stats.Digest])

  /** The pipeline's filter, switch and reshape, restated independently. */
  def keeps(e: Event): Boolean = e.value >= 25.0
  def bucket(e: Event): String =
    if (e.kind == "purchase" || e.value >= 90.0) "priority" else "standard"
  def batchRow(e: Event): String =
    Seq(e.id.toString, e.user.toString, e.kind.toUpperCase,
      Stats.canonicalDouble(e.value), e.k.toString, bucket(e)).mkString("|")

  /** Writes `distinct` events plus ~1 % malformed and ~5 % duplicate lines,
    * shuffled across `files` JSON-lines files under `dir`. */
  def batchInput(seed: Long, distinct: Int, files: Int, dir: File): BatchExpect = {
    val r = new SplittableRandom(seed)
    val base = (0 until distinct).map(i => event(r, i.toLong * 7 + r.nextInt(7)))
    val dups = (0 until distinct / 20).map(_ => base(r.nextInt(distinct)).json())
    val bad = (0 until distinct / 100).map { _ =>
      val s = base(r.nextInt(distinct)).json()
      s.substring(0, 1 + r.nextInt(s.length - 2)) // truncated: never valid JSON
    }
    val lines = (base.map(_.json()) ++ dups ++ bad).toArray
    shuffle(lines, r)
    dir.mkdirs()
    val writers = (0 until files).map(i => writer(new File(dir, f"part-$i%02d.jsonl")))
    try lines.zipWithIndex.foreach { case (l, i) =>
      val w = writers(i % files); w.write(l); w.write('\n')
    } finally writers.foreach(_.close())
    val kept = base.filter(keeps)
    BatchExpect(lines.length.toLong,
      kept.groupBy(bucket).map { case (b, es) => b -> Stats.Digest.ofStrings(es.map(batchRow)) })
  }

  // ---------- stream_events ----------

  def streamRow(e: Event): String =
    Seq(e.id.toString, e.kind.toUpperCase, Stats.canonicalDouble(e.value)).mkString("|")

  /** One stream drop: `n` events stamped with their creation time. */
  def streamFile(r: SplittableRandom, firstId: Long, n: Int, createdMs: Long)
      : (String, Seq[Event]) = {
    val es = (0 until n).map(i => event(r, firstId + i))
    (es.map(_.json(s""""created_ms":$createdMs,""")).mkString("\n") + "\n", es)
  }

  // ---------- helpers ----------

  def shuffle[T](a: Array[T], r: SplittableRandom): Unit =
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }

  def writer(f: File): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
}
