package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, out: File)

/** What one measured window produced. `latencies` are the per-operation
  * samples behind `latency_p50_s`/`latency_p90_s`; `layer` holds the
  * workload's own per-layer figures (traced windows only). */
final case class WindowResult(wallS: Double, rowsPerS: Double, latencies: Seq[Double],
    attempted: Int, failed: Int, problems: Seq[String], notes: Map[String, Any],
    layer: Map[String, Double] = Map.empty)

/** Outcome of one conformance operation: `problem` is None when it passed. */
final case class Conformance(name: String, problem: Option[String])

trait Workload {
  /** Writes the run's inputs. */
  def generate(spark: SparkSession): Unit
  /** Passes run before the window; their outputs are checked. */
  def warmupPasses: Int
  def warmup(spark: SparkSession): Unit
  def window(spark: SparkSession, t: Tracer, seconds: Int): WindowResult
  def conformance(spark: SparkSession): Seq[Conformance]
}

object Workload {
  def firstLine(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("")}"
      .linesIterator.nextOption().getOrElse("").take(300)
  }
}

/** File-system helpers; every path the benchmark touches is under its
  * work directory. */
object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
    ()
  }

  /** Every file below `dir` whose name starts with `part-`, recursively. */
  def parts(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) parts(f)
      else if (f.getName.startsWith("part-")) Seq(f)
      else Nil
    }

  /** JSON lines of every part file below `dir`, parsed without Spark. */
  def jsonLines(dir: File): Iterator[com.fasterxml.jackson.databind.JsonNode] =
    parts(dir).iterator.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(Json.parse).toVector
      finally src.close()
    }

  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
    ()
  }
}
