package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, only @ _*) = args.toSeq: @unchecked
    val names = Probe.orExit(Probe.select(only),
      "usage: graft.Verify <sfDir> <outDir> [query ...]")
    val spark = Sessions.get()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output so a failed query can't pass the
        // compare with results from a previous run
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists) {
          dir.listFiles().foreach(_.delete())
          dir.delete()
        }
      }
    }
    // JsonProc.quote escapes ALL control chars: a tab or CR in a query's
    // SQL must still read back from oracle_sql.json as JSON
    import graft.ops.JsonProc.quote
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
