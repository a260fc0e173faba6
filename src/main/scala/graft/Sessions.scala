package graft

import org.apache.spark.sql.SparkSession

/** Standard session config for the engine's entry points (Verify/Bench/tests).
  *
  * - shuffle.partitions sized to local cores (the 100 TB deployment overrides
  *   via spark-submit; AQE coalesces either way).
  * - UTC session timezone for oracle parity (and so the TIMESTAMP_NTZ that
  *   Spark 4.1 surfaces for the driver's TIMESTAMP(NANOS) `events.ts` casts
  *   exactly to an instant — see [[Tables]]).
  * - `file:` through [[graft.io.LocalFs]], for both Hadoop APIs
  *   (`spark.hadoop.fs.file.impl`, `…fs.AbstractFileSystem.file.impl`).
  *   Without `libhadoop` the stock local file system starts a child
  *   process (`chmod`, `ls -ld`, `readlink`) for each permission it sets
  *   and each status it reads in full. One atomic checkpoint write
  *   (`offsets/N`, `commits/N`, `sources/0/N`, state store files) took
  *   30–36 ms, about 23 ms of it CPU in child processes (medians of 50
  *   calls, 4-core VM); through java.nio it takes 0.7–1.9 ms and starts
  *   no process.
  */
object Sessions {
  /** Session parallelism when SPARK_GRAFT_CPUS is unset: local[32] with
    * shuffle.partitions=32 (not Spark's 200). */
  val DefaultCpus = 32

  def builder(cpus: String): SparkSession.Builder =
    graft.io.LocalFs.hadoopConf.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(s"spark.hadoop.$k", v)
    }
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // r12 (guide §4.4 class): InferFiltersFromGenerate copies the
      // generator's child into a `size(child) > 0 AND isnotnull(child)`
      // filter that pushes to the scan side — for this engine's explode
      // sites the child is an O(len) native kernel (winnowing, word
      // n-grams, shingles), so every such query re-ran its kernel over
      // the whole corpus to prune the handful of rows with empty arrays
      // (explode drops them anyway; results are identical). QProf before/
      // after on q127/q80/q78/q61: the duplicated kernel evaluation in
      // the single-task scan stages disappears. The filter's only scale
      // benefit — shrinking the exchange below by dropping empty-input
      // rows — is corpus-negligible here, and operators that want it add
      // a cheap explicit predicate instead.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Benthos semantics are permissive: failed parses/casts yield null /
      // an _error flag, never a query-killing exception (reference
      // `lib/types/interface.go:89-104` error-flag contract).
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", DefaultCpus.toString)
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
