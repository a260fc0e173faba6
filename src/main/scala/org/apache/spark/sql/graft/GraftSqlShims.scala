package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Package-private Spark SQL surface the engine needs (lives under
  * `org.apache.spark.sql` for `private[sql]` access — public Spark API
  * knowledge only).
  *
  * [[zipWithIndexSortedDF]] appends a global 0-based dense index column
  * WITHOUT leaving the internal row representation. The engine's pre-r11
  * global sequence path went `DataFrame.rdd` → external `Row`
  * (deserializing every column per row) → `zipWithIndex` →
  * `createDataFrame` (reflective re-encode per row) — two full per-row
  * conversion passes whose only purpose was attaching one long. Here the
  * index is appended to the UnsafeRow stream directly and the result
  * re-enters SQL via `internalCreateDataFrame`.
  *
  * Correctness contract (same as the old path): the count job and the
  * final map run over the SAME materialized RDD instance, so the range
  * partitioner bounds backing a `repartitionByRange` input are sampled
  * once and every consumer sees one consistent row→index assignment.
  */
object GraftSqlShims {
  /** The r11 `RDD.zipWithIndex` shim specialised for the range-shuffle +
    * within-
    * partition-sort shape behind every `Envelope.withGlobalSeq` (r12,
    * guide §1.2/§2.4): per-partition row COUNTS are sort-invariant, so
    * the offset-computing job runs over the RAW shuffle output of
    * `shuffled` — `RDD.zipWithIndex` on the sorted frame re-ran the full
    * within-partition SORT in its count job, a whole wasted sort pass of
    * the dataset per wrapped-pipeline action. The sort now executes
    * exactly once, in the consumer pass that attaches the index.
    *
    * The one-RDD-instance guarantee is preserved: the count job
    * materializes `shuffled`'s RDD (range bounds sampled once, shuffle
    * written once) and the sort+index pass is built ON that same
    * instance, so row→partition assignment is identical in both passes
    * and within-partition counts match by sort invariance. `sortKeys`
    * must be name-resolvable expressions (every engine call site passes
    * `col(...)`-built trees, never another frame's resolved refs). */
  def zipWithIndexSortedDF(shuffled: DataFrame, sortKeys: scala.Seq[Column],
      out: String): DataFrame = {
    val spark: SparkSession = shuffled.sparkSession
    val shuffledRdd = shuffled.queryExecution.toRdd
    val n = shuffledRdd.getNumPartitions
    val counts: Array[Long] =
      if (n <= 1) Array.empty
      else spark.sparkContext.runJob(shuffledRdd,
        (it: Iterator[InternalRow]) => {
          var c = 0L; while (it.hasNext) { it.next(); c += 1 }; c
        }, 0 until (n - 1))
    val offsets = counts.scanLeft(0L)(_ + _)
    val schema = StructType(shuffled.schema.fields :+
      StructField(out, LongType, nullable = false))
    val sorted = spark.internalCreateDataFrame(shuffledRdd, shuffled.schema)
      .sortWithinPartitions(sortKeys: _*)
    val indexed = sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val joined = new JoinedRow
      val extra = new GenericInternalRow(1)
      val proj = UnsafeProjection.create(schema)
      var idx = offsets(pid)
      it.map { row =>
        extra.update(0, idx)
        idx += 1
        proj(joined(row, extra)).copy(): InternalRow
      }
    }
    spark.internalCreateDataFrame(indexed, schema)
  }

  /** The leaf files `spark.read` would scan for `path`: Spark's own glob
    * and listing (hidden files skipped, directories descended), no cache. */
  def leafFiles(spark: SparkSession, path: String): scala.Seq[org.apache.hadoop.fs.FileStatus] = {
    val roots = DataSource.checkAndGlobPathIfNecessary(scala.Seq(path),
      spark.sessionState.newHadoopConf(), checkEmptyGlobPath = true,
      checkFilesExist = true, enableGlobbing = true)
    new InMemoryFileIndex(spark, roots, Map.empty, None).allFiles().toSeq
  }
}
