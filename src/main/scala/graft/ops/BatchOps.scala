package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.blobl.{Mapping => Blobl}
import graft.model.Envelope._

/** Batch-shaping operators: a Benthos "batch" ≈ a small keyed relation
  * (SURVEY §2.1 batch table). batch_id/seq columns carry batch identity;
  * all ops here are window/group computations — no driver-side loops.
  *
  * Scale note: ops needing a GLOBAL deterministic order (split/select_parts
  * with explicit ordering) use a single-partition window only when the
  * caller supplies no partition key; the envelope wrap normally assigns
  * batch ids per source partition/micro-batch so windows shuffle by
  * batch_id — bounded state per batch, parallel across batches.
  */
object BatchOps {

  /** `split` (`lib/processor/split.go:41-49`): re-batch by count. Global
    * renumbering via the partitioned two-pass assignment (no
    * single-partition window — see Envelope.withGlobalSeq). */
  final case class Split(size: Long, byteSize: Long = 0L) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val renumbered = graft.model.Envelope.withGlobalSeq(
        df, scala.Seq(col(Seq), col(BatchId)), "_graft_rn")
      if (byteSize > 0) {
        // `byte_size` mode (`lib/processor/split.go:31,42`): batch
        // boundary every `byteSize` content bytes — the prefix-sum
        // formulation of the reference's accumulate-and-flush rule
        // (batches fill to ≥ the limit). Reuses the partitioned two-pass
        // running sum (range shuffle + broadcast offsets) — no global
        // window. Documented approximation: the chunk id is
        // floor(global_start / byteSize), i.e. the accumulator never
        // resets at a flush — after an oversize message subsequent
        // chunks under-fill and chunk ids may skip, where the reference
        // resets per flush. Exact parity would need a segmented scan;
        // the distributed form keeps ids deterministic and order-stable,
        // which is what the gates pin.
        val bytes = coalesce(octet_length(col(Content)).cast(LongType),
          octet_length(to_json(col(Doc))).cast(LongType), lit(0L))
        graft.llmops.Training.packChunks(
            renumbered, "_graft_rn", bytes, byteSize)
          .withColumn(BatchId, col("chunk_id"))
          .withColumn(Seq, col("_graft_rn"))
          .drop("_graft_rn", "n_tokens", "chunk_id", "chunk_offset")
      } else renumbered
        .withColumn(BatchId, (col("_graft_rn") / size).cast(LongType))
        .withColumn(Seq, col("_graft_rn"))
        .drop("_graft_rn")
    }
  }

  /** Re-batch on a Bloblang `check`: the batch-policy flush-on-condition
    * (`lib/message/batch/policy.go:53-59`) — a batch ends WITH each
    * matching message. Batch id = count of matches strictly before the
    * row (exclusive prefix sum of the match indicator, via the
    * partitioned two-pass running sum — no global window). */
  final case class SplitOnCheck(check: String) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val renumbered = graft.model.Envelope.withGlobalSeq(
        df, scala.Seq(col(Seq), col(BatchId)), "_graft_rn")
      val flag = when(
        coalesce(Blobl.envelopeExpr(renumbered, check), lit(false)), 1L)
        .otherwise(0L)
      graft.llmops.Training.packChunks(
          renumbered.withColumn("_graft_flag", flag),
          "_graft_rn", col("_graft_flag"), 1L)
        .withColumn(BatchId, col("chunk_id"))
        .withColumn(Seq, col("_graft_rn"))
        .drop("_graft_rn", "_graft_flag", "n_tokens", "chunk_id",
          "chunk_offset")
    }
  }

  /** `select_parts` (`lib/processor/select_parts.go`): keep parts at the
    * given within-batch indices; negatives count from the end. */
  final case class SelectParts(indices: scala.Seq[Long]) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col(BatchId)).orderBy(col(Seq))
      val idx = row_number().over(w).cast(LongType) - 1L
      val n = count(lit(1)).over(Window.partitionBy(col(BatchId)))
      val resolved = indices.map(i => if (i >= 0) lit(i) else (n + i).cast(LongType))
      df.withColumn("_idx", idx).withColumn("_keep",
          resolved.map(col("_idx") === _).reduce(_ || _))
        .filter(col("_keep")).drop("_idx", "_keep")
    }
  }

  /** Generic per-processor `parts` scoping (the `PartsFieldSpec` most
    * deprecated processors carry, e.g. `lib/processor/text.go:41,50`):
    * the child runs only on parts at the given within-batch indices
    * (negatives from the end); other parts pass through untouched.
    * Envelope `seq` keeps the batch order stable across the union. */
  final case class PartsScoped(indices: scala.Seq[Long],
      child: Processor) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      if (indices.isEmpty) child(df)
      else {
        val w = Window.partitionBy(col(BatchId)).orderBy(col(Seq))
        val idx = row_number().over(w).cast(LongType) - 1L
        val n = count(lit(1)).over(Window.partitionBy(col(BatchId)))
        val resolved = indices.map(i =>
          if (i >= 0) lit(i) else (n + i).cast(LongType))
        val tagged = df.withColumn("_idx", idx)
          .withColumn("_hit", resolved.map(col("_idx") === _).reduce(_ || _))
        val hit = tagged.filter(col("_hit")).drop("_idx", "_hit")
        val miss = tagged.filter(!col("_hit")).drop("_idx", "_hit")
        val scoped = child(hit)
        // a schema-changing child (e.g. a mapping adding a doc field) must
        // fail with a CLEAR error, not a deep AnalysisException from the
        // union — untouched parts keep the old struct shape by definition
        require(scoped.schema == miss.schema,
          s"parts-scoped processor changed the envelope schema " +
            s"(${scoped.schema.simpleString} vs ${miss.schema.simpleString}); " +
            "a schema-changing child cannot apply to a subset of a batch")
        scoped.unionByName(miss)
      }
    }
  }

  /** Reorder parts within each batch by a Bloblang expression (v4's
    * `sort_parts`; v3 reaches this via batch+Bloblang gymnastics). */
  final case class SortParts(by: String, descending: Boolean = false) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val key = Blobl.envelopeExpr(df, by)
      val ord = if (descending) key.desc else key.asc
      val w = Window.partitionBy(col(BatchId)).orderBy(ord, col(Seq))
      df.withColumn(Seq, row_number().over(w).cast(LongType) - 1L)
    }
  }

  /** `group_by_value` (`lib/processor/group_by_value.go`): re-batch by an
    * interpolated value — THE shuffle-by-key primitive. batch identity
    * becomes the group key's hash. */
  final case class GroupByValue(value: String) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val v = Blobl.envelopeExpr(df, value).cast(StringType)
      df.withColumn(BatchId, xxhash64(v))
        .withColumn(Meta, map_concat(
          map_filter(col(Meta), (k, _) => k =!= "group_value"),
          map(lit("group_value"), v)))
        .repartition(col(BatchId))
    }
  }

  /** `group_by` (`lib/processor/group_by.go:34-36`): split the stream into
    * predicate groups, run per-group processors, re-merge. The first
    * matching group wins; unmatched rows drop. Routed by [[Router]]. */
  final case class GroupBy(groups: scala.Seq[(String, scala.Seq[Processor])]) extends Processor {
    def apply(df: DataFrame): DataFrame =
      Router(df, groups.map { case (check, procs) => Blobl.envelopeExpr(df, check) -> Pipeline(procs) })
  }

  /** `archive` (`lib/processor/archive.go:241-251`): batch → single part.
    * Supported formats: json_array, lines, concatenate. Deterministic order
    * within batch via seq. */
  final case class Archive(format: String) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val docType = df.schema(Doc).dataType
      val gathered = df.groupBy(col(BatchId)).agg(
        array_sort(collect_list(struct(col(Seq).as("s"),
          col(Doc).as("d"), contentOrDoc(df).as("c")))).as("parts"),
        min(col(Seq)).as("first_seq"))
      val docs = transform(col("parts"), p => p.getField("d"))
      val contents = transform(col("parts"), p => p.getField("c").cast(StringType))
      val contentCol = format match {
        case "json_array" => to_json(docs).cast(BinaryType)
        case "lines" => array_join(contents, "\n").cast(BinaryType)
        case "concatenate" => array_join(contents, "").cast(BinaryType)
        case "binary" => // length-prefixed message serialization
          graft.exprs.Formats.benthosSerialize(
            transform(col("parts"), p => p.getField("c")))
        case "tar" | "zip" =>
          val entries = transform(col("parts"), p => struct(
            p.getField("s").cast(StringType).as("name"),
            p.getField("c").as("content")))
          if (format == "tar") graft.exprs.Formats.tarOf(entries)
          else graft.exprs.Formats.zipOf(entries)
        case o => throw new IllegalArgumentException(s"archive: unsupported format $o")
      }
      gathered.select(
        contentCol.as(Content),
        lit(null).cast(docType).as(Doc),
        map().cast(MapType(StringType, StringType)).as(Meta),
        lit(null).cast(StringType).as(Error),
        col(BatchId),
        col("first_seq").as(Seq))
    }
  }

  /** `unarchive` (`lib/processor/unarchive.go:331-345`): single part →
    * parts. Supported: lines, json_array (into a provided element schema),
    * csv-ish via lines+split. Row-generating → explode (vectorized). */
  final case class UnarchiveLines() extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val lines = split(contentOrDoc(df).cast(StringType), "\n")
      val docType = df.schema(Doc).dataType
      df.select(posexplode(lines).as(scala.Seq("_pos", "_line")),
          col(Meta), col(Error), col(BatchId), col(Seq))
        .select(
          col("_line").cast(BinaryType).as(Content),
          lit(null).cast(docType).as(Doc),
          col(Meta), col(Error), col(BatchId),
          (col(Seq) * 1000000 + col("_pos")).as(Seq))
    }
  }

  /** `unarchive: tar|zip` — one archive part → one part per entry, entry
    * name in meta ("archive_name"). */
  final case class UnarchiveArchive(format: String) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val entries = format match {
        case "tar" => graft.exprs.Formats.untar(contentOrDoc(df))
        case "zip" => graft.exprs.Formats.unzip(contentOrDoc(df))
        case o => throw new IllegalArgumentException(s"unarchive: unsupported format $o")
      }
      val docType = df.schema(Doc).dataType
      df.select(posexplode(entries).as(scala.Seq("_pos", "_e")),
          col(Meta), col(Error), col(BatchId), col(Seq))
        .select(
          col("_e._2").as(Content),
          lit(null).cast(docType).as(Doc),
          map_concat(
            map_filter(col(Meta), (k, _) => k =!= "archive_name"),
            map(lit("archive_name"), col("_e._1"))).as(Meta),
          col(Error), col(BatchId),
          (col(Seq) * 1000000 + col("_pos")).as(Seq))
    }
  }

  /** `unarchive: json_array | json_map | csv` (unarchive.go:222-320):
    * one part → one part per element / map entry / CSV data row.
    * json_map adds `archive_key` meta (key-sorted — the reference's Go
    * map order is random, documented); csv rows become JSON objects
    * keyed by the header record. */
  final case class UnarchiveParts(format: String) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val docType = df.schema(Doc).dataType
      val content = contentOrDoc(df)
      format match {
        case "binary" =>
          val parts = graft.exprs.Formats.benthosDeserialize(content)
          df.select(posexplode(parts).as(scala.Seq("_pos", "_e")),
              col(Meta), col(Error), col(BatchId), col(Seq))
            .select(
              col("_e").as(Content),
              lit(null).cast(docType).as(Doc),
              col(Meta), col(Error), col(BatchId),
              (col(Seq) * 1000000 + col("_pos")).as(Seq))
        case "json_array" | "csv" =>
          val elems =
            if (format == "csv") graft.exprs.Formats.csvRowsAsJson(content)
            else graft.exprs.Formats.jsonArrayElems(content)
          df.select(posexplode(elems).as(scala.Seq("_pos", "_e")),
              col(Meta), col(Error), col(BatchId), col(Seq))
            .select(
              col("_e").cast(BinaryType).as(Content),
              lit(null).cast(docType).as(Doc),
              col(Meta), col(Error), col(BatchId),
              (col(Seq) * 1000000 + col("_pos")).as(Seq))
        case "json_map" =>
          val entries = graft.exprs.Formats.jsonMapElems(content)
          df.select(posexplode(entries).as(scala.Seq("_pos", "_e")),
              col(Meta), col(Error), col(BatchId), col(Seq))
            .select(
              col("_e._2").cast(BinaryType).as(Content),
              lit(null).cast(docType).as(Doc),
              map_concat(
                map_filter(col(Meta), (k, _) => k =!= "archive_key"),
                map(lit("archive_key"), col("_e._1"))).as(Meta),
              col(Error), col(BatchId),
              (col(Seq) * 1000000 + col("_pos")).as(Seq))
        case o => throw new IllegalArgumentException(
          s"unarchive: unsupported format $o")
      }
    }
  }

  /** `insert_part` (`lib/processor/insert_part.go`): synthesize a part at a
    * batch index (0 = front, -1 = back). */
  final case class InsertPart(index: Long, mapping: String) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val batches = df.groupBy(col(BatchId)).agg(
        min(col(Seq)).as("lo"), max(col(Seq)).as("hi"))
      val docType = df.schema(Doc).dataType
      val newSeq = if (index >= 0) col("lo") - 1 + lit(index) else col("hi") + 1
      val inserted = batches.select(
        lit(null).cast(BinaryType).as(Content),
        lit(null).cast(docType).as(Doc),
        map().cast(MapType(StringType, StringType)).as(Meta),
        lit(null).cast(StringType).as(Error),
        col(BatchId), newSeq.cast(LongType).as(Seq))
      val mapped = BloblangProc(mapping)(inserted)
      df.unionByName(mapped)
    }
  }

  /** `merge_json` (`lib/processor/merge_json.go`, gabs-merge semantics per
    * `methods_structured.go:897`): merge all parts of a batch into one
    * doc — objects recurse, colliding values collect into arrays (in part
    * order), array collisions concatenate. Static-schema rendering of the
    * dynamic reference semantics: every scalar leaf becomes an array of
    * the non-null values across parts in seq order (the reference keeps a
    * lone value unwrapped — value-dependent types don't exist in a static
    * schema, so a single value arrives as a 1-element array on THIS path).
    * All pure aggregation: one shuffle by batch_id with partial
    * aggregation, no driver loops.
    *
    * `exact = true` switches to the reference's EXACT dynamic semantics
    * (`exprs/GabsMerge.scala` — gabs fold per batch: lone values stay
    * unwrapped, non-object roots drop, sorted-key Go rendering), plus the
    * full `parts` / `retain_parts` surface of `lib/processor/merge_json.go`:
    * target parts merge into ONE part appended last (carrying the
    * metadata of the first LISTED target part — `firstPartCopy`,
    * merge_json.go), non-target parts pass through, `retain` keeps the
    * originals too. Config-loaded pipelines (dynamic, reference-
    * compatible) use exact; the static path stays the default for typed
    * high-volume pipelines. One shuffle by batch_id either way (the
    * windows and the groupBy share the partitioning). */
  final case class MergeJson(parts: scala.Seq[Int] = Nil,
      retain: Boolean = false, exact: Boolean = false) extends Processor {
    def apply(df: DataFrame): DataFrame =
      if (exact) applyExact(df) else applyStatic(df)

    private def applyExact(df: DataFrame): DataFrame = {
      val docT = df.schema(Doc).dataType
      val jsonCol = docT match {
        case NullType => col(Content).cast(StringType)
        case StringType => coalesce(col(Doc), col(Content).cast(StringType))
        case _ => coalesce(to_json(col(Doc)), col(Content).cast(StringType))
      }
      val w = Window.partitionBy(col(BatchId)).orderBy(col(Seq))
      val wAll = Window.partitionBy(col(BatchId))
      val annotated = df
        .withColumn("_gj_idx", (row_number().over(w) - 1).cast(LongType))
        .withColumn("_gj_cnt", count(lit(1)).over(wAll))
        .withColumn("_gj_json", jsonCol)
      // negative part indices resolve against the batch's part count
      // (msg.Len() in the reference)
      val target: Column =
        if (parts.isEmpty) lit(true)
        else parts.map(p =>
          if (p >= 0) col("_gj_idx") === lit(p.toLong)
          else col("_gj_idx") === col("_gj_cnt") + lit(p.toLong)).reduce(_ || _)
      val firstIdx: Column =
        if (parts.isEmpty) lit(0L)
        else if (parts.head >= 0) lit(parts.head.toLong)
        else col("_gj_cnt") + lit(parts.head.toLong)
      val t = annotated
        .withColumn("_gj_target", target)
        .withColumn("_gj_first", firstIdx)

      val mergedJson = graft.exprs.GabsMergeExpr.merged(
        transform(
          array_sort(collect_list(when(
            col("_gj_target") && col("_gj_json").isNotNull,
            struct(col(Seq).as("s"), col("_gj_json").as("v"))))),
          x => x.getField("v")))
      val merged = t.groupBy(col(BatchId)).agg(
          mergedJson.as("_gj_merged"),
          // exactly one row matches _gj_first (seq unique per batch);
          // none when parts[0] is out of range -> empty metadata
          max_by(when(col("_gj_idx") === col("_gj_first"), col(Meta)),
            when(col("_gj_idx") === col("_gj_first"), 1).otherwise(0))
            .as("_gj_meta0"),
          max(col(Seq)).as("_gj_maxseq"))
        .select(
          col("_gj_merged").cast(BinaryType).as(Content),
          parse_json(col("_gj_merged")).as(Doc),
          coalesce(col("_gj_meta0"),
            map().cast(MapType(StringType, StringType))).as(Meta),
          lit(null).cast(StringType).as(Error),
          col(BatchId),
          (col("_gj_maxseq") + 1).as(Seq))

      val kept = if (retain) t else t.filter(!col("_gj_target"))
      // dynamic-doc output: every part's doc is a variant (raw bytes kept
      // on content; a non-JSON part keeps doc null like the reference's
      // lazily-failing part parse)
      val keptRows = kept.select(
        col(Content),
        try_parse_json(col("_gj_json")).as(Doc),
        col(Meta), col(Error), col(BatchId), col(Seq))
      keptRows.unionByName(merged)
    }

    private def applyStatic(df: DataFrame): DataFrame = {
      val docType = df.schema(Doc).dataType

      // ordered non-null collect: array_sort on struct(seq, v) sorts by
      // seq (unique), `when` without otherwise skips nulls in collect_list
      def ordered(leaf: Column): Column =
        array_sort(collect_list(when(leaf.isNotNull,
          struct(col(Seq).as("s"), leaf.as("v")))))

      def merge(dt: DataType, path: Column): Column = dt match {
        case st: StructType =>
          struct(st.fields.toIndexedSeq.map(f =>
            merge(f.dataType, path.getField(f.name)).as(f.name)): _*)
        case ArrayType(_, _) =>
          // array collision → concatenation in part order
          flatten(transform(ordered(path), x => x.getField("v")))
        case mt: MapType =>
          // objects-as-maps: later parts win per key (fold of
          // filter-then-concat keeps dedup-policy-independent)
          aggregate(
            transform(ordered(path), x => x.getField("v")),
            map().cast(mt),
            (acc, m) => map_concat(
              map_filter(acc, (k, _) => !map_contains_key(m, k)), m))
        case _ =>
          transform(ordered(path), x => x.getField("v"))
      }

      val mergedDoc = docType match {
        case st: StructType =>
          struct(st.fields.toIndexedSeq.map(f =>
            merge(f.dataType, col(Doc).getField(f.name)).as(f.name)): _*)
        case other => merge(other, col(Doc))
      }
      df.groupBy(col(BatchId)).agg(
          mergedDoc.as(Doc), min(col(Seq)).as(Seq))
        .select(
          lit(null).cast(BinaryType).as(Content), col(Doc),
          map().cast(MapType(StringType, StringType)).as(Meta),
          lit(null).cast(StringType).as(Error),
          col(BatchId), col(Seq))
    }
  }
}
