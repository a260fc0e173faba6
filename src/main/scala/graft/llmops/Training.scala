package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data-assembly operators: the steps between "cleaned corpus"
  * and "tokens on GPUs" that a 100 TB pipeline runs after dedup/quality
  * filtering.
  *
  *  - [[KMeans]]: distributed Lloyd's clustering over an embedding column
  *    (semantic sharding / domain balancing / diversity sampling).
  *    Assignment is a broadcast cross of k centroids per row (never a
  *    corpus shuffle); the centroid update partial-aggregates with the
  *    native [[graft.exprs.VectorSumAgg]] kernel, shuffling k·dim doubles
  *    per partition instead of n·dim exploded rows.
  *  - [[packChunks]]: concat-and-chunk sequence packing — the standard
  *    pretraining batch-assembly step (concatenate documents in a
  *    deterministic order, cut every `budget` tokens). The global token
  *    prefix-sum uses a partitioned two-pass plan (range shuffle +
  *    per-partition sums broadcast as offsets), NOT a global-order
  *    window — the same discipline as Envelope.withGlobalSeq.
  *  - [[mixStrata]]: weighted dataset mixing / stratified sampling with
  *    deterministic hash buckets (reproducible across runs and engines —
  *    the md5-prefix contract of hash_sample), e.g. up-weight wiki,
  *    down-weight crawl, per-language caps.
  */
object Training {

  // ---------------------------------------------------------------- kmeans

  object KMeans {
    /** Deterministic seed centroids: the k lowest-id vectors (same
      * convention as Similarity.Ivf.seedCentroids, so an external oracle
      * can replicate the whole trajectory). */
    def seed(corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
      corpus.orderBy(col(idCol)).limit(k)
        .select(col(idCol).as("cid"), col(vecCol).cast(ArrayType(DoubleType)).as("cvec"))

    /** Nearest-centroid assignment (cosine, ties → lowest cid).
      *
      * The flat path's centroid set is small by contract (every caller
      * either fixes k or routes large k through [[fitTwoLevel]]), so it
      * embeds as a typed literal and the argmax is a per-row array fold
      * — map-only, zero shuffle, no row explosion. The previous shape
      * (broadcast-cross to n·k rows + max_by/first aggregation) carried
      * struct- and array-typed agg buffers, which HashAggregateExec
      * rejects — the whole aggregation silently degraded to
      * SortAggregate over the exploded relation (the same fallback the
      * r9 probe caught in Ivf.assign: 38.8 GB of sort spill). Doubles
      * throughout so the explicit-k oracle trajectories stay
      * bit-identical. */
    def assign(corpus: DataFrame, idCol: String, vecCol: String,
        centroids: DataFrame): DataFrame = {
      val cents: scala.Seq[(Long, scala.Seq[Double])] =
        centroids.select(col("cid").cast(LongType),
            col("cvec").cast(ArrayType(DoubleType)))
          .collect().toIndexedSeq
          .map(r => (r.getLong(0),
            r.getSeq[Double](1).toIndexedSeq: scala.Seq[Double]))
      val scored = transform(typedLit(cents), c =>
        struct(Similarity.cosine(col(vecCol), c.getField("_2")).as("csim"),
          (-c.getField("_1")).as("ncid")))
      corpus.select(col(idCol),
        (-array_max(scored).getField("ncid")).as("cid"), col(vecCol))
    }

    /** One Lloyd step: new centroid = element-wise mean of the assigned
      * vectors (native vector-sum partial agg; empty clusters keep their
      * previous centroid). */
    def updateCentroids(assigned: DataFrame, vecCol: String,
        prev: DataFrame): DataFrame = {
      val sums = assigned.groupBy(col("cid"))
        .agg(graft.exprs.VectorSumAgg.column(col(vecCol)).as("vsum"),
          count(lit(1)).as("n"))
        .select(col("cid"),
          transform(col("vsum"), x => x / col("n")).as("cvec"))
      // empty clusters: fall back to the previous centroid
      prev.select(col("cid"), col("cvec").as("prev_cvec"))
        .join(sums, scala.Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cvec"), col("prev_cvec")).as("cvec"))
    }

    /** Full Lloyd loop: returns (assignments, centroids) after `iters`
      * update steps. Centroids are collected to the driver between
      * iterations (k·dim doubles — tiny) so each assignment pass
      * broadcasts a stable literal table rather than re-executing the
      * previous iteration's lineage. */
    def fit(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
        iters: Int): (DataFrame, DataFrame) = {
      val spark = corpus.sparkSession
      var cents = collectCentroids(spark, seed(corpus, idCol, vecCol, k))
      var i = 0
      while (i < iters) {
        val assigned = assign(corpus, idCol, vecCol, cents)
        cents = collectCentroids(spark,
          updateCentroids(assigned, vecCol, cents))
        i += 1
      }
      (assign(corpus, idCol, vecCol, cents), cents)
    }

    private def collectCentroids(spark: SparkSession, df: DataFrame): DataFrame = {
      val rows = df.orderBy(col("cid")).collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(scala.Seq(
          StructField("cid", LongType),
          StructField("cvec", ArrayType(DoubleType)))))
    }

    /** Two-level (IVF-style) Lloyd for LARGE k: the flat [[fit]] compares
      * every point against every centroid, and when k grows with the
      * corpus (the scale-safe posture — constant cluster size) that
      * assignment is O(n·k) = O(n²∕clusterSize): the 64× probe measured
      * exactly this quadratic emerging. Here k1 = ⌈√k⌉ coarse clusters
      * are fit flat, then k2 = ⌈k∕k1⌉ fine centroids live WITHIN each
      * coarse cluster and points compare only against their own coarse
      * cluster's fine centroids (an equi-join on the coarse id instead
      * of a broadcast cross), making assignment O(n·√k). Points don't
      * migrate between coarse cells during the fine iterations — the
      * standard IVF approximation; for dedup/sampling use the cluster is
      * only a candidate-pruning shard, so the trade is the right one.
      *
      * Fine centroid ids are ccid·k2 + rank (collision-free: coarse ids
      * are distinct longs). Returns the assignment (idCol, cid, vecCol). */
    def fitTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
        k: Int, iters: Int, broadcastKCap: Int = BroadcastKCap): DataFrame = {
      val k1 = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
      val k2 = math.max(1, (k + k1 - 1) / k1)
      val (coarse, _) = fit(corpus, idCol, vecCol, k1, iters)
      val pts = coarse
        .select(col(idCol), col("cid").as("ccid"), col(vecCol))
        .localCheckpoint() // the coarse trajectory runs once
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("ccid")).orderBy(col(idCol))
      // The fine-centroid relation STAYS distributed: under the auto-k
      // posture k grows with the corpus (k = n / clusterSize), so
      // collecting or broadcasting all k centroids is linear-in-corpus
      // driver state — at n ~ 1e10, ~4e7 centroids × dim doubles is tens
      // of GB on the driver. localCheckpoint truncates the lineage
      // between Lloyd iterations exactly like a collect would, but the
      // k·dim doubles live in executor blocks, never on the driver.
      var cents = pts.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= k2)
        .select(col("ccid"),
          (col("ccid") * k2 + col("_rk") - 1).as("cid"),
          col(vecCol).cast(ArrayType(DoubleType)).as("cvec"))
        .localCheckpoint()
      var i = 0
      while (i < iters) {
        val assigned = assignFine(pts, idCol, vecCol, cents, k, broadcastKCap)
        val next = updateFine(assigned, vecCol, cents).localCheckpoint()
        cents.unpersist()
        cents = next
        i += 1
      }
      val out = assignFine(pts, idCol, vecCol, cents, k, broadcastKCap)
        .select(col(idCol), col("cid"), col(vecCol))
        .localCheckpoint()
      cents.unpersist()
      pts.unpersist()
      out
    }

    /** Broadcasting the fine centroids is only safe while k·dim stays
      * executor-memory-sized; 32k centroids × ~1 KB ≈ 32 MB is
      * comfortably under the broadcast ceiling. Above the cap the ccid
      * equi-join shuffles both sides instead — the shape that holds when
      * k is corpus-proportional (auto-k). */
    private[llmops] val BroadcastKCap = 32768

    /** Nearest FINE centroid within the point's own coarse cluster:
      * equi-join on ccid (k2 comparisons per point), cosine, argmax.
      * Small k broadcasts the centroid side; large k shuffles it.
      *
      * The argmax is [[graft.exprs.ArgMaxByLong]] — a fixed-width
      * (long, double) agg buffer that stays in codegen HashAggregate.
      * The previous max_by(cid, struct(csim, -cid)) + first(vec) shape
      * carried struct- and array-typed buffers, which HashAggregateExec
      * rejects, degrading the whole aggregation to SortAggregate over
      * the n·k2 joined rows (the 64× probe's 607 MB spill). The winner's
      * ccid + vector re-attach from the checkpointed `pts` by an idCol
      * equi-join (shuffle-hash: the id→cid side is 16 B/row, nothing
      * candidate-proportional is ever sorted). */
    private def assignFine(pts: DataFrame, idCol: String, vecCol: String,
        cents: DataFrame, k: Int, broadcastKCap: Int): DataFrame = {
      val centSide = if (k <= broadcastKCap) broadcast(cents) else cents
      val best = pts.join(centSide, "ccid")
        .select(col(idCol), col("cid"),
          Similarity.cosine(col(vecCol), col("cvec")).as("csim"))
        .groupBy(col(idCol))
        .agg(graft.exprs.ArgMaxByLong.column(col("cid"), col("csim"))
          .as("cid"))
      pts.join(best.hint("shuffle_hash"), scala.Seq(idCol))
        .select(col(idCol), col(vecCol), col("ccid"), col("cid"))
    }

    /** One fine Lloyd step; empty fine clusters keep their previous
      * centroid (and every centroid keeps its coarse cell). */
    private def updateFine(assigned: DataFrame, vecCol: String,
        prev: DataFrame): DataFrame = {
      val sums = assigned.groupBy(col("cid"))
        .agg(graft.exprs.VectorSumAgg.column(col(vecCol)).as("vsum"),
          count(lit(1)).as("n"))
        .select(col("cid"),
          transform(col("vsum"), x => x / col("n")).as("new_cvec"))
      prev.select(col("ccid"), col("cid"), col("cvec").as("prev_cvec"))
        .join(sums, scala.Seq("cid"), "left")
        .select(col("ccid"), col("cid"),
          coalesce(col("new_cvec"), col("prev_cvec")).as("cvec"))
    }

  }

  // ------------------------------------------------- quality classifier

  /** Integer-exact hashed quality classifier (the fastText-style
    * filter-model step of a web-curation pipeline, e.g. the CCNet /
    * LLaMA "is this page Wikipedia-like?" gate): train a multinomial
    * Naive-Bayes-flavoured linear model from a boolean label column,
    * then score every document with it — all in fixed-point integer
    * arithmetic so the result is bit-exact across engines.
    *
    * Features are hashed unigrams: `f = int(md5(tok)[0,4)) mod dim`
    * (the hashing trick — bounds the model at `dim` weights no matter
    * the vocabulary). Each feature's weight is the smoothed positive
    * rate in fixed point: `w_f = (c1_f + 1) * scale div (cn_f + 2)`
    * where `c1_f` counts occurrences under the label and `cn_f` all
    * occurrences. A document's score is the token-frequency-weighted
    * mean posterior, `score_fp = sum(w_tok) div n_tokens`, and
    * `pred = 2 * sum(w_tok) > n_tokens * scale` (mean posterior above
    * one half).
    *
    * Scale shape (100 TB): one tokenize+hash pass with a map-side
    * partial `groupBy(f)` — at most `dim` rows leave each task — then
    * the `dim`-row weight table is BROADCAST back for the scoring
    * pass, whose only shuffle is the per-document re-aggregation.
    * Nothing in the plan grows with vocabulary size.
    *
    * Output: (id, n_tokens, score_fp, pred). */
  def hashedNbClassifier(df: DataFrame, idCol: String, textCol: String,
      labelPred: Column, dim: Int = 4096, scale: Long = 1000000L): DataFrame =
    // two lazy scans (train agg, then scoring join) — measured FASTER
    // than materializing the featurized relation with localCheckpoint,
    // whose eager block-manager writes accumulate across queries; at
    // deploy scale persist the weight table via saveClassifier instead
    nbClassifierScore(df, idCol, textCol,
      nbClassifierWeights(df, textCol, labelPred, dim, scale), dim, scale)

  /** Hashed-unigram feature bucket: `int(md5(tok)[0,4)) mod dim`. */
  private def featHash(tok: Column, dim: Int): Column =
    conv(substring(md5(tok), 1, 4), 16, 10).cast(LongType) % dim

  /** The TRAIN half of [[hashedNbClassifier]]: the ≤`dim`-row weight
    * table (f, w) — persist with [[saveClassifier]] to score later
    * batches or streams without retraining. */
  def nbClassifierWeights(df: DataFrame, textCol: String, labelPred: Column,
      dim: Int = 4096, scale: Long = 1000000L): DataFrame = {
    require(dim > 0 && dim <= 65536, s"dim must be in (0, 65536], got $dim")
    df.select(labelPred.as("_y"),
        explode(split(col(textCol), " ")).as("tok"))
      .select(col("_y"), featHash(col("tok"), dim).as("f"))
      .groupBy(col("f")).agg(
        sum(when(col("_y"), 1L).otherwise(0L)).as("c1"),
        count(lit(1)).as("cn"))
      .select(col("f"), expr(s"(c1 + 1) * $scale div (cn + 2)").as("w"))
  }

  /** The SCORE half of [[hashedNbClassifier]]: stateless projection +
    * broadcast join + per-doc re-agg — also valid on a streaming
    * DataFrame (update/complete mode) with a loaded weight table. */
  def nbClassifierScore(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, dim: Int = 4096, scale: Long = 1000000L): DataFrame = {
    require(dim > 0 && dim <= 65536, s"dim must be in (0, 65536], got $dim")
    df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("tok"))
      .select(col("id"), featHash(col("tok"), dim).as("f"))
      .join(broadcast(weights), "f")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("_ws"))
      .select(col("id"), col("n_tokens"),
        expr("_ws div n_tokens").as("score_fp"),
        (col("_ws") * 2L > col("n_tokens") * scale).as("pred"))
  }

  /** Per-group quality buckets — the CCNet head/middle/tail selection
    * step: rank documents within each group (source/language) by a
    * quality score (descending, ties → lowest id) and cut into `k`
    * integer buckets, `bucket = (rank-1) * k div n` (0 = best). The
    * downstream pipeline keeps head+middle, or samples buckets at
    * different rates. Integer-exact; windows partition by group —
    * bounded width at any corpus size when groups scale with the data.
    * Output: (id, groupCol, score, bucket). */
  def qualityBuckets(df: DataFrame, idCol: String, groupCol: String,
      score: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val wr = Window.partitionBy(col(groupCol))
      .orderBy(col("_score").desc, col(idCol))
    val wn = Window.partitionBy(col(groupCol))
    df.select(col(idCol), col(groupCol), score.as("_score"))
      .withColumn("_rnk", row_number().over(wr).cast(LongType))
      .withColumn("_n", count(lit(1)).over(wn))
      .select(col(idCol), col(groupCol), col("_score").as("score"),
        expr(s"(_rnk - 1) * $k div _n").as("bucket"))
  }

  /** Persist / reload the classifier weight table (f, w). */
  def saveClassifier(weights: DataFrame, path: String): Unit =
    weights.coalesce(1).write.mode("overwrite").parquet(path)

  def loadClassifier(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  // ------------------------------------------------------ centroid outliers

  /** Embedding outlier detection by centroid distance (the CLIP-score /
    * density pruning analog for curation): run k-means, then within each
    * cluster rank members by cosine similarity to their own centroid
    * (ascending, ties → lowest id) and flag the bottom `frac` as
    * outliers (`rnk <= ceil(frac * cluster_size)`).
    *
    * Scale: the k-means assign is a broadcast pass (corpus never
    * shuffles); the rank window partitions by cluster id — bounded-width
    * partitions at any corpus size when k scales with the data. The flag
    * is integer-deterministic given the (bit-stable) cosine kernel.
    * Output: (idCol, cid, rnk, n_c, outlier). */
  def centroidOutliers(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, frac: Double): DataFrame = {
    require(frac > 0 && frac < 1, s"frac must be in (0,1), got $frac")
    val (assigned, cents) = KMeans.fit(corpus, idCol, vecCol, k, iters)
    val withSim = assigned.join(broadcast(cents), "cid")
      .select(col(idCol), col("cid"),
        Similarity.cosine(col(vecCol), col("cvec")).as("csim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid")).orderBy(col("csim"), col(idCol))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))
    withSim
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .withColumn("n_c", count(lit(1)).over(wc))
      .select(col(idCol), col("cid"), col("rnk"), col("n_c"),
        (col("rnk") <= ceil(col("n_c") * frac)).as("outlier"))
  }

  // --------------------------------------------------------------- packing

  /** Concat-and-chunk sequence packing: documents ordered by `orderCol`
    * are conceptually concatenated and cut every `budget` tokens. Emits
    * one row per input row: (…, chunk_id, chunk_offset) where `chunk_id`
    * is the training sequence this document STARTS in. Integer arithmetic
    * only — bit-exact across engines.
    *
    * Scale shape: range-shuffle on the order key, per-partition token
    * sums collected (one tiny job that reuses the shuffle stage), prefix
    * offsets closed over the second pass on the SAME RDD instance (range
    * bounds are sampled per-instance — see Envelope.withGlobalSeq). */
  def packChunks(df: DataFrame, orderCol: String, tokensCol: Column,
      budget: Long): DataFrame = {
    require(!df.isStreaming, "packChunks requires a batch DataFrame")
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val withTok = df.withColumn("n_tokens", tokensCol.cast(LongType))
    val sorted = withTok.repartitionByRange(parts, col(orderCol))
      .sortWithinPartitions(col(orderCol))
    val rdd = sorted.rdd // single instance: both jobs share its shuffle
    val tokIdx = sorted.schema.fieldIndex("n_tokens")
    val partSums = rdd.mapPartitionsWithIndex { (pi, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(tokIdx))
      Iterator((pi, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _) // offsets(pi) = tokens before pi
    val b = budget
    val schema = StructType(sorted.schema.fields ++ scala.Seq(
      StructField("chunk_id", LongType, nullable = false),
      StructField("chunk_offset", LongType, nullable = false)))
    val packed = rdd.mapPartitionsWithIndex { (pi, it) =>
      var cum = offsets(pi)
      it.map { r =>
        val start = cum
        cum += r.getLong(tokIdx)
        Row.fromSeq(r.toSeq ++ scala.Seq(start / b, start % b))
      }
    }
    spark.createDataFrame(packed, schema)
  }

  /** Greedy sequential DOCUMENT packing into fixed-capacity token bins,
    * preserving document boundaries — the padding-minimizing alternative
    * to [[packChunks]]' concat-and-chunk (no document is ever split).
    * Docs land in `nBuckets` deterministic md5 buckets; within a bucket,
    * docs in (md5, id) order fill bins first-fit-sequentially: a doc
    * that would overflow the current bin opens the next one (an
    * over-capacity doc gets a bin alone). Deterministic and
    * engine-portable end to end.
    *
    * Scale: one shuffle to the bucket key; each bucket's fold is a
    * per-group array kernel whose size you control with `nBuckets`
    * (pick corpus_size / ~500). Bin ids are (bucket, bin) pairs, so no
    * global coordination exists between buckets — exactly the property
    * that lets 1000 executors pack independently.
    *
    * Output: (id, n_tokens, bucket, bin). */
  def packDocs(df: DataFrame, idCol: String, tokensCol: Column,
      capacity: Long, nBuckets: Int = 16): DataFrame = {
    require(capacity > 0 && nBuckets > 0, "packDocs: capacity and nBuckets must be positive")
    val h = md5(col(idCol).cast(StringType))
    val rows = df.select(col(idCol).as("id"), tokensCol.cast(LongType).as("n_tokens"),
      conv(substring(h, 1, 1), 16, 10).cast(LongType).%(nBuckets).as("bucket"),
      h.as("_h"))
    val folded = rows
      .groupBy(col("bucket"))
      .agg(array_sort(collect_list(struct(col("_h"), col("id"), col("n_tokens"))))
        .as("_docs"))
      .select(col("bucket"), aggregate(
        col("_docs"),
        struct(lit(0L).as("fill"), lit(0L).as("bin"),
          array().cast("array<struct<id:bigint,n_tokens:bigint,bin:bigint>>")
            .as("assigns")),
        (acc, d) => {
          val over = acc.getField("fill") > 0 &&
            acc.getField("fill") + d.getField("n_tokens") > capacity
          val bin = when(over, acc.getField("bin") + 1)
            .otherwise(acc.getField("bin"))
          val fill = when(over, d.getField("n_tokens"))
            .otherwise(acc.getField("fill") + d.getField("n_tokens"))
          struct(fill.as("fill"), bin.as("bin"),
            concat(acc.getField("assigns"),
              array(struct(d.getField("id").as("id"),
                d.getField("n_tokens").as("n_tokens"), bin.as("bin"))))
              .as("assigns"))
        },
        acc => acc.getField("assigns")).as("_a"))
      .select(col("bucket"), explode(col("_a")).as("_d"))
    folded.select(col("_d.id").as("id"), col("_d.n_tokens").as("n_tokens"),
      col("bucket"), col("_d.bin").as("bin"))
  }

  /** Budget-constrained corpus selection in priority order (the "take
    * the best documents until the token budget is spent" step of
    * quality-curriculum data selection): rows are totally ordered by
    * `orderBy` (ties must be broken by a unique key), ranked, given
    * their running token prefix sum, and flagged selected while the
    * budget holds. Uses the partitioned two-pass assignment (range
    * shuffle + per-partition offsets, [[packChunks]]' shape) — a total
    * order WITHOUT a single-partition window.
    *
    * Output: input columns + (n_tokens, rank, cum_before, selected). */
  def selectByBudget(df: DataFrame, orderBy: scala.Seq[Column],
      tokensCol: Column, budget: Long): DataFrame = {
    require(!df.isStreaming, "selectByBudget requires a batch DataFrame")
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val withTok = df.withColumn("n_tokens", tokensCol.cast(LongType))
    val sorted = withTok.repartitionByRange(parts, orderBy: _*)
      .sortWithinPartitions(orderBy: _*)
    val rdd = sorted.rdd // single instance: both jobs share its shuffle
    val tokIdx = sorted.schema.fieldIndex("n_tokens")
    val partAgg = rdd.mapPartitionsWithIndex { (pi, it) =>
      var c = 0L; var s = 0L
      it.foreach { r => c += 1; s += r.getLong(tokIdx) }
      Iterator((pi, c, s))
    }.collect().sortBy(_._1)
    val rankOff = partAgg.map(_._2).scanLeft(0L)(_ + _)
    val tokOff = partAgg.map(_._3).scanLeft(0L)(_ + _)
    val b = budget
    val schema = StructType(sorted.schema.fields ++ scala.Seq(
      StructField("rank", LongType, nullable = false),
      StructField("cum_before", LongType, nullable = false),
      StructField("selected", BooleanType, nullable = false)))
    val flagged = rdd.mapPartitionsWithIndex { (pi, it) =>
      var rk = rankOff(pi)
      var cum = tokOff(pi)
      it.map { r =>
        rk += 1
        val before = cum
        val n = r.getLong(tokIdx)
        cum += n
        Row.fromSeq(r.toSeq ++ scala.Seq(rk, before, before + n <= b))
      }
    }
    spark.createDataFrame(flagged, schema)
  }

  // ---------------------------------------------------------------- mixing

  /** Deterministic weighted mixing / stratified sampling: keep a row of
    * stratum s with probability rates(s), decided by the md5-prefix
    * bucket of its key (the hash_sample contract: reproducible, engine-
    * portable, no RNG state). Rows of strata absent from `rates` use
    * `defaultRate`. Rate ≥ 1.0 keeps everything. */
  def mixStrata(df: DataFrame, stratumCol: Column, keyCol: Column,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    def keep(rate: Double): Column = {
      val hi = math.min(65536L, math.max(0L, math.round(rate * 65536.0)))
      if (hi >= 65536L) lit(true)
      else substring(md5(keyCol.cast(StringType)), 1, 4) < f"$hi%04x"
    }
    val cond = rates.toSeq.sortBy(_._1)
      .foldLeft(when(lit(false), lit(false))) { case (acc, (s, r)) =>
        acc.when(stratumCol === s, keep(r))
      }
      .otherwise(keep(defaultRate))
    df.filter(cond)
  }

  /** Temperature-scaled source sampling weights (the multilingual /
    * multi-source upsampling recipe: sample source s proportionally to
    * p_s^τ with τ = 0.5, flattening the head so low-resource sources are
    * seen more often). Integer-exact end to end so an external oracle
    * matches bit-for-bit: the weight is `floor(sqrt(tokens_s))` — IEEE
    * sqrt is correctly rounded, so both engines agree on every input —
    * and the share is basis points by integer division.
    *
    * Scale shape: one map-side-combined aggregation to the per-source
    * token table (source-cardinality rows); the scalar total is a
    * bounded driver value (one row), injected as a literal — no window,
    * no join, no global order.
    *
    * Output: (source, tokens, weight, share_bp). */
  def temperatureWeights(df: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    // materialized once (r12): perSource feeds the scalar-total collect
    // AND the output projection — lazily composed, the total's collect
    // re-ran the ENTIRE upstream pipeline (q132's two chained semi-join
    // dedups ran twice per action: QProf dup-eval showed all three stage
    // exchanges written twice, ~20 s duplicated task time). The relation
    // is source-cardinality rows — bytes, at any corpus size.
    val perSource = df.groupBy(col(srcCol).as("source"))
      .agg(sum(size(split(col(textCol), " ")).cast(LongType)).as("tokens"))
      .withColumn("weight", floor(sqrt(col("tokens"))).cast(LongType))
      .localCheckpoint(false)
    val total = perSource.agg(sum(col("weight"))).collect()(0).getLong(0)
    perSource.select(col("source"), col("tokens"), col("weight"),
      expr(s"10000 * weight div ${total}L").as("share_bp"))
  }

  /** Per-group contribution cap (the "domain cap" of web-scale corpus
    * curation: no source may contribute more than `maxPerGroup` docs).
    * Selection is deterministic and engine-portable: within each group
    * rows are ranked by (md5(key), key) — a fixed pseudo-random order —
    * and only the first `maxPerGroup` survive. The window partitions by
    * group, so work distributes across groups (no global order); a group
    * big enough to skew a partition is exactly the group the cap is
    * about to cut to `maxPerGroup` rows anyway. */
  def capPerGroup(df: DataFrame, groupCol: Column, keyCol: Column,
      maxPerGroup: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(md5(keyCol.cast(StringType)), keyCol)
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= maxPerGroup)
      .drop("_rk")
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication of an embedding
    * corpus. K-means shards the space (broadcast assign — no corpus
    * shuffle), pairwise cosine runs WITHIN clusters only (the equi-join
    * on cluster id is the pruning step that makes 100 TB feasible: k
    * scales with corpus size, keeping per-cluster pair work bounded),
    * and the ≥-threshold pair graph collapses to keep-one-per-component
    * via [[Graph.connectedComponents]] (min id is the canonical keeper).
    *
    * Returns one row per vector: (id, cid, cluster_id, keep) where
    * `cluster_id` is the semantic-duplicate component label (= own id
    * for uniques) and `cid` the k-means shard. Integer ids + a boolean;
    * the float similarity never reaches the output.
    *
    * `k <= 0` selects the scale-safe auto posture: k = ceil(n /
    * targetClusterSize), sized from one column-pruned count of the
    * corpus. A FIXED k is a latent quadratic — within-cluster pair work
    * is Θ(n²/k), so a k chosen at sf0.1 silently melts at 100 TB; auto-k
    * pins expected per-cluster pair work at Θ(targetClusterSize²) per
    * cluster regardless of corpus size, which is the posture the scale
    * probe measures. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double,
      targetClusterSize: Int = 256,
      broadcastKCap: Int = KMeans.BroadcastKCap): DataFrame = {
    val kEff =
      if (k > 0) k
      else {
        require(targetClusterSize > 0,
          s"targetClusterSize must be positive, got $targetClusterSize")
        val n = corpus.select(col(idCol)).count()
        math.max(1L, (n + targetClusterSize - 1) / targetClusterSize).toInt
      }
    // auto-k at scale means k ∝ n, and FLAT assignment is then O(n·k) =
    // O(n²/clusterSize) — the two-level IVF fit keeps it O(n·√k). Small
    // k (incl. every explicit-k oracle gate) keeps the exact flat
    // trajectory.
    val assigned =
      if (k <= 0 && kEff > 64)
        KMeans.fitTwoLevel(corpus, idCol, vecCol, kEff, iters, broadcastKCap)
      else KMeans.fit(corpus, idCol, vecCol, kEff, iters)._1
    val slim = assigned.select(col(idCol).as("id"), col("cid"), col(vecCol).as("v"))
      .localCheckpoint() // k-means trajectory runs once, not per join branch
    val a = slim.select(col("id").as("id_a"), col("cid"), col("v").as("va"))
    val b = slim.select(col("id").as("id_b"), col("cid"), col("v").as("vb"))
    val pairs = a.join(b, "cid")
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val cc = Graph.connectedComponents(pairs, "id_a", "id_b")
    val out = slim.select(col("id"), col("cid"))
      .join(cc, scala.Seq("id"), "left")
      .select(col("id").as(idCol), col("cid"),
        coalesce(col("component"), col("id")).as("cluster_id"))
      .withColumn("keep", col(idCol) === col("cluster_id"))
      .localCheckpoint() // materialize, then free the slim block below
    slim.unpersist()
    out
  }

  /** Epoch-repetition materialization: given a per-row repetition
    * factor in basis points (25000 = 2.5 epochs — typically from
    * [[temperatureWeights]]-style mixture math), emit one (row, epoch)
    * pair per full epoch, plus one more for the fractional remainder on
    * a deterministic md5-bucket of the id (so exactly ~frac of each
    * source repeats, reproducibly across runs/engines — no RNG). The
    * up-sampling counterpart of [[capPerGroup]]: how "2.5 epochs of
    * wikipedia" actually materializes into a training corpus.
    *
    * Scale: pure projection + explode — zero shuffle; output size is
    * sum(factor) rows, which is the training set you asked for.
    * Output: (id, n_epochs, epoch). Rows with factor < 10000 can drop
    * entirely (n_epochs = 0) — that IS sub-epoch sampling. */
  def repeatEpochs(df: DataFrame, idCol: String,
      factorBp: Column): DataFrame = {
    val bucket = expr(
      "cast(conv(substring(md5(cast(id as string)), 1, 4), 16, 10) as bigint)" +
        " * 10000 div 65536")
    df.select(col(idCol).as("id"), factorBp.cast(LongType).as("_f"))
      .select(col("id"),
        (expr("_f div 10000") +
          when(bucket < expr("_f % 10000"), 1L).otherwise(0L)).as("n_epochs"))
      .select(col("id"), col("n_epochs"),
        explode(when(col("n_epochs") >= 1L,
            sequence(lit(1L), col("n_epochs")))
          .otherwise(array().cast("array<bigint>"))).as("epoch"))
  }

  /** Rendezvous (highest-random-weight) shard assignment: every row
    * goes to argmax over shards of md5(id ":" shard). The consistent-
    * sharding property incremental pipelines want: growing n → n+1
    * shards reassigns only ~1/(n+1) of the corpus (rows move ONLY when
    * the new shard wins their argmax), where mod-hashing reshuffles
    * almost everything. Pure projection + a bounded `shards`-way argmax
    * inside one row — no shuffle at all; ties cannot occur (md5 of
    * distinct strings). Output: original row + `shard`. */
  def rendezvousShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, "rendezvousShards needs at least one shard")
    // argmax via array_max over (h, s) structs — a when-chain reduce
    // doubles the expression tree per shard (the winner-so-far repeats
    // in both the condition and a branch), which blows codegen up
    // exponentially; the array form stays linear in nShards
    val winner = array_max(array((0 until nShards).map { s =>
      struct(md5(concat(col(idCol).cast("string"), lit(":"), lit(s)))
        .as("h"), lit(s.toLong).as("s"))
    }: _*))
    df.withColumn("shard", winner.getField("s"))
  }

  /** Size-balanced shard assignment (the output-layout step: N files of
    * roughly equal token mass, not row count): rows are totally ordered
    * by (tokens DESC, id) and dealt to shards in boustrophedon ("snake")
    * order — shard 0..N-1 then N-1..0 — the classic LPT-flavored greedy
    * that keeps every shard within one max-document of the mean without
    * any sequential bin state. Total order via the partitioned two-pass
    * assignment ([[graft.model.Envelope.withGlobalSeq]]) — no global
    * window at any scale.
    * Output: (id, n_tokens, rank, shard). */
  def balancedShards(df: DataFrame, idCol: String, tokensCol: Column,
      nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val rows = df.select(col(idCol).as("id"),
      tokensCol.cast(LongType).as("n_tokens"))
    val ranked = graft.model.Envelope.withGlobalSeq(rows,
      scala.Seq(col("n_tokens").desc, col("id")), "rank")
    val pos = col("rank") % (2L * nShards)
    ranked.select(col("id"), col("n_tokens"), col("rank"),
      when(pos < nShards, pos).otherwise(lit(2L * nShards - 1) - pos).as("shard"))
  }

  /** Cluster-balanced diversity sample: k-means the embedding space,
    * then keep the same EXACT fraction of every cluster (md5-rank order
    * within the cluster — deterministic, no RNG). Downsampling this way
    * preserves semantic coverage: rare regions of the space lose rows at
    * the same rate as dominant ones, unlike a uniform sample that
    * drains small clusters first. The embedding-space analog of
    * [[graft.llmops.Curation.stratifiedExactSplit]] with learned strata.
    *
    * Scale: Lloyd iterations are broadcast-assign passes (k·dim
    * centroids); the split is one window partitioned by cluster.
    * Output: (id, cid, grp_n, grp_rank, split∈{keep,drop}). */
  def clusterBalancedSample(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, keepFracBp: Int): DataFrame = {
    val (assigned, _) = KMeans.fit(corpus, idCol, vecCol, k, iters)
    Curation.stratifiedExactSplit(
      assigned.select(col(idCol), col("cid")), idCol, "cid", keepFracBp,
      valName = "keep", trainName = "drop")
  }

  /** Sequence-length bucketing for padded-batch training: each document
    * is assigned the smallest configured bucket length ≥ its token count
    * (longer docs clamp to the largest bucket — the truncation bucket),
    * then per-bucket batch and padding-waste accounting at batch size
    * `batch`: padded slot-tokens = ceil(n_docs/batch)·batch·bucket_len,
    * waste_bp = wasted slot-tokens in basis points. The statistic that
    * decides bucket boundaries for a training run's dataloader.
    *
    * Plan: a pure projection (CASE chain over the constant bucket list)
    * followed by one tiny groupBy on ≤|buckets| keys — map-side combined,
    * no data-sized state anywhere. Output ordered by bucket_len. */
  def paddingBuckets(df: DataFrame, textCol: String,
      buckets: scala.Seq[Int], batch: Int): DataFrame = {
    require(buckets.nonEmpty && buckets == buckets.sorted,
      "buckets must be ascending")
    // null text counts as an empty sequence (deterministic across
    // engines — Spark and DuckDB `least` both skip nulls, so letting a
    // null length reach the bucket CASE would diverge)
    val n = coalesce(TextStats.nTokens(col(textCol)), lit(0L))
    val bucket = buckets.init.foldRight(lit(buckets.last.toLong)) {
      (b, acc) => when(n <= b, b.toLong).otherwise(acc)
    }
    df.select(bucket.as("bucket_len"),
        least(n, lit(buckets.last.toLong)).as("kept"))
      .groupBy(col("bucket_len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("sum_tokens"))
      .withColumn("n_batches", expr(s"(n_docs + ${batch - 1}) div $batch"))
      .withColumn("padded", expr(s"n_batches * $batch * bucket_len"))
      .withColumn("waste_bp", expr("(padded - sum_tokens) * 10000 div padded"))
      .orderBy(col("bucket_len"))
  }

  /** Fill-in-the-middle transformation (PSM order) — the code-model
    * pretraining op: split each document at two deterministic
    * id-derived points (prefix 20-49%, middle to 55-79%) and emit
    * `<PRE>prefix<SUF>suffix<MID>middle`. Pure per-row projection (no
    * shuffle, codegen'd string ops); the split arithmetic is integer
    * division so an external engine replays every byte. Returns a
    * struct (fim, n_pre, n_mid, n_suf). */
  def fimSplit(text: Column, id: Column): Column = {
    val len = length(text).cast(LongType)
    // floor-of-division stays exact: operands ≤ len·79 < 2^53, and a
    // correctly-rounded double quotient floors to the true integer part
    val p = floor(len * (pmod(id, lit(30L)) + 20L) / 100L).cast(LongType)
    val mEnd = floor(len * (pmod(id, lit(25L)) + 55L) / 100L).cast(LongType)
    val pi = p.cast(IntegerType)
    val mi = mEnd.cast(IntegerType)
    val prefix = substring(text, lit(1), pi)
    val middle = text.substr(pi + 1, mi - pi)
    val suffix = text.substr(mi + 1, len.cast(IntegerType))
    struct(
      concat(lit("<PRE>"), prefix, lit("<SUF>"), suffix,
        lit("<MID>"), middle).as("fim"),
      p.as("n_pre"), (mEnd - p).as("n_mid"), (len - mEnd).as("n_suf"))
  }
}
