package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic distributed sketches. Spark's own approx aggregates
  * (HLL++, KLL) are neither seed-stable across engines nor replayable by
  * an external oracle; these sketches are built from md5 — identical
  * everywhere — so a correctness gate can replay them bit-exactly while
  * the shape stays the true streaming-sketch shape.
  */
object Sketches {

  /** KMV (k-minimum-values / bottom-k) distinct-count estimate per group
    * (Bar-Yossef et al. 2002): hash every value, keep the k smallest
    * DISTINCT hashes per group, estimate D ≈ (k−1)/h_(k) with the hash
    * normalized to [0,1). Here the estimate is computed on the top 24
    * bits of the k-th minimum md5 in pure BIGINT arithmetic:
    *
    *   est = (k−1) · 2²⁴ div toInt₂₄(h_(k))
    *
    * Mergeable by construction (bottom-k of a union = bottom-k of merged
    * bottom-ks), which is what makes it a sketch: partial aggregation
    * keeps ≤k values per group per partition, so the shuffle carries
    * O(groups · k), not the data. This implementation takes the
    * distinct-hash + per-group rank route (two key-local exchanges);
    * groups with fewer than k distinct values fall back to their exact
    * count (the standard KMV small-range rule).
    *
    * Output: (group, n_hashes, est_distinct) — n_hashes = min(D, k). */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "kmv needs k >= 2")
    val hashed = df.select(col(groupCol).as("grp"),
        md5(col(valueCol).cast("string")).as("h"))
      .filter(col("h").isNotNull) // null values: no hash, standard distinct-count semantics
      .distinct()
    val ranked = hashed.withColumn("rnk",
      row_number().over(Window.partitionBy(col("grp")).orderBy(col("h"))))
    ranked.filter(col("rnk") <= k)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_hashes"), max(col("h")).as("h_k"))
      .select(col("grp"), col("n_hashes"),
        when(col("n_hashes") < k, col("n_hashes"))
          .otherwise(expr(s"(${k - 1}L * 16777216) div cast(conv(substr(h_k, 1, 6), 16, 10) as bigint)"))
          .as("est_distinct"))
  }

  /** Pairwise distinct-set algebra over KMV sketches: for requested
    * group pairs (a, b), estimate |A ∪ B| and |A ∩ B| without touching
    * the raw data beyond the one sketch-building pass.
    *
    * Union: bottom-k of the merged hash sets (bottom-k of a union IS
    * the union sketch), same (k−1)·2²⁴ div h_(k) estimate as
    * [[kmvDistinct]], exact when the merged set holds < k hashes.
    * Intersection: the standard ρ-statistic — ρ = |{h ∈ bottom-k(A∪B) :
    * h ∈ A ∧ h ∈ B}|, est = ρ · est_union div k; exact when the union
    * sketch is unsaturated (then both sides are complete). Everything
    * after the per-group sketch pass is sketch-sized (groups · k rows).
    *
    * Output: (grp_a, grp_b, est_union, est_intersect), pair order as
    * requested, one row per pair. */
  def kmvSetOps(df: DataFrame, groupCol: String, valueCol: String, k: Int,
      pairs: Seq[(String, String)]): DataFrame = {
    require(k >= 2 && pairs.nonEmpty, "kmvSetOps needs k >= 2 and pairs")
    val spark = df.sparkSession
    import spark.implicits._
    val hashed = df.select(col(groupCol).cast("string").as("grp"),
        md5(col(valueCol).cast("string")).as("h"))
      .filter(col("h").isNotNull).distinct()
    val sk = hashed.withColumn("rnk", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("h"))))
      .filter(col("rnk") <= k).select(col("grp"), col("h"))
    val p = pairs.toDF("grp_a", "grp_b")
    val fromA = broadcast(p).join(sk.withColumnRenamed("grp", "grp_a"), "grp_a")
      .select(col("grp_a"), col("grp_b"), col("h"), lit(1).as("in_a"), lit(0).as("in_b"))
    val fromB = broadcast(p).join(sk.withColumnRenamed("grp", "grp_b"), "grp_b")
      .select(col("grp_a"), col("grp_b"), col("h"), lit(0).as("in_a"), lit(1).as("in_b"))
    val merged = fromA.unionByName(fromB)
      .groupBy(col("grp_a"), col("grp_b"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("grp_a"), col("grp_b")).orderBy(col("h"))))
      .filter(col("rnk") <= k)
    merged.groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_u"), max(col("h")).as("h_k"),
        sum(col("in_a") * col("in_b")).as("rho"))
      .select(col("grp_a"), col("grp_b"),
        when(col("n_u") < k, col("n_u"))
          .otherwise(expr(s"(${k - 1}L * 16777216) div cast(conv(substr(h_k, 1, 6), 16, 10) as bigint)"))
          .as("est_union"),
        when(col("n_u") < k, col("rho"))
          .otherwise(expr(s"rho * ((${k - 1}L * 16777216) div cast(conv(substr(h_k, 1, 6), 16, 10) as bigint)) div ${k}L"))
          .as("est_intersect"))
  }

  /** Row-j position of a value in a width-`w` count-min row: the top 24
    * bits of md5(j ":" v) mod w. Seeded by the row index, so the d rows
    * are independent hash functions; 24 bits keeps the arithmetic
    * replayable in any engine with hex decoding. */
  private def cmPos(j: Column, v: Column, w: Int): Column =
    expr("cast(conv(substr(md5(concat(j, ':', v)), 1, 6), 16, 10) as bigint)") % w

  /** Count-min sketch (Cormode & Muthukrishnan 2005) of a value stream:
    * a d×w counter matrix as a relation (j, pos, cnt). Each occurrence
    * increments one counter per row j at position hash_j(v) mod w.
    *
    * The sketch IS a partial aggregate: building it is a word-count on
    * (j, pos) — map-side combined, shuffle carries ≤ d·w rows per
    * partition regardless of stream size — and two sketches merge by
    * adding counters ((j,pos) union-sum), which is what makes it usable
    * as incremental state for a 100 TB stream. Estimates are
    * one-sided: est ≥ true count, overshooting by collision mass. */
  def countMinSketch(df: DataFrame, valueCol: String, d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 2, "count-min needs d >= 1, w >= 2")
    df.select(col(valueCol).cast("string").as("v"))
      .filter(col("v").isNotNull) // nulls carry no counter
      .select(explode(sequence(lit(0), lit(d - 1))).as("j"), col("v"))
      .select(col("j"), cmPos(col("j"), col("v"), w).as("pos"))
      .groupBy(col("j"), col("pos"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query the sketch for each probe value: est = min over the d
    * rows of the counter at (j, hash_j(v)) — absent counters read 0.
    * The probe list is query-sized and joins the ≤ d·w-row sketch on
    * (j, pos). Output: (v, est), probe order by value. */
  def countMinEstimate(sketch: DataFrame, probes: Seq[String], d: Int,
      w: Int): DataFrame = {
    require(probes.nonEmpty, "countMinEstimate needs probes")
    val spark = sketch.sparkSession
    import spark.implicits._
    val pp = probes.toDF("v")
      .select(col("v"), explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("v"), col("j"), cmPos(col("j"), col("v"), w).as("pos"))
    pp.join(sketch, Seq("j", "pos"), "left")
      .groupBy(col("v"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .orderBy(col("v"))
  }

  /** Bloom-prefiltered semi-join — the runtime-filter shape: build a
    * Bloom filter over the (small) key side with Spark's native
    * `BloomFilterAggregate` (the same expression AQE's injected runtime
    * filters use; it is not in the public function registry, so it is
    * constructed through the Expression↔Column bridge), broadcast the
    * one-row filter, and drop fact rows that cannot match BEFORE the
    * shuffle of the exact semi-join. False positives survive the
    * prefilter and are removed by the real join, so the result is
    * bit-identical to the plain semi-join — the bloom pass only cuts
    * shuffled volume (at 100 TB the fact scan discards non-matching
    * rows at the map side instead of shuffling them).
    *
    * The one-row filter broadcast is a deliberate BNLJ (tiny side). */
  def bloomSemiJoin(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, expectedItems: Long = 1000000L,
      numBits: Long = 8L * 1024 * 1024): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bfAgg = GraftBridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(GraftBridge.expression(dim(dimKey)))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bf = dim.agg(bfAgg.as("__bf"))
    // might_contain requires a constant/scalar-subquery filter side: the
    // one-row aggregate goes in as a scalar subquery (executed once,
    // result inlined into the fact-side predicate — no join in the plan)
    val pre = fact.where(GraftBridge.column(BloomFilterMightContain(
      ScalarSubquery(bf.queryExecution.analyzed),
      new XxHash64(Seq(GraftBridge.expression(fact(factKey)))))))
    val keys = dim.select(col(dimKey).as("__bk")).distinct()
    pre.join(keys, pre(factKey) === col("__bk"), "left_semi")
  }

  /** Bloom-prefiltered ANTI-join — the decontamination shape: drop fact
    * rows whose key appears in the (small) blocklist side. The bloom
    * filter canNOT prefilter the anti side (a false positive would drop
    * a legitimate row), so it runs inverted: rows the filter rejects
    * are DEFINITELY clean and bypass the exact join; only
    * might-contain rows shuffle into the exact anti-join, then the two
    * streams union. Result is bit-identical to the plain anti-join.
    *
    * Single-scan: the hit bit is annotated ONCE and the annotated rows
    * localCheckpoint'd, so the corpus scan and the (often expensive —
    * q138 hashes a whole-document fingerprint) key computation run
    * exactly once; the clean majority then reads back locally from the
    * block manager and never shuffles, while the bloom-hit sliver alone
    * enters the exact anti-join. Callers should prune fact to the
    * columns they need BEFORE calling so the materialized width stays
    * narrow at 100 TB. (A streaming fact can't checkpoint — it falls
    * back to the two-filter shape, where the per-micro-batch double
    * scan is over in-memory batches anyway.) */
  def bloomAntiJoin(fact: DataFrame, factKey: String, block: DataFrame,
      blockKey: String, expectedItems: Long = 1000000L,
      numBits: Long = 8L * 1024 * 1024): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // the blocklist feeds BOTH the bloom build and the exact join's key
    // side — distinct + checkpoint it once so the (possibly expensive)
    // block subtree is scanned exactly once too
    val keys0 = block.select(col(blockKey).as("__bk")).distinct()
    val keys = if (block.isStreaming) keys0 else keys0.localCheckpoint()
    val bfAgg = GraftBridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(GraftBridge.expression(keys("__bk")))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bf = keys.agg(bfAgg.as("__bf"))
    val hit = GraftBridge.column(BloomFilterMightContain(
      ScalarSubquery(bf.queryExecution.analyzed),
      new XxHash64(Seq(GraftBridge.expression(fact(factKey))))))
    if (fact.isStreaming) {
      val clean = fact.where(!hit)
      val suspect = fact.where(hit)
      clean.unionByName(
        suspect.join(keys, suspect(factKey) === col("__bk"), "left_anti"))
    } else {
      val annotated = fact.withColumn("__bloom_hit", hit).localCheckpoint()
      val clean = annotated.filter(!col("__bloom_hit")).drop("__bloom_hit")
      val suspect = annotated.filter(col("__bloom_hit")).drop("__bloom_hit")
      clean.unionByName(
        suspect.join(keys, suspect(factKey) === col("__bk"), "left_anti"))
    }
  }
}
