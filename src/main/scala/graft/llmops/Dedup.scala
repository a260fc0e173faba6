package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket
  * join), SimHash, and n-gram Jaccard verification.
  *
  * Design for 100 TB: everything is shuffle-by-key — no pairwise O(n²)
  * stage ever materializes. LSH banding turns near-dup detection into
  * `explode(bands) → groupBy(band) → within-bucket self-join`, so cost is
  * driven by bucket sizes (tunable via bands×rows) rather than corpus
  * size². Hashes are md5-based so results are portable across engines
  * (and deterministic across runs/executors — no Random).
  */
object Dedup {

  /** Distinct character k-gram shingles of a text column (native
    * expression: one pass, O(len·k) vs O(len²) for the substr-per-position
    * composition). */
  def charShingles(text: Column, k: Int): Column =
    graft.exprs.CharShinglesExpr.column(text, k, distinct = true)

  /** Label the Spark jobs a blocking step submits (guide §1.5) — the
    * multi-action operators here (jaccardJoinExact) are unreadable in
    * job-level profiles without it. Thread-local, restored after. */
  private def labeled[A](df: DataFrame, d: String)(f: => A): A = {
    val sc = df.sparkSession.sparkContext
    sc.setJobDescription(d)
    try f finally sc.setJobDescription(null)
  }

  /** Portable MinHash signature (the md5-rotation scheme of
    * [[graft.exprs.MinhashSigExpr]], ≤4 independent seeds): a single
    * projection, no explode/shuffle. Output: (id, m0..m{n-1}). */
  def minhashSigNative(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int): DataFrame = {
    val sig = graft.exprs.MinhashSigExpr.column(col(textCol), shingleK, numHashes)
    // two selects so the one-pass expression evaluates once per row
    // (CollapseProject keeps multi-referenced non-cheap aliases)
    df.select(col(idCol).as("id"), sig.as("_sig"))
      .select((col("id") +:
        (0 until numHashes).map(i => element_at(col("_sig"), i + 1).as(s"m$i"))): _*)
  }

  /** Exact dedup: keep the smallest id per key (hash-groupBy; map-side
    * combine makes this a single shuffle of (key → min id)).
    * Output: (dedupe_key, <idCol> = keeper, n_copies). */
  def exactDedupKeep(df: DataFrame, idCol: String, keyExpr: Column): DataFrame =
    df.withColumn("dedupe_key", keyExpr)
      .groupBy(col("dedupe_key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Token-set fingerprint (order-insensitive content hash): md5 of the
    * sorted distinct whitespace tokens. Collapses word-reordered near-dups. */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(split(text, " "))), " "))

  /** SimHash (bitwise majority of token hashes). Bit b < 32 reads md5
    * hex nibble b; bits 32-63 read nibble b-32 of the '#'-salted second
    * digest (the standard 64-bit width of Manku et al., WWW'07). Bit b is
    * set when the count of tokens whose nibble is odd exceeds half.
    * Hamming-close simhashes ⇒ similar docs. */
  def simhash(text: Column, bits: Int = 16): Column = {
    val tokens = split(text, " ")
    val oddHex = scala.Seq("1", "3", "5", "7", "9", "b", "d", "f").map(lit(_))
    val bitCols = (0 until bits).map { b =>
      // bits 32-63 (standard 64-bit SimHash) read the '#'-salted second
      // digest — same scheme as the native SimhashExpr and the oracle
      val tokHash = (tok: Column) =>
        if (b < 32) substring(md5(tok), b + 1, 1)
        else substring(md5(concat(tok, lit("#"))), b - 31, 1)
      val balance = aggregate(tokens, lit(0L), (acc, tok) =>
        acc + when(tokHash(tok).isin(oddHex: _*), 1L).otherwise(-1L))
      when(balance > 0, lit(1L) * (1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** SimHash as a TABLE: native one-pass expression — a pure projection
    * (one md5 per token, all bit balances in the same loop; the exploded
    * token relation and its shuffle no longer exist). Same bit scheme as
    * the DuckDB oracle. Output: (id, simhash). */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 16): DataFrame =
    df.select(col(idCol).as("id"),
      graft.exprs.SimhashExpr.column(col(textCol), bits).as("simhash"))

  /** SimHash near-dup pairs at scale: band the simhash into
    * `bands` equal bit-slices, bucket-join on (band, slice) — any pair
    * within Hamming distance < bands shares at least one identical band
    * by pigeonhole — then verify exact Hamming ≤ maxHamming via
    * bit_count(xor). Candidates are O(n · bucket-collision), never
    * O(n²); the dropDuplicates absorbs multi-band collisions. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(bits % bands == 0, "simhashPairs: bands must divide bits")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    // NOT materialized (r12, measured): a localCheckpoint here was tried
    // to collapse the two self-join sides onto one simhash pass, and the
    // isolated ScaleProbe read it as a pure LOSS once the byte-slice
    // kernel landed — 64×: 7.11 s (r11 code) / 5.63 s (kernel, lazy) /
    // 10.61 s (kernel + checkpoint): the banded exchange is written once
    // and read by both sides either way, so the checkpoint bought no
    // pass and added a blocking materialization barrier.
    val sh = simhashTable(df, idCol, textCol, bits)
    val banded = sh.select(col("id"), col("simhash"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("b"),
            shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask)).as("bv"))
        }: _*)).as("band"))
      .select(col("id"), col("simhash"), col("band.b"), col("band.bv"))
    val left = banded.select(col("id").as("id_a"), col("simhash").as("sa"),
      col("b"), col("bv"))
    val right = banded.select(col("id").as("id_b"), col("simhash").as("sb"),
      col("b"), col("bv"))
    // Hamming verify BEFORE the pair-dedup shuffle: bit_count(xor) is a
    // two-instruction codegen'd filter, so the exchange behind
    // dropDuplicates carries only true near-dup pairs (46k at sf0.1)
    // instead of every bucket collision (2.0M) — a 24× shuffle cut.
    left.join(right, scala.Seq("b", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact Jaccard on two distinct-element arrays (verification stage). */
  def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b)).cast(DoubleType)
    i / (size(a) + size(b) - i)
  }

  /** Prefilter cutoff on the n-hash signature-agreement estimate: 5σ
    * below the verify threshold's binomial mean, so a true pair at
    * exactly jac = t survives with P(miss) ≈ 3e-6 (n = 128, t = 0.9) —
    * under the LSH bucketing's own ~3e-5 miss floor — while everything
    * the margin can safely exclude never reaches the array-shipping
    * verify join. At n = 24, t = 0.9 this reproduces the old flat
    * (t − 0.3)·n = 14 cutoff exactly; unlike the flat margin it stays
    * safe at every (n, t). */
  private def estCutoff(numHashes: Int, threshold: Double): Int =
    math.max(0, math.floor(numHashes * threshold -
      5 * math.sqrt(numHashes * threshold * (1 - threshold))).toInt)

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Stages (each a narrow shuffle, no O(n²)):
    *   1. per-doc shingles + signature (projection)
    *   2. explode band keys → self-join per bucket → candidate pairs
    *   3. verify candidates with exact Jaccard ≥ threshold
    *
    * Returns (id_a, id_b, jac) with id_a < id_b, distinct.
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5,
      // 128 hashes, not 24 (r8): the signature is the ESTIMATE the
      // prefilter below cuts on, and its binomial sd at n=24 is so wide
      // (±0.10 at p=0.9) that a safe cutoff sits 0.32 below the verify
      // threshold — on a near-dup-dense corpus that admitted 13.45M
      // candidates for 4k true pairs at probe 16×, and the verify join
      // ships ~5 KB of shingle arrays per candidate (90 GB). At n=128
      // the same 5σ safety margin is 0.13, the cutoff moves to 0.77,
      // and the candidate mass drops ~11×. The extra kernel cost is one
      // in-pass O(len·n) projection — measured seconds against the
      // verify's minutes; band keys use the first 24 elements either
      // way, so bucketing (and its 3e-5 miss floor) is unchanged.
      numHashes: Int = 128, bands: Int = 8,
      rowsPerBand: Int = 3, // P(miss | jac=.9) = (1-.9³)⁸ ≈ 3e-5; noisy-
                            // corpus candidate mass shrinks ~4× vs r=2
      threshold: Double = 0.9,
      maxBucket: Int = 1024): DataFrame = {
    require(bands * rowsPerBand <= numHashes,
      s"minhashPairs: bands*rowsPerBand (${bands * rowsPerBand}) exceeds numHashes ($numHashes)")
    // Stage 1 — signature ARRAY via the native one-pass expression: a
    // pure projection (the exploded |text|·rows shingle relation never
    // exists, no shuffle). First bands×r elements drive bucketing; ALL
    // numHashes ride along to drive the estimate prefilter INSIDE the
    // bucket join (stage 3) — carrying the 24 longs through the bucket
    // shuffle (~bands·numHashes·8 B/doc, ≪ the text itself) means the
    // O(len·numHashes) signature kernel is evaluated in exactly ONE
    // plan site; the old shape re-joined the signature table onto the
    // candidates from two more scans, so the lazy kernel ran 3-4× over
    // the corpus (the probe corpus measured 27 s vs 9 s for this shape
    // at 1×). The bucket self-join's two identical sides share one
    // exchange (ReusedExchange), so "one plan site" is one real pass.
    val sigArr = graft.exprs.XxMinhashSigExpr
      .column(col(textCol), shingleK, numHashes)
    // two selects so the `_sig` alias (referenced per band) stops
    // CollapseProject from inlining + re-evaluating the kernel
    val sig = df.select(col(idCol).as("id"), sigArr.as("_sig"))
    val bandKey = (b: Int) => xxhash64(
      lit(b) +: (0 until rowsPerBand).map(r =>
        element_at(col("_sig"), b * rowsPerBand + r + 1)): _*)
    // Exchange sizing, ONE gated scan for two decisions (r9 advisor
    // discipline: small inputs and never-executed plans pay nothing).
    // The sizing scan (avg text length × row count) is an EXTRA pass
    // over the text column, paid at plan-construction time — gate it
    // behind Catalyst's free size estimate: shingle-hash build rows
    // are ≲ 8 B/char ≈ 8× the raw text, and parquet compresses text
    // ≲ 4×, so when 32× the estimated input bytes can't reach the
    // widening cap the scan would only confirm both sizes ≤
    // defaultParts — skip it.
    val defaultParts =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val capBytes = (64L << 20) * defaultParts.toLong
    val estInput = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val (hashParts, bucketParts) =
      if (estInput * 32 < capBytes) (defaultParts, defaultParts)
      else {
        val avgLenRow = df.agg(avg(length(col(textCol))), count(lit(1))).head()
        val avgLen = if (avgLenRow.isNullAt(0)) 0.0 else avgLenRow.getDouble(0)
        val nDocs = avgLenRow.getLong(1)
        // verify build side: sorted shingle hashes, ~8 B per text char
        val buildBytes = (nDocs * (avgLen * 8 + 32)).toLong
        // bucket exchange: bands rows per doc, each carrying the full
        // numHashes-long signature (the prefilter's input) — the r9 256×
        // attribution measured its window+SMJ sort spilling 16 GB at the
        // default 32 partitions (290 MB compressed per task, ~0.7 GB in
        // the sort); sizing the exchange from the EXACT row count keeps
        // every per-task sort in memory
        val bucketBytes = nDocs * bands.toLong * (numHashes * 8L + 56L)
        (math.min(4096L, buildBytes / (64L << 20) + 1L).toInt,
          math.min(4096L, bucketBytes / (64L << 20) + 1L).toInt)
      }
    val buckets0 = sig.select(col("id"), col("_sig").as("sig"),
      explode(array((0 until bands).map(bandKey): _*)).as("bucket"))
    // pre-partition on the bucket key: the hot-bucket window AND the
    // SMJ both cluster on it, so both reuse this single exchange
    val buckets =
      if (bucketParts > defaultParts)
        buckets0.repartition(bucketParts, col("bucket"))
      else buckets0
    // Stage 2 — HOT-BUCKET guard: on templated corpora (boilerplate-
    // heavy web text — and the probe corpus) a few corpus-common
    // shingles minimize several hash seeds for most documents, so some
    // band buckets hold THOUSANDS of members and the self-join goes
    // quadratic in the hot-bucket size (the 16× scale probe measured
    // 36M candidates for 1k true pairs). A bucket past `maxBucket` has
    // ~zero discriminative power; a true pair at jac ≥ 0.9 matches each
    // band w.p. ≈ 0.73, so with 8 bands losing its hottest bands still
    // finds it through the rest (P[miss | 2 hot bands] ≈ 0.27⁶ ≈ 4e-4).
    // The guard never fires at gate scale (hottest sf0.1 bucket ≈
    // 0.7k). The count is EXACT and fully distributed: a count(*)
    // window partitioned by bucket rides the very exchange the join
    // needs anyway — no doc sample, no extra kernel pass, no driver
    // collect (the old sampled guard cost a 10%-corpus signature pass
    // and a collected key list).
    val perBucket = Window.partitionBy(col("bucket"))
    val cool = buckets
      .withColumn("_n", count(lit(1)).over(perBucket))
      .filter(col("_n") <= lit(maxBucket)).drop("_n")
    // Stage 3 — candidate pairs with the estimate prefilter applied
    // INSIDE the join: signature agreement ≈ Jaccard kills the low-
    // similarity candidate mass (median pair-jac of a noisy corpus
    // floods r=2 buckets) before the dedup shuffle or any array work.
    // Cutoff 5σ below the verify threshold's binomial mean (estCutoff)
    // so true pairs can't be lost. Two deliberate physical choices:
    // (a) the estimate is the native SigAgreeExpr loop — NOT
    //     aggregate(zip_with(...)) (CodegenFallback: one interpreted
    //     lambda per in-bucket pair) and NOT a sum of numHashes
    //     when(element_at…) terms (at n=128 the generated method blows
    //     past codegen size limits and the whole stage interprets: the
    //     r8 probe measured 355 s for that sum over 41.7M pairs — the
    //     entire operator wall — vs seconds for the loop);
    // (b) SHUFFLE_MERGE pins a sort-merge join so the two identical
    //     windowed sides share ONE exchange (ReusedExchange) and the
    //     signature kernel runs once over the corpus — the planner's
    //     default BroadcastHashJoin builds the right side from its own
    //     scan, doubling the kernel.
    val estMatches =
      graft.exprs.SigAgreeExpr.column(col("x.sig"), col("y.sig"))
    val pre = cool.as("x").hint("SHUFFLE_MERGE")
      .join(cool.as("y").hint("SHUFFLE_MERGE"), "bucket")
      .filter(col("x.id") < col("y.id") &&
        estMatches >= lit(estCutoff(numHashes, threshold)))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Stage 4 — exact-Jaccard verification on the survivors only. The
    // shingle relation feeds both join sides as a lazy O(len) projection
    // (one streamed pass per side): materializing an O(corpus*len)
    // shingle table in the block manager would cost far more than the
    // second pass at any scale where it matters. Shingles are encoded
    // once per DOC as sorted xxhash64 longs so the per-PAIR work is a
    // branch-light sorted-long merge-intersect (same shape as the
    // PPJoin verify) instead of string-array array_intersect — on a
    // dense candidate mass (templated corpora: 500k survivors at probe
    // 1×) the string form cost 54 s vs ~2 s for the merge. |A∩B| over
    // 64-bit shingle hashes equals the string-set intersection absent
    // hash collisions (P ≈ |sh|²/2⁶⁴ ≈ 1e-12 per pair), so the jac
    // value — and the gate hash — is unchanged.
    val sh = df.select(col(idCol).as("id"),
      array_sort(transform(charShingles(col(textCol), shingleK),
        s => xxhash64(s))).as("shingles"))
    val a = sh.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    val inter = graft.exprs.SortedIntersectExpr
      .column(col("sh_a"), col("sh_b")).cast(DoubleType)
    // HASH joins, not sort-merge, for the verify: each join's output
    // carries a sorted-shingle array (~8 B per text char) PER CANDIDATE,
    // and on a near-duplicate-dense corpus (10³ candidates per true
    // pair) sort-merge SORTS that pair×array relation — the r8 probe
    // measured ~80 GB of sort spill at 16× for zero benefit. With
    // SHUFFLE_HASH the per-DOC side (corpus-linear, ~2.4 KB/doc) builds
    // the hash map and the pair side only STREAMS — nothing
    // candidate-proportional is ever sorted or held in memory. (Auto-
    // broadcast used to hide all of this at small scale by broadcasting
    // the candidate relation — corpus-proportional, impossible at
    // 100 TB.) The build side must fit memory PER PARTITION, so when the
    // doc relation outgrows ~64 MB × default partitions the pair side is
    // pre-partitioned wider and the build side follows (jaccard's
    // measured-sizing discipline, applied to the build relation).
    def widen(pairs: DataFrame, key: String): DataFrame =
      if (hashParts > defaultParts) pairs.repartition(hashParts, col(key))
      else pairs
    widen(widen(pre, "id_a").join(a.hint("SHUFFLE_HASH"), "id_a"), "id_b")
      .join(b.hint("SHUFFLE_HASH"), "id_b")
      .select(col("id_a"), col("id_b"),
        (inter / (size(col("sh_a")) + size(col("sh_b")) - inter)).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** MinHash signature table (id, m0..m{n-1}) — two selects so the `_sig`
    * alias (referenced numHashes times) stops CollapseProject from
    * inlining and re-evaluating the one-pass signature expression. */
  private def sigTable(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int): DataFrame = {
    val sigArr = graft.exprs.XxMinhashSigExpr.column(col(textCol), shingleK, numHashes)
    df.select(col(idCol).as("id"), sigArr.as("_sig"))
      .select((col("id") +:
        (0 until numHashes).map(i => element_at(col("_sig"), i + 1).as(s"m$i"))): _*)
  }

  /** Exploded LSH band keys (id, bucket) for a signature table. */
  private def sigBuckets(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandKey = (b: Int) => xxhash64(
      lit(b) +: (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
    sig.select(col("id"),
      explode(array((0 until bands).map(bandKey): _*)).as("bucket"))
  }

  /** Incremental near-duplicate scrub — the daily-ingest shape: which NEW
    * documents near-duplicate an EXISTING corpus. Same four-stage LSH
    * plan as [[minhashPairs]] but the bucket join is new×corpus only —
    * today's batch (small) never self-joins and the corpus (huge) is
    * touched by exactly one scan + one shuffle keyed on band buckets; at
    * deploy scale the corpus signature/bucket table is precomputed once
    * and reused across batches. Returns (new_id, corpus_id, jac). */
  /** The persistable MinHash index of a corpus: (id, m0..m{n-1}) — a few
    * longs per document, ~1000× smaller than the text. Write it to
    * parquet once per corpus version; every subsequent ingest batch
    * passes it to [[incrementalNearDupWithIndex]] and never re-runs the
    * signature expression over the old corpus. */
  def minhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 24): DataFrame = {
    val sig = sigTable(corpus, idCol, textCol, shingleK, numHashes)
    // Version-stamp the index (column metadata on `id` — persisted in
    // the parquet footer's Spark schema and restored on read): the
    // signature algorithm is part of the on-disk contract, and a stale
    // index joined against new-batch signatures yields near-zero band
    // collisions — every near-duplicate silently missed. The stamp makes
    // that a loud error instead (checked in incrementalNearDupWithIndex).
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(IndexVersionKey, indexVersionTag(shingleK, numHashes))
      .build()
    sig.select((col("id").as("id", md) +:
      (0 until numHashes).map(i => col(s"m$i"))): _*)
  }

  /** Metadata key carrying the minhash-index version stamp. */
  val IndexVersionKey = "graft.minhash.index_version"

  /** Algorithm+params tag for the persistable minhash index. The
    * algorithm component MUST change whenever [[graft.exprs.XxMinhashSigExpr]]
    * changes its hash family (r8 moved per-seed xxhash64 → one-hash +
    * splitmix64 seed mixing, which changed every signature value — any
    * index persisted before that is silently incompatible). */
  def indexVersionTag(shingleK: Int, numHashes: Int): String =
    s"xx64-splitmix64-v2;k=$shingleK;n=$numHashes"

  def incrementalNearDup(newDf: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 24, bands: Int = 8,
      rowsPerBand: Int = 3, threshold: Double = 0.9): DataFrame =
    incrementalNearDupWithIndex(newDf, corpus,
      minhashIndex(corpus, idCol, textCol, shingleK, numHashes),
      idCol, textCol, shingleK, numHashes, bands, rowsPerBand, threshold)

  /** [[incrementalNearDup]] against a precomputed corpus index (see
    * [[minhashIndex]]); the corpus TEXT is only touched by the final
    * exact-verify join on surviving candidates. */
  def incrementalNearDupWithIndex(newDf: DataFrame, corpus: DataFrame,
      corpusIndex: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 24, bands: Int = 8,
      rowsPerBand: Int = 3, threshold: Double = 0.9): DataFrame = {
    require(bands * rowsPerBand <= numHashes,
      s"incrementalNearDup: bands*rowsPerBand exceeds numHashes ($numHashes)")
    // Refuse a stale/foreign index LOUDLY: signatures from a different
    // hash family or different (k, n) never collide with this batch's,
    // so every near-duplicate would be silently missed.
    val expect = indexVersionTag(shingleK, numHashes)
    val idField = corpusIndex.schema.fields.find(_.name == "id").getOrElse(
      throw new IllegalArgumentException(
        "incrementalNearDupWithIndex: corpus index has no `id` column — " +
        "build it with Dedup.minhashIndex"))
    val got = if (idField.metadata.contains(IndexVersionKey))
      Some(idField.metadata.getString(IndexVersionKey)) else None
    require(got.contains(expect),
      s"incrementalNearDupWithIndex: corpus index version ${got.getOrElse(
        "<unversioned — built before the r9 version stamp, or not by " +
        "Dedup.minhashIndex>")} does not match this build's $expect; " +
      "rebuild the index with Dedup.minhashIndex (a mismatched index " +
      "yields near-zero band collisions and silently misses every " +
      "near-duplicate)")
    val nSig = sigTable(newDf, idCol, textCol, shingleK, numHashes)
    val cSig = corpusIndex
    val cand = sigBuckets(nSig, bands, rowsPerBand).toDF("new_id", "bucket")
      .join(sigBuckets(cSig, bands, rowsPerBand).toDF("corpus_id", "bucket"), "bucket")
      .select(col("new_id"), col("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
    val sa = nSig.toDF("new_id" +: (0 until numHashes).map(i => s"a$i"): _*)
    val sb = cSig.toDF("corpus_id" +: (0 until numHashes).map(i => s"b$i"): _*)
    val estMatches = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val pre = cand.join(sa, "new_id").join(sb, "corpus_id")
      .filter(estMatches >= lit(estCutoff(numHashes, threshold)))
      .select(col("new_id"), col("corpus_id"))
    val shN = newDf.select(col(idCol).as("new_id"),
      charShingles(col(textCol), shingleK).as("sh_a"))
    val shC = corpus.select(col(idCol).as("corpus_id"),
      charShingles(col(textCol), shingleK).as("sh_b"))
    pre.join(shN, "new_id").join(shC, "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs — the semantic flavor of
    * near-dup detection: candidate pairs from a sign-LSH bucketed
    * SELF-join (multi-probe), verified with exact cosine ≥ threshold.
    * Never O(n²): candidates are O(n · bucket-collision-rate).
    *
    * Pair uniqueness without a dedup shuffle: the left side explodes the
    * probe Hamming ball, the right side keeps its single home bucket,
    * and `id_a < id_b` keeps one orientation — for a pair of buckets
    * exactly one XOR mask connects them, so each surviving pair joins
    * exactly once. Returns (id_a, id_b, sim), deterministic. */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      lsh: Similarity.SignLsh, probes: Int = 1,
      threshold: Double = 0.9): DataFrame = {
    val base = lsh.bucket(col(vecCol))
    val probeBuckets =
      array(lsh.probeMasks(probes).map(m => base.bitwiseXOR(lit(m))): _*)
    val left = df.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      explode(probeBuckets).as("b"))
    val right = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      base.as("b"))
    left.join(right, "b")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  // --------------------------------------------- benchmark contamination

  /** Let-binding for Column lambdas: evaluate `arr` exactly ONCE and pass
    * the result to `f` as a lambda variable. A non-trivial expression
    * referenced inside a higher-order-function lambda is re-evaluated per
    * element (no CSE across lambda scopes) — with arr = split(text) that
    * turns O(n) transforms into O(n²) per row (measured 3-6× on q49/q57
    * at sf0.1). */
  private[llmops] def bindArray(arr: Column, f: Column => Column): Column =
    element_at(transform(array(arr), f), 1)

  /** Distinct word n-grams ("a b c ..." strings). Empty array below n
    * tokens.
    *
    * r12: ONE native pass ([[graft.exprs.WordNgramsExpr]]) — the previous
    * composable form (split + transform/slice/array_join + array_distinct)
    * allocated a sliced array and a joined string per position through
    * interpreted HOF dispatch, the dominant per-row cost of
    * q127_containment / q49_contamination / q90_substring_contamination.
    * Bit-identical semantics pinned in TextNgramSpec. */
  def wordNgrams(text: Column, n: Int): Column =
    graft.exprs.WordNgramsExpr.column(text, n)

  /** Benchmark-contamination detection: which evaluation documents leak
    * into the training corpus (the train/test overlap scrub every serious
    * pretraining pipeline runs before shipping a model). Distinct word
    * n-grams per doc, equi-join on the n-gram (shuffle keyed by n-gram —
    * never |train|×|eval|), per-pair overlap count, containment =
    * overlap / |eval n-grams|. At deploy scale, join on xxhash64(ngram)
    * to cut shuffle bytes (string keys kept here for engine-portable
    * verification).
    *
    * Output: (train_id, eval_id, overlap, containment ≥ minContainment).
    */
  def contaminationPairs(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 5,
      minContainment: Double = 0.5): DataFrame = {
    val tg = train.select(col(idCol).as("train_id"),
      explode(wordNgrams(col(textCol), n)).as("g"))
    val eng = eval.select(col(idCol).as("eval_id"),
      wordNgrams(col(textCol), n).as("gs"))
    val eg = eng.select(col("eval_id"), explode(col("gs")).as("g"))
    val esz = eng.select(col("eval_id"), size(col("gs")).cast(LongType).as("en"))
    tg.join(eg, "g")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("overlap"))
      .join(esz, "eval_id")
      .select(col("train_id"), col("eval_id"), col("overlap"),
        (col("overlap").cast(DoubleType) / col("en").cast(DoubleType))
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Asymmetric within-corpus containment pairs — the quote/subset
    * detector Jaccard misses: a short doc pasted inside a long one has
    * tiny Jaccard (union is big) but containment ≈ 1 on the short side.
    *
    *   contain_bp(a ⊆ b) = |ngrams(a) ∩ ngrams(b)| · 10000 div |ngrams(a)|
    *
    * Candidates come from the n-gram equi-join itself (any pair at
    * threshold ≥ 1/|A| shares an n-gram, so recall is exact by
    * construction — no sketch involved); the overlap count IS the
    * aggregation of that join, so the shuffle is keyed by n-gram and
    * sized O(matching occurrences), never |corpus|². `maxDf` caps
    * boilerplate n-gram floods at deploy scale (a cap shared by both
    * sides keeps the measure symmetric-ish but makes recall
    * approximate — the gate query runs uncapped).
    *
    * Output: ordered pairs (id_a, id_b, overlap, contain_bp) with
    * contain_bp ≥ minContainBp, a ≠ b. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minContainBp: Long = 8000L,
      maxDf: Option[Int] = None): DataFrame = {
    val ng = df.select(col(idCol).cast(LongType).as("id"),
      wordNgrams(col(textCol), n).as("gs"))
    val sz = ng.select(col("id").as("id_a"), size(col("gs")).cast(LongType).as("na"))
    val g0 = ng.select(col("id"), explode(col("gs")).as("g"))
    val g = maxDf match {
      case Some(m) =>
        g0.join(g0.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= m).drop("df"), "g")
      case None => g0
    }
    g.select(col("id").as("id_a"), col("g"))
      .join(g.select(col("id").as("id_b"), col("g")), "g")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("overlap"))
      .join(sz, "id_a")
      .filter(col("na") > 0)
      .select(col("id_a"), col("id_b"), col("overlap"),
        expr("overlap * 10000 div na").as("contain_bp"))
      .filter(col("contain_bp") >= minContainBp)
  }

  /** Ensemble near-dup dedup — the production pattern of running SEVERAL
    * detectors and collapsing the union of their verdicts: exact
    * duplicates (md5 of the raw text), MinHash+LSH Jaccard pairs, and
    * SimHash banded Hamming pairs all contribute edges; connected
    * components over the union produce one cluster label per document
    * (min id keeps). Each detector catches what the others miss — exact
    * is free, MinHash catches shingle-level rewrites, SimHash catches
    * token-frequency near-dups.
    *
    * Scale: each edge source is the already-bucketed shape of its gate
    * query (never O(n²)); the union is edge-count-sized, and
    * [[Graph.dedupClusters]] runs the alternating-star CC with the
    * bounded driver finish.
    *
    * `withMinhash = false` drops the MinHash detector (its pair set is
    * independently verified by its own gate; the gate form of THIS
    * operator excludes it because a brute-force Jaccard oracle combined
    * with the transitive closure in one query exceeds single-node spill
    * budgets — at deploy scale keep it on).
    *
    * Output: (id, cluster_id, keep) for every document. */
  def ensembleDedup(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, jaccardThreshold: Double = 0.9,
      simhashBits: Int = 32, simhashBands: Int = 4,
      maxHamming: Int = 3, withMinhash: Boolean = true): DataFrame = {
    // The ensemble consumes its input 4-5× (two key projections, simhash,
    // optional minhash, final labeling) — materialize the two needed
    // columns once so the scan pipeline isn't re-run per branch. The
    // same move is right at deploy scale: this is the op whose input
    // fan-out is structural, not incidental.
    val src = df.select(col(idCol), col(textCol)).localCheckpoint(false)
    def keyedPairs(key: Column): DataFrame = {
      val keyed = src.select(col(idCol).as("_id"), key.as("_k"))
      val reps = keyed.groupBy(col("_k")).agg(min(col("_id")).as("_rep"))
      keyed.join(reps, "_k").filter(col("_id") =!= col("_rep"))
        .select(col("_rep").as("id_a"), col("_id").as("id_b"))
    }
    // exact copies + word-reordered copies (order-insensitive token set)
    val exact = keyedPairs(md5(col(textCol)))
    val reordered = keyedPairs(fingerprint(col(textCol)))
    val sh = simhashPairs(src, idCol, textCol, bits = simhashBits,
      bands = simhashBands, maxHamming = maxHamming)
      .select(col("id_a"), col("id_b"))
    val base = exact.unionByName(reordered).unionByName(sh)
    val edges =
      if (!withMinhash) base
      else base.unionByName(
        minhashPairs(src, idCol, textCol, shingleK = shingleK,
          threshold = jaccardThreshold).select(col("id_a"), col("id_b")))
    Graph.dedupClusters(src, idCol, edges, "id_a", "id_b")
  }

  /** Exact-substring decontamination: eval passages appearing VERBATIM
    * inside train documents (the strictest leak check — n-gram
    * containment flags paraphrases, this flags copies). Candidates come
    * from a winnowing-fingerprint equi-join, confirmed by an exact
    * `instr` test on the candidate pairs only.
    *
    * Recall is guaranteed, not probabilistic: winnowing (SIGMOD'03 §3)
    * promises that any shared substring of at least w+k-1 characters
    * shares at least one selected fingerprint, so with `minShared = 1`
    * every true containment of a passage that long is a candidate — the
    * exact verify then makes precision 1. An external oracle can
    * therefore brute-force the same answer independently of the
    * candidate machinery.
    *
    * Scale: fingerprint projections + hash equi-join (never
    * |train|×|eval|); full texts travel only to verify candidate pairs.
    * `maxDf` (0 = off) drops fingerprints present in more than that many
    * train docs — the boilerplate hot-key guard; enabling it trades the
    * recall guarantee for bounded bucket fan-out, the right trade at
    * 100 TB, the wrong one under an exact oracle.
    *
    * Output: (train_id, eval_id) confirmed containments. */
  def substringContamination(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, k: Int = 5, w: Int = 4,
      minShared: Int = 1, maxDf: Int = 0): DataFrame = {
    val tf = train.select(col(idCol).as("train_id"), col(textCol).as("_ttext"))
    val ef = eval.select(col(idCol).as("eval_id"), col(textCol).as("_etext"))
    val tfp0 = tf.select(col("train_id"),
      explode(graft.exprs.WinnowExpr.column(col("_ttext"), k, w)).as("h"))
    val tfp =
      if (maxDf <= 0) tfp0
      else {
        val rare = tfp0.groupBy(col("h")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= maxDf).select(col("h"))
        tfp0.join(rare, "h")
      }
    val efp = ef.select(col("eval_id"),
      explode(graft.exprs.WinnowExpr.column(col("_etext"), k, w)).as("h"))
    val cand = tfp.join(efp, "h")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minShared)
    cand.join(tf, "train_id").join(ef, "eval_id")
      .filter(instr(col("_ttext"), col("_etext")) > 0)
      .select(col("train_id"), col("eval_id"))
  }

  /** Cross-document shared-passage detection (the MOSS shape, SIGMOD'03
    * §4): docs sharing ≥ `minShared` winnowing fingerprints copied a
    * passage from each other — catching partial/embedded duplication the
    * whole-doc detectors miss.
    *
    * Scale: word-count-shaped. Fingerprints equi-join on the hash (never
    * |docs|²), and fingerprints present in more than `maxDf` documents
    * are dropped FIRST (boilerplate n-grams are the skewed keys — the
    * same reason MOSS ignores over-common fingerprints; threshold is the
    * knob between recall and hot-key flood). Output: (id_a, id_b,
    * shared) with id_a < id_b, distinct-fingerprint counts. */
  def sharedPassagePairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2,
      maxDf: Int = 1000): DataFrame = {
    // materialized once: the (id, h) relation feeds the df-cap AND both
    // self-join branches — lazily composed it would run the winnowing
    // expression three times over the corpus
    val fp = df.select(col(idCol).as("id"),
        explode(graft.exprs.WinnowExpr.column(col(textCol), k, w)).as("h"))
      .localCheckpoint()
    // Exchange sizing from the fingerprint histogram, ONE cheap job over
    // the checkpointed fp (r10: the 256× attribution measured the h-join
    // stage — three SMJ sorts over the fp relation at the default 32
    // partitions — spilling 10 GB accounting / 1.1 GB disk):
    //  * total fp rows size the h exchange (every sort in the join stage
    //    is fp-proportional);
    //  * Σ_h df_h·(df_h−1)/2 over kept fingerprints is EXACT for the
    //    id_a<id_b self-join output and sizes the pair aggregation
    //    (near-unique pair keys barely combine map-side) — the same
    //    discipline as the jaccard dedup exchange (r9).
    val defaultParts =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val histRow = fp.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(sum(when(col("c") <= maxDf, col("c")).otherwise(0L)).as("kept"),
        sum(when(col("c") <= maxDf,
          expr("c * (c - 1) div 2")).otherwise(0L)).as("p")).head()
    val keptFp = if (histRow.isNullAt(0)) 0L else histRow.getLong(0)
    val pairEst = if (histRow.isNullAt(1)) 0L else histRow.getLong(1)
    // the h exchange's width is a BUILD-side constraint (the joins below
    // are hash joins, nothing sorts): the df-capped kept-fp slice must
    // fit a per-task hash map (~48 B/entry targets ~48 MB); the pair
    // aggregation sizes from its exact pre-agg mass as usual
    val joinParts = math.min(4096L, keptFp * 48L / (48L << 20) + 1L).toInt
    val aggParts = math.min(4096L, pairEst * 48L / (96L << 20) + 1L).toInt
    // ZERO-sort join tree (r10, from two rounds of 256× attribution):
    //  * the old rare-join SMJ shape sorted the FULL 110M-row fp
    //    relation twice (6.4 GB peak per sort, 10 GB spill at 32
    //    partitions) to keep 0.2% of it;
    //  * a count(*)-window df-cap (the minhash hot-bucket pattern)
    //    still buffered the hot boilerplate-fingerprint GROUPS
    //    (WindowExec holds each key group in memory — 8.6 GB spill).
    // Instead: one sized h exchange of fp; the df-count aggregate rides
    // it (complete mode, ~distinct-h rows of state); both the df-cap
    // join and the pair self-join are SHUFFLE_HASH with the FILTERED
    // (tiny, df≤maxDf) side as the per-partition build — nothing
    // fp-proportional is ever sorted or buffered, and per-partition
    // build size is bounded because joinParts scales with fp.
    val fpW =
      if (joinParts > defaultParts) fp.repartition(joinParts, col("h"))
      else fp
    val rare = fpW.groupBy(col("h"))
      .agg(count(lit(1)).as("_df")) // fingerprints are distinct per doc
      .filter(col("_df") <= maxDf)
      .select(col("h"))
    val keyed = fpW.join(rare.hint("SHUFFLE_HASH"), "h")
    val pairs0 = keyed.select(col("h"), col("id").as("id_a"))
      .join(keyed.select(col("h"), col("id").as("id_b"))
        .hint("SHUFFLE_HASH"), "h")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // near-unique pair keys barely combine map-side; when the measured
    // pair mass outgrows the default aggregation width, pre-partition
    // by the aggregation keys so the groupBy reuses a sized exchange
    val pairs =
      if (aggParts > defaultParts)
        pairs0.repartition(aggParts, col("id_a"), col("id_b"))
          .sortWithinPartitions(col("id_a"), col("id_b"))
      else pairs0
    pairs
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared")) // one row per (pair, fingerprint)
      .filter(col("shared") >= minShared)
  }

  /** Cross-document duplicated-span EXCISION — the transform step of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): spans whose winnowing
    * fingerprint occurs in ≥2 documents are cut out of the text, not
    * just flagged. Each shared fingerprint at 1-based gram position p
    * marks the interval [p, p+k-1]; overlapping intervals merge via the
    * gaps-and-islands pattern (running-max window per document), and
    * the clean text is the ordered concatenation of the gaps. All
    * string/integer arithmetic — bit-exact across engines.
    *
    * Scale shape: fingerprint+position projection (one pass), document
    * frequency from a distinct+groupBy(h), hash-keyed join back, then
    * per-DOCUMENT windows (bounded width) and one groupBy(id) — never a
    * global window, never a product. The full text travels once,
    * joined at the end by id.
    *
    * Output: (id, n_spans, clean_text) for every input document —
    * n_spans counts merged excised islands, 0 = text unchanged. */
  def exciseDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("id"), col(textCol).as("_txt"))
    val fp = base.select(col("id"),
        explode(graft.exprs.WinnowPosExpr.column(col("_txt"), k, w)).as("f"))
      .select(col("id"), col("f.p").as("p"), col("f.h").as("h"))
      .localCheckpoint()
    val shared = fp.select(col("id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("_dfn"))
      .filter(col("_dfn") >= 2L).select(col("h"))
    val sp = fp.join(shared, "h")
      .select(col("id"), col("p"), (col("p") + (k - 1)).as("q"))
    val wPrev = Window.partitionBy(col("id")).orderBy(col("p"), col("q"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("id")).orderBy(col("p"), col("q"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val isl = sp
      .withColumn("_pm", max(col("q")).over(wPrev))
      .withColumn("_ni",
        when(col("_pm").isNull || col("p") > col("_pm"), 1L).otherwise(0L))
      .withColumn("_iid", sum(col("_ni")).over(wRun))
      .groupBy(col("id"), col("_iid"))
      .agg(min(col("p")).as("s"), max(col("q")).as("e"))
    val wLag = Window.partitionBy(col("id")).orderBy(col("s"))
    val per = isl
      .withColumn("pe", coalesce(lag(col("e"), 1).over(wLag), lit(0)))
      .join(base, "id")
      .select(col("id"), col("s"), col("e"),
        expr("substring(_txt, pe + 1, s - pe - 1)").as("seg"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        array_join(transform(
          array_sort(collect_list(struct(col("s"), col("seg")))),
          x => x.getField("seg")), "").as("_head"),
        max(col("e")).as("_laste"))
    base.join(per, scala.Seq("id"), "left")
      .select(col("id"), coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        when(col("n_spans").isNull, col("_txt"))
          .otherwise(concat(col("_head"), expr("substring(_txt, _laste + 1, length(_txt))")))
          .as("clean_text"))
  }

  /** Per-document duplicated-content fraction (the MassiveText
    * "fraction of characters in duplicated n-grams" gate, expressed
    * over winnowing fingerprints): a fingerprint is *shared* when it
    * occurs in at least two documents; a document's duplication level
    * is `dup_bp = n_shared * 10000 div n_fp` basis points, flagged at
    * `thresholdBp`. Integer-exact end to end.
    *
    * Scale shape: the (id, h) relation is materialized once (winnowing
    * is the expensive projection), document frequencies come from one
    * `groupBy(h)` with map-side combine, and the join back is
    * h-co-partitioned with that aggregation — then one `groupBy(id)`.
    * Never a pairwise product, unlike [[sharedPassagePairs]]: this is
    * the per-doc roll-up you run corpus-wide BEFORE deciding which
    * pairs deserve the self-join.
    *
    * Output: (id, n_fp, n_shared, dup_bp, flagged). */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, thresholdBp: Int = 2500): DataFrame = {
    val fp = df.select(col(idCol).as("id"),
        explode(graft.exprs.WinnowExpr.column(col(textCol), k, w)).as("h"))
      .localCheckpoint()
    val dfc = fp.groupBy(col("h")).agg(count(lit(1)).as("_dfn"))
    fp.join(dfc, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("_dfn") >= 2L, 1L).otherwise(0L)).as("n_shared"))
      .select(col("id"), col("n_fp"), col("n_shared"),
        expr("n_shared * 10000 div n_fp").as("dup_bp"))
      .withColumn("flagged", col("dup_bp") >= thresholdBp)
  }

  /** EXACT all-pairs n-gram-Jaccard similarity join via prefix filtering
    * (the PPJoin family — Xiao et al., WWW'08): every pair of documents
    * whose distinct word-bigram sets have Jaccard ≥ thresholdBp/10000,
    * with NO false negatives (the probabilistic LSH paths above trade
    * recall for speed; this is the exact counterpart you run when recall
    * must be 1.0 — e.g. legal dedup attestations).
    *
    * Prefix-filtering theorem: order every document's n-grams by a global
    * total order (rarest-first: df asc, gram asc) and keep only the first
    * p = s − ⌈t·s⌉ + 1 of them; two documents with J ≥ t MUST share a
    * kept prefix gram. So the candidate join is an equi-join on prefix
    * grams — rare tokens by construction, tiny buckets — never a cross
    * product, and the size filter t·sa ≤ sb ≤ sa/t prunes before the
    * verify. We use p = s − ⌊t·s⌋ + 1 (≥ the required length: only ever
    * admits extra candidates, never loses one).
    *
    * Verification is an integer-exact rational compare
    * (|∩|·10000 ≥ t_bp·|∪|) — no float threshold edge.
    *
    * Scale shape: df aggregate is word-count-shaped (map-side combine);
    * prefix relation carries O(Σ p_i) rows ≪ corpus grams; the verify
    * join touches only surviving candidate pairs. Output:
    * (id_a, id_b, jac_bp), id_a < id_b. */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
      thresholdBp: Int = 7000): DataFrame = {
    require(thresholdBp > 0 && thresholdBp <= 10000,
      s"jaccardJoinExact: thresholdBp must be in (0, 10000], got $thresholdBp")
    // Repartition by id BEFORE the per-row n-gram work: a small input
    // (one parquet file → one task) would otherwise run the whole
    // tokenize serially; hash-by-id also pre-partitions for the sets
    // groupBy below, so the shuffle is spent once, not wasted. Distinct
    // bigrams via the native one-pass kernel (r12) — byte-span slices +
    // in-pass dedup, so the separate array_distinct pass disappears.
    val grams = df.select(col(idCol).as("id"), col(textCol).as("_t"))
      .repartition(col("id"))
      .select(col("id"),
        graft.exprs.WordNgramsExpr.column(col("_t"), 2).as("grams"))
      .filter(size(col("grams")) > 0)
    val g = grams.select(col("id"), explode(col("grams")).as("gram"))
    val defaultParts =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Dictionary-encode grams to df-ordered long ids (rarest = 0) — the
    // standard first move of the prefix-filter join literature: the
    // rarest-first total order becomes plain numeric order, candidate
    // joins shuffle 8-byte keys instead of strings, and the verify
    // becomes a sorted-long merge. Global rank via the partitioned
    // two-pass assignment (range shuffle + zipWithIndex — no
    // single-partition window); the dictionary is vocabulary-sized.
    // localCheckpoint BEFORE the rank: withGlobalSeq's range-boundary
    // sampling and zipWithIndex each re-run their input lineage, and the
    // input here is the full bigram explode — checkpointing the
    // vocabulary-sized df table makes that one pass instead of three.
    val dfreq = labeled(df, "jaccard: dfreq ckpt")(
      g.groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
        .localCheckpoint())
    // Vocabulary count is a cheap read of the checkpoint; when the
    // dictionary fits an int (every local corpus, and any real one until
    // the bigram vocabulary passes 2^31) the gid arrays are stored and
    // shuffled at half width — the verify join's payload is the
    // dominant cost on near-duplicate-dense corpora.
    val vocabN = labeled(df, "jaccard: vocabN")(dfreq.count())
    val gidCol =
      if (vocabN < Int.MaxValue.toLong) col("gid").cast(IntegerType)
      else col("gid")
    val dict = graft.model.Envelope.withGlobalSeq(
      dfreq, scala.Seq(col("gdf"), col("gram")), "gid")
    // Per-doc strictly-ascending gid sets. localCheckpoint materializes
    // the (docs × set) relation once — it feeds the prefix stage and both
    // verify sides, and keeps the zipWithIndex dictionary from
    // recomputing per consumer.
    // explicit width again: the per-doc work below (collect_list sort,
    // sort_array, the 256-bit bitmap HOF aggregate) is the cpu-dense
    // part of this stage, and AQE's byte-based coalescing collapsed it
    // onto ONE task (1.2-1.3 s serial per run at sf0.1)
    val sets0 = g.join(dict.select(col("gram"), gidCol.as("gid")), "gram")
      .repartition(defaultParts, col("id"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("gid"))).as("gids"))
      .withColumn("sz", size(col("gids")).cast(LongType))
      // 256-bit gid bitmap (4 longs; bucket = gid mod 256) for the
      // exact-safe intersection UPPER BOUND below — the PPJoin-family
      // bitmap/suffix filter. Stays in codegen (HOF aggregate).
      .withColumn("bm", expr(
        """aggregate(gids, array_repeat(0L, 4),
          |  (acc, g) -> zip_with(acc, sequence(0, 3),
          |    (a, i) -> a | if((pmod(g, 256) div 64) = i,
          |                    shiftleft(1L, int(pmod(g, 64))), 0L)))""".stripMargin))
    val sets = labeled(df, "jaccard: sets ckpt")(sets0.localCheckpoint(false))
    // Probing prefix: first p = sz − ⌊t·sz⌋ + 1 rarest grams, with
    // positions for the PPJoin positional filter below.
    val prefix = sets.select(col("id"), col("sz"),
      posexplode(expr(
        s"slice(gids, 1, int(sz - ($thresholdBp * sz div 10000) + 1))")))
      .toDF("id", "sz", "pos", "gid")
    // Candidates: prefix equi-join + size filter + positional filter —
    // a match at 0-based positions (pa, pb) bounds the overlap by
    // min(sz_a−pa, sz_b−pb), and J ≥ t needs overlap ≥ t(sa+sb)/(1+t).
    val tBp = lit(thresholdBp.toLong)
    // The PRE-dedup pair mass is computable BEFORE the join from the
    // prefix bucket histogram — Σ_g c_g·(c_g−1)/2 is an exact upper
    // bound on the id_a<id_b equi-join output (the size/positional
    // filters only remove pairs) — so the dedup aggregation can be
    // partition-sized ahead of time. Without this the dedup ran at the
    // default partition count over the FULL pre-dedup relation (the
    // per-pair partial aggregation barely combines — near-unique
    // keys), and the r9 256× attribution measured its two stages
    // sorting 468M pairs in 32 tasks: 84 GB of the point's spill.
    // Pre-partitioning by the dedup keys makes the aggregation reuse
    // the exchange (no second shuffle); ~48 B per in-flight hash entry
    // targets ~96 MB of aggregation state per task.
    val pairEstRow = labeled(df, "jaccard: pairEst")(
      prefix.groupBy(col("gid"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(expr("c * (c - 1) div 2")).as("p")).head())
    val pairEst = if (pairEstRow.isNullAt(0)) 0L else pairEstRow.getLong(0)
    val dedupParts = math.min(4096L,
      pairEst * 48L / (96L << 20) + 1L).toInt
    // Explicit width on the self-join exchange: the prefix relation is
    // bytes-tiny (ints) but the per-bucket pair ENUMERATION above it is
    // the quadratic part of the operator — AQE's byte-based coalescing
    // ran the whole enumeration on ONE task (labeled profile: 1.8 s
    // serial at sf0.1). Width = max(session parallelism, the dedup
    // sizing already derived from the exact pre-dedup pair mass), so
    // the enumeration stays parallel locally and candidate-proportional
    // at scale. Both join sides read the SAME exchange (ReusedExchange).
    val prefixW = prefix
      .repartition(math.max(defaultParts, dedupParts), col("gid"))
    val joinedPairs = prefixW.toDF("id_a", "sz_a", "pos_a", "gid")
      .join(prefixW.toDF("id_b", "sz_b", "pos_b", "gid"), "gid")
      .filter(col("id_a") < col("id_b") &&
        col("sz_a") * tBp <= col("sz_b") * 10000L &&
        col("sz_b") * tBp <= col("sz_a") * 10000L &&
        least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) *
          (tBp + 10000L) >= tBp * (col("sz_a") + col("sz_b")))
      .select(col("id_a"), col("id_b"))
    val joinedSized =
      if (dedupParts > defaultParts)
        joinedPairs.repartition(dedupParts, col("id_a"), col("id_b"))
      else joinedPairs
    val cand0 = joinedSized
      .dropDuplicates("id_a", "id_b")
      // materialized: the pair relation feeds the verify joins AND the
      // parallelism decision below; 16 bytes per pair, so even a 10⁸-
      // candidate relation checkpoints in ~GBs
    val cand = labeled(df, "jaccard: cand ckpt")(cand0.localCheckpoint(false))
    // Adaptive verify parallelism: candidate mass is data-dependent (a
    // templated near-duplicate-dense corpus legitimately produces ~10³
    // candidates per true pair — all near-linear in corpus size, but
    // thousands of array-bytes per pair), and the verify join ships a
    // gid ARRAY per candidate — at the default partition count a big
    // candidate relation sorts gigabytes per task and spills. Size the
    // verify exchange from the MEASURED candidate count (a cheap count
    // of the checkpointed pair relation) and the mean set width,
    // targeting ~96 MB per partition; small inputs keep the default
    // plan untouched.
    val candN = labeled(df, "jaccard: candN")(cand.count())
    // BITMAP PREFILTER (r9) — the r8 probe's stage-level byte
    // attribution showed the array-carrying verify exchange owned the
    // whole super-linear byte step AND all 44 GB of spill at 64×
    // (118M candidates × ~600 B of uncompressed gid-array row each;
    // candidates themselves exactly linear, ~7,200 false candidates
    // per true pair). So prune candidates BEFORE any array attaches,
    // with an exact-safe intersection upper bound from the 256-bit gid
    // bitmaps: every bucket set in A but not in B holds ≥1 A-element
    // that cannot be in B, hence
    //   |A∩B| ≤ sz_a − popcount(bm_a & ~bm_b)   (and symmetrically),
    // so dropping pairs whose bound can't reach the threshold loses no
    // true pair (the PPJoin-family bitmap/suffix filter). The bitmap
    // joins still ship ~56 B per candidate — 10× lighter than arrays.
    // How much the bound prunes is CORPUS-DEPENDENT: random non-dup
    // candidates prove out cheaply, but near-threshold pairs (J just
    // under t) are information-theoretically unprunable without the
    // arrays, and on a template-dense corpus most false candidates are
    // exactly that — the 256× probe measured strongN = 360M of candN =
    // 468M (77% pass). So the verify stays candidate-proportional in
    // the worst case and EVERY exchange below carries measured-count
    // partition sizing; the bitmap's job is the cheap wins plus
    // narrowing the rows that must travel.
    val bmParts = math.min(4096L,
      candN * 88L / (96L << 20) + 1L).toInt
    val narrowA = sets.select(col("id").as("id_a"), col("sz").as("sz_a2"),
      col("bm").as("bm_a"))
    val narrowB = sets.select(col("id").as("id_b"), col("sz").as("sz_b2"),
      col("bm").as("bm_b"))
    // Join strategy A/B at the 64× probe point (r9): SMJ 87 s / 8.8 GB
    // shuffled vs SHUFFLE_HASH 87 s / 15.0 GB — same wall, 70% more
    // bytes hashed (the hash probe's output order compresses worse and
    // exchanges don't reuse), and both zero-spill. Default SMJ wins on
    // the noise-free signal.
    // BOTH bitmap joins are candidate-proportional sorts — size BOTH
    // exchanges (r9 256× attribution: with only the id_b side widened,
    // the id_a join's SMJ sorted all 468M pairs at the 32 default
    // partitions — 14.6M rows/task — and spilled 44.7 GB; the id_b
    // join another 39.3 GB. Every candidate-proportional exchange
    // needs the measured-count sizing, not just the last one.)
    val candSized =
      if (bmParts > defaultParts) cand.repartition(bmParts, col("id_a"))
      else cand
    val candBm0 = candSized.join(narrowA, "id_a")
    val candBm1 =
      if (bmParts > defaultParts) candBm0.repartition(bmParts, col("id_b"))
      else candBm0
    def notIn(x: String, y: String) = expr(
      s"aggregate(zip_with($x, $y, (x, y) -> bit_count(x & ~y)), 0, (s, v) -> s + v)")
    val strong0 = candBm1.join(narrowB, "id_b")
      .filter(least(col("sz_a2") - notIn("bm_a", "bm_b"),
          col("sz_b2") - notIn("bm_b", "bm_a")) * (tBp + 10000L) >=
        tBp * (col("sz_a2") + col("sz_b2")))
      .select(col("id_a"), col("id_b"))
    val strong = labeled(df, "jaccard: strong ckpt")(strong0.localCheckpoint(false))
    val strongN = labeled(df, "jaccard: strongN")(strong.count())
    val avgRow = labeled(df, "jaccard: avgSz")(sets.agg(avg(col("sz"))).head())
    val avgSz = if (avgRow.isNullAt(0)) 0.0 else avgRow.getDouble(0)
    val gidBytes = if (vocabN < Int.MaxValue.toLong) 4 else 8
    val bytesPerPair = 24L + (avgSz * gidBytes).toLong
    val verifyParts = math.min(4096L,
      strongN * bytesPerPair / (96L << 20) + 1L).toInt
    // The id_a verify join is survivor-proportional too (the bitmap
    // bound cannot prune near-threshold pairs — on a template-dense
    // corpus most candidates ARE near-threshold, so strongN stays a
    // large fraction of candN and this sort needs the same sizing as
    // the id_b exchange below; unsized it spilled 64.4 GB at 256×).
    val strongSized =
      if (verifyParts > defaultParts)
        strong.repartition(verifyParts, col("id_a"))
      else strong
    val withA = strongSized
      .join(sets.select(col("id").as("id_a"), col("gids").as("g_a"),
        col("sz").as("sz_aa")), "id_a")
    val withAPart =
      // the exchange INTO the second join is the one that ships a gid
      // array per pair — this repartition becomes that exchange (join 2
      // co-partitions its other side to match), so the array payload
      // sorts in ~96 MB tasks instead of gigabyte ones. Sort-merge is
      // the MEASURED right strategy here, unlike minhashPairs' verify:
      // r8 A/B at the 64× probe point — SMJ 172 s / 22 GB shuffled /
      // 44 GB sort spill vs SHUFFLE_HASH 254 s / 58 GB / 55 GB. The gid
      // payload is ~60 B/pair (word bigrams), so the sort is cheap and
      // exchange reuse dominates; minhash's 2.4 KB char-shingle payload
      // inverted that trade (and there the real win was collapsing the
      // candidate mass, not the join strategy).
      if (verifyParts > defaultParts)
        withA.repartition(verifyParts, col("id_b"))
      else withA
    withAPart
      .join(sets.select(col("id").as("id_b"), col("gids").as("g_b"),
        col("sz").as("sz_bb")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.exprs.SortedIntersectExpr.column(col("g_a"), col("g_b"))
          .as("inter"),
        (col("sz_aa") + col("sz_bb")).as("ssum"))
      .withColumn("uni", col("ssum") - col("inter"))
      .filter(col("inter") * 10000L >= col("uni") * thresholdBp)
      .select(col("id_a"), col("id_b"),
        expr("inter * 10000 div uni").as("jac_bp"))
  }

  // ------------------------------------------- corpus-level dedup reports

  /** Source-pair similarity matrix: exact Jaccard over distinct document
    * fingerprints between every pair of sources — the "how much does crawl
    * A overlap crawl B" statistic that drives source-mixing decisions.
    *
    * Shape for 100 TB: one distinct over (source, fingerprint), a
    * fingerprint equi-join for intersections (per-fingerprint multiplicity
    * is bounded by |sources|, so no hot-key blowup is possible), and a
    * broadcast cross of the tiny distinct-source list so zero-overlap
    * pairs still appear. Integer basis points — no float drift.
    *
    * Output: (src_a, src_b, n_a, n_b, n_inter, jaccard_bp), src_a < src_b. */
  def sourceSimilarity(df: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    // materialized once: (src, fp) feeds the per-source counts AND both
    // sides of the intersection join — lazily composed, the token-set
    // fingerprint kernel ran twice more over the full corpus (QProf:
    // two ~6 s-cpu scan jobs per action at sf0.1). The checkpoint is
    // 16 B/doc — corpus-count-sized, not corpus-byte-sized.
    val fps = df.select(col(srcCol).as("src"),
      fingerprint(col(textCol)).as("fp")).distinct()
      .localCheckpoint(false)
    val counts = fps.groupBy("src").agg(count(lit(1)).as("n"))
    val inter = fps.toDF("src_a", "fp")
      .join(fps.toDF("src_b", "fp2"), col("fp") === col("fp2"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
    val pairs = broadcast(counts.toDF("src_a", "n_a"))
      .crossJoin(broadcast(counts.toDF("src_b", "n_b")))
      .filter(col("src_a") < col("src_b"))
    pairs.join(inter, scala.Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        expr("n_inter * 10000 div (n_a + n_b - n_inter)").as("jaccard_bp"))
  }

  /** Per-source exact-dedup impact report: how many docs are duplicate
    * copies within the source and how many content bytes keep-first dedup
    * would reclaim. Clusters are within-source (a cross-source copy is
    * attributed to each source that holds it).
    *
    * Pure two-level aggregation — (source, fingerprint) then source — the
    * map-side-combinable shape. Reclaimed bytes per cluster =
    * (copies − 1) · min byte_length (token-set fingerprints can match
    * texts of different lengths, so the keeper is the cheapest copy —
    * deterministic on both engines).
    *
    * Output: (source, n_docs, n_clusters, dup_docs, bytes_total,
    * bytes_saved). */
  def dedupImpact(df: DataFrame, srcCol: String, textCol: String): DataFrame =
    df.select(col(srcCol).as("source"),
        fingerprint(col(textCol)).as("fp"),
        octet_length(col(textCol)).cast(LongType).as("blen"))
      .groupBy("source", "fp")
      .agg(count(lit(1)).as("copies"), min(col("blen")).as("blen"))
      .groupBy("source")
      .agg(sum(col("copies")).as("n_docs"),
        count(lit(1)).as("n_clusters"),
        (sum(col("copies")) - count(lit(1))).as("dup_docs"),
        sum(col("copies") * col("blen")).as("bytes_total"),
        sum((col("copies") - 1L) * col("blen")).as("bytes_saved"))
}
