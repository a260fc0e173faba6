package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * - [[cosine]] / [[bruteForceTopK]]: exact baseline. Exact kNN is
  *   irreducibly one full corpus scan per query batch; the scalable exact
  *   plan is exactly what this compiles to — queries broadcast, corpus
  *   streamed in one pass (no corpus shuffle), then a two-stage top-k so
  *   no single reducer ever sees more than a partition's worth of
  *   similarities. Use it for moderate query batches and as the recall
  *   oracle for the approximate path.
  * - [[SignLsh]]: random-hyperplane LSH — corpus bucketed by sign-pattern
  *   key; queries probe their bucket plus all buckets within Hamming
  *   distance `probes` (multi-probe). Candidates come from a bucket
  *   equi-join (never a cross product), then exact cosine re-ranks them:
  *   output = true top-k restricted to the candidate set. Hyperplanes are
  *   seeded deterministically, so the candidate set itself is
  *   reproducible — which is what lets the DuckDB oracle replicate it
  *   bit-for-bit (see LlmQueries.lshBucketSql).
  */
object Similarity {

  /** Native one-pass kernels (exprs.VectorExprs): same arithmetic and
    * accumulation order as the old `aggregate(zip_with(...))` columns —
    * bit-identical results, no per-pair allocation. */
  def dot(a: Column, b: Column): Column = graft.exprs.VectorExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity between two float-array columns (double math). */
  def cosine(a: Column, b: Column): Column = graft.exprs.VectorExprs.cosine(a, b)

  /** Deterministic top-k per query over a (qid, vid, sim) relation in two
    * stages: partition-local rank first (shuffle key (qid, partition) —
    * parallelism queries×partitions instead of queries), then a global
    * rank over the ≤ q·P·k survivors. Any true global top-k row has at
    * most k-1 rows above it in its own partition, so it always survives
    * stage one. Ties break on vid in both stages. */
  private[llmops] def topKOfSims(sims: DataFrame, k: Int,
      keepSim: Boolean = false): DataFrame = {
    val staged = sims.withColumn("_pid", spark_partition_id())
    val w1 = Window.partitionBy(col("qid"), col("_pid"))
      .orderBy(col("sim").desc, col("vid"))
    val local = staged.withColumn("_r", row_number().over(w1))
      .filter(col("_r") <= k).drop("_r", "_pid")
    val w2 = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vid"))
    val ranked = local.withColumn("rnk", row_number().over(w2))
      .filter(col("rnk") <= k)
    if (keepSim) ranked.select(col("qid"), col("vid"), col("sim"), col("rnk"))
    else ranked.select(col("qid"), col("vid"), col("rnk"))
  }

  /** Exact top-k neighbors for each query row.
    * queries/corpus: (idCol, vecCol). Output: qid, vid, rnk (1-based),
    * deterministic tie-break on vid. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")))
    val c = corpus.select(col(idCol).as("vid"), col(vecCol).as("cvec"))
    val sims = c.crossJoin(q).filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"), cosine(col("qvec"), col("cvec")).as("sim"))
    topKOfSims(sims, k)
  }

  /** Majority-vote step shared by the exact and ANN label-noise paths:
    * neighbors (qid, vid, rnk) + per-id labels → per-query agreement.
    * Deterministic: label-vote ties break on the smaller label. */
  private def voteLabels(neighbors: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val labels = corpus.select(col(idCol).as("vid"), col(labelCol).as("n_label"))
    val voted = neighbors.join(labels, "vid")
      .groupBy(col("qid"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("n_label"))
    val knn = voted.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("n_label").as("knn_label"))
    queries.select(col(idCol).as("qid"), col(labelCol).as("label"))
      .join(knn, "qid")
      .select(col("qid"), col("label"), col("knn_label"),
        (col("label") === col("knn_label")).as("agree"))
  }

  /** Label-noise detection over ANN neighbors — the 100 TB path: neighbor
    * candidates come from the LSH bucket equi-join (no cross product),
    * exactly re-ranked. This is how kNN curation actually runs at corpus
    * scale. */
  def labelConsistencyAnn(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      lsh: SignLsh, probes: Int): DataFrame =
    voteLabels(lsh.topK(queries, corpus, idCol, vecCol, k, probes),
      queries, corpus, idCol, labelCol)

  /** IVF-flat ANN: a coarse quantizer partitions the corpus into inverted
    * lists; queries probe only the `nprobe` nearest lists, then exact
    * cosine re-ranks the candidates. Centroids here are `numCentroids`
    * deterministic seed vectors (the lowest ids) — no iterative k-means,
    * so the whole structure is reproducible and the DuckDB oracle can
    * replicate it (the training loop is orthogonal to the search plan; at
    * scale you'd refine centroids offline and feed them in).
    *
    * Plan shape: centroid assignment is a broadcast join (centroid set is
    * tiny) + max_by partial aggregation; search is a cluster-id equi-join.
    * The corpus never shuffles by anything wider than its cluster id. */
  object Ivf {
    /** Assign each row its nearest centroid id (cosine, ties → lowest).
      *
      * The centroid set is the CONSTANT-SIZE coarse quantizer (the same
      * boundedness contract as the PQ codebooks), so it embeds as a
      * typed literal and the argmax is a per-row array fold — map-only,
      * zero shuffle, no row explosion. The previous shape
      * (broadcast-cross to n×k rows + max_by aggregation) looked
      * shuffle-free too, but max_by is a TypedImperativeAggregate:
      * past the ObjectHashAggregate fallback threshold it re-SORTED
      * the whole exploded relation, each row carrying the full
      * embedding — the r9 probe measured 38.8 GB of sort spill against
      * 160 MB of shuffle at 64× (128k vecs × 1024 centroids). */
    def assign(df: DataFrame, idCol: String, vecCol: String,
        centroids: DataFrame): DataFrame = {
      val cents = collectCentroidLit(centroids)
      df.select(col(idCol),
        nearestCidLit(col(vecCol), cents).as("cid"),
        col(vecCol))
    }

    private def collectCentroidLit(
        centroids: DataFrame): scala.Seq[(Long, scala.Seq[Float])] =
      centroids.select(col("cid").cast(LongType),
          col("cvec").cast(ArrayType(FloatType)))
        .collect().toIndexedSeq
        .map(r => (r.getLong(0),
          r.getSeq[Float](1).toIndexedSeq: scala.Seq[Float]))

    /** Per-row argmax fold over a centroid literal (cosine, ties →
      * lowest cid) — map-only, zero shuffle, no row explosion. */
    private def nearestCidLit(vec: Column,
        cents: scala.Seq[(Long, scala.Seq[Float])]): Column = {
      val scored = transform(typedLit(cents), c =>
        struct(cosine(vec, c.getField("_2")).as("csim"),
          (-c.getField("_1")).as("ncid")))
      -array_max(scored).getField("ncid")
    }

    /** Above this the coarse quantizer stops being a literal: the flat
      * assignment is O(n·k) compute with a k·dim driver literal, and
      * under the scale posture k ∝ corpus that is a latent QUADRATIC —
      * the r9 256× probe measured its wall at 11.6× per 4× of data
      * (12.6 s → 146.6 s) with perfectly linear bytes: pure CPU, the
      * worst kind of scale defect because no byte counter sees it. */
    private[graft] val TwoLevelKCap = 2048

    /** Two-level assignment for LARGE k (the IMI/hierarchical-quantizer
      * move, same shape as KMeans.fitTwoLevel): the √k lowest-cid
      * centroids act as super-cells; centroids group under their
      * nearest super (map-only over the DISTRIBUTED centroid relation —
      * only the √k supers ever collect to the driver), points find
      * their nearest super by the same literal fold, and the exact
      * argmax runs WITHIN the super via an scid equi-join — O(n·√k)
      * compute, fixed-width ArgMaxByLong buffers, nothing
      * centroid-proportional on the driver. Points near super-cell
      * boundaries may land in a neighbouring list — the standard IVF
      * approximation, amortized by nprobe on the query side. */
    private[graft] def assignTwoLevel(df: DataFrame, idCol: String,
        vecCol: String, centroids: DataFrame, k: Int): DataFrame = {
      val k1 = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
      val supers = collectCentroidLit(
        centroids.orderBy(col("cid")).limit(k1))
      val centsS = centroids
        .select(nearestCidLit(col("cvec"), supers).as("scid"),
          col("cid"), col("cvec"))
      val ptsS = df.select(col(idCol), col(vecCol),
        nearestCidLit(col(vecCol), supers).as("scid"))
      val best = ptsS.join(centsS, "scid")
        .select(col(idCol), col("cid"),
          cosine(col(vecCol), col("cvec")).as("csim"))
        .groupBy(col(idCol))
        .agg(graft.exprs.ArgMaxByLong.column(col("cid"), col("csim"))
          .as("cid"))
      df.select(col(idCol), col(vecCol))
        .join(best.hint("shuffle_hash"), scala.Seq(idCol))
        .select(col(idCol), col("cid"), col(vecCol))
    }

    /** Deterministic seed centroids: the `numCentroids` lowest-id vectors. */
    def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
        numCentroids: Int): DataFrame =
      corpus.orderBy(col(idCol)).limit(numCentroids)
        .select(col(idCol).as("cid"), col(vecCol).as("cvec"))

    /** ANN top-k: probe the `nprobe` nearest inverted lists per query,
      * exact re-rank candidates. Output (qid, vid, rnk). */
    def topK(queries: DataFrame, corpus: DataFrame,
        idCol: String, vecCol: String, k: Int,
        numCentroids: Int, nprobe: Int,
        twoLevelKCap: Int = TwoLevelKCap): DataFrame = {
      val cents = seedCentroids(corpus, idCol, vecCol, numCentroids)
      val corpusAssigned =
        (if (numCentroids <= twoLevelKCap)
          assign(corpus, idCol, vecCol, cents)
        else assignTwoLevel(corpus, idCol, vecCol, cents, numCentroids))
          .select(col(idCol).as("vid"), col(vecCol).as("cvec_full"),
            col("cid"))
      // Query-side centroid scoring: identical ranking either way, but
      // above the cap the BROADCAST flips — the centroid relation is
      // corpus-proportional under the scale posture, so it stays
      // distributed and the (small) query side broadcasts instead.
      val qCols = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      val qSims =
        (if (numCentroids <= twoLevelKCap) qCols.crossJoin(broadcast(cents))
        else cents.crossJoin(broadcast(qCols)))
          .select(col("qid"), col("qvec"), col("cid"),
            cosine(col("qvec"), col("cvec")).as("csim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))
      val probes = qSims.withColumn("_pr", row_number().over(w))
        .filter(col("_pr") <= nprobe)
        .select(col("qid"), col("qvec"), col("cid"))
      val sims = probes.join(corpusAssigned, "cid")
        .filter(col("vid") =!= col("qid"))
        .select(col("qid"), col("vid"),
          cosine(col("qvec"), col("cvec_full")).as("sim"))
      topKOfSims(sims, k)
    }
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query, the top-k most SIMILAR corpus vectors with a DIFFERENT
    * label — the high-similarity wrong-class examples that make the
    * best training negatives. LSH candidate generation + label
    * anti-filter + exact cosine re-rank; the label relation is a skinny
    * two-column projection, so the only corpus-sized shuffle is the
    * id-keyed label join against the (candidate-sized) pair set.
    * Output: (qid, vid, rnk). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int, lsh: SignLsh,
      probes: Int = 1): DataFrame = {
    val ql = queries.select(col(idCol).as("qid"), col(labelCol).as("_ql"))
    val cl = corpus.select(col(idCol).as("vid"), col(labelCol).as("_cl"))
    val sims = lsh.candidates(queries, corpus, idCol, vecCol, probes)
      .select(col("qid"), col("vid"),
        cosine(col("qvec"), col("cvec")).as("sim"))
      .join(broadcast(ql), "qid").join(cl, "vid")
      .filter(col("_ql") =!= col("_cl"))
      .select(col("qid"), col("vid"), col("sim"))
    topKOfSims(sims, k)
  }

  /** Int8 embedding quantization (symmetric, per-vector max-abs scale) —
    * the 4× storage cut an embedding corpus takes before it lands in an
    * ANN index at 100 TB. Deterministic floor-based rounding (identical
    * IEEE op sequence across engines); all-zero vectors quantize to
    * zeros with scale 0. Output: (id, scale, codes int8-range array). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast(ArrayType(DoubleType))
    // Bind vector + scale as lambda variables: a plain `scale` reference
    // inside the codes lambda would re-evaluate the array_max per element
    // (no CSE across lambda scopes — O(dim²) per row).
    val q = Dedup.bindArray(v, vb =>
      Dedup.bindArray(array_max(transform(vb, x => abs(x))), scale =>
        struct(scale.as("scale"),
          when(scale === 0.0, transform(vb, _ => lit(0)))
            .otherwise(transform(vb, x =>
              floor(x / scale * 127.0 + 0.5).cast(IntegerType)))
            .as("codes"))))
    df.select(col(idCol).as("id"), q.as("_q")) // 2nd select: keep _q single-eval
      .select(col("id"), col("_q.scale").as("scale"), col("_q.codes").as("codes"))
  }

  /** Product quantization over int8-quantized embeddings — the memory
    * layout that makes a 100 TB embedding corpus scannable: after the 4×
    * int8 cut, each vector collapses to `m` one-byte centroid ids (64
    * int8 codes → 8 PQ codes here, a further 8×). Queries precompute a
    * per-subspace lookup table once, and the corpus scan is `m` array
    * lookups per vector — no original vectors touched (ADC, Jégou et al.
    * 2011).
    *
    * Codebooks are the `ksub` lowest-id vectors' sub-vectors — the same
    * deterministic seed-training trade as [[Ivf.seedCentroids]] (refine
    * offline at scale; the search plan is identical), which is what lets
    * the DuckDB oracle replay encode + ADC exactly. All distances are
    * integer L2² on the int codes, so the whole structure is bit-exact
    * across engines by construction.
    *
    * Plan shape: codebook rides as an expression-tree literal (tiny);
    * encode is a pure projection (zero shuffle); the ADC scan broadcasts
    * the query LUTs and streams the (id, pq-codes) relation — 12 bytes a
    * row — in one pass; top-k via the two-stage rank. */
  final case class Pq(m: Int, ksub: Int) {

    /** Deterministic codebook from an int8-quantized relation
      * (id, codes): sub-vector slices of the `ksub` lowest-id rows.
      * Collected at the driver — m·ksub·dsub ints. */
    def codebook(quant: DataFrame, idCol: String = "id",
        codesCol: String = "codes"): Seq[Seq[Seq[Int]]] = {
      val seeds = quant.orderBy(col(idCol)).limit(ksub)
        .select(col(codesCol)).collect()
        .map(_.getSeq[Int](0))
      require(seeds.length == ksub, s"need $ksub seed rows, got ${seeds.length}")
      val dim = seeds.head.length
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val dsub = dim / m
      (0 until m).map(sub =>
        seeds.toSeq.map(_.slice(sub * dsub, (sub + 1) * dsub).toSeq))
    }

    /** Encode a quantized relation to (id, pq) — `pq` is the m-length
      * centroid-id array. Pure projection. */
    def encode(quant: DataFrame, cb: Seq[Seq[Seq[Int]]],
        idCol: String = "id", codesCol: String = "codes"): DataFrame =
      quant.select(col(idCol).as("vid"),
        graft.exprs.PqExprs.encode(col(codesCol), cb).as("pq"))

    /** ADC score: integer approximate L2² between a query (via its LUT)
      * and a corpus row's PQ codes — m lookups. */
    def adcDist(lut: Column, pq: Column): Column =
      (0 until m).map(sub =>
        element_at(lut, element_at(pq, sub + 1) + lit(sub * ksub + 1)))
        .reduce(_ + _)

    /** ADC top-k: for each query row of `quantQueries`, the k corpus
      * rows with the smallest ADC distance (ties → lowest vid). Both
      * inputs are int8-quantized relations (id, codes). Output:
      * (qid, vid, adc_dist, rnk) — all integers. */
    def topK(quantQueries: DataFrame, quantCorpus: DataFrame, k: Int,
        cb: Seq[Seq[Seq[Int]]]): DataFrame =
      topKWithCodes(quantQueries, encode(quantCorpus, cb), k, cb)

    /** [[topK]] against a precomputed (vid, pq) codes relation: the
      * corpus is encoded once ([[encode]]) and query batches scan only
      * the 12-byte code rows. */
    def topKWithCodes(quantQueries: DataFrame, codes: DataFrame, k: Int,
        cb: Seq[Seq[Seq[Int]]]): DataFrame = {
      val q = broadcast(quantQueries.select(col("id").as("qid"),
        graft.exprs.PqExprs.lut(col("codes"), cb).as("_lut")))
      val sims = codes.crossJoin(q).filter(col("vid") =!= col("qid"))
        .select(col("qid"), col("vid"),
          (-adcDist(col("_lut"), col("pq"))).as("sim"))
      topKOfSims(sims, k, keepSim = true)
        .select(col("qid"), col("vid"),
          (-col("sim")).cast(LongType).as("adc_dist"), col("rnk"))
    }
  }

  /** IVF-PQ: the composition production vector indexes actually ship —
    * IVF coarse lists bound the search to `nprobe` clusters, PQ codes
    * make each list scannable without touching vectors. Search cost is
    * `nprobe/nlist` of the corpus × m byte-lookups; neither the corpus
    * vectors nor their codes ever shuffle on anything wider than the
    * cluster id. Output: (qid, vid, adc_dist, rnk).
    *
    * Coarse assignment reuses [[Ivf]]'s deterministic seed centroids
    * (cosine argmax on the raw vectors); within-list distances are the
    * integer ADC of [[Pq]] — so the only float in the plan decides list
    * membership, exactly like q40, and the oracle replays both stages. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, numCentroids: Int, nprobe: Int,
      pq: Pq, cb: Seq[Seq[Seq[Int]]]): DataFrame = {
    val cents = Ivf.seedCentroids(corpus, idCol, vecCol, numCentroids)
    // (vid, cid) inverted-list membership + (vid, pq-codes): the scan
    // relation carries 12 bytes of payload per corpus row
    val assigned = Ivf.assign(corpus, idCol, vecCol, cents)
      .select(col(idCol).as("vid"), col("cid"))
    val codes = pq.encode(
      quantizeInt8(corpus, idCol, vecCol), cb).join(assigned, "vid")
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("qvec"), col("cid"),
        cosine(col("qvec"), col("cvec")).as("csim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))
    val probes = q.withColumn("_pr", row_number().over(w))
      .filter(col("_pr") <= nprobe)
      .select(col("qid"), col("qvec"), col("cid"))
    val luts = broadcast(probes
      .select(col("qid"), col("cid"),
        graft.exprs.PqExprs.lut(
          quantizeInt8Codes(col("qvec")), cb).as("_lut")))
    val sims = luts.join(codes, "cid")
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"),
        (-pq.adcDist(col("_lut"), col("pq"))).as("sim"))
    topKOfSims(sims, k, keepSim = true)
      .select(col("qid"), col("vid"),
        (-col("sim")).cast(LongType).as("adc_dist"), col("rnk"))
  }

  /** The quantizeInt8 code array as a bare Column (same arithmetic),
    * for call sites that quantize inline rather than materializing the
    * (id, scale, codes) relation. */
  def quantizeInt8Codes(vec: Column): Column = {
    val v = vec.cast(ArrayType(DoubleType))
    Dedup.bindArray(v, vb =>
      Dedup.bindArray(array_max(transform(vb, x => abs(x))), scale =>
        when(scale === 0.0, transform(vb, _ => lit(0)))
          .otherwise(transform(vb, x =>
            floor(x / scale * 127.0 + 0.5).cast(IntegerType)))))
  }

  /** Binary (sign-bit) quantization + Hamming ANN — the coarsest, fastest
    * filter in the quantization ladder: one bit per dimension (64 dims →
    * 8 bytes), distance = popcount(xor). The scan reads two longs per
    * corpus row; survivors are re-ranked by exact cosine on the original
    * vectors via a skinny id equi-join. Bits are packed into 32-bit words
    * (not one 64-bit word) so no engine ever evaluates `1<<63` — DuckDB
    * raises on BIGINT overflow where Spark wraps. */
  object BinaryQuant {
    /** Pack dims [word*32, word*32+32) of a float/double array: bit i set
      * iff the component is >= 0. */
    private def packWord(vec: Column, word: Int): Column =
      (0 until 32).map(i =>
        when(element_at(vec, word * 32 + i + 1) >= 0, lit(1L << i))
          .otherwise(lit(0L)))
        .reduce(_ + _)

    /** (id, b0, b1, …) sign-bit words for a dim-`32·nWords` vector. */
    def pack(df: DataFrame, idCol: String, vecCol: String,
        nWords: Int): DataFrame =
      df.select(col(idCol).as("vid") +:
        (0 until nWords).map(w => packWord(col(vecCol), w).as(s"b$w")): _*)

    private def hamming(nWords: Int): Column =
      (0 until nWords).map(w =>
        bit_count(col(s"b$w").bitwiseXOR(col(s"qb$w"))))
        .reduce(_ + _)

    /** Hamming-filtered ANN: `nCand` best candidates per query by packed
      * Hamming distance (ties → lowest vid), then exact cosine re-rank to
      * top-k on the original vectors. Output: (qid, vid, rnk). */
    def topK(queries: DataFrame, corpus: DataFrame, idCol: String,
        vecCol: String, k: Int, nCand: Int, nWords: Int): DataFrame = {
      val c = pack(corpus, idCol, vecCol, nWords)
      val q = broadcast(pack(queries, idCol, vecCol, nWords)
        .select(col("vid").as("qid") +:
          (0 until nWords).map(w => col(s"b$w").as(s"qb$w")): _*))
      val ham = c.crossJoin(q).filter(col("vid") =!= col("qid"))
        .select(col("qid"), col("vid"), hamming(nWords).as("ham"))
      // Hamming is integer: negate for the sim-desc two-stage top-k.
      val cand = topKOfSims(
        ham.select(col("qid"), col("vid"), (-col("ham")).as("sim")), nCand)
        .select(col("qid"), col("vid"))
      val qv = broadcast(queries.select(col(idCol).as("qid"),
        col(vecCol).as("qvec")))
      val cv = corpus.select(col(idCol).as("vid"), col(vecCol).as("cvec"))
      val sims = cand.join(cv, "vid").join(qv, "qid")
        .select(col("qid"), col("vid"),
          cosine(col("qvec"), col("cvec")).as("sim"))
      topKOfSims(sims, k)
    }
  }

  /** Random-hyperplane sign-LSH. `planes(dim, nPlanes, seed)` generates the
    * (deterministic) hyperplane matrix as a literal — broadcast free. */
  def planes(dim: Int, nPlanes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  final case class SignLsh(dim: Int, nPlanes: Int, seed: Long = 42L) {
    val hp: Array[Array[Double]] = planes(dim, nPlanes, seed)

    /** Bucket key: one bit per hyperplane (sign of the projection). */
    def bucket(vec: Column): Column = {
      val bits = hp.zipWithIndex.map { case (plane, i) =>
        val planeCol = array(plane.map(lit(_)).toIndexedSeq: _*)
        when(dot(vec, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
      }
      bits.reduce(_ + _)
    }

    /** All XOR masks within Hamming distance `radius` of 0 — the
      * multi-probe neighborhood (mask 0 = the home bucket). */
    def probeMasks(radius: Int): scala.Seq[Long] =
      (0 to math.min(radius, nPlanes)).flatMap(r =>
        (0 until nPlanes).combinations(r).map(_.map(1L << _).sum))

    /** Candidate pairs via the bucket equi-join: each query probes its own
      * bucket plus all buckets within Hamming distance `probes`. Output:
      * (qid, qvec, vid, cvec), distinct pairs. The cross product never
      * materializes — candidates are O(n · collision-rate). */
    def candidates(queries: DataFrame, corpus: DataFrame,
        idCol: String, vecCol: String, probes: Int): DataFrame = {
      val base = bucket(col(vecCol))
      val probeBuckets =
        array(probeMasks(probes).map(m => base.bitwiseXOR(lit(m))): _*)
      val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        explode(probeBuckets).as("b"))
      val c = corpus.select(col(idCol).as("vid"), col(vecCol).as("cvec"),
        bucket(col(vecCol)).as("b"))
      // no dedup needed: a corpus vector has exactly one bucket and the
      // probe masks are distinct, so each (qid, vid) pair joins at most
      // once — saves a full shuffle over the candidate set
      q.join(c, "b").filter(col("vid") =!= col("qid"))
    }

    /** ANN top-k: LSH candidates, exact cosine re-rank. Output = the true
      * top-k restricted to the candidate set (qid, vid, rnk) — so the
      * only approximation is candidate coverage, which the deterministic
      * bucketing makes reproducible (and oracle-checkable). */
    def topK(queries: DataFrame, corpus: DataFrame,
        idCol: String, vecCol: String, k: Int, probes: Int = 1): DataFrame = {
      val sims = candidates(queries, corpus, idCol, vecCol, probes)
        .select(col("qid"), col("vid"),
          cosine(col("qvec"), col("cvec")).as("sim"))
      topKOfSims(sims, k)
    }
  }
}
