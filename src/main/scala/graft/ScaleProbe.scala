package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Scale-up probe: replicates the sf0.1 corpora at 1×/4×/16× with
  * per-copy decorrelating transforms and times the scale-sensitive
  * operator families end-to-end. Near-linear wall-clock growth here is
  * the local evidence behind the 100 TB claims — a super-linear curve
  * means a hidden quadratic (cross join, unpartitioned window, driver
  * collect, hot LSH bucket) that the fixed-SF correctness gates can't
  * see. The first probe run caught exactly that: a hot-bucket
  * candidate-pair blowup in MinHash-LSH on templated text.
  *
  * Replica construction per family (copies must be *internally*
  * isomorphic to the base corpus but *mutually* unrelated, or the
  * probe measures synthetic self-similarity instead of data volume):
  *  - documents: every word of copy k becomes hex(xxhash64(word, k)),
  *    so copies share neither tokens nor (beyond chance) character
  *    shingles, while within-copy doc-vs-doc similarity structure is
  *    preserved (same word ⇒ same hash within a copy). A plain `_k`
  *    suffix salt is NOT enough: char-shingle MinHash still sees
  *    sibling copies as near-dups through the shared word bodies.
  *  - embeddings: copy k applies a fixed orthogonal transform — a
  *    circular dimension shift by k plus a murmur3-derived ±1 sign per
  *    dimension. Orthogonal ⇒ within-copy cosines are bit-identical to
  *    the base corpus's; distinct transforms ⇒ cross-copy cosines are
  *    near-random (≪ the 0.4 semdedup threshold).
  *  - events / graph edges: id-space offset per copy (disjoint users /
  *    nodes; per-key structure identical).
  *
  * Emits one `SCALE <row>` line per measurement ([[Probe.Row]]) and, run
  * as `graft.Probe scale`, merges the rows into SCALE_r10.json (or
  * `--out <path>`), which ScaleLinearitySpec gates: wall-clock growth per
  * 4× step must stay ≤ 1.3× linear and pair outputs must not blow up
  * super-linearly. Each row also carries the probe's [[Probe.Counters]]
  * (task metrics, from [[graft.obs.JobProfile]]): byte counters are
  * immune to the shared-host wall-clock noise (±2× on repeat runs of
  * identical code), so a wall-clock wobble with exactly-linear bytes is
  * adjudicated as machine noise, super-linear bytes as a real plan
  * defect. A family's steps compare rows across the SCALE_r10*.json
  * files, so re-probe a family whole (every mult those files hold for
  * it) on one box, never a single row next to rows timed on another host.
  */
object ScaleProbe {
  /** Per-node SQL-metric attribution: walk the
    * EXECUTED adaptive plan of a just-run action and print one line per
    * exchange/sort/join/aggregate node with its byte- and row-valued
    * metrics, so a super-linear aggregate byte curve can be pinned to
    * the specific exchange that grows. Read-only on internals
    * (AdaptiveSparkPlanExec.executedPlan / QueryStageExec.plan). */
  private def dumpPlanMetrics(op: String, mult: Int,
      df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan, depth: Int): Unit = {
      if (!seen.add(p)) return
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
        case q: QueryStageExec => walk(q.plan, depth)
        case _ =>
          val name = p.nodeName
          if (name.contains("Exchange") || name.contains("Sort") ||
              name.contains("Join") || name.contains("Aggregate") ||
              name.contains("Checkpoint")) {
            val ms = p.metrics.toSeq
              .filter { case (k, m) =>
                m.value > 0 && (m.metricType == "size" ||
                  k == "numOutputRows" || k.contains("records")) }
              .sortBy(_._1)
              .map { case (k, m) => s"$k=${m.value}" }
            if (ms.nonEmpty)
              println(s"ATTR $op mult=$mult d=$depth $name " +
                s"[${p.simpleStringWithNodeId().take(120)}] ${ms.mkString(" ")}")
          }
          p.children.foreach(walk(_, depth + 1))
      }
    }
    walk(df.queryExecution.executedPlan, 0)
  }

  def run(spark: SparkSession, mults: scala.Seq[Int],
      ops: Set[String] = Set.empty, attr: Boolean = false): scala.Seq[Probe.Row] = {
    // Measure the SCALE plan at every mult: with auto-broadcast on, AQE
    // broadcasts corpus-sized relations that happen to fit at small
    // mults (e.g. the jaccard verify's per-doc gid sets at ≤4× — 8 MB)
    // and switches to shuffle at larger ones, so the byte curve steps
    // 10× at the switch point instead of tracking data growth — the
    // small-mult points were measuring a plan that CANNOT exist at
    // 100 TB. Explicit broadcast() hints (centroids, idf tables — the
    // constant-size relations that stay broadcastable at any corpus
    // size) are unaffected by these thresholds.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val sf = Probe.SfDir
    val docsBase = spark.read.parquet(s"$sf/documents.parquet")
    val embBase = spark.read.parquet(s"$sf/embeddings.parquet")
    val evBase = spark.read.parquet(s"$sf/events.parquet")
    // the q129 trade graph (orders ⋈ lineitem, symmetrized), built once
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val e0 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(1000000L)).as("dst"))
      .distinct()
    val edgesBase = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))

    val nDocs = docsBase.count()
    val nEmb = embBase.count()
    val nEv = evBase.count()
    val nEdges = edgesBase.count()
    val dim = embBase.selectExpr("max(size(embedding))").head().getInt(0)

    def docsCorpus(mult: Int) = (0 until mult).map { k =>
      docsBase.select(
        (col("doc_id") + lit(k.toLong * 1000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => lower(hex(xxhash64(w, lit(k))))), " ").as("text"),
        col("source"))
    }.reduce(_.unionByName(_))

    def embCorpus(mult: Int) = (0 until mult).map { k =>
      embBase.select(
        (col("vec_id") + lit(k.toLong * 1000000L)).as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (element_at(col("embedding"), (pmod(i + lit(k), lit(dim)) + 1).cast("int")) *
            when(pmod(hash(i, lit(k)), lit(2)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).cast(FloatType))
          .cast(ArrayType(FloatType)).as("embedding"),
        col("label"))
    }.reduce(_.unionByName(_))

    // plain replicas (id offset only, text UNHASHED): for posting-list
    // operators (BM25) there is no pair join to decorrelate — shared
    // vocabulary across copies is exactly the honest scaling (df and
    // posting lists grow with the corpus)
    def plainCorpus(mult: Int) = (0 until mult).map { k =>
      docsBase.select(
        (col("doc_id") + lit(k.toLong * 1000000L)).as("doc_id"),
        col("text"), col("source"))
    }.reduce(_.unionByName(_))

    // CHARACTER-level decorrelation (winnowing / char-shingle families):
    // copy k applies a SEEDED FULL PERMUTATION of the alphabet — a
    // bijection preserves within-copy shingle structure EXACTLY while
    // cross-copy 5-grams differ. A Caesar SHIFT (the first construction)
    // only has 26 distinct values: at 64 copies, copies k and k+26 were
    // IDENTICAL text, so 72% of the 64× shared-passage pairs were
    // legitimate cross-copy matches masquerading as false collisions.
    // The hex-hash replica is wrong here too: it collapses text to a
    // 16-symbol alphabet, inflating 5-gram collision density
    // ~26^5/16^5 ≈ 11× and with it the true shared-passage answer (the
    // first probe run measured 9.5M pairs at 1× and OOM'd at 16×).
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def charCorpus(mult: Int) = (0 until mult).map { k =>
      val to =
        if (k == 0) alpha // copy 0 = the base corpus verbatim
        else {
          val arr = alpha.toCharArray
          val rnd = new java.util.Random(k.toLong * 2654435761L)
          var i = arr.length - 1
          while (i > 0) { // Fisher–Yates, deterministic per copy
            val j = rnd.nextInt(i + 1)
            val t = arr(i); arr(i) = arr(j); arr(j) = t
            i -= 1
          }
          new String(arr)
        }
      docsBase.select(
        (col("doc_id") + lit(k.toLong * 1000000L)).as("doc_id"),
        translate(col("text"), alpha + alpha.toUpperCase,
          to + to.toUpperCase).as("text"),
        col("source"))
    }.reduce(_.unionByName(_))

    def evCorpus(mult: Int) = (0 until mult).map { k =>
      evBase.select(
        (col("event_id") + lit(k.toLong * 1000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k.toLong * 1000000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.unionByName(_))

    def edgeCorpus(mult: Int) = (0 until mult).map { k =>
      edgesBase.select(
        (col("src") + lit(k.toLong * 100000000L)).as("src"),
        (col("dst") + lit(k.toLong * 100000000L)).as("dst"))
    }.reduce(_.unionByName(_))

    val buf = scala.collection.mutable.ArrayBuffer.empty[Probe.Row]
    // measures family `op`'s probe `f`, which returns its output rows and,
    // for a pair emitter, its cross-copy pairs
    def record(op: String, mult: Int, rowsIn: Long)(f: => (Long, Option[Long])): Unit = {
      if (ops.nonEmpty && !ops(op)) return
      val ((n, cross), wall, prof) = Probe.measured(spark)(f)
      if (attr) Probe.printProfile(s"$op mult=$mult", wall, prof)
      val row = Probe.Row(op, mult, rowsIn, wall, n, cross, Some(Probe.Counters.of(prof)))
      println(s"SCALE ${row.json}")
      buf += row
      // leaked localCheckpoint blocks from one family otherwise inflate
      // the NEXT family's wall via block-manager memory pressure (the
      // same effect Bench guards per-query); metrics are taken above,
      // so the cleanup never pollutes the counters. BLOCKING: the async
      // form left blocks alive into the next family — the r9 256× full
      // run OOM'd at family 13 (AGGREGATE_OUT_OF_MEMORY) under the
      // residue of twelve prior corpora.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def probe(op: String, mult: Int, rowsIn: Long)(f: => Long): Unit =
      record(op, mult, rowsIn)((f, None))
    // pair emitters: one aggregation job returns (total, cross-copy)
    // together — replica ids are base_id + copy*1e6, so the copy is
    // recoverable from the pair endpoints
    def probePairs(op: String, mult: Int, rowsIn: Long)
        (f: => DataFrame): Unit = {
      var aggDf: DataFrame = null
      record(op, mult, rowsIn) {
        aggDf = f.agg(
          count(lit(1)).as("n"),
          coalesce(sum(when(floor(col("id_a") / 1000000L) =!=
            floor(col("id_b") / 1000000L), 1L).otherwise(0L)), lit(0L))
            .as("x"))
        // collect(), not head(): head() re-plans through limit(1) as a
        // SEPARATE execution, so dumpPlanMetrics below would walk a plan
        // whose metrics never populated (r10: silent empty ATTR dump)
        val row = aggDf.collect()(0)
        (row.getLong(0), Some(row.getLong(1)))
      }
      if (attr && aggDf != null) dumpPlanMetrics(op, mult, aggDf)
    }

    mults.foreach { mult =>
      // materialize each replica corpus to parquet so every op reads a
      // real file source (stats, pushdown) rather than a union plan
      def mat(df: DataFrame, name: String): DataFrame = {
        val dir = s"/tmp/scale_${name}_$mult"
        df.repartition(32).write.mode("overwrite").parquet(dir)
        val out = spark.read.parquet(dir)
        out.count() // warm the page cache
        out
      }
      lazy val docs = mat(docsCorpus(mult), "docs")
      lazy val plain = mat(plainCorpus(mult), "plain")
      lazy val chars = mat(charCorpus(mult), "chars")
      lazy val emb = mat(embCorpus(mult), "emb")
      lazy val ev = mat(evCorpus(mult), "ev")
      lazy val edges = mat(edgeCorpus(mult), "edges")
      // Force corpus materialization OUTSIDE any probe's counter
      // window: mat()'s write+read bytes otherwise attribute to
      // whichever enabled family touches the lazy val FIRST — a
      // LINEAR offset that doesn't corrupt within-run gates, but makes
      // rows incomparable ACROSS runs with different --ops sets (r9:
      // cc_dedup's committed 256× row carried the mat bytes its 64×
      // row didn't, reading as a fake 1.87×-of-linear step; the
      // cc-only bytes are exactly linear).
      locally {
        def need(fs: String*) = fs.exists(f => ops.isEmpty || ops(f))
        if (need("jaccard_join", "minhash_pairs", "cc_dedup", "bloom_anti",
          "tfidf_topk", "simhash_pairs", "contamination")) { docs; () }
        if (need("bm25")) { plain; () }
        if (need("shared_passages")) { chars; () }
        if (need("semdedup", "kmeans_largek", "ann_ivf", "embed_neardup"))
          { emb; () }
        if (need("sessionize", "funnel", "retention")) { ev; () }
        if (need("pagerank")) { edges; () }
      }

      probePairs("jaccard_join", mult, nDocs * mult) {
        graft.llmops.Dedup.jaccardJoinExact(docs, "doc_id", "text", 7000)
      }
      probePairs("minhash_pairs", mult, nDocs * mult) {
        graft.llmops.Dedup.minhashPairs(docs, "doc_id", "text")
      }
      probe("cc_dedup", mult, nDocs * mult) {
        // deployment posture (r8: the byte gate caught the old 32-bit/
        // 4-band config going quadratic — 8-bit band keys mean 256
        // buckets, and at 16× the 80k docs saturate them, so candidate
        // pairs grow as n²/256; 16-bit bands keep buckets sparse across
        // the probed range, which is the posture any real corpus needs)
        val pairs = graft.llmops.Dedup.simhashPairs(docs, "doc_id", "text",
          bits = 64, bands = 8, maxHamming = 3)
        graft.llmops.Graph.dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
          .count()
      }
      probe("bloom_anti", mult, nDocs * mult) {
        val d2 = docs.select(col("source"), col("doc_id"),
          graft.llmops.Dedup.fingerprint(col("text")).as("fp"))
        val train = d2.filter(col("doc_id") % 50 =!= 0)
        val evd = d2.filter(col("doc_id") % 50 === 0).select(col("fp").as("efp"))
        graft.ops.Sketches.bloomAntiJoin(train, "fp", evd, "efp",
          4096L * mult, 65536L * mult).count()
      }
      probe("tfidf_topk", mult, nDocs * mult) {
        graft.llmops.TextStats.tfidfTopK(docs, "doc_id", "text", 3).count()
      }
      probe("semdedup", mult, nEmb * mult) {
        // deployment posture (same as ann_ivf's centroids): k grows with
        // the corpus via auto-k, holding expected cluster size — and so
        // per-cluster pair work — constant across mults. A fixed k here
        // is Θ(n²/k): the r6 probe pinned k=8 and measured the quadratic
        // emerging at the 16× step (2.57× of linear). targetClusterSize
        // 25 keeps kEff > 64 from mult 1, so EVERY point runs the
        // two-level fit, and broadcastKCap=0 shuffles the centroid side
        // everywhere — with the r9 defaults (tcs = nEmb/8) the 4×→16×
        // step straddled the flat→two-level switch at kEff = 64 and
        // read as a fake 2.9×-of-linear record step (the same
        // plan-shape-switch artifact as kmeans_largek's broadcast cap).
        graft.llmops.Training.semanticDedup(emb, "vec_id", "embedding",
          k = 0, iters = 2, threshold = 0.4,
          targetClusterSize = 25, broadcastKCap = 0).count()
      }
      probe("kmeans_largek", mult, nEmb * mult) {
        // forced-large-k posture (r7 judge finding): k = n fine
        // centroids — the regime where collecting/broadcasting the
        // centroid relation would be linear-in-corpus driver state.
        // broadcastKCap=0 forces the SHUFFLED ccid equi-join at every
        // mult: the deployment cap (32768) sits between the 16× point
        // (k=32,000 → broadcast) and the 64× point (k=128,000 →
        // shuffle), so capped runs measure two different plan shapes
        // across the probed range and the broadcast→shuffle switch
        // reads as a fake 1.55×-of-linear byte/record step (r9 —
        // the same artifact class as r8's auto-broadcast finding).
        graft.llmops.Training.KMeans.fitTwoLevel(
          emb, "vec_id", "embedding", k = (nEmb * mult).toInt, iters = 2,
          broadcastKCap = 0)
          .count()
      }
      probe("ann_ivf", mult, nEmb * mult) {
        // deployment posture: centroid count scales with the corpus so
        // per-cluster bucket size stays constant; 10 fixed queries —
        // the corpus-sized cost is the assignment pass, which must
        // stay linear. twoLevelKCap=0 forces the TWO-LEVEL assignment
        // at every mult (the 100 TB shape — flat assignment is O(n·k)
        // = quadratic under this posture: the r9 256× probe measured
        // its wall at 11.6× per 4× of data before the two-level path
        // existed, 146.6 s → 6.4 s after), so no mult measures a
        // different plan than its neighbours.
        graft.llmops.Similarity.Ivf.topK(
          emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
          5, numCentroids = 16 * mult, nprobe = 4,
          twoLevelKCap = 0).count()
      }
      probe("bm25", mult, nDocs * mult) {
        graft.llmops.Index.bm25TopK(plain, "doc_id", "text",
          scala.Seq("dup", "hash", "scan"), k = 20).count()
      }
      probe("sessionize", mult, nEv * mult) {
        graft.ops.Sessionize.sessions(ev, "user_id", "ts", "6 hours",
          scala.Seq(sum(col("value")).as("sum_value"))).count()
      }
      probe("funnel", mult, nEv * mult) {
        graft.ops.EventAnalytics.funnel(ev, "user_id", "ts", "event_type",
          scala.Seq("signup", "view", "click", "purchase")).count()
      }
      probe("retention", mult, nEv * mult) {
        graft.ops.EventAnalytics.retentionCohorts(ev, "user_id", "ts", 7)
          .count()
      }
      probe("pagerank", mult, nEdges * mult) {
        graft.llmops.Graph.pagerankIter(edges, "src", "dst", iters = 3).count()
      }
      probePairs("simhash_pairs", mult, nDocs * mult) {
        // the 64-bit width (salted second digest) at scale. Short docs
        // are excluded as in practice (Manku et al. §4): with few
        // tokens the majority bits tie-bias toward 0, so unrelated
        // short docs across copies genuinely land within Hamming 3.
        // NOTE: the TOTAL pair count is not gated for growth — a
        // Hamming-3 count on templated text is hypersensitive to the
        // per-copy word-hash relabeling (measured per-copy counts at
        // 4×: 607 / 2141 / 688 / 3023, with ZERO cross-copy pairs), so
        // the 1× baseline is a single sample of a high-variance
        // statistic. The blowup signal is `cross`, gated ≈ 0.
        val longDocs = docs.filter(size(split(col("text"), " ")) >= 16)
        graft.llmops.Dedup.simhashPairs(longDocs, "doc_id", "text",
          bits = 64, bands = 8, maxHamming = 3)
      }
      probe("embed_neardup", mult, nEmb * mult) {
        // deployment posture: planes grow with the corpus (log2(mult)
        // extra) so bucket sizes stay constant, like ann_ivf's centroids
        val planes = 6 + (math.log(mult.toDouble) / math.log(2.0)).round.toInt
        graft.llmops.Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
          graft.llmops.Similarity.SignLsh(dim = dim, nPlanes = planes),
          probes = 1, threshold = 0.9).count()
      }
      probePairs("shared_passages", mult, nDocs * mult) {
        // maxDf tightened from q61's default 1000: on this templated
        // corpus the default is a 9.5M-pair answer at 1× — correct but
        // output-dominated, which measures result write-out, not the
        // join shape. minShared stays at the production default 2 so
        // the output is non-trivial (~250/copy); like simhash, the
        // total is relabeling-sensitive (winnowing selection shifts
        // under the per-copy Caesar bijection), so growth is gated on
        // `cross` ≈ 0, wall-clock on linearity.
        graft.llmops.Dedup.sharedPassagePairs(chars, "doc_id", "text",
          k = 5, w = 4, minShared = 2, maxDf = 40)
      }
      probe("contamination", mult, nDocs * mult) {
        val train = docs.filter(col("doc_id") % 50 =!= 0)
        val evd = docs.filter(col("doc_id") % 50 === 0)
        graft.llmops.Dedup.contaminationPairs(train, evd, "doc_id", "text")
          .count()
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    buf.toSeq
  }
}
