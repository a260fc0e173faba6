package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llmops.Training

/** Training-data-assembly operators: k-means, sequence packing, mixing. */
class TrainingSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()
  import spark.implicits._

  test("kmeans separates well-separated clusters; native agg = exact mean") {
    // two tight blobs on orthogonal axes + tiny jitter
    val pts = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      val jit = base.zipWithIndex.map { case (v, d) => v + 0.01f * ((i + d) % 3) }
      (i.toLong, jit)
    }
    val df = pts.toDF("vec_id", "embedding")
    val (assigned, cents) = Training.KMeans.fit(df, "vec_id", "embedding", k = 2, iters = 3)
    val byCluster = assigned.select("vec_id", "cid").collect()
      .groupBy(_.getLong(1)).map { case (c, rs) => c -> rs.map(_.getLong(0)).toSet }
    assert(byCluster.size == 2)
    // each cluster is exactly one parity class
    assert(byCluster.values.toSet ==
      Set((0 until 20 by 2).map(_.toLong).toSet, (1 until 20 by 2).map(_.toLong).toSet))

    // native VectorSumAgg mean == driver-side exact mean of one cluster
    val evens = pts.filter(_._1 % 2 == 0).map(_._2)
    val exact = (0 until 4).map(d => evens.map(_(d).toDouble).sum / evens.size)
    val centRow = cents.orderBy("cid").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    val evenCid = byCluster.find(_._2.contains(0L)).get._1
    val got = centRow.find(_._1 == evenCid).get._2
    (exact, got).zipped.foreach((e, g) => assert(math.abs(e - g) < 1e-9))
  }

  test("packChunks: contiguous budget cuts, exact prefix arithmetic") {
    val docs = scala.Seq((1L, 100L), (2L, 50L), (3L, 200L), (4L, 30L), (5L, 500L))
      .toDF("doc_id", "toks")
    val out = Training.packChunks(docs, "doc_id", col("toks"), budget = 128L)
      .select("doc_id", "chunk_id", "chunk_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // prefix starts: 0, 100, 150, 350, 380
    assert(out.toSeq == scala.Seq(
      (1L, 0L, 0L), (2L, 0L, 100L), (3L, 1L, 22L), (4L, 2L, 94L), (5L, 2L, 124L)))
  }

  test("packChunks distributes: many partitions, same answer") {
    val docs = (1L to 1000L).map(i => (i, (i % 37) + 1)).toDF("doc_id", "toks")
      .repartition(16)
    val out = Training.packChunks(docs, "doc_id", col("toks"), budget = 97L)
    val rows = out.select("doc_id", "chunk_offset", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    var cum = 0L
    rows.foreach { case (_, off, n) =>
      assert(off == cum % 97L); cum += n
    }
  }

  test("mixStrata: deterministic, rates roughly honored, rate 1.0 keeps all") {
    val docs = (1L to 2000L).map(i =>
      (i, if (i % 4 == 0) "en" else if (i % 4 == 1) "de" else "zh"))
      .toDF("id", "lang")
    val out = Training.mixStrata(docs, col("lang"), col("id"),
      Map("en" -> 1.0, "de" -> 0.5), defaultRate = 0.25)
    val counts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("en") == 500) // rate 1.0: everything kept
    assert(math.abs(counts("de") - 250.0) < 60)
    assert(math.abs(counts("zh") - 250.0) < 75)
    // determinism: second run identical
    val again = Training.mixStrata(docs, col("lang"), col("id"),
      Map("en" -> 1.0, "de" -> 0.5), defaultRate = 0.25)
    assert(out.select("id").collect().map(_.getLong(0)).toSet ==
      again.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("contaminationPairs flags the leaked eval doc") {
    import graft.llmops.Dedup
    val train = scala.Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine")).toDF("id", "text")
    val eval = scala.Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),   // contained in train 1
      (11L, "totally different words that never appear anywhere else here"))
      .toDF("id", "text")
    val out = Dedup.contaminationPairs(train, eval, "id", "text", n = 5,
      minContainment = 0.5).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 10L)
    assert(out.head.getDouble(3) == 1.0) // all eval 5-grams present
  }

  test("PII redaction replaces every class; counts match") {
    import graft.llmops.TextStats
    val df = scala.Seq((1L,
      "mail a.user+x@test.org or b@c.io, call +1 (555) 010-1234, " +
        "host 192.168.0.1, card 4111111111111111 end")).toDF("id", "text")
    val row = df.select(
      TextStats.piiCount(col("text"), TextStats.piiPatterns.toMap.apply("email")).as("e"),
      TextStats.piiCount(col("text"), TextStats.piiPatterns.toMap.apply("ipv4")).as("i"),
      TextStats.piiRedact(col("text")).as("r")).head()
    assert(row.getLong(0) == 2)
    assert(row.getLong(1) == 1)
    val r = row.getString(2)
    assert(r.contains("[EMAIL]") && r.contains("[PHONE]") &&
      r.contains("[IPV4]") && r.contains("[CARD]"))
    assert(!r.contains("@") && !r.contains("192.168"))
  }

  test("repetition stats: boilerplate scores high, prose low") {
    import graft.llmops.TextStats
    val df = scala.Seq(
      (1L, "buy now buy now buy now buy now"),
      (2L, "the quick brown fox jumps over a lazy dog")).toDF("id", "text")
    val rows = df.select(col("id"),
      TextStats.topBigramFrac(col("text")).as("tb"),
      TextStats.dupTokenFrac(col("text")).as("dt"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rows(1L)._1 > 0.5 && rows(1L)._2 > 0.5)
    assert(rows(2L)._1 <= 0.2 && rows(2L)._2 == 0.0)
  }

  test("n-gram coverage fractions: hand-computed marking, overlaps once") {
    import graft.llmops.TextStats
    val df = scala.Seq(
      // "ab cd ab cd ab" — top bigram "ab cd" occurs 2×, covering
      // positions 1-4 of 5; every token is 2 chars → top2 = 8/10
      (1L, "ab cd ab cd ab"),
      // all bigrams unique → top2 covers exactly one bigram = 4/10 chars
      (2L, "aa bb cc dd ee"),
      // "x y z w v x y z w v" — the 5-gram repeats at positions 1 and 6
      // covering everything → dup5 = 1.0; no duplicate 10-gram → dup10 = 0
      (3L, "x y z w v x y z w v"),
      (4L, "one"), (5L, "")).toDF("id", "text")
    val rows = df.select(col("id"),
        TextStats.topNgramCharFrac(col("text"), 2).as("t2"),
        TextStats.dupNgramCharFrac(col("text"), 5).as("d5"),
        TextStats.dupNgramCharFrac(col("text"), 10).as("d10"))
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(rows(1L)._1 === 0.8)
    assert(rows(2L)._1 === 0.4)
    // top bigram "x y" (earliest of the count-2 ties) marks positions
    // 1,2,6,7 of ten 1-char tokens
    assert(rows(3L)._1 === 0.4)
    assert(rows(3L)._2 === 1.0)
    assert(rows(3L)._3 === 0.0)
    assert(rows(4L) === ((0.0, 0.0, 0.0)))
    assert(rows(5L) === ((0.0, 0.0, 0.0)))
  }

  test("n-gram top tiebreak: earliest first occurrence wins") {
    import graft.llmops.TextStats
    // "b c a a b c" — bigrams: "b c"(2: pos 1,5), "c a"(1), "a a"(1),
    // "a b"(1). Top = "b c" covering pos 1,2,5,6 → 4/6 chars.
    val df = scala.Seq((1L, "b c a a b c")).toDF("id", "text")
    val v = df.select(TextStats.topNgramCharFrac(col("text"), 2))
      .collect()(0).getDouble(0)
    assert(math.abs(v - 4.0 / 6.0) < 1e-15)
  }

  test("temperatureWeights: integer-exact sqrt weights and shares") {
    import graft.llmops.Training
    val df = scala.Seq(
      ("a", "t " * 99 + "t"), // 100 tokens → weight 10
      ("b", "t " * 24 + "t"), // 25 tokens → weight 5
      ("b", "t " * 10 + "t")  // 11 more → b: 36 tokens → weight 6
    ).toDF("src", "text")
    val rows = Training.temperatureWeights(df, "src", "text")
      .orderBy("source").collect()
    assert(rows(0).getString(0) === "a" && rows(0).getLong(1) === 100L
      && rows(0).getLong(2) === 10L && rows(0).getLong(3) === 6250L)
    assert(rows(1).getString(0) === "b" && rows(1).getLong(1) === 36L
      && rows(1).getLong(2) === 6L && rows(1).getLong(3) === 3750L)
  }

  test("vocabCoverage: rank order, cumulative basis points over ALL tokens") {
    import graft.llmops.TextStats
    val df = scala.Seq((1L, "a a a b b c")).toDF("id", "text")
    val rows = TextStats.vocabCoverage(df, "text", 2).orderBy("rank").collect()
    // total mass 6; head: a(3) → 5000 bp, b(2) → cum 5 → 8333 bp
    assert(rows.length === 2)
    assert(rows(0).getLong(0) === 1L && rows(0).getString(1) === "a"
      && rows(0).getLong(2) === 3L && rows(0).getLong(3) === 5000L)
    assert(rows(1).getString(1) === "b" && rows(1).getLong(3) === 8333L)
  }

  test("packDocs: boundaries kept, bins never overfill, oversized doc alone") {
    import graft.llmops.Training
    val df = scala.Seq(
      (1L, 100L), (2L, 100L), (3L, 100L), (4L, 300L), (5L, 50L), (6L, 10L))
      .toDF("id", "nt")
    val out = Training.packDocs(df, "id", col("nt"), capacity = 256,
        nBuckets = 1) // single bucket → one deterministic sequence
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // every doc assigned exactly once
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    // reconstruct fills per bin: no bin over capacity unless single doc
    val nt = Map(1L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 300L, 5L -> 50L, 6L -> 10L)
    out.groupBy(_._2._2).foreach { case (_, docs) =>
      val fill = docs.keys.map(nt).sum
      assert(fill <= 256 || docs.size == 1, s"overfilled bin: $docs")
    }
    // bins are contiguous starting at 0
    val bins = out.values.map(_._2).toSet
    assert(bins === (0L until bins.size).toSet)
  }

  test("selectByBudget: rank order, exact prefix sums, budget boundary") {
    import graft.llmops.Training
    val df = scala.Seq(
      (1L, 10L, 5L), (2L, 30L, 7L), (3L, 20L, 4L), (4L, 30L, 2L))
      .toDF("id", "score", "nt")
    // order: score desc, id asc → 2(7), 4(2), 3(4), 1(5)
    val out = Training.selectByBudget(df,
        scala.Seq(-col("score"), col("id")), col("nt"), budget = 10L)
      .orderBy("rank")
      .select("id", "rank", "cum_before", "selected").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq === scala.Seq(
      (2L, 1L, 0L, true),   // 0+7 <= 10
      (4L, 2L, 7L, true),   // 7+2 <= 10
      (3L, 3L, 9L, false),  // 9+4 > 10
      (1L, 4L, 13L, false)))
  }

  test("selectByBudget distributes: many partitions, same answer") {
    import graft.llmops.Training
    val df = (1L to 200L).map(i => (i, i % 17, 3L)).toDF("id", "score", "nt")
    val one = Training.selectByBudget(df.coalesce(1),
      scala.Seq(-col("score"), col("id")), col("nt"), budget = 100L)
      .select("id", "rank", "cum_before", "selected").collect().toSet
    val many = Training.selectByBudget(df.repartition(13),
      scala.Seq(-col("score"), col("id")), col("nt"), budget = 100L)
      .select("id", "rank", "cum_before", "selected").collect().toSet
    assert(one === many)
  }

  test("capPerGroup: deterministic cap, repeated run identical") {
    val df = (0L until 100L).map(i => (i, s"s${i % 3}")).toDF("id", "src")
    val a = Training.capPerGroup(df, col("src"), col("id"), 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Training.capPerGroup(df, col("src"), col("id"), 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b && a.size == 30)
    assert(a.groupBy(_._2).forall(_._2.size == 10))
    // groups under the cap survive whole
    val small = Training.capPerGroup(df.filter(col("id") < 6), col("src"), col("id"), 10)
    assert(small.count() == 6)
  }

  test("semanticDedup: near-identical vectors collapse, distinct survive") {
    // 3 copies of e0 (tiny jitter), 2 copies of e1, 1 lone e2-ish vector
    def v(base: Int, jit: Float) = {
      val a = Array.fill(4)(0f); a(base) = 1f; a((base + 1) % 4) += jit; a
    }
    val df = scala.Seq(
      (0L, v(0, 0.001f)), (1L, v(0, 0.002f)), (2L, v(0, 0.003f)),
      (10L, v(1, 0.001f)), (11L, v(1, 0.002f)),
      (20L, v(2, 0.001f))).toDF("vec_id", "embedding")
    val out = Training.semanticDedup(df, "vec_id", "embedding",
        k = 3, iters = 2, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toList
    val byId = out.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(0L) == (0L, true) && byId(1L) == (0L, false) && byId(2L) == (0L, false))
    assert(byId(10L) == (10L, true) && byId(11L) == (10L, false))
    assert(byId(20L) == (20L, true))
  }

  test("semanticDedup auto-k: k<=0 sizes k from n/targetClusterSize") {
    def v(base: Int, jit: Float) = {
      val a = Array.fill(4)(0f); a(base) = 1f; a((base + 1) % 4) += jit; a
    }
    // 12 vectors in 4 orthogonal families of 3 near-identical copies
    // each; ids interleave (id % 4 = family) so the deterministic
    // lowest-id k-means seeds land one per family
    val rows = for (b <- 0 until 4; j <- 0 until 3)
      yield ((j * 4 + b).toLong, v(b, 0.001f * (j + 1)))
    val df = rows.toDF("vec_id", "embedding")
    // targetClusterSize=3 → auto-k = ceil(12/3) = 4: each family gets its
    // own shard and collapses to one keeper
    val out = Training.semanticDedup(df, "vec_id", "embedding",
        k = 0, iters = 3, threshold = 0.99, targetClusterSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 12)
    assert(out.count(_._3) == 4) // one keeper per family
    // keepers are the min id of their component, components match families
    for ((id, cluster, keep) <- out) {
      assert(cluster == id % 4)
      assert(keep == (id == cluster))
    }
    // same explicit k gives the identical result (auto-k is just sizing)
    val exp = Training.semanticDedup(df, "vec_id", "embedding",
        k = 4, iters = 3, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet
    assert(out.toSet == exp)
  }

  test("centroidOutliers flags the farthest-from-centroid fraction per cluster") {
    // 9 vectors tight around axis 0 + 1 clear straggler leaning to axis 1;
    // 10 around axis 1 with a straggler leaning to axis 0.
    def v(base: Int, lean: Float) = {
      val a = Array.fill(4)(0f); a(base) = 1f; a((base + 1) % 4) = lean; a
    }
    val rows =
      (0L until 9L).map(i => (i, v(0, 0.01f * (i + 1)))) ++ Seq((9L, v(0, 0.9f))) ++
        (10L until 19L).map(i => (i, v(1, 0.01f * (i - 9)))) ++ Seq((19L, v(1, 0.9f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Training.centroidOutliers(df, "vec_id", "embedding",
        k = 2, iters = 2, frac = 0.1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out.size == 20)
    // exactly ceil(10 * 0.1) = 1 outlier per cluster: the stragglers
    assert(out(9L) && out(19L))
    assert(out.count(_._2) == 2)
  }

  test("chunkOverlap: windows, stride, tail partial, token counts") {
    import graft.llmops.TextStats
    val text = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val df = scala.Seq((1L, text), (2L, "solo")).toDF("doc_id", "text")
    val out = TextStats.chunkOverlap(df, "doc_id", "text", window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // starts at 1,4,7 (last start = n-window+1 = 7): three full windows
    assert(d1.map(_._3).toList == List(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(d1.map(_._4).toList == List(4L, 4L, 4L))
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._3 == "solo" && d2.head._4 == 1L)
  }

  test("importanceMass: hand-computed target/background masses") {
    import graft.llmops.TextStats
    val df = scala.Seq(
      (1L, "a b a", true), (2L, "b c", false)).toDF("id", "text", "tgt")
    // target counts: a=2 b=1; background: a=2 b=2 c=1
    val out = TextStats.importanceMass(df, "id", "text", col("tgt"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((3L, 5L, 6L)))  // tokens a,b,a → ct 2+1+2=5, cb 2+2+2=6
    assert(out(2L) == ((2L, 1L, 3L)))  // tokens b,c → ct 1+0, cb 2+1
  }

  test("round-4 ops survive null/empty/single-token text") {
    import graft.llmops.{Dedup, TextStats}
    val df = scala.Seq[(java.lang.Long, String)](
      (1L, null), (2L, ""), (3L, "one"), (4L, "two tokens"))
      .toDF("doc_id", "text")
    // none of these may throw; null text rows yield null/empty outputs
    assert(TextStats.chunkOverlap(df.filter(col("text").isNotNull),
      "doc_id", "text", 4, 3).count() == 3)
    assert(TextStats.importanceMass(df, "doc_id", "text",
      lit(true)).count() >= 2)
    val ngrams = df.select(Dedup.wordNgrams(col("text"), 5).as("g")).collect()
    assert(ngrams.length == 4)
    val norm = df.select(
      TextStats.normalizeUnicode(col("text"), "NFC").as("n"),
      TextStats.stripAccents(col("text")).as("p")).collect()
    assert(norm(0).isNullAt(0) && norm(1).getString(0) == "")
    val bg = df.select(TextStats.wordBigramsRaw(col("text")).as("b")).collect()
    assert(bg.length == 4)
  }

  test("round-6 ops survive null/empty/single-token text") {
    import graft.llmops.{Curation, Dedup, TextStats}
    val df = scala.Seq[(java.lang.Long, String)](
      (1L, null), (2L, ""), (3L, "one"), (4L, "two tokens"))
      .toDF("doc_id", "text")
    val nonNull = df.filter(col("text").isNotNull)
    // none of these may throw; null/empty rows degrade, never crash
    assert(Training.hashedNbClassifier(nonNull, "doc_id", "text",
      lit(true), dim = 256).count() == 3)
    assert(Dedup.dupSpanStats(nonNull, "doc_id", "text").count() == 3)
    assert(TextStats.backoffLevels(df, "doc_id", "text")
      .filter(col("n_tri") === 0).count() >= 3) // null, "", "one", "two tokens"
    val ex = Dedup.exciseDupSpans(nonNull, "doc_id", "text")
      .orderBy("id").collect()
    assert(ex.length == 3 && ex.forall(_.getLong(1) == 0L)) // nothing shared
    val dl = Curation.dedupLinesInDoc(df, "doc_id", "text")
      .orderBy("id").collect()
    assert(dl(0).isNullAt(3) || dl(0).getString(3) == null || dl(0).getString(3) == "")
    assert(dl(2).getString(3) == "one")
  }

  test("round-6 op invariants hold over a randomized corpus") {
    import graft.llmops.{Dedup, TextStats}
    // deterministic pseudo-random corpus with planted duplication
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val shared = "common passage shared across documents here"
    val docs = (1L to 60L).map { i =>
      val words = scala.Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      val t = if (i % 4 == 0) words.mkString(" ") + " " + shared
        else words.mkString(" ")
      (i, t)
    }.toDF("doc_id", "text")

    // dupSpanStats: dup_bp bounded; n_shared <= n_fp
    val dss = Dedup.dupSpanStats(docs, "doc_id", "text").collect()
    assert(dss.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 10000))
    assert(dss.forall(r => r.getLong(2) <= r.getLong(1)))

    // exciseDupSpans: clean length <= original; excised docs lose the
    // planted passage core; total rows preserved
    val ex = Dedup.exciseDupSpans(docs, "doc_id", "text").collect()
    assert(ex.length == 60)
    val lens = docs.collect().map(r => r.getLong(0) -> r.getString(1).length).toMap
    ex.foreach { r =>
      assert(r.getString(2).length <= lens(r.getLong(0)))
      if (r.getLong(0) % 4 == 0) assert(!r.getString(2).contains("passage shared"))
    }

    // classifier: score_fp in [0, scale]; pred consistent with threshold
    val cls = Training.hashedNbClassifier(docs, "doc_id", "text",
      col("doc_id") % 2 === 0, dim = 512).collect()
    assert(cls.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= 1000000L))

    // backoff: level counts partition the trigram count
    val bo = TextStats.backoffLevels(docs, "doc_id", "text").collect()
    assert(bo.forall(r =>
      r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5) == r.getLong(1)))

    // quality buckets: every bucket in [0, k)
    val qb = Training.qualityBuckets(
      docs.withColumn("src", (col("doc_id") % 3).cast("string")),
      "doc_id", "src", length(col("text")).cast("long"), 4).collect()
    assert(qb.forall(r => r.getLong(3) >= 0 && r.getLong(3) < 4))
  }

  test("substringContamination: verbatim leak found, paraphrase rejected") {
    import graft.llmops.Dedup
    val train = scala.Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "completely different content with no overlap at all here")).toDF("id", "text")
    val eval = scala.Seq(
      (100L, "gamma delta epsilon zeta"),          // verbatim inside doc 1
      (101L, "three five four six"),               // same words, wrong order
      (102L, "totally novel eval passage")).toDF("id", "text")
    val out = Dedup.substringContamination(train, eval, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 100L)))
  }

  test("ensembleDedup: each detector contributes edges; union clusters") {
    import graft.llmops.Dedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val df = scala.Seq(
      (1L, base),
      (2L, base),                      // exact duplicate of 1
      (3L, base + " x"),               // near-dup (high jaccard/simhash)
      (10L, "entirely unrelated text about distributed query engines and shuffles")
    ).toDF("id", "text")
    val out = Dedup.ensembleDedup(df, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) === ((1L, true)))
    assert(out(2L) === ((1L, false)))
    assert(out(3L)._1 === 1L && !out(3L)._2)
    assert(out(10L) === ((10L, true)))
  }

  test("lineSignals: hand-computed fractions") {
    import graft.llmops.TextStats
    val df = scala.Seq(
      (1L, "good sentence here.\n- bullet item\nplain line\nanother one?")
    ).toDF("id", "text")
    val rows = df.select(col("id") +: TextStats.lineSignals(col("text")): _*)
      .collect()(0)
    assert(rows.getLong(1) === 4L)
    assert(rows.getDouble(2) === 0.5)  // '.', '?' lines of 4
    assert(rows.getDouble(3) === 0.25) // one bullet
    // words: 3 + 3 + 2 + 2 = 10 over 4 lines
    assert(rows.getDouble(4) === 2.5)
  }

  test("sharedPassagePairs: planted shared passage found; boilerplate df-capped") {
    import graft.llmops.Dedup
    val passage = "alpha beta gamma delta epsilon zeta"
    val df = scala.Seq(
      (1L, s"unique one $passage tail x"),
      (2L, s"other prefix $passage closing y"),
      (3L, "completely different content with nothing shared here"))
      .toDF("doc_id", "text")
    val got = Dedup.sharedPassagePairs(df, "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toList == List((1L, 2L)))
  }

  test("hashedNbClassifier: weights are smoothed positive rates; pred tracks label") {
    // dim=65536 with distinct tokens → no bucket collisions: each token's
    // weight is exactly (c1+1)*1e6 div (cn+2)
    val df = scala.Seq(
      (1L, "good good good", true),
      (2L, "bad bad bad", false),
      (3L, "good bad", true))
      .toDF("id", "text", "y")
    val out = Training.hashedNbClassifier(df, "id", "text", col("y"),
        dim = 65536).orderBy("id").collect()
    // good: c1=4, cn=4 → w = 5e6 div 6 = 833333; bad: c1=1, cn=4 → 2e6 div 6 = 333333
    val wGood = 833333L; val wBad = 333333L
    assert(out(0).getLong(2) == wGood && out(0).getBoolean(3))      // doc 1
    assert(out(1).getLong(2) == wBad && !out(1).getBoolean(3))      // doc 2
    assert(out(2).getLong(2) == (wGood + wBad) / 2)                 // doc 3
    assert(out(2).getBoolean(3)) // (833333+333333)*2 > 2e6
  }

  test("qualityBuckets: per-group integer terciles, best = bucket 0") {
    val df = scala.Seq(
      (1L, "a", 90L), (2L, "a", 80L), (3L, "a", 70L),
      (4L, "a", 60L), (5L, "a", 50L), (6L, "a", 40L),
      (7L, "b", 10L), (8L, "b", 10L)) // ties break to lowest id
      .toDF("id", "src", "s")
    val out = Training.qualityBuckets(df, "id", "src", col("s"), 3)
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) == 0L && out(2L) == 0L) // ranks 1,2 of 6 → (0,1)*3/6=0
    assert(out(3L) == 1L && out(4L) == 1L)
    assert(out(5L) == 2L && out(6L) == 2L)
    assert(out(7L) == 0L && out(8L) == 1L) // tie → id 7 ranked first
  }

  test("classifier weights round-trip through parquet; loaded scores match") {
    val train = scala.Seq(
      (1L, "good text here", true), (2L, "bad words now", false),
      (3L, "good good words", true))
      .toDF("id", "text", "y")
    val dir = java.nio.file.Files.createTempDirectory("nbw").toString
    val w = Training.nbClassifierWeights(train, "text", col("y"), dim = 256)
    Training.saveClassifier(w, s"$dir/w")
    val loaded = Training.loadClassifier(spark, s"$dir/w")
    val direct = Training.hashedNbClassifier(train, "id", "text", col("y"),
      dim = 256).orderBy("id").collect().toList
    val scored = Training.nbClassifierScore(train, "id", "text", loaded,
      dim = 256).orderBy("id").collect().toList
    assert(direct == scored)
  }

  test("dupSpanStats: duplicated passage raises dup_bp; unique doc stays 0") {
    import graft.llmops.Dedup
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val df = scala.Seq(
      (1L, passage),
      (2L, passage),
      (3L, "completely different content with nothing shared here at all"))
      .toDF("doc_id", "text")
    val out = Dedup.dupSpanStats(df, "doc_id", "text", k = 5, w = 4,
        thresholdBp = 2500).orderBy("id").collect()
    // docs 1 and 2 are identical → every fingerprint shared → 10000 bp
    assert(out(0).getLong(3) == 10000L && out(0).getBoolean(4))
    assert(out(1).getLong(3) == 10000L && out(1).getBoolean(4))
    assert(out(2).getLong(2) == 0L && out(2).getLong(3) == 0L
      && !out(2).getBoolean(4))
  }

  test("exciseDupSpans: shared spans cut, unique docs untouched") {
    import graft.llmops.Dedup
    val common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = scala.Seq(
      (1L, common),
      (2L, common),
      (3L, "completely different content with nothing shared here at all"))
      .toDF("doc_id", "text")
    val out = Dedup.exciseDupSpans(df, "doc_id", "text", k = 5, w = 4)
      .orderBy("id").collect()
    // identical docs: every selected fingerprint is shared and with
    // w <= k-1 consecutive selections always overlap → one island
    // covering all but at most w-1 leading + w-1 trailing chars
    assert(out(0).getLong(1) == 1L && out(0).getString(2).length <= 6)
    assert(out(1).getLong(1) == 1L && out(1).getString(2).length <= 6)
    assert(!out(0).getString(2).contains("gamma"))
    // unique doc: zero spans, text unchanged
    assert(out(2).getLong(1) == 0L && out(2).getString(2) ==
      "completely different content with nothing shared here at all")
  }

  test("exciseDupSpans: partial overlap leaves the distinct head/tail") {
    import graft.llmops.Dedup
    val passage = "0123456789abcdefghij0123456789abcdefghij" // 40 shared chars
    val df = scala.Seq(
      (1L, s"UNIQUEHEAD-$passage-UNIQUETAIL"),
      (2L, passage))
      .toDF("doc_id", "text")
    val out = Dedup.exciseDupSpans(df, "doc_id", "text", k = 5, w = 4)
      .orderBy("id").collect()
    val clean1 = out(0).getString(2)
    assert(out(0).getLong(1) >= 1L)
    assert(clean1.startsWith("UNIQUEHEAD") && clean1.endsWith("UNIQUETAIL"))
    assert(!clean1.contains("0123456789abcdefghij"))
  }

  test("backoffLevels: hand-computed resolution histogram") {
    // corpus: "a b c a b c" repeats every trigram ≥2× except the bridging
    // ones; "x y z" contributes hapax trigrams that back off
    val df = scala.Seq(
      (1L, "a b c a b c"),   // trigrams: abc bca cab abc → c3: abc=2
      (2L, "x y b"),          // xyb hapax; trailing bigram "y b" hapax; "b" freq 3
      (3L, "q"))              // no trigrams
      .toDF("doc_id", "text")
    val out = graft.llmops.TextStats.backoffLevels(df, "doc_id", "text")
      .orderBy("id").collect()
    // doc 1: 4 trigrams; "a b c"×2 → l3=2; "b c a"/"c a b" hapax →
    //   bigrams "c a"(1), "a b"(2) → "b c a": g2="c a" c2=1 → back to "a"
    //   (c1=2) → l1; "c a b": g2="a b" c2=2 → l2
    assert(out(0).getLong(1) == 4L && out(0).getLong(2) == 2L) // n_tri, l3
    assert(out(0).getLong(3) == 1L && out(0).getLong(4) == 1L) // l2, l1
    // doc 2: 1 trigram, resolves at unigram level ("b" appears 3×)
    assert(out(1).getLong(1) == 1L && out(1).getLong(4) == 1L)
    // doc 3: no trigrams, all zeros
    assert(out(2).getLong(1) == 0L && out(2).getLong(5) == 0L)
  }

  test("repeatEpochs: whole epochs exact, fractional share ~frac, deterministic") {
    val df = (1L to 1000L).toDF("id")
    // 2.5 epochs: every id appears 2 or 3 times; mean ≈ 2.5
    val out = Training.repeatEpochs(df, "id", lit(25000L))
    val perId = out.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perId.values.forall(n => n == 2L || n == 3L))
    val total = perId.values.sum
    assert(total > 2300 && total < 2700, s"total=$total not ~2500")
    // epoch numbering is 1..n_epochs
    val eps = out.where(col("id") === 1L).select("epoch")
      .collect().map(_.getLong(0)).sorted
    assert(eps === (1L to eps.length).toArray)
    // factor 0 → row drops entirely; factor 10000 → exactly once
    assert(Training.repeatEpochs(df, "id", lit(0L)).count() === 0)
    assert(Training.repeatEpochs(df, "id", lit(10000L)).count() === 1000)
    // deterministic across partitioning
    val again = Training.repeatEpochs(df.repartition(7), "id", lit(25000L))
      .groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perId === again)
  }

  test("balancedShards: snake deal keeps shard token mass near-equal") {
    // skewed sizes: doc i has i tokens
    val df = (1L to 64L).map(i => (i, ("w " * i.toInt).trim)).toDF("id", "text")
    val out = Training.balancedShards(df, "id",
        size(split(col("text"), " ")), nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._4).distinct.sorted === Array(0L, 1L, 2L, 3L))
    // rank is the (tokens DESC, id) total order starting at 0
    assert(out.sortBy(r => (-r._2, r._1)).map(_._3).toSeq === (0L until 64L))
    val mass = out.groupBy(_._4).map { case (_, rs) => rs.map(_._2).sum }
    // 1+...+64 = 2080, mean 520/shard; snake deal keeps within one max doc
    assert(mass.max - mass.min <= 64, s"imbalance ${mass.max - mass.min}")
  }

  test("compressionProfile: utf8 bytes vs chars vs words, bp ratios") {
    val df = Seq(
      ("en", "ab cd"),        // 5 bytes, 5 chars, 2 words
      ("en", "x"),            // 1 byte, 1 char, 1 word
      ("fr", "é à")           // 5 bytes, 3 chars, 2 words
    ).toDF("lang", "text")
    val out = graft.llmops.TextStats.compressionProfile(df, "text", Seq("lang"))
      .orderBy("lang").collect()
    assert(out(0).getLong(1) === 2L && out(0).getLong(2) === 6L
      && out(0).getLong(3) === 6L && out(0).getLong(4) === 3L)
    assert(out(0).getAs[Long]("bytes_per_word_bp") === 20000L)
    assert(out(1).getLong(2) === 5L && out(1).getLong(3) === 3L
      && out(1).getLong(4) === 2L)
    assert(out(1).getAs[Long]("bytes_per_word_bp") === 25000L)
    assert(out(1).getAs[Long]("chars_per_word_bp") === 15000L)
  }

  test("clusterBalancedSample: exact per-cluster fraction, deterministic") {
    // two obvious clusters of different sizes: 40 near e1, 8 near e2
    val pts = (0 until 40).map(i => (i.toLong, Array(10f + i % 3, 0f))) ++
      (100 until 108).map(i => (i.toLong, Array(0f, 10f + i % 3)))
    val df = pts.toDF("vec_id", "embedding")
    val out = Training.clusterBalancedSample(df, "vec_id", "embedding",
      k = 2, iters = 2, keepFracBp = 2500)
    val byCluster = out.collect()
      .groupBy(_.getLong(1)).view.mapValues { rs =>
        (rs.length, rs.count(_.getString(4) == "keep"))
      }.toMap
    // exactly floor(n/4) kept in each cluster
    assert(byCluster.values.toSet === Set((40, 10), (8, 2)))
    val again = Training.clusterBalancedSample(df.repartition(5), "vec_id",
        "embedding", k = 2, iters = 2, keepFracBp = 2500)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out.collect().map(r => r.getLong(0) -> r.getString(4)).toMap === again)
  }

  test("lengthHistogram: power-of-2 buckets, exact boundaries") {
    val df = Seq(
      (1L, "a"),                       // 1 token  → bucket 0
      (2L, "a b"),                     // 2 tokens → bucket 1
      (3L, "a b c"),                   // 3        → bucket 1
      (4L, "a b c d"),                 // 4        → bucket 2
      (5L, ("w " * 7).trim)            // 7        → bucket 2
    ).toDF("id", "text")
    val out = graft.llmops.TextStats.lengthHistogram(df, "text")
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out === Array((0L, 1L, 1L, 1L), (1L, 2L, 2L, 5L), (2L, 4L, 2L, 11L)))
  }

  test("ArgMaxByLong: max ordering wins, ties -> min value, nulls skipped, " +
      "plan stays HashAggregate") {
    val df = Seq(
      (1L, 10L, 2.0), (1L, 11L, 3.0), (1L, 12L, 3.0), // tie at 3.0 -> 11
      (2L, 20L, -1.0), (2L, 21L, -2.0), // negatives -> 20
      (3L, 30L, 1.0)
    ).toDF("g", "v", "o")
      // force cross-partition merges so mergeExpressions is exercised
      .repartition(5)
      .union(Seq((3L, 31L, Double.NaN)).toDF("g", "v", "o")
        .select(col("g"), col("v"), lit(null).cast("double").as("o")))
    val agg = df.groupBy("g")
      .agg(graft.exprs.ArgMaxByLong.column(col("v"), col("o")).as("best"))
    val out = agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 11L, 2L -> 20L, 3L -> 30L))
    // all-null group evaluates to null
    val nul = Seq((9L, 1L)).toDF("g", "v")
      .groupBy("g")
      .agg(graft.exprs.ArgMaxByLong.column(col("v"),
        lit(null).cast("double")).as("best"))
      .collect()
    assert(nul.head.isNullAt(1))
    // the whole point of the fixed-width buffer: no SortAggregate /
    // ObjectHashAggregate fallback (max_by over a struct ordering
    // degrades to SortAggregate over the full pre-agg relation)
    val phys = agg.queryExecution.executedPlan.toString
    assert(phys.contains("HashAggregate"), phys)
    assert(!phys.contains("SortAggregate") && !phys.contains("ObjectHashAggregate"), phys)
  }

  test("fitTwoLevel: shuffle path (broadcastKCap=0) = broadcast path; " +
      "cids live in their coarse cell; flat assign = brute force") {
    val rnd = new scala.util.Random(7)
    val dim = 6
    val df = (0 until 200).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    val k = 100 // k1 = 10 coarse, k2 = 10 fine per cell
    val a = Training.KMeans.fitTwoLevel(df, "vec_id", "embedding", k, iters = 2)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1))
    val b = Training.KMeans.fitTwoLevel(df, "vec_id", "embedding", k, iters = 2,
        broadcastKCap = 0)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1))
    // plan shape (broadcast vs shuffled ccid join) must not change results
    assert(a.toMap === b.toMap)
    assert(a.length === 200 && a.map(_._1).distinct.length === 200)
    assert(a.forall(_._2 >= 0))

    // flat assign (typed-literal fold) matches a driver-side brute force
    val cents = (0 until 5).map(c =>
      (c.toLong, Array.fill(dim)(rnd.nextDouble() * 2 - 1).toSeq))
    val centsDf = cents.toDF("cid", "cvec")
    val got = Training.KMeans.assign(df, "vec_id", "embedding", centsDf)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def cos(x: Seq[Float], y: Seq[Double]): Double = {
      val dot = x.zip(y).map { case (a0, b0) => a0 * b0 }.sum
      val nx = math.sqrt(x.map(v => v.toDouble * v).sum)
      val ny = math.sqrt(y.map(v => v * v).sum)
      dot / (nx * ny)
    }
    vecs.foreach { case (id, v) =>
      val want = cents.map { case (c, cv) => (c, cos(v, cv)) }
        .sortBy { case (c, s) => (-s, c) }.head._1
      assert(got(id) === want, s"vec $id")
    }
  }
}
