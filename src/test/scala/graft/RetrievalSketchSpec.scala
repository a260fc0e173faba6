package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llmops.{Index, Training}
import graft.ops.Sketches

/** Hand-computed cases for the retrieval index (phrase / BM25 /
  * commonness), the KMV distinct sketch, and padding buckets.
  */
class RetrievalSketchSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox"),
    (2L, "the quick quick fox"),
    (3L, "lazy dog sleeps"),
    (4L, "the lazy quick brown dog")
  ).toDF("doc_id", "text")

  test("phraseHits: doc and occurrence counts; mixed phrase lengths; zero-hit absent") {
    val out = Index.phraseHits(docs, "doc_id", "text",
        Seq("quick brown", "the quick", "quick quick fox", "no such phrase"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(
      "quick brown" -> (2L, 2L),      // docs 1, 4
      "the quick" -> (2L, 2L),        // docs 1, 2
      "quick quick fox" -> (1L, 1L))) // doc 2; zero-hit phrase not emitted
  }

  test("bm25TopK: rarer term outweighs common; tf saturates; ties by id") {
    // 'sleeps' appears only in doc 3 (df=1) vs 'the' in docs 1,2,4 (df=3):
    // doc 3 must outrank every 'the' doc for the query {the, sleeps}
    val out = Index.bm25TopK(docs, "doc_id", "text",
        Seq("the", "sleeps"), k = 4)
      .collect().map(_.getLong(0))
    assert(out.head === 3L)
    assert(out.length === 4)
  }

  test("bm25TopK: integer scores replicate the documented formula") {
    // one-term query over a two-doc corpus, hand-evaluated:
    // docs: d1 len 2 (hit tf=1), d2 len 2 (no hit). N=2, total=4.
    // idf_bp = 2*10000 div 1 = 20000
    // norm   = 100-75 + 75*2*2 div 4 = 25 + 75 = 100
    // s      = 20000*1*220 div (100 + 120*100) = 4400000 div 12100 = 363
    val two = Seq((1L, "x y"), (2L, "a b")).toDF("doc_id", "text")
    val out = Index.bm25TopK(two, "doc_id", "text", Seq("x"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 363L))
  }

  test("commonnessBp: mean df of occurrences in basis points") {
    // corpus: d1 "a b", d2 "a c". df(a)=2, df(b)=1, df(c)=1, N=2.
    // d1: (2+1)*10000 div (2*2) = 7500 ; d2 likewise 7500
    val two = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = Index.commonnessBp(two, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 7500L, 2L -> 7500L))
  }

  test("kmvDistinct: below-k groups fall back to exact count") {
    val df = (1 to 40).map(i => ("g", s"u${i % 7}")).toDF("grp", "v")
    val out = Sketches.kmvDistinct(df, "grp", "v", k = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(("g", 7L, 7L)))
  }

  test("kmvDistinct: estimate within 30% at k=64 over 2000 distinct values") {
    val df = (1 to 6000).map(i => ("g", s"user-${i % 2000}")).toDF("grp", "v")
    val Array(row) = Sketches.kmvDistinct(df, "grp", "v", k = 64).collect()
    assert(row.getLong(1) === 64L)
    val est = row.getLong(2)
    assert(est > 1400 && est < 2600, s"estimate $est out of band")
  }

  test("kmvDistinct: sketch merges across partitions (repartition-invariant)") {
    val df = (1 to 3000).map(i => ("g", s"u$i")).toDF("grp", "v")
    val a = Sketches.kmvDistinct(df.repartition(1), "grp", "v", 32).collect()
    val b = Sketches.kmvDistinct(df.repartition(13), "grp", "v", 32).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("countMin: estimates are one-sided (est >= true count)") {
    val vals = Seq.fill(40)("a") ++ Seq.fill(7)("b") ++ (1 to 100).map(i => s"n$i")
    val df = vals.toDF("v")
    val sk = Sketches.countMinSketch(df, "v", d = 3, w = 16) // tiny w: collisions certain
    val out = Sketches.countMinEstimate(sk, Seq("a", "b", "absent"), 3, 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("a") >= 40L && out("b") >= 7L && out("absent") >= 0L)
  }

  test("bloomSemiJoin: bit-identical to the plain semi-join even with a saturated filter") {
    val fact = (1 to 500).map(i => (i.toLong, s"r$i")).toDF("k", "payload")
    val dim = Seq(3L, 7L, 400L, 999L).toDF("dk")
    // 64 bits for 4 keys: false positives guaranteed; result must not change
    val out = Sketches.bloomSemiJoin(fact, "k", dim, "dk",
        expectedItems = 4L, numBits = 64L)
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq === Seq(3L, 7L, 400L))
  }

  test("zValue: hand-computed Morton interleave; zProfile bounds bucket extents") {
    import org.apache.spark.sql.functions.col
    val df = Seq((3L, 1L), (2L, 2L)).toDF("x", "y")
    val z = df.select(graft.ops.Layout.zValue(col("x"), col("y"), 2).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // z(3,1): x bits {0,1}→pos {0,2}=5, y bit {0}→pos {1}=2 → 7
    // z(2,2): x bit {1}→pos {2}=4,  y bit {1}→pos {3}=8 → 12
    assert(z === Seq(7L, 12L))
    // the z MSB at bits=4 is y's bit 3 (position 7), so a 2-way bucket
    // split bounds the y extent of each bucket to one half-plane
    val pts = (0 until 16).flatMap(x => (0 until 16).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val prof = graft.ops.Layout.zProfile(pts, "x", "y", bits = 4, log2Buckets = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5))).toMap
    assert(prof(0L) === (0L, 7L) && prof(1L) === (8L, 15L))
  }

  test("incremental state: three-way merge equals single-pass state, any order") {
    import graft.ops.Incremental
    val rows = (1 to 300).map(i => (s"k${i % 4}", (i % 17) + 0.25 * (i % 3)))
    val df = rows.toDF("k", "v")
    val parts = Seq(df.filter($"v" < 5), df.filter($"v" >= 5 && $"v" < 11),
      df.filter($"v" >= 11)).map(Incremental.aggState(_, Seq("k"), "v"))
    val full = Incremental.finishState(
      Incremental.aggState(df, Seq("k"), "v"), Seq("k"))
    for (perm <- Seq(parts, parts.reverse)) {
      val merged = Incremental.finishState(
        Incremental.mergeStates(Seq("k"), perm: _*), Seq("k"))
      assert(merged.orderBy("k").collect().map(_.toSeq).toSeq ===
        full.orderBy("k").collect().map(_.toSeq).toSeq)
    }
  }

  test("saltedJoin: row-identical to the plain join; salts spread a hot key") {
    import org.apache.spark.sql.functions._
    val fact = (1 to 400).map(i => (i.toLong, if (i % 4 == 0) 1L else (i % 7).toLong))
      .toDF("row_id", "k")
    val dim = (0L to 7L).map(k => (k, s"d$k")).toDF("dk", "payload")
    val salted = graft.ops.SkewJoin.saltedJoin(fact, "k", dim, "dk",
      salts = 4, saltBy = xxhash64(col("row_id")))
    val plain = fact.join(dim, fact("k") === dim("dk"))
    assert(salted.select("row_id", "k", "dk", "payload")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq ===
      plain.select("row_id", "k", "dk", "payload")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq)
    // the hot key's rows really do land on >1 salt value
    val spread = fact.filter($"k" === 1L)
      .select(pmod(xxhash64(col("row_id")), lit(4L))).distinct().count()
    assert(spread > 1)
  }

  test("histogram state: tail clamps to last bin; quantile picks bin lower bound") {
    import graft.ops.Incremental
    import org.apache.spark.sql.functions.col
    // values 0..9 once each, plus 1000 (clamps to bin 3 at width 4, nBins 4)
    val df = ((0 to 9) :+ 1000).map(v => ("g", v.toLong)).toDF("k", "v")
    val st = Incremental.histState(df, Seq("k"), col("v"), 4L, 4)
    val bins = st.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(bins === Map(0L -> 4L, 1L -> 4L, 2L -> 2L, 3L -> 1L))
    // total 11; p50 rank ceil(5.5)=6 → cum bins: 4, 8 → bin 1 → est 4
    // p99 rank ceil(10.89)=11 → bin 3 → est 12
    val q = Incremental.histQuantiles(st, Seq("k"), 4L, Seq(5000, 9900))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(q === Map(5000L -> 4L, 9900L -> 12L))
  }

  test("histogram state: merged parity splits equal the single-pass histogram") {
    import graft.ops.Incremental
    import org.apache.spark.sql.functions.col
    val df = (1 to 500).map(i => (s"k${i % 3}", (i * 7 % 97).toLong)).toDF("k", "v")
    val merged = Incremental.mergeHists(Seq("k"),
      Incremental.histState(df.filter($"v" % 2 === 0), Seq("k"), col("v"), 8L, 16),
      Incremental.histState(df.filter($"v" % 2 === 1), Seq("k"), col("v"), 8L, 16))
    val full = Incremental.histState(df, Seq("k"), col("v"), 8L, 16)
    assert(merged.orderBy("k", "bin").collect().map(_.toSeq).toSeq ===
      full.orderBy("k", "bin").collect().map(_.toSeq).toSeq)
  }

  test("rangeLookup: [lo, hi) bounds, overlaps multiply, misses drop") {
    import org.apache.spark.sql.functions.col
    val fact = Seq((1L, 0L), (2L, 9L), (3L, 10L), (4L, 15L), (5L, 99L))
      .toDF("id", "v")
    val ranges = Seq((0L, 10L, "a"), (5L, 20L, "b")).toDF("lo", "hi", "tier")
    val out = graft.ops.RangeLookup.rangeLookup(fact, col("v"), ranges, 4L)
      .select("id", "tier").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet
    // v=0 → a only; v=9 → a and b (overlap); v=10 → b (hi exclusive for a);
    // v=15 → b; v=99 → no range
    assert(out === Set((1L, "a"), (2L, "a"), (2L, "b"), (3L, "b"), (4L, "b")))
  }

  test("null/short-input robustness: index, sketches, buckets survive degenerate docs") {
    val docs = Seq((1L, "a b c d e f"), (2L, null.asInstanceOf[String]),
      (3L, ""), (4L, "xy")).toDF("doc_id", "text")
    // phrase longer than doc 4 / null doc 2: no crash, no junk grams
    val ph = Index.phraseHits(docs, "doc_id", "text", Seq("a b c", "xy zz"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ph === Map("a b c" -> 1L))
    // bm25: null-text doc contributes no tokens and no length mass
    val bm = Index.bm25TopK(docs, "doc_id", "text", Seq("a"), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(bm === Seq(1L))
    assert(Index.commonnessBp(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L, 4L))
    // sketches: null values carry no state
    assert(Sketches.kmvDistinct(
      Seq(("g", "x"), ("g", null.asInstanceOf[String])).toDF("grp", "v"),
      "grp", "v", 8).collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
      === Seq((1L, 1L)))
    assert(Sketches.countMinSketch(
      Seq("x", null.asInstanceOf[String]).toDF("v"), "v", 2, 8)
      .agg(org.apache.spark.sql.functions.sum("cnt")).collect()(0).getLong(0) === 2L)
    // padding buckets: null text counts as empty, lands in the smallest bucket
    val pb = Training.paddingBuckets(docs, "text", Seq(4, 8), batch = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pb === Map(4L -> 3L, 8L -> 1L)) // docs 2,3,4 → bucket 4; doc 1 → 8
  }

  test("rendezvousShards: adding a shard moves only the new shard's winners") {
    import org.apache.spark.sql.functions.col
    val df = (1L to 2000L).toDF("id")
    val s8 = Training.rendezvousShards(df, "id", 8)
      .select(col("id"), col("shard").as("s8"))
    val s9 = Training.rendezvousShards(df, "id", 9)
      .select(col("id"), col("shard").as("s9"))
    val joined = s8.join(s9, "id").collect()
    val moved = joined.count(r => r.getLong(1) != r.getLong(2))
    // every moved row must have moved TO the new shard (HRW property)…
    assert(joined.filter(r => r.getLong(1) != r.getLong(2))
      .forall(_.getLong(2) == 8L))
    // …and the moved fraction is ~1/9 (generous band)
    assert(moved > 2000 / 18 && moved < 2000 / 3, s"moved $moved of 2000")
  }

  test("kmvSetOps: unsaturated sketches give exact union and intersection") {
    val df = (Seq.tabulate(20)(i => ("a", s"u$i")) ++
      Seq.tabulate(15)(i => ("b", s"u${i + 10}"))).toDF("g", "v")
    // A = u0..u19, B = u10..u24: union 25, intersection 10
    val out = Sketches.kmvSetOps(df, "g", "v", k = 64, Seq(("a", "b")))
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((25L, 10L)))
  }

  test("kmvSetOps: saturated estimates land in a sane band") {
    val df = ((1 to 3000).map(i => ("a", s"u${i % 1000}")) ++
      (1 to 3000).map(i => ("b", s"u${500 + (i % 1000)}"))).toDF("g", "v")
    // |A|=|B|=1000, union 1500, intersection 500
    val Array(r) = Sketches.kmvSetOps(df, "g", "v", k = 64, Seq(("a", "b"))).collect()
    val (u, n) = (r.getLong(2), r.getLong(3))
    assert(u > 900 && u < 2400, s"union estimate $u")
    assert(n > 150 && n < 1100, s"intersection estimate $n")
  }

  test("bloomAntiJoin: bit-identical to the plain anti-join, saturated filter") {
    val fact = (1 to 300).map(i => (i.toLong, s"r$i")).toDF("k", "payload")
    val block = Seq(5L, 17L, 250L).toDF("bk")
    val out = Sketches.bloomAntiJoin(fact, "k", block, "bk",
        expectedItems = 3L, numBits = 64L) // tiny filter: false positives certain
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq === (1L to 300L).filterNot(Set(5L, 17L, 250L)))
  }

  test("paddingBuckets: clamp to largest bucket; waste accounting") {
    // buckets 4/8, batch 2. docs: len 3, 4, 5, 9 (clamps to 8, kept 8)
    val df = Seq((1L, "a b c"), (2L, "a b c d"), (3L, "a b c d e"),
      (4L, "a b c d e f g h i")).toDF("doc_id", "text")
    val out = Training.paddingBuckets(df, "text", Seq(4, 8), batch = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // bucket 4: docs {1,2} kept 3+4=7, 1 batch, padded 2*4=8, waste 1250bp
    // bucket 8: docs {3,4} kept 5+8=13, 1 batch, padded 2*8=16, waste 1875bp
    assert(out === Map(
      4L -> (2L, 7L, 1L, 8L, 1250L),
      8L -> (2L, 13L, 1L, 16L, 1875L)))
  }
}
