package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llmops.Similarity

/** Product-quantization and binary-quantization ANN: the expression
  * kernels against local Scala math, and recall floors at the gate
  * configurations (q113/q114). */
class QuantAnnSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("8").getOrCreate()
  private val sf = "/root/testdata/sf0.001"
  private def emb = Tables.t(spark, sf, "embeddings")

  test("PQ encode matches local argmin-L2² per subspace") {
    val quant = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val pq = Similarity.Pq(m = 8, ksub = 16)
    val cb = pq.codebook(quant)
    val rows = quant.orderBy(col("id")).limit(40)
      .select(col("id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    val encoded = pq.encode(quant, cb).orderBy(col("vid")).limit(40)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { case (id, codes) =>
      val expect = (0 until 8).map { sub =>
        val sv = codes.slice(sub * 8, sub * 8 + 8)
        (0 until 16).minBy { j =>
          val cv = cb(sub)(j)
          (sv.toSeq.zip(cv).map { case (a, b) =>
            val d = (a - b).toLong; d * d
          }.sum, j)
        }
      }
      assert(encoded(id) === expect, s"vec $id")
    }
  }

  test("ADC distance equals the LUT sum of per-subspace L2²") {
    val quant = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val pq = Similarity.Pq(m = 8, ksub = 16)
    val cb = pq.codebook(quant)
    val top = pq.topK(quant.filter(col("id") < 3), quant, 5, cb)
    val byId = quant.select(col("id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val enc = pq.encode(quant, cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    top.collect().foreach { r =>
      val (qid, vid, dist) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val qc = byId(qid)
      val expect = (0 until 8).map { sub =>
        val cv = cb(sub)(enc(vid)(sub))
        qc.slice(sub * 8, sub * 8 + 8).toSeq.zip(cv).map { case (a, b) =>
          val d = (a - b).toLong; d * d
        }.sum
      }.sum
      assert(dist === expect, s"($qid,$vid)")
    }
  }

  test("binary pack: sign bits land in the right 32-bit words") {
    import spark.implicits._
    // dims 0 and 33 positive, everything else negative:
    // word0 = bit0 = 1, word1 = bit1 = 2
    val v = Array.fill(64)(-1.0f)
    v(0) = 1.0f; v(33) = 0.0f // >= 0 counts as set
    val df = scala.Seq((1L, v.toSeq)).toDF("id", "vec")
    val packed = Similarity.BinaryQuant.pack(df, "id", "vec", nWords = 2)
      .collect().head
    assert(packed.getLong(1) === 1L)
    assert(packed.getLong(2) === 2L)
  }

  test("binary-quant ANN recall vs exact kNN at the q114 config") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.BinaryQuant.topK(queries, emb, "vec_id",
        "embedding", k = 5, nCand = 32, nWords = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("IVF-PQ subsets full PQ ADC: every result is a PQ result from a probed list") {
    val quant = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val pq = Similarity.Pq(m = 8, ksub = 16)
    val cb = pq.codebook(quant)
    val queries = emb.filter(col("vec_id") < 10)
    val ivfpq = Similarity.ivfPqTopK(queries, emb, "vec_id", "embedding",
      k = 5, numCentroids = 16, nprobe = 16, pq, cb)
    val full = pq.topK(quant.filter(col("id") < 10), quant, 5, cb)
    // nprobe = nlist ⇒ every list probed ⇒ IVF-PQ ≡ the flat ADC scan
    val a = ivfpq.select("qid", "vid", "adc_dist", "rnk").collect().toSet
    val b = full.select("qid", "vid", "adc_dist", "rnk").collect().toSet
    assert(a === b)
  }

  test("PQ ADC neighbors approximate exact kNN (recall floor)") {
    val quant = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val pq = Similarity.Pq(m = 8, ksub = 16)
    val cb = pq.codebook(quant)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = pq.topK(quant.filter(col("id") < 20), quant, 10, cb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // seed codebooks are deliberately untrained — this floor just pins
    // that ADC ranks are correlated with true distance, not noise
    assert(recall >= 0.2, s"recall $recall")
  }

  test("two-level IVF assignment: within-super argmax, plan stays " +
      "HashAggregate, topK recall holds at large k") {
    val corpus = emb.limit(400)
    val cents = Similarity.Ivf.seedCentroids(corpus, "vec_id", "embedding", 64)
    val two = Similarity.Ivf.assignTwoLevel(
        corpus, "vec_id", "embedding", cents, 64)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two.size === 400)
    // exact local replication of the definition: nearest of the √k
    // lowest-cid supers, then argmax cosine among the centroids of
    // that super (ties -> lowest cid)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        ab += x * y; aa += x * x; bb += y * y
      }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    val cz = cents.orderBy(col("cid")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toIndexedSeq)
    val supers = cz.take(8) // k1 = ceil(sqrt(64)) = 8 lowest-cid
    def nearest(v: Seq[Float], cs: Seq[(Long, Seq[Float])]): Long =
      cs.map { case (c, cv) => (c, cos(v, cv)) }
        .minBy { case (c, s) => (-s, c) }._1
    val superOf = cz.map { case (c, cv) => c -> nearest(cv, supers) }.toMap
    corpus.select(col("vec_id"), col("embedding")).collect().foreach { r =>
      val id = r.getLong(0); val v = r.getSeq[Float](1).toIndexedSeq
      val s = nearest(v, supers)
      val want = nearest(v, cz.filter(c => superOf(c._1) == s))
      assert(two(id) === want, s"vec $id: got ${two(id)}, want $want")
    }
    // no SortAggregate fallback in the within-super argmax
    val plan = Similarity.Ivf.assignTwoLevel(
      corpus, "vec_id", "embedding", cents, 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      plan)
    // end-to-end: forcing the two-level path (cap exceeded) still finds
    // true neighbours — recall vs exact brute force stays above floor
    val qs = corpus.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(qs, corpus, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.Ivf.topK(qs, corpus, "vec_id", "embedding",
        k = 5, numCentroids = Similarity.Ivf.TwoLevelKCap + 64, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = (exact & approx).size.toDouble / exact.size
    assert(rec >= 0.2, s"two-level recall $rec")
  }
}
