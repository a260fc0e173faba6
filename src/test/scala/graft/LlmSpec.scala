package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llmops._

class LlmSpec extends AnyFunSuite {
  lazy val spark = Sessions.builder("4").getOrCreate()
  val dir = "/root/testdata/sf0.001"

  lazy val emb = Tables.t(spark, dir, "embeddings")
  lazy val docs = Tables.t(spark, dir, "documents")

  test("sign-LSH ANN recalls a reasonable fraction of brute-force neighbors") {
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.SignLsh(dim = 64, nPlanes = 4)
    val approx = lsh.topK(queries, emb, "vec_id", "embedding", 10, probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 4 planes, multi-probe hamming<=1 → 5 of 16 buckets searched
    assert(recall > 0.4, s"recall=$recall")
    assert(approx.nonEmpty)
  }

  test("hardNegatives: every neighbor has a different label, ranked by sim") {
    val lsh = Similarity.SignLsh(dim = 64, nPlanes = 4)
    val queries = emb.filter(col("vec_id") < 5)
    val out = Similarity.hardNegatives(queries, emb, "vec_id", "embedding",
        "label", 3, lsh, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.nonEmpty)
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (qid, vid, _) =>
      assert(labels(qid) != labels(vid), s"$qid/$vid share a label")
    }
    // ranks are 1..k contiguous per query
    out.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq === (1 to g.length))
    }
  }

  test("ANN at the shipped q36 config = exact top-k restricted to LSH candidates") {
    // independent local-math oracle at the exact shipped configuration
    // (dim=64, nPlanes=6, probes=1): reproduce bucketing, candidate
    // membership, and exact re-rank with plain Scala doubles (same
    // operation order as the Column expressions → bit-identical).
    val lsh = Similarity.SignLsh(dim = 64, nPlanes = 6)
    val all = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dotL(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc = acc + a(i) * b(i); i += 1 }
      acc
    }
    def cosL(a: Array[Double], b: Array[Double]): Double =
      dotL(a, b) / (math.sqrt(dotL(a, a)) * math.sqrt(dotL(b, b)))
    def bucketL(v: Array[Double]): Long =
      lsh.hp.zipWithIndex.map { case (p, i) =>
        if (dotL(v, p) >= 0) 1L << i else 0L }.sum
    val buckets = all.map { case (id, v) => id -> bucketL(v) }.toMap
    val vecs = all.toMap
    val qs = all.filter(_._1 < 10)
    val expected = qs.flatMap { case (qid, qv) =>
      val ball = lsh.probeMasks(1).map(_ ^ buckets(qid)).toSet
      val cand = all.filter { case (vid, _) =>
        vid != qid && ball.contains(buckets(vid)) }
      cand.map { case (vid, cv) => (qid, vid, cosL(qv, cv)) }
        .sortBy { case (_, vid, sim) => (-sim, vid) }
        .take(5).zipWithIndex
        .map { case ((_, vid, _), i) => (qid, vid, i + 1) }
    }.toSet
    val got = lsh.topK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", 5, probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
  }

  test("IVF with full probe = exact top-k (candidates cover the corpus)") {
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivf = Similarity.Ivf.topK(queries, emb, "vec_id", "embedding", 10,
        numCentroids = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivf == exact)
  }

  test("cosine of identical vectors is 1") {
    val one = emb.limit(1).select(
      Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    assert(math.abs(one.head().getDouble(0) - 1.0) < 1e-12)
  }

  test("simhash: near-dup docs have close hashes, random docs differ") {
    // doc pair with jaccard ~0.99 exists in the corpus; verify hamming
    // distance of simhash for the most similar pair < for a random pair
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.9)
      .orderBy(col("jac").desc).limit(1).collect()
    if (pairs.nonEmpty) {
      val (a, b) = (pairs(0).getLong(0), pairs(0).getLong(1))
      val sh = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
      val near = ham(sh(a), sh(b))
      val far = ham(sh(a), sh((sh.keySet - a - b).head))
      assert(near <= far, s"near=$near far=$far")
    }
  }

  test("simhash 64-bit: matches the portable two-digest scheme exactly") {
    // bits 0-31: nibble parity of md5(token); bits 32-63: nibble parity
    // of md5(token + "#") — replicated here independently
    def expected(text: String, bits: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val bal = new Array[Int](bits)
      for (tok <- text.split(" ", -1)) {
        md.reset(); val d1 = md.digest(tok.getBytes("UTF-8"))
        md.reset(); val d2 = md.digest((tok + "#").getBytes("UTF-8"))
        for (b <- 0 until bits) {
          val (src, p) = if (b < 32) (d1, b) else (d2, b - 32)
          val nib = if ((p & 1) == 0) (src(p >> 1) >> 4) & 0xf else src(p >> 1) & 0xf
          if ((nib & 1) == 1) bal(b) += 1 else bal(b) -= 1
        }
      }
      (0 until bits).foldLeft(0L)((acc, b) => if (bal(b) > 0) acc | (1L << b) else acc)
    }
    import spark.implicits._
    val texts = scala.Seq("the quick brown fox", "lorem ipsum dolor sit amet", "a")
    val df = texts.toDF("t")
    // the slow Column formulation AND the one-pass native expression
    // both match the independent replica
    val gotCol = df.select(Dedup.simhash(col("t"), 64).as("h"))
      .collect().map(_.getLong(0))
    val gotExpr = df.withColumn("doc_id", monotonically_increasing_id())
      .transform(d => Dedup.simhashTable(d, "doc_id", "t", 64))
      .orderBy("id").collect().map(_.getLong(1))
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = expected(t, 64)
      assert(gotCol(i) == want, s"column 64-bit simhash mismatch for '$t'")
      assert(gotExpr(i) == want, s"expr 64-bit simhash mismatch for '$t'")
    }
    // low 32 bits agree with the 32-bit variant (scheme is a prefix)
    val got32 = df.select(Dedup.simhash(col("t"), 32).as("h"))
      .collect().map(_.getLong(0))
    gotCol.zip(got32).foreach { case (h64, h32) =>
      assert((h64 & 0xffffffffL) == h32)
    }
  }

  test("simhash: invalid UTF-8 rows digest their raw bytes, no exception") {
    import spark.implicits._
    // a lone continuation byte, a truncated lead byte, an overlong '/',
    // 0xff/0xfe, and an empty token between two spaces
    val inputs = scala.Seq(
      Array[Byte](0x61, 0x80.toByte, 0x20, 0x62),
      Array[Byte](0xc3.toByte, 0x20, 0xc0.toByte, 0xaf.toByte),
      Array[Byte](0xff.toByte, 0xfe.toByte, 0x20, 0x20, 0x7a))
    // independent replica over byte slices: split on 0x20 (empty tokens
    // kept), md5(token) for bits 0-31, md5(token ++ '#') for bits 32-63
    def expected(bytes: Array[Byte], bits: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val bal = new Array[Int](bits)
      val cuts = -1 +: bytes.indices.filter(bytes(_) == 0x20) :+ bytes.length
      for (Seq(a, b) <- cuts.sliding(2)) {
        val tok = bytes.slice(a + 1, b)
        val d1 = md.digest(tok)
        val d2 = md.digest(tok :+ '#'.toByte)
        for (i <- 0 until bits) {
          val (src, p) = if (i < 32) (d1, i) else (d2, i - 32)
          val nib = if ((p & 1) == 0) (src(p >> 1) >> 4) & 0xf else src(p >> 1) & 0xf
          if ((nib & 1) == 1) bal(i) += 1 else bal(i) -= 1
        }
      }
      (0 until bits).foldLeft(0L)((acc, i) => if (bal(i) > 0) acc | (1L << i) else acc)
    }
    val df = inputs.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("doc_id", "raw").withColumn("t", col("raw").cast("string"))
    // the string column carries the invalid bytes unchanged
    assert(df.orderBy("doc_id").select(col("t").cast("binary")).collect()
      .map(_.getAs[Array[Byte]](0).toSeq).toSeq == inputs.map(_.toSeq))
    val got = Dedup.simhashTable(df, "doc_id", "t", 64).orderBy("id")
      .collect().map(_.getLong(1))
    inputs.zip(got).foreach { case (b, h) =>
      assert(h == expected(b, 64), s"simhash mismatch for ${b.toSeq}")
    }
  }

  test("multimodal: frame sampling plumbing") {
    val media = docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
    val frames = media.select(Multimodal.frameSample(col("payload"), 4).as("f"))
    val row = frames.head()
    assert(row.getSeq[Array[Byte]](0).size == 4)
  }

  test("real image decode via javax.imageio") {
    import spark.implicits._
    // build a genuine 64x48 PNG in-process
    val img = new java.awt.image.BufferedImage(64, 48,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(10, 10, 0xff0000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = scala.Seq((1L, bos.toByteArray),
      (2L, "not an image".getBytes("UTF-8"))).toDF("id", "payload")
    val meta = df.select(col("id"),
      Multimodal.decodeImage(col("payload")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.get(2), r.get(3))).toMap
    assert(meta(1L) == (("png", 64L, 48L)))
    assert(meta(2L)._1 == null)
  }

  test("real audio decode via javax.sound.sampled") {
    import spark.implicits._
    // synthesize a genuine 440 Hz sine WAV: 8 kHz, mono, 16-bit, 0.5 s
    val sr = 8000f; val n = 4000; val freq = 440.0; val amp = 0.5
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = (amp * math.sin(2 * math.Pi * freq * i / sr) * 32767).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val df = scala.Seq((1L, bos.toByteArray),
      (2L, "not audio".getBytes("UTF-8"))).toDF("id", "payload")

    val meta = df.select(col("id"), Multimodal.decodeAudio(col("payload")).as("m"))
      .select(col("id"), col("m.format"), col("m.channels"),
        col("m.sample_rate"), col("m.frames"), col("m.duration_ms"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getString(1) == "wav")
    assert(meta(1L).getInt(2) == 1)
    assert(meta(1L).getFloat(3) == 8000f)
    assert(meta(1L).getLong(4) == n.toLong)
    assert(math.abs(meta(1L).getDouble(5) - 500.0) < 1.0)
    assert(meta(2L).getString(1) == null)
  }

  test("real AVI header encode → decode round trip; junk chunk walked") {
    import spark.implicits._
    val df = scala.Seq((1L, 48, 320, 240, 7), (2L, 120, 640, 480, 0))
      .toDF("id", "frames", "w", "h", "junk")
    val meta = df.select(col("id"), Multimodal.decodeAvi(
        Multimodal.encodeAvi(col("frames"), col("w"), col("h"), col("junk")))
        .as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"),
        col("m.total_frames"), col("m.n_bytes"), col("m.duration_us"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getString(1) == "avi")
    assert(meta(1L).getLong(2) == 320L && meta(1L).getLong(3) == 240L)
    assert(meta(1L).getLong(4) == 48L)
    assert(meta(1L).getLong(5) == 108L + 8L) // junk 7 → even-padded 8
    assert(meta(1L).getLong(6) == 48L * 33333L)
    assert(meta(2L).getLong(5) == 108L)
    // non-AVI payload → null meta
    val bad = scala.Seq(Tuple1("not avi".getBytes("UTF-8"))).toDF("p")
      .select(Multimodal.decodeAvi(col("p")).as("m")).head()
    assert(bad.isNullAt(0))
  }

  test("AVI movi frame extraction round-trips exact bytes; header still parses") {
    import spark.implicits._
    // odd-length frames exercise the RIFF even-padding rule both ways
    val df = scala.Seq(Tuple1(1L)).toDF("id")
      .select(col("id"), Multimodal.encodeAviMovi(
        array(lit("abc".getBytes("UTF-8")), lit("defgh".getBytes("UTF-8")),
          lit("x".getBytes("UTF-8"))),
        lit(320), lit(240), lit(7)).as("p"))
    val out = df.select(Multimodal.aviFrames(col("p")).as("fs"),
      Multimodal.decodeAvi(col("p")).as("m")).head()
    val frames = out.getSeq[Array[Byte]](0).map(new String(_, "UTF-8"))
    assert(frames == scala.Seq("abc", "defgh", "x"))
    // the header walker coexists with the movi payload (frame count real)
    assert(out.getStruct(1).getAs[Long]("total_frames") == 3L)
    // frameSample over a real AVI returns container frames, not slices
    val sampled = df.select(Multimodal.frameSample(col("p"), 3).as("s")).head()
      .getSeq[Array[Byte]](0).map(new String(_, "UTF-8"))
    assert(sampled == scala.Seq("abc", "defgh", "x"))
    // non-AVI payload → null frames, frameSample falls back to slices
    val bad = scala.Seq(Tuple1("plain old bytes here".getBytes("UTF-8"))).toDF("p")
    assert(bad.select(Multimodal.aviFrames(col("p"))).head().isNullAt(0))
    assert(!bad.select(Multimodal.frameSample(col("p"), 2)).head().isNullAt(0))
  }

  test("FLAC sample codec: bit-exact round trips incl. multi-frame; garbage → null") {
    val rnd = new scala.util.Random(7)
    // shapes: short, exactly one block, multi-frame, constant-ish, wild
    val cases = scala.Seq(
      Array(42),
      Array.tabulate(64)(i => ((i % 32) - 16) * 7),
      Array.tabulate(4096)(i => (i * 31 % 4001) - 2000),
      Array.tabulate(9000)(i => (i * 13 % 1777) - 888), // 3 frames
      Array.fill(100)(-12345),
      Array.tabulate(500)(_ => rnd.nextInt(65536) - 32768))
    cases.zipWithIndex.foreach { case (pcm, ix) =>
      val flac = Flac.encode(pcm, 8000)
      val back = Flac.decode(flac)
      assert(back != null, s"case $ix decoded null")
      assert(back.toSeq == pcm.toSeq, s"case $ix not bit-exact")
      // the STREAMINFO walker agrees on the header fields
      import spark.implicits._
      val meta = scala.Seq(Tuple1(flac)).toDF("p")
        .select(Multimodal.decodeFlac(col("p")).as("m")).head().getStruct(0)
      assert(meta.getAs[Long]("sample_rate") == 8000L)
      assert(meta.getAs[Long]("total_samples") == pcm.length.toLong)
    }
    // garbage and truncated payloads → null, never an exception
    assert(Flac.decode("not flac".getBytes("UTF-8")) == null)
    val good = Flac.encode(Array.tabulate(100)(_ * 3), 8000)
    (1 until good.length by 7).foreach { cut =>
      Flac.decode(java.util.Arrays.copyOf(good, cut)) // must not throw
    }
    // CRC/bit corruption must not throw either
    (0 until good.length by 3).foreach { i =>
      val bad = good.clone(); bad(i) = (bad(i) ^ 0x55).toByte
      Flac.decode(bad) // null or wrong samples, never an exception
    }
  }

  test("MP4 sample-table extraction round-trips exact bytes across chunk runs") {
    import spark.implicits._
    // odd counts exercise the two-run stsc resolution (chunk 1 holds
    // ceil(n/2) samples, chunk 2 the rest)
    val df = scala.Seq(Tuple1(1L)).toDF("id").select(
      Multimodal.encodeMp4Samples(
        array(lit("aa".getBytes("UTF-8")), lit("bbbb".getBytes("UTF-8")),
          lit("c".getBytes("UTF-8")), lit("dddddd".getBytes("UTF-8")),
          lit("e".getBytes("UTF-8"))),
        lit(5)).as("p"))
    val got = df.select(Multimodal.mp4Samples(col("p")).as("s")).head()
      .getSeq[Array[Byte]](0).map(new String(_, "UTF-8"))
    assert(got == scala.Seq("aa", "bbbb", "c", "dddddd", "e"))
    // the metadata box-walk still reads the same container
    val meta = df.select(Multimodal.decodeMp4(col("p")).as("m")).head().getStruct(0)
    assert(meta.getAs[Long]("n_tracks") == 1L)
    // single-sample file takes the one-run path
    val one = scala.Seq(Tuple1(1L)).toDF("id").select(
      Multimodal.encodeMp4Samples(array(lit("solo".getBytes("UTF-8"))), lit(0)).as("p"))
    assert(one.select(Multimodal.mp4Samples(col("p"))).head()
      .getSeq[Array[Byte]](0).map(new String(_, "UTF-8")) == scala.Seq("solo"))
    // non-BMFF payload → null
    val bad = scala.Seq(Tuple1("not mp4".getBytes("UTF-8"))).toDF("p")
    assert(bad.select(Multimodal.mp4Samples(col("p"))).head().isNullAt(0))
  }

  test("FLAC LPC subframes decode: fractional predictor round-trips bit-exactly") {
    val rnd = new scala.util.Random(13)
    val cases = scala.Seq(
      Array.tabulate(300)(i => ((i * 29) % 3001) - 1500),
      Array.tabulate(5000)(i => ((i * 7) % 997) - 498), // multi-frame LPC
      Array.fill(64)(rnd.nextInt(65536) - 32768))
    cases.zipWithIndex.foreach { case (pcm, ix) =>
      val back = Flac.decode(Flac.encode(pcm, 8000, subframe = "lpc"))
      assert(back != null, s"lpc case $ix decoded null")
      assert(back.toSeq == pcm.toSeq, s"lpc case $ix not bit-exact")
    }
  }

  test("FLAC multi-channel and non-16-bit depths round-trip bit-exactly") {
    val rnd = new scala.util.Random(17)
    // 8-bit mono, 24-bit mono, 12-bit (STREAMINFO-coded in-frame),
    // 20-bit, and 32-bit incl. full-range extremes (order-0 fallback)
    val depthCases = scala.Seq(
      (8, Array.tabulate(300)(i => ((i * 13) % 256) - 128)),
      (8, Array.fill(200)(rnd.nextInt(256) - 128)),
      (12, Array.fill(150)(rnd.nextInt(4096) - 2048)),
      (20, Array.fill(150)(rnd.nextInt(1 << 20) - (1 << 19))),
      (24, Array.tabulate(5000)(i => ((i * 9973) % (1 << 24)) - (1 << 23))),
      (24, Array.fill(200)(rnd.nextInt(1 << 24) - (1 << 23))),
      (32, Array(Int.MinValue, Int.MaxValue, 0, -1, Int.MaxValue, Int.MinValue)),
      (32, Array.fill(100)(rnd.nextInt())))
    depthCases.zipWithIndex.foreach { case ((bits, pcm), ix) =>
      val back = Flac.decode(Flac.encodePcm(pcm, 8000, 1, bits))
      assert(back != null, s"depth case $ix (${bits}b) decoded null")
      assert(back.toSeq == pcm.toSeq, s"depth case $ix (${bits}b) not bit-exact")
    }
    // 3, 5 and 8 independent channels at 16- and 24-bit, incl. multi-frame
    for (nCh <- scala.Seq(3, 5, 8); bits <- scala.Seq(16, 24)) {
      val lim = 1 << (bits - 1)
      val interleaved = Array.tabulate(nCh * 900)(i =>
        ((i * 31 + (i % nCh) * 7919) % (2 * lim)) - lim)
      val back = Flac.decode(Flac.encodePcm(interleaved, 8000, nCh, bits))
      assert(back != null, s"${nCh}ch/${bits}b decoded null")
      assert(back.toSeq == interleaved.toSeq, s"${nCh}ch/${bits}b not bit-exact")
    }
    val longMulti = Array.tabulate(3 * 5000)(i => ((i * 7) % 2001) - 1000)
    assert(Flac.decode(Flac.encodePcm(longMulti, 8000, 3, 16)).toSeq
      == longMulti.toSeq)
    // encodePcm at 2ch/16b agrees with the independent stereo encoder path
    val st = Array.tabulate(2 * 64)(i => ((i * 3) % 201) - 100)
    assert(Flac.decode(Flac.encodePcm(st, 8000, 2, 16)).toSeq == st.toSeq)
  }

  test("FLAC stereo: all four channel assignments round-trip bit-exactly") {
    val rnd = new scala.util.Random(11)
    val interleaved = Array.tabulate(2 * 700)(i =>
      if (i % 2 == 0) ((i * 17) % 1201) - 600 else rnd.nextInt(65536) - 32768)
    for (mode <- scala.Seq("independent", "left_side", "right_side", "mid_side")) {
      val back = Flac.decode(Flac.encodeStereo(interleaved, 8000, mode))
      assert(back != null, s"$mode decoded null")
      assert(back.toSeq == interleaved.toSeq, s"$mode not bit-exact")
    }
    // multi-frame stereo (> one 4096-sample block per channel)
    val long = Array.tabulate(2 * 5000)(i => ((i * 7) % 2001) - 1000)
    assert(Flac.decode(Flac.encodeStereo(long, 8000, "mid_side")).toSeq
      == long.toSeq)
    // extreme values survive the 17-bit side channel
    val extremes = Array(-32768, 32767, 32767, -32768, 0, 0, -32768, -32768)
    assert(Flac.decode(Flac.encodeStereo(extremes, 8000, "mid_side")).toSeq
      == extremes.toSeq)
  }

  test("real MP4 box-walk encode → decode round trip; garbage → null") {
    import spark.implicits._
    val df = scala.Seq((1L, 2400L, 600, 2, 5), (2L, 9000L, 1000, 1, 0))
      .toDF("id", "dur", "ts", "tracks", "junk")
    val meta = df.select(col("id"), Multimodal.decodeMp4(
        Multimodal.encodeMp4(col("dur"), col("ts"), col("tracks"), col("junk")))
        .as("m"))
      .select(col("id"), col("m.brand"), col("m.timescale"),
        col("m.duration_units"), col("m.duration_ms"), col("m.n_tracks"),
        col("m.n_bytes"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getString(1) == "isom")
    assert(meta(1L).getLong(2) == 600L && meta(1L).getLong(3) == 2400L)
    assert(meta(1L).getLong(4) == 4000L) // 2400 units / 600 = 4 s
    assert(meta(1L).getLong(5) == 2L)
    assert(meta(1L).getLong(6) == 148L + 5L + 32L)
    assert(meta(2L).getLong(4) == 9000L && meta(2L).getLong(5) == 1L)
    val bad = scala.Seq(Tuple1("notmp4".getBytes("UTF-8"))).toDF("p")
      .select(Multimodal.decodeMp4(col("p")).as("m")).head()
    assert(bad.isNullAt(0))
  }

  test("real MP3 frame-walk encode → decode round trip; garbage → null") {
    import spark.implicits._
    // 128 kbps @ 44100 Hz → frameLen 417; 320 kbps @ 32000 → 1440
    val df = scala.Seq((1L, 20, 9, 0, 33), (2L, 5, 14, 2, 0))
      .toDF("id", "frames", "br", "sr", "junk")
    val meta = df.select(col("id"), Multimodal.decodeMp3(
        Multimodal.encodeMp3(col("frames"), col("br"), col("sr"), col("junk")))
        .as("m"))
      .select(col("id"), col("m.bitrate_kbps"), col("m.sample_rate"),
        col("m.n_frames"), col("m.duration_ms"), col("m.n_bytes"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getLong(1) == 128L && meta(1L).getLong(2) == 44100L)
    assert(meta(1L).getLong(3) == 20L)
    assert(meta(1L).getLong(4) == 20L * 1152L * 1000L / 44100L)
    assert(meta(1L).getLong(5) == 10L + 33L + 20L * 417L)
    assert(meta(2L).getLong(1) == 320L && meta(2L).getLong(2) == 32000L)
    val bad = scala.Seq(Tuple1("garbage!!".getBytes("UTF-8"))).toDF("p")
      .select(Multimodal.decodeMp3(col("p")).as("m")).head()
    assert(bad.isNullAt(0))
  }

  test("real FLAC STREAMINFO encode → decode round trip; garbage → null") {
    import spark.implicits._
    val df = scala.Seq((1L, 44100, 2, 16, 44100L, 7), (2L, 48000, 1, 24, 96000L, 0))
      .toDF("id", "sr", "ch", "bits", "total", "junk")
    val meta = df.select(col("id"), Multimodal.decodeFlac(
        Multimodal.encodeFlac(col("sr"), col("ch"), col("bits"),
          col("total"), col("junk"))).as("m"))
      .select(col("id"), col("m.sample_rate"), col("m.channels"),
        col("m.bits_per_sample"), col("m.total_samples"),
        col("m.duration_ms"), col("m.n_bytes"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getLong(1) == 44100L && meta(1L).getLong(2) == 2L)
    assert(meta(1L).getLong(3) == 16L && meta(1L).getLong(4) == 44100L)
    assert(meta(1L).getLong(5) == 1000L) // exactly one second
    assert(meta(1L).getLong(6) == 46L + 7L)
    assert(meta(2L).getLong(5) == 2000L && meta(2L).getLong(3) == 24L)
    val bad = scala.Seq(Tuple1("fLaX nope".getBytes("UTF-8"))).toDF("p")
      .select(Multimodal.decodeFlac(col("p")).as("m")).head()
    assert(bad.isNullAt(0))
  }

  test("fakeDecode metadata is deterministic") {
    val m1 = docs.select(Multimodal.fakeDecode(col("text").cast("binary")).as("m"))
      .select("m.width", "m.height", "m.format").collect().toList
    val m2 = docs.select(Multimodal.fakeDecode(col("text").cast("binary")).as("m"))
      .select("m.width", "m.height", "m.format").collect().toList
    assert(m1 == m2)
    assert(m1.forall(r => r.getLong(0) >= 320 && r.getLong(1) >= 240))
  }

  test("int8 quantize → dequantize round trip bounds the error") {
    import graft.llmops.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    // dequantize: codes * scale / 127
    val back = q.select(col("id"), col("scale"),
      transform(col("codes"), c => c.cast("double") * col("scale") / 127.0).as("deq"))
      .join(emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("orig")), "id")
    val maxErr = back.select(max(aggregate(
      zip_with(col("deq"), col("orig"), (a, b) => abs(a - b)),
      lit(0.0), (acc, x) => greatest(acc, x))).as("e")).head().getDouble(0)
    val maxScale = q.select(max(col("scale"))).head().getDouble(0)
    // quantization step is scale/127; round-to-nearest error ≤ half step
    assert(maxErr <= maxScale / 127.0 * 0.5 + 1e-12, s"maxErr $maxErr")
  }

  test("incrementalNearDup: precomputed index round-trips parquet, same result") {
    import spark.implicits._
    val corpus = scala.Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "completely unrelated corpus document about spark plans and shuffles"))
      .toDF("doc_id", "text")
    val fresh = scala.Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    Dedup.minhashIndex(corpus, "doc_id", "text").write.mode("overwrite")
      .parquet(dir)
    val viaIndex = Dedup.incrementalNearDupWithIndex(
        fresh, corpus, spark.read.parquet(dir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.incrementalNearDup(fresh, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == direct && viaIndex == Set((1L, 100L)))
  }

  test("incrementalNearDup: stale or unversioned index fails LOUDLY (r9)") {
    import spark.implicits._
    val corpus = scala.Seq((100L, "some corpus text here")).toDF("doc_id", "text")
    val fresh = scala.Seq((1L, "some corpus text here")).toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text")
    // params mismatch: index built at n=24, query asks n=32
    val e1 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupWithIndex(fresh, corpus, idx,
        "doc_id", "text", numHashes = 32, bands = 8, rowsPerBand = 4)
    }
    assert(e1.getMessage.contains("rebuild"))
    // unversioned (pre-r9 persisted, or hand-built) index: also loud —
    // strip the metadata the way an old parquet file would present it
    val stripped = idx.select((col("id")
      .as("id", org.apache.spark.sql.types.Metadata.empty) +:
      (0 until 24).map(i => col(s"m$i"))): _*)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupWithIndex(fresh, corpus, stripped,
        "doc_id", "text")
    }
    assert(e2.getMessage.contains("unversioned"))
    // the stamp survives a parquet round trip (covered above) and a
    // matching index passes
    assert(Dedup.incrementalNearDupWithIndex(fresh, corpus, idx,
      "doc_id", "text").count() == 1)
  }

  test("incrementalNearDup: planted copy found, cross-side only") {
    import spark.implicits._
    val corpusText = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = scala.Seq(
      (100L, corpusText),
      (101L, "completely unrelated corpus document about spark plans and shuffles"),
      (102L, corpusText + " x")) // near-identical to 100 but corpus-side
    val fresh = scala.Seq(
      (1L, corpusText),          // exact copy of corpus 100
      (2L, "novel content that matches nothing in the existing corpus at all"))
    val got = Dedup.incrementalNearDup(
        fresh.toDF("doc_id", "text"), corpus.toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1 matches 100 (jac 1.0) and 102 (jac ~0.97); 2 matches nothing;
    // the corpus-internal pair (100,102) must NOT appear
    assert(got == Set((1L, 100L), (1L, 102L)), s"got $got")
  }

  test("SortedIntersectExpr == array_intersect cardinality on random sorted arrays") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { _ =>
      def arr() = rnd.shuffle((0L until 50L).toVector)
        .take(rnd.nextInt(20)).sorted.toArray
      (arr(), arr())
    }
    val df = rows.toDF("a", "b")
    val diff = df.select(
        graft.exprs.SortedIntersectExpr.column(col("a"), col("b")).as("merge"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .filter(col("merge") =!= col("builtin")).count()
    assert(diff === 0L)
  }

  test("SortedIntersectExpr rejects mixed int/long array children at analysis time") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // an int/long mismatch silently read wrong bytes off the long
    // ArrayData before r8 — it must be an analysis error, never a count
    val df = scala.Seq((Array(1, 2, 3), Array(1L, 2L))).toDF("ia", "lb")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.exprs.SortedIntersectExpr.column(col("ia"), col("lb")))
        .collect()
    }
    assert(ex.getMessage.contains("sorted_intersect"))
  }

  test("SigAgreeExpr codegen == interpreted == Scala reference on random signatures") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 300).map { _ =>
      val n = 1 + rnd.nextInt(130)
      val a = Array.fill(n)(rnd.nextLong() % 7) // small range → real agreements
      // b shares a's prefix with per-position noise
      val b = a.map(x => if (rnd.nextBoolean()) x else rnd.nextLong() % 7)
      (a, b, a.zip(b).count { case (x, y) => x == y })
    }
    val df = rows.toDF("a", "b", "want")
    // DataFrame path exercises doGenCode (whole-stage codegen on)
    val badCg = df.select(
        graft.exprs.SigAgreeExpr.column(col("a"), col("b")).as("got"),
        col("want"))
      .filter(col("got") =!= col("want")).count()
    assert(badCg === 0L)
    // interpreted path (nullSafeEval) directly
    rows.take(50).foreach { case (a, b, want) =>
      val e = graft.exprs.SigAgreeExpr(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
      assert(e.eval(null) == want)
    }
  }

  test("jaccardJoinExact: prefix-filtered join == randomized brute force") {
    import spark.implicits._
    // 40 docs from a tiny vocabulary so bigram sets genuinely overlap;
    // seeded RNG keeps the spec deterministic
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docs = (0L until 40L).map { i =>
      val base = Vector.fill(6 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
      (i, base.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.jaccardJoinExact(df, "doc_id", "text", thresholdBp = 5000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force on the driver over all pairs
    def bigrams(t: String) = t.split(" ").sliding(2)
      .filter(_.length == 2).map(_.mkString(" ")).toSet
    val want = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      ga = bigrams(ta); gb = bigrams(tb) if ga.nonEmpty && gb.nonEmpty
      inter = (ga & gb).size.toLong
      uni = ga.size + gb.size - inter
      if inter * 10000L >= 5000L * uni
    } yield (ia, ib, inter * 10000L / uni)).toSet
    assert(want.nonEmpty, "degenerate spec: brute force found no pairs")
    assert(got == want, s"prefix join diverged: missing=${want -- got} extra=${got -- want}")
  }

  test("minhashPairs: true pairs survive a FIRING hot-bucket guard (vs brute force)") {
    import spark.implicits._
    // Templated corpus: every doc = shared boilerplate + unique half, so
    // bands whose 3 seed-mins all come from boilerplate shingles collide
    // across ALL docs (bucket of 60 ≫ maxBucket=4 → the guard fires),
    // while genuine twins still meet through their unique-content bands
    // (bucket of 2). Brute-force char-shingle Jaccard is the truth.
    val rnd = new scala.util.Random(11)
    def words(n: Int) = Vector.fill(n)(
      ('a' + rnd.nextInt(26)).toChar.toString * (3 + rnd.nextInt(5))).mkString(" ")
    val boiler = words(30)
    val base = (0L until 50L).map(i => (i, s"$boiler ${words(30)}"))
    // 10 twins: same unique half, one word appended (jac stays ≥ 0.9)
    val twins = (0L until 10L).map(i => (100L + i, base(i.toInt)._2 + " zz"))
    val docs = base ++ twins
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.minhashPairs(df, "doc_id", "text",
        threshold = 0.9, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def sh(t: String) = t.sliding(5).toSet
    val want = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      a = sh(ta); b = sh(tb)
      inter = (a & b).size.toDouble
      if inter / (a.size + b.size - inter) >= 0.9
    } yield (ia, ib)).toSet
    assert(want.size >= 10, s"degenerate spec: only ${want.size} true pairs")
    assert(got == want,
      s"guard lost/invented pairs: missing=${want -- got} extra=${got -- want}")
  }

  test("rrfFuse: hand-computed fusion of two 2-entry lists") {
    import spark.implicits._
    val a = scala.Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("qid", "vid", "rnk")
    val b = scala.Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("qid", "vid", "rnk")
    val got = Index.rrfFuse(scala.Seq(a, b), k0 = 60, topK = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toList
    // 11: floor(1e6/62)+floor(1e6/61) = 16129+16393 = 32522 (rank 1)
    // 10: floor(1e6/61) = 16393 (rank 2); 12: floor(1e6/62) = 16129
    assert(got == List((11L, 32522L, 1), (10L, 16393L, 2), (12L, 16129L, 3)), s"got $got")
  }
}
