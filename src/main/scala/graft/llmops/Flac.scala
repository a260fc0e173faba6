package graft.llmops

/** Minimal REAL FLAC codec — the fixed-predictor subset of the published
  * layout (RFC 9639; reference benthos has no codec of its own, this
  * serves the multimodal sample-decode axis). Everything here is
  * bit-level per the spec: MSB-first bit packing, UTF-8-coded frame
  * numbers, CRC-8 frame headers, CRC-16 frame trailers, rice-coded
  * residuals (with the 5-bit escape), fixed predictors of order 0–4,
  * CONSTANT and VERBATIM subframes, any residual partition order.
  *
  * Decode covers 1–8 independent channels at any 4–32-bit depth (frame
  * sample-size codes or STREAMINFO-deferred): CONSTANT/VERBATIM
  * subframes, FIXED predictors 0-4, LPC of any order
  * (precision/shift/coefficient fields, >>shift reconstruction),
  * wasted-bits subframes (reconstruction in the unshifted domain, shift
  * applied last per libFLAC), and all three stereo decorrelations
  * (left/side, right/side, mid/side — side at bps+1, so ≤31-bit for
  * decorrelated frames). Encoders emit FIXED order-1 (default) or a
  * fractional order-2 LPC subframe — mono/stereo 16-bit via
  * encode/encodeStereo, any channel count and depth via encodePcm —
  * multi-frame for long inputs; decode(encode(x)) == x bit-exactly on
  * every path (spec-pinned, fuzz-covered).
  */
object Flac {

  private val MaxBlock = 4096

  // ---------- bit IO (MSB-first, as the spec packs) ----------

  final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >>> i) & 1L).toInt
        nbits += 1
        if (nbits == 8) { buf.write(cur); cur = 0; nbits = 0 }
        i -= 1
      }
    }
    /** FLAC unary: q zero-bits then a one-bit. */
    def writeUnary(q: Int): Unit = { writeBits(0L, q); writeBits(1L, 1) }
    def align(): Unit = if (nbits > 0) writeBits(0L, 8 - nbits)
    def toBytes: Array[Byte] = { align(); buf.toByteArray }
  }

  final class BitReader(bytes: Array[Byte], startByte: Int) {
    private var pos = startByte * 8L
    private val end = bytes.length * 8L
    def readBits(n: Int): Long = {
      if (pos + n > end) throw new java.io.EOFException
      var v = 0L
      var i = 0
      while (i < n) {
        val b = bytes((pos >> 3).toInt) & 0xff
        v = (v << 1) | ((b >> (7 - (pos & 7)).toInt) & 1)
        pos += 1
        i += 1
      }
      v
    }
    def readSigned(n: Int): Int = {
      val u = readBits(n)
      (u << (64 - n) >> (64 - n)).toInt // sign-extend
    }
    def readUnary(): Int = {
      var q = 0
      while (readBits(1) == 0L) {
        q += 1
        if (q > (1 << 20)) throw new java.io.EOFException // runaway guard
      }
      q
    }
    def align(): Unit = if ((pos & 7) != 0) pos = (pos | 7) + 1
  }

  // ---------- CRCs (spec polynomials) ----------

  def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) { crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff; b += 1 }
      i += 1
    }
    crc
  }

  def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xff) << 8
      var b = 0
      while (b < 8) { crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff else (crc << 1) & 0xffff; b += 1 }
      i += 1
    }
    crc
  }

  private def zigzag(r: Int): Long = ((r.toLong << 1) ^ (r.toLong >> 63)) & 0xffffffffL
  private def unzigzag(u: Long): Int = ((u >>> 1) ^ -(u & 1L)).toInt

  // ---------- encode ----------

  /** 16-bit mono PCM → FLAC: STREAMINFO + one FIXED-order-1 frame per
    * ≤4096-sample block, rice partition order 0, parameter chosen from
    * the block's mean residual magnitude. */
  def encode(samples: Array[Int], sampleRate: Int,
      subframe: String = "fixed"): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), "bad sample rate")
    require(samples.nonEmpty, "encode requires at least one sample")
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO (last-metadata flag | type 0), length 34
    val si = new BitWriter
    val maxB = math.min(MaxBlock, math.max(16, samples.length))
    si.writeBits(maxB, 16) // min block
    si.writeBits(maxB, 16) // max block
    si.writeBits(0, 24) // min frame size unknown
    si.writeBits(0, 24) // max frame size unknown
    si.writeBits(sampleRate, 20)
    si.writeBits(0, 3) // channels - 1 (mono)
    si.writeBits(15, 5) // bits per sample - 1 (16)
    si.writeBits(samples.length.toLong, 36)
    si.writeBits(0, 64); si.writeBits(0, 64) // md5 unset
    val siBytes = si.toBytes
    out.write(0x80); out.write(0); out.write(0); out.write(siBytes.length)
    out.write(siBytes)

    var off = 0
    var frameIx = 0
    while (off < samples.length) {
      val n = math.min(MaxBlock, samples.length - off)
      val w = new BitWriter
      w.writeBits(0x3ffe, 14) // sync 11111111111110
      w.writeBits(0, 1) // reserved
      w.writeBits(0, 1) // fixed blocking strategy
      w.writeBits(0x7, 4) // block size: 16-bit at end of header
      w.writeBits(0x0, 4) // sample rate: from STREAMINFO
      w.writeBits(0x0, 4) // channels: mono independent
      w.writeBits(0x4, 3) // sample size: 16-bit
      w.writeBits(0, 1) // reserved
      // UTF-8 coded frame number (fixed blocking → frame index)
      if (frameIx < 0x80) w.writeBits(frameIx, 8)
      else {
        require(frameIx < 0x800, "too many frames for this encoder")
        w.writeBits(0xc0 | (frameIx >> 6), 8)
        w.writeBits(0x80 | (frameIx & 0x3f), 8)
      }
      w.writeBits(math.max(n, 1) - 1, 16) // block size - 1
      val headBytes = w.toBytes // header is byte-aligned here
      val w2 = new BitWriter
      headBytes.foreach(b => w2.writeBits(b & 0xffL, 8))
      w2.writeBits(crc8(headBytes, 0, headBytes.length), 8)
      // subframe: FIXED order 1 by default (order 0 for 1-sample blocks);
      // `lpc` exercises the decoder's LPC path with a fractional predictor
      val chan = java.util.Arrays.copyOfRange(samples, off, off + n)
      if (subframe == "lpc") writeLpcSubframe(w2, chan, 16)
      else writeFixedSubframe(w2, chan, 16)
      val frameBytes = w2.toBytes // align() pads the final partial byte
      out.write(frameBytes)
      val c16 = crc16(frameBytes, 0, frameBytes.length)
      out.write(c16 >> 8); out.write(c16 & 0xff)
      off += n
      frameIx += 1
    }
    out.toByteArray
  }

  // ---------- decode ----------

  private val fixedCoefs: Array[Array[Int]] = Array(
    Array(), Array(1), Array(2, -1), Array(3, -3, 1), Array(4, -6, 4, -1))

  /** One subframe (CONSTANT / VERBATIM / FIXED 0–4 / LPC any order) at
    * `bits` precision — the side channel of a decorrelated stereo pair
    * reads at bps+1. */
  private def readSubframe(r: BitReader, blockSize: Int, bits: Int): Array[Int] = {
    if (r.readBits(1) != 0) return null
    val sfType = r.readBits(6).toInt
    val wasted = if (r.readBits(1) == 1L) r.readUnary() + 1 else 0
    val effBits = bits - wasted
    if (effBits <= 0) return null
    val block = new Array[Int](blockSize)
    if (sfType == 0) { // CONSTANT
      val v = r.readSigned(effBits)
      java.util.Arrays.fill(block, v << wasted)
    } else if (sfType == 1) { // VERBATIM
      var i = 0
      while (i < blockSize) { block(i) = r.readSigned(effBits) << wasted; i += 1 }
    } else if (sfType >= 8 && sfType <= 12) { // FIXED order 0-4
      val order = sfType - 8
      // warmup stays in the unshifted (effBits) domain: prediction and
      // residual reconstruction run there, and the wasted-bits shift is
      // applied to ALL samples at the end (RFC 9639 / libFLAC order)
      var i = 0
      while (i < order) { block(i) = r.readSigned(effBits); i += 1 }
      // residual: 2-bit method, 4-bit partition order
      val method = r.readBits(2).toInt
      if (method > 1) return null
      val pBits = if (method == 0) 4 else 5
      val escape = (1 << pBits) - 1
      val po = r.readBits(4).toInt
      val parts = 1 << po
      if (blockSize % parts != 0) return null
      var part = 0
      var idx = order
      while (part < parts) {
        val count = blockSize / parts - (if (part == 0) order else 0)
        val param = r.readBits(pBits).toInt
        if (param == escape) {
          val raw = r.readBits(5).toInt
          var k = 0
          while (k < count) {
            block(idx) = if (raw == 0) 0 else r.readSigned(raw)
            idx += 1; k += 1
          }
        } else {
          var k = 0
          while (k < count) {
            val q = r.readUnary()
            val lo = if (param > 0) r.readBits(param) else 0L
            block(idx) = unzigzag((q.toLong << param) | lo)
            idx += 1; k += 1
          }
        }
        part += 1
      }
      // reconstruct through the fixed predictor
      val coefs = fixedCoefs(order)
      i = order
      while (i < blockSize) {
        var pred = 0L
        var c = 0
        while (c < order) { pred += coefs(c).toLong * block(i - 1 - c); c += 1 }
        block(i) = (block(i) + pred).toInt
        i += 1
      }
      if (wasted > 0) { i = 0; while (i < blockSize) { block(i) = block(i) << wasted; i += 1 } }
    } else if (sfType >= 32) { // LPC order 1-32 (RFC 9639 §subframe_lpc)
      val order = (sfType & 31) + 1
      var i = 0
      while (i < order) { block(i) = r.readSigned(effBits); i += 1 }
      val precision = r.readBits(4).toInt + 1
      if (precision > 15) return null // 1111 is invalid per the spec
      val shift = {
        val s5 = r.readBits(5)
        ((s5 << 59) >> 59).toInt // signed 5-bit
      }
      if (shift < 0) return null
      val coefs = Array.fill(order)(r.readSigned(precision))
      // residual decode: identical layout to the FIXED path
      val method = r.readBits(2).toInt
      if (method > 1) return null
      val pBits = if (method == 0) 4 else 5
      val escape = (1 << pBits) - 1
      val po = r.readBits(4).toInt
      val parts = 1 << po
      if (blockSize % parts != 0) return null
      var part = 0
      var idx = order
      while (part < parts) {
        val count = blockSize / parts - (if (part == 0) order else 0)
        val param = r.readBits(pBits).toInt
        if (param == escape) {
          val raw = r.readBits(5).toInt
          var k = 0
          while (k < count) {
            block(idx) = if (raw == 0) 0 else r.readSigned(raw)
            idx += 1; k += 1
          }
        } else {
          var k = 0
          while (k < count) {
            val q = r.readUnary()
            val lo = if (param > 0) r.readBits(param) else 0L
            block(idx) = unzigzag((q.toLong << param) | lo)
            idx += 1; k += 1
          }
        }
        part += 1
      }
      // reconstruct: s[i] = res[i] + (Σ coef_j · s[i-1-j]) >> shift
      i = order
      while (i < blockSize) {
        var pred = 0L
        var c = 0
        while (c < order) { pred += coefs(c).toLong * block(i - 1 - c); c += 1 }
        block(i) = (block(i) + (pred >> shift)).toInt
        i += 1
      }
      if (wasted > 0) { i = 0; while (i < blockSize) { block(i) = block(i) << wasted; i += 1 } }
    } else return null
    block
  }

  /** Decode to interleaved PCM: 1–8 independent channels at 4–32-bit,
    * stereo additionally in all three decorrelated assignments
    * (left/side, right/side, mid/side; the side channel reads at bps+1
    * per the spec, capping decorrelated depth at 31-bit). Output is
    * interleaved [c0s0, c1s0, …, c0s1, …]. Null when the payload is not
    * FLAC or is malformed. */
  def decode(bytes: Array[Byte]): Array[Int] = {
    try {
      if (bytes.length < 8 || new String(bytes, 0, 4, "US-ASCII") != "fLaC") return null
      var pos = 4
      var sr = 0L; var ch = 0L; var bps = 0L; var total = -1L
      var last = false
      while (!last && pos + 4 <= bytes.length) {
        val header = bytes(pos) & 0xff
        last = (header & 0x80) != 0
        val btype = header & 0x7f
        val len = ((bytes(pos + 1) & 0xff) << 16) |
          ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
        if (pos + 4 + len > bytes.length) return null
        if (btype == 0 && len >= 18) {
          val bb = java.nio.ByteBuffer.wrap(bytes, pos + 4 + 10, 8)
          val packed = bb.getLong()
          sr = (packed >>> 44) & 0xFFFFF
          ch = ((packed >>> 41) & 0x7) + 1
          bps = ((packed >>> 36) & 0x1F) + 1
          total = packed & 0xFFFFFFFFFL
        }
        pos += 4 + len
      }
      if (sr == 0 || total < 0) return null
      if (ch < 1 || ch > 8 || bps < 4 || bps > 32) return null
      val nCh = ch.toInt
      val siBits = bps.toInt
      val out = new scala.collection.mutable.ArrayBuffer[Int]((total * nCh).toInt)
      val r = new BitReader(bytes, pos)
      while (out.length < total * nCh) {
        if (r.readBits(14) != 0x3ffe) return null // sync
        r.readBits(1) // reserved
        r.readBits(1) // blocking strategy
        val bsCode = r.readBits(4).toInt
        val srCode = r.readBits(4).toInt
        val chCode = r.readBits(4).toInt
        val ssCode = r.readBits(3).toInt
        r.readBits(1) // reserved
        // frame sample size (RFC 9639 table): 0 defers to STREAMINFO
        val fBits = ssCode match {
          case 0 => siBits
          case 1 => 8
          case 2 => 12
          case 4 => 16
          case 5 => 20
          case 6 => 24
          case 7 => 32
          case _ => return null // 3 reserved
        }
        // UTF-8 coded frame/sample number
        val first = r.readBits(8).toInt
        var cont = 0
        var m = 0x80
        while ((first & m) != 0 && m > 1) { cont += 1; m >>= 1 }
        if (cont > 0) { // leading 1-bits count total bytes; skip continuations
          var k = 0
          while (k < cont - 1) { r.readBits(8); k += 1 }
        }
        val blockSize = bsCode match {
          case 0 => return null
          case 1 => 192
          case c if c >= 2 && c <= 5 => 576 << (c - 2)
          case 6 => r.readBits(8).toInt + 1
          case 7 => r.readBits(16).toInt + 1
          case c => 256 << (c - 8)
        }
        srCode match { // consume trailing sample-rate bits if any
          case 12 => r.readBits(8)
          case 13 | 14 => r.readBits(16)
          case _ => ()
        }
        r.readBits(8) // header CRC-8 (layout consumed; value not re-verified)
        // decorrelated side channels read at fBits+1; Int-backed samples
        // cap that at 32 (33-bit side ⇒ 32-bit decorrelated unsupported)
        if (chCode >= 8 && fBits + 1 > 32) return null
        val channels: Array[Array[Int]] = chCode match {
          case c if c <= 7 => // independent, channels = c + 1
            if (c + 1 != nCh) return null
            val chans = new Array[Array[Int]](nCh)
            var k = 0
            while (k < nCh) {
              chans(k) = readSubframe(r, blockSize, fBits)
              if (chans(k) == null) return null
              k += 1
            }
            chans
          case 8 => // left/side: right = left - side
            if (nCh != 2) return null
            val l = readSubframe(r, blockSize, fBits)
            val s = readSubframe(r, blockSize, fBits + 1)
            if (l == null || s == null) return null
            Array(l, Array.tabulate(blockSize)(i => l(i) - s(i)))
          case 9 => // right/side: left = right + side
            if (nCh != 2) return null
            val s = readSubframe(r, blockSize, fBits + 1)
            val rt = readSubframe(r, blockSize, fBits)
            if (s == null || rt == null) return null
            Array(Array.tabulate(blockSize)(i => rt(i) + s(i)), rt)
          case 10 => // mid/side (libFLAC reconstruction: restore the
            // dropped (L+R) LSB from the side's parity)
            if (nCh != 2) return null
            val mid = readSubframe(r, blockSize, fBits)
            val s = readSubframe(r, blockSize, fBits + 1)
            if (mid == null || s == null) return null
            val l = new Array[Int](blockSize)
            val rt = new Array[Int](blockSize)
            var i = 0
            while (i < blockSize) {
              val m2 = (mid(i) << 1) | (s(i) & 1)
              l(i) = (m2 + s(i)) >> 1
              rt(i) = (m2 - s(i)) >> 1
              i += 1
            }
            Array(l, rt)
          case _ => return null
        }
        r.align()
        r.readBits(16) // frame CRC-16
        val take = math.min(blockSize.toLong, total - out.length / nCh).toInt
        var i = 0
        while (i < take) {
          var k = 0
          while (k < nCh) { out += channels(k)(i); k += 1 }
          i += 1
        }
      }
      out.toArray
    } catch { case _: Exception => null }
  }

  // ---------- stereo encode ----------

  /** Interleaved 16-bit stereo PCM → FLAC, one frame per ≤4096-sample
    * block. `assignment`: "independent", "left_side", "right_side", or
    * "mid_side" — the decorrelated forms write the side channel at 17
    * bits per the spec. */
  def encodeStereo(interleaved: Array[Int], sampleRate: Int,
      assignment: String = "mid_side"): Array[Byte] = {
    require(interleaved.nonEmpty && interleaved.length % 2 == 0,
      "stereo encode requires interleaved L/R pairs")
    val nSamples = interleaved.length / 2
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val si = new BitWriter
    val maxB = math.min(MaxBlock, math.max(16, nSamples))
    si.writeBits(maxB, 16); si.writeBits(maxB, 16)
    si.writeBits(0, 24); si.writeBits(0, 24)
    si.writeBits(sampleRate, 20)
    si.writeBits(1, 3) // channels - 1 (stereo)
    si.writeBits(15, 5)
    si.writeBits(nSamples.toLong, 36)
    si.writeBits(0, 64); si.writeBits(0, 64)
    val siBytes = si.toBytes
    out.write(0x80); out.write(0); out.write(0); out.write(siBytes.length)
    out.write(siBytes)

    val chCode = assignment match {
      case "independent" => 1
      case "left_side" => 8
      case "right_side" => 9
      case "mid_side" => 10
      case o => throw new IllegalArgumentException(s"unknown assignment $o")
    }
    var off = 0
    var frameIx = 0
    while (off < nSamples) {
      val n = math.min(MaxBlock, nSamples - off)
      val left = Array.tabulate(n)(i => interleaved(2 * (off + i)))
      val right = Array.tabulate(n)(i => interleaved(2 * (off + i) + 1))
      val w = new BitWriter
      w.writeBits(0x3ffe, 14)
      w.writeBits(0, 1); w.writeBits(0, 1)
      w.writeBits(0x7, 4); w.writeBits(0x0, 4)
      w.writeBits(chCode, 4)
      w.writeBits(0x4, 3); w.writeBits(0, 1)
      if (frameIx < 0x80) w.writeBits(frameIx, 8)
      else {
        require(frameIx < 0x800, "too many frames for this encoder")
        w.writeBits(0xc0 | (frameIx >> 6), 8)
        w.writeBits(0x80 | (frameIx & 0x3f), 8)
      }
      w.writeBits(n - 1, 16)
      val headBytes = w.toBytes
      val w2 = new BitWriter
      headBytes.foreach(b => w2.writeBits(b & 0xffL, 8))
      w2.writeBits(crc8(headBytes, 0, headBytes.length), 8)
      val subframes: scala.Seq[(Array[Int], Int)] = chCode match {
        case 1 => scala.Seq((left, 16), (right, 16))
        case 8 =>
          scala.Seq((left, 16), (Array.tabulate(n)(i => left(i) - right(i)), 17))
        case 9 =>
          scala.Seq((Array.tabulate(n)(i => left(i) - right(i)), 17), (right, 16))
        case 10 =>
          scala.Seq((Array.tabulate(n)(i => (left(i) + right(i)) >> 1), 16),
            (Array.tabulate(n)(i => left(i) - right(i)), 17))
      }
      subframes.foreach { case (chan, bits) =>
        writeFixedSubframe(w2, chan, bits)
      }
      val frameBytes = w2.toBytes
      out.write(frameBytes)
      val c16 = crc16(frameBytes, 0, frameBytes.length)
      out.write(c16 >> 8); out.write(c16 & 0xff)
      off += n
      frameIx += 1
    }
    out.toByteArray
  }

  /** Interleaved PCM at any 4–32-bit depth and 1–8 independent channels →
    * FLAC (FIXED subframes, one frame per ≤4096-sample block). Depths
    * with a frame-header code (8/12/16/20/24/32) are written in-frame;
    * others defer to STREAMINFO via code 0. */
  def encodePcm(interleaved: Array[Int], sampleRate: Int, channels: Int,
      bits: Int): Array[Byte] = {
    require(channels >= 1 && channels <= 8, "channels must be 1-8")
    require(bits >= 4 && bits <= 32, "bits must be 4-32")
    require(interleaved.nonEmpty && interleaved.length % channels == 0,
      "PCM length must be a multiple of the channel count")
    require(sampleRate > 0 && sampleRate < (1 << 20), "bad sample rate")
    val nSamples = interleaved.length / channels
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val si = new BitWriter
    val maxB = math.min(MaxBlock, math.max(16, nSamples))
    si.writeBits(maxB, 16); si.writeBits(maxB, 16)
    si.writeBits(0, 24); si.writeBits(0, 24)
    si.writeBits(sampleRate, 20)
    si.writeBits(channels - 1, 3)
    si.writeBits(bits - 1, 5)
    si.writeBits(nSamples.toLong, 36)
    si.writeBits(0, 64); si.writeBits(0, 64)
    val siBytes = si.toBytes
    out.write(0x80); out.write(0); out.write(0); out.write(siBytes.length)
    out.write(siBytes)
    val ssCode = bits match {
      case 8 => 1; case 12 => 2; case 16 => 4
      case 20 => 5; case 24 => 6; case 32 => 7
      case _ => 0 // depth carried by STREAMINFO only
    }
    var off = 0
    var frameIx = 0
    while (off < nSamples) {
      val n = math.min(MaxBlock, nSamples - off)
      val w = new BitWriter
      w.writeBits(0x3ffe, 14)
      w.writeBits(0, 1); w.writeBits(0, 1)
      w.writeBits(0x7, 4); w.writeBits(0x0, 4)
      w.writeBits(channels - 1, 4) // independent assignment
      w.writeBits(ssCode, 3); w.writeBits(0, 1)
      if (frameIx < 0x80) w.writeBits(frameIx, 8)
      else {
        require(frameIx < 0x800, "too many frames for this encoder")
        w.writeBits(0xc0 | (frameIx >> 6), 8)
        w.writeBits(0x80 | (frameIx & 0x3f), 8)
      }
      w.writeBits(n - 1, 16)
      val headBytes = w.toBytes
      val w2 = new BitWriter
      headBytes.foreach(b => w2.writeBits(b & 0xffL, 8))
      w2.writeBits(crc8(headBytes, 0, headBytes.length), 8)
      var c = 0
      while (c < channels) {
        val chan = Array.tabulate(n)(i => interleaved(channels * (off + i) + c))
        writeFixedSubframe(w2, chan, bits)
        c += 1
      }
      val frameBytes = w2.toBytes
      out.write(frameBytes)
      val c16 = crc16(frameBytes, 0, frameBytes.length)
      out.write(c16 >> 8); out.write(c16 & 0xff)
      off += n
      frameIx += 1
    }
    out.toByteArray
  }

  /** FIXED order-1 subframe (order 0 for single-sample blocks) with
    * partition-order-0 rice residuals at `bits` precision. */
  private def writeFixedSubframe(w2: BitWriter, chan: Array[Int], bits: Int): Unit = {
    val n = chan.length
    // 32-bit order-1 residuals can need 33 bits (RFC 9639 notes the
    // widened residual domain); stay at order 0 when any delta overflows
    val deltasFit = n < 2 || (1 until n).forall { i =>
      val d = chan(i).toLong - chan(i - 1).toLong
      d >= Int.MinValue && d <= Int.MaxValue
    }
    val order = if (n >= 2 && deltasFit) 1 else 0
    w2.writeBits(0, 1)
    w2.writeBits(8 + order, 6)
    w2.writeBits(0, 1)
    var i = 0
    while (i < order) {
      w2.writeBits(chan(i).toLong & ((1L << bits) - 1), bits); i += 1
    }
    val res = new Array[Int](n - order)
    i = order
    while (i < n) {
      res(i - order) = chan(i) - (if (order == 1) chan(i - 1) else 0)
      i += 1
    }
    writeRice(w2, res)
  }

  /** LPC order-2 subframe with a genuinely fractional quantized
    * predictor — coefs [3, -1] at shift 1, i.e. ŝ = (3·s₁ − s₂)/2 —
    * which only the LPC layout can express (exercises the decoder's LPC
    * path: precision/shift/coefficient fields + >>shift reconstruction).
    * Blocks shorter than 3 samples fall back to FIXED. */
  private def writeLpcSubframe(w2: BitWriter, chan: Array[Int], bits: Int): Unit = {
    val n = chan.length
    if (n < 3) { writeFixedSubframe(w2, chan, bits); return }
    val order = 2; val shift = 1; val precision = 4
    val coefs = Array(3, -1)
    w2.writeBits(0, 1)
    w2.writeBits(32 | (order - 1), 6)
    w2.writeBits(0, 1)
    var i = 0
    while (i < order) {
      w2.writeBits(chan(i).toLong & ((1L << bits) - 1), bits); i += 1
    }
    w2.writeBits(precision - 1, 4)
    w2.writeBits(shift, 5)
    coefs.foreach(c => w2.writeBits(c.toLong & ((1L << precision) - 1), precision))
    val res = new Array[Int](n - order)
    i = order
    while (i < n) {
      val pred = (coefs(0).toLong * chan(i - 1) + coefs(1).toLong * chan(i - 2)) >> shift
      res(i - order) = chan(i) - pred.toInt
      i += 1
    }
    writeRice(w2, res)
  }

  /** Partition-order-0 rice residuals, parameter from the mean magnitude. */
  private def writeRice(w2: BitWriter, res: Array[Int]): Unit = {
    val mean = if (res.isEmpty) 0L else res.map(r => zigzag(r)).sum / math.max(1, res.length)
    var p = 0
    while ((1L << (p + 1)) < mean + 1 && p < 14) p += 1
    w2.writeBits(0, 2)
    w2.writeBits(0, 4)
    w2.writeBits(p, 4)
    res.foreach { r =>
      val u = zigzag(r)
      w2.writeUnary((u >>> p).toInt)
      if (p > 0) w2.writeBits(u & ((1L << p) - 1), p)
    }
  }
}
