package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass SimHash: whitespace tokens → md5 → per-bit +1/-1 balances →
  * sign bits, in a single loop per row. Bit b reads the parity of hex
  * nibble b of the token hash — exactly the portable scheme of
  * `Dedup.simhashTable` (and its DuckDB oracle), so results are
  * identical while the exploded token relation and its groupBy shuffle
  * disappear. Bits 32-63 (the standard 64-bit SimHash of Manku et al.,
  * WWW'07) read nibble b-32 of a second, '#'-salted md5 — still
  * engine-portable (DuckDB: md5(token || '#')). */
case class SimhashExpr(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {
  require(bits >= 1 && bits <= 64, "simhash: bits must be in [1, 64]")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  @transient private lazy val digest =
    java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    // tokenization identical to functions.split(text, " ") (-1 limit:
    // empty and trailing tokens kept); tokens are digested as UTF-8 BYTE
    // SLICES of one array — r12: the old path allocated a String, its
    // getBytes copy, and a '#'-concat String per token, and that
    // allocation churn (not the md5 itself) was most of the kernel's
    // non-cpu task time in the banded-join profiles. For valid UTF-8 the
    // md5 inputs are byte-identical to the String path's, so every
    // simhash value is unchanged; invalid sequences are digested as their
    // raw bytes (the String path digested U+FFFD replacements instead).
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    val len = bytes.length
    val balance = new Array[Int](bits)
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        digest.reset()
        digest.update(bytes, start, i - start)
        val d = digest.digest()
        val d2 =
          if (bits > 32) {
            digest.reset()
            digest.update(bytes, start, i - start)
            digest.update('#'.toByte)
            digest.digest()
          } else null
        var b = 0
        while (b < bits) {
          // hex nibble b: high nibble of byte b/2 when b even, else low;
          // bits ≥ 32 read the salted digest at nibble b-32
          val (src, p) = if (b < 32) (d, b) else (d2, b - 32)
          val nib =
            if ((p & 1) == 0) (src(p >> 1) >> 4) & 0xf
            else src(p >> 1) & 0xf
          if ((nib & 1) == 1) balance(b) += 1 else balance(b) -= 1
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (balance(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashExpr =
    copy(child = newChild)
}

object SimhashExpr {
  def column(c: Column, bits: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      SimhashExpr(org.apache.spark.sql.GraftBridge.expression(c), bits))
}
