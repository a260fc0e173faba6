package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash signature, md5-rotation scheme (engine-portable: the
  * DuckDB oracle recomputes it with md5 and substring). Each distinct
  * character k-gram of the text (the whole text when it is at most k
  * characters) is hashed once to its 32-char lowercase md5 hex; hash
  * function `seed` is that hex rotated left by `8·seed` characters, and
  * signature entry `seed` is the lexicographic minimum of the rotated
  * strings over all shingles. Rotations repeat after 4 seeds, so at most
  * 4 entries are independent. Runs inside a single expression eval: one
  * reused MessageDigest, byte-level hex, in-place min tracking, no
  * intermediate rows or arrays. */
case class MinhashSigExpr(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType)
  override def nullable: Boolean = true

  @transient private lazy val digest = java.security.MessageDigest.getInstance("MD5")
  private val hexChars = "0123456789abcdef".toCharArray

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.length
    val mins = Array.fill[String](numHashes)(null)
    val hex = new Array[Char](32)
    var i = 0
    val last = math.max(n - k, 0)
    val seen = new java.util.HashSet[String](math.max(16, (last + 1) * 2))
    while (i <= last) {
      val sub = if (n <= k) s else s.substring(i, i + k)
      if (seen.add(sub)) {
        digest.reset()
        val d = digest.digest(sub.getBytes("UTF-8"))
        var b = 0
        while (b < 16) {
          hex(b * 2) = hexChars((d(b) >> 4) & 0xf)
          hex(b * 2 + 1) = hexChars(d(b) & 0xf)
          b += 1
        }
        var seed = 0
        while (seed < numHashes) {
          val off = (seed * 8) % 32
          val rotated =
            if (off == 0) new String(hex)
            else new String(hex, off, 32 - off) + new String(hex, 0, off)
          if (mins(seed) == null || rotated < mins(seed)) mins(seed) = rotated
          seed += 1
        }
      }
      if (n <= k) i = last + 1 else i += 1
    }
    val out = new Array[AnyRef](numHashes)
    var j = 0
    while (j < numHashes) {
      out(j) = if (mins(j) == null) null else UTF8String.fromString(mins(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

object MinhashSigExpr {
  def column(c: Column, k: Int, numHashes: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      MinhashSigExpr(org.apache.spark.sql.GraftBridge.expression(c), k, numHashes))
}
