package graft.blobl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Field interpolation `${! <query> }` (reference
  * `internal/bloblang/field/expression.go:50-121`): nearly every config
  * string field (keys, topics, paths) accepts embedded Bloblang queries.
  * Compiles a template to ONE concat Column; static templates collapse to
  * a literal at compile time (mirroring `expression.go:26`).
  */
object Interpolation {

  private val pattern = "\\$\\{!\\s*(.*?)\\s*\\}".r

  /** Compile against an envelope DataFrame. */
  def column(df: DataFrame, template: String): Column =
    build(template, expr => Mapping.envelopeExpr(df, expr))

  private def build(template: String, compile: String => Column): Column = {
    val parts = scala.collection.mutable.ListBuffer[Column]()
    var last = 0
    for (m <- pattern.findAllMatchIn(template)) {
      if (m.start > last) parts += lit(template.substring(last, m.start))
      parts += goRender(compile(m.group(1)))
      last = m.end
    }
    if (last < template.length) parts += lit(template.substring(last))
    if (parts.isEmpty) lit("")
    else if (parts.size == 1) parts.head
    else concat(parts.toSeq: _*)
  }

  /** Render a query result the way Go's `%v` does for the common cases:
    * whole doubles print without the trailing `.0` (`json("a").number() +
    * json("b").number()` interpolates as `5`, not `5.0` — the reference's
    * own text fixture depends on it). Everything else is a plain cast. */
  private def goRender(c: Column): Column =
    regexp_replace(c.cast("string"), "^(-?\\d+)\\.0$", "$1")

  /** True when the template contains no dynamic parts. */
  def isStatic(template: String): Boolean = pattern.findFirstIn(template).isEmpty
}
