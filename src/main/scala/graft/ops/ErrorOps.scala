package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.blobl.{Mapping => Blobl}
import graft.model.Envelope

/** Error-flag discipline (`_error` column): the reference's core semantic
  * that failed messages keep flowing with a flag, inspected by try/catch
  * (`lib/processor/util.go:49-104`, `lib/types/interface.go:89-104`).
  */
object ErrorOps {

  /** Flag rows matching a Bloblang predicate as errored (does not drop). */
  final case class FlagError(check: String, message: String) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val cond = Blobl.envelopeExpr(df, check)
      df.withColumn(Envelope.Error,
        when(col(Envelope.Error).isNotNull, col(Envelope.Error))
          .otherwise(when(coalesce(cond, lit(false)), lit(message))))
    }
  }

  /** `bounds_check` (`lib/processor/bounds_check.go`): flag-or-drop parts
    * outside byte-size bounds. */
  final case class BoundsCheck(minBytes: Long = 0, maxBytes: Long = Long.MaxValue,
      drop: Boolean = true) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val len = octet_length(Envelope.contentOrDoc(df))
      val bad = len < minBytes || len > maxBytes
      if (drop) df.filter(!bad)
      else df.withColumn(Envelope.Error,
        when(col(Envelope.Error).isNotNull, col(Envelope.Error))
          .otherwise(when(bad, lit("bounds_check failed"))))
    }
  }

  /** `jsonschema` (`lib/processor/jsonschema.go`): flag docs failing a
    * JSON Schema (required + property types subset); invalid rows keep
    * flowing with `_error` set. */
  final case class JsonSchema(schemaJson: String) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val err = graft.exprs.Formats.jsonSchemaError(
        Envelope.contentOrDoc(df).cast("string"), schemaJson)
      df.withColumn(Envelope.Error,
        when(col(Envelope.Error).isNotNull, col(Envelope.Error)).otherwise(err))
    }
  }

  /** `try` (`lib/processor/try.go`): children run only on non-errored rows;
    * errored rows pass through untouched. Routed by [[Router]] on the flag,
    * exact for row-wise children; the two arms' doc types unify. */
  final case class TryProc(children: scala.Seq[Processor]) extends Processor {
    def apply(df: DataFrame): DataFrame =
      Router(df, scala.Seq(Envelope.ok -> Pipeline(children), lit(true) -> Noop))
  }

  /** `try` directly followed by `catch`, as the Benthos pipeline runs them:
    * rows already errored run `catchProcs`; ok rows run `tryProcs`, and the
    * rows it flags then run `catchProcs`. Caught rows get their flag
    * cleared. One router on the incoming flag, so each row's doc type is
    * that of the arms it went through. `Config` compiles the adjacent pair
    * to this. */
  final case class TryCatch(tryProcs: scala.Seq[Processor], catchProcs: scala.Seq[Processor])
      extends Processor {
    def apply(df: DataFrame): DataFrame = Router(df, scala.Seq(
      Envelope.ok -> Pipeline(tryProcs :+ CatchProc(catchProcs)),
      lit(true) -> Pipeline(catchProcs :+ ClearError)))
  }

  /** `catch` (`lib/processor/catch.go`): children run ONLY on errored rows;
    * the flag is cleared afterwards. Routed by [[Router]] on the flag. */
  final case class CatchProc(children: scala.Seq[Processor]) extends Processor {
    def apply(df: DataFrame): DataFrame =
      Router(df, scala.Seq(Envelope.ok -> Noop, lit(true) -> Pipeline(children :+ ClearError)))
  }

  /** Clears the `_error` flag. */
  case object ClearError extends Processor {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(Envelope.Error, lit(null).cast("string"))
  }
}
