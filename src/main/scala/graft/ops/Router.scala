package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, CaseWhen,
  CreateNamedStruct, EqualTo, ExprId, Expression, ExtractValue, IsNotNull, Literal,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Envelope

/** Per-row routing, shared by `switch`, `group_by`, `try` and `catch`.
  *
  * Each row goes to the FIRST arm whose condition holds (null counts as
  * false); rows no arm takes are dropped. The arm index is computed once,
  * as a column of the input, and every arm's processors run over the rows
  * carrying its index.
  *
  * When every arm comes back as deterministic `Project`/`Filter` nodes over
  * its input, the arms are fused into ONE `Filter` + `Project` over the
  * indexed input, with a `CASE` on the arm index per output column. The
  * input is then scanned (and an upstream shuffle read) once, not once per
  * arm. Any other arm (a `dedupe`, a `count()`, a join, or one whose fused
  * form would evaluate a costly expression more than once, such as a
  * nested router's arm index) keeps the union of per-arm outputs, with the
  * same first-match and drop semantics.
  *
  * Arm outputs are unified by column name before either path: struct
  * fields missing from an arm read null, array elements and map values
  * unify recursively, an atomic type against VARIANT becomes VARIANT
  * (SURVEY §1.3's escape hatch), and other atomic pairs widen as a SQL
  * union would. Columns that do not unify are left for `unionByName` to
  * reject.
  */
object Router {
  private val ArmCol = "_graft_arm"

  def apply(df: DataFrame, arms: scala.Seq[(Column, Processor)]): DataFrame = {
    val index = arms.zipWithIndex.foldRight(lit(null).cast(IntegerType)) {
      case (((cond, _), i), rest) => when(coalesce(cond, lit(false)), lit(i)).otherwise(rest)
    }
    val indexed = df.withColumn(ArmCol, index)
    val inputs = arms.indices.map(i => indexed.filter(col(ArmCol) === i).drop(ArmCol))
    val outs = arms.zip(inputs).map { case ((_, p), in) => p(in) }
    val names = outs.head.columns.toSeq
    if (outs.exists(_.columns.toSet != names.toSet)) return outs.reduce(_.unionByName(_))
    val types = names.map(n => outs.map(o => Option(o.schema(n).dataType))
      .reduce((a, b) => a.zip(b).flatMap { case (x, y) => unify(x, y) }))
    val conformed = outs.map(o => o.select(names.zip(types).map { case (n, t) =>
      val c = col(Envelope.fieldRef(n))
      t.fold(c)(conform(c, o.schema(n).dataType, _)).as(n)
    }: _*))
    val collapsed = conformed.zip(inputs).map { case (o, in) =>
      collapse(o.queryExecution.analyzed, in.queryExecution.analyzed)
    }
    if (types.forall(_.isDefined) && collapsed.forall(_.isDefined))
      fuse(indexed, names, collapsed.flatten)
    else conformed.reduce(_.unionByName(_))
  }

  /** One `Filter` + `Project` over `indexed`: arm i's condition and
    * expressions apply to the rows whose arm index is i. */
  private def fuse(indexed: DataFrame, names: scala.Seq[String],
      arms: scala.Seq[(Expression, scala.Seq[Expression])]): DataFrame = {
    val arm = indexed.queryExecution.analyzed.output.find(_.name == ArmCol).get
    def byArm(pick: ((Expression, scala.Seq[Expression])) => Expression,
        otherwise: Option[Expression]): Expression =
      CaseWhen(arms.zipWithIndex.map { case (a, i) => (EqualTo(arm, Literal(i)), pick(a)) },
        otherwise)
    val keep =
      if (arms.forall(_._1 == Literal.TrueLiteral)) IsNotNull(arm)
      else byArm(_._1, Some(Literal.FalseLiteral))
    indexed.filter(GraftBridge.column(keep)).select(names.indices.map { j =>
      GraftBridge.column(byArm(_._2(j), None)).as(names(j))
    }: _*)
  }

  /** Collapses `plan` into (row condition, output expressions) over the
    * output of `base`, when every node between them is a deterministic
    * `Project` or `Filter`. */
  private def collapse(plan: LogicalPlan, base: LogicalPlan)
      : Option[(Expression, scala.Seq[Expression])] = {
    def pure(e: Expression): Boolean =
      e.deterministic && !SubqueryExpression.hasSubquery(e)
    def inline(e: Expression, sub: Map[ExprId, Expression]): Expression =
      e.transformUp { case a: Attribute if sub.contains(a.exprId) => sub(a.exprId) }
    // Inlining evaluates an expression once per reference. Several
    // references are fine only for a cheap one, or for a struct whose field
    // reads the optimizer folds; anything else keeps the union path.
    def free(e: Expression): Boolean = e match {
      case _: Attribute | _: CreateNamedStruct => true
      case _: ExtractValue => e.children.forall(free)
      case _ => e.foldable
    }
    def once(uses: scala.Seq[Expression], sub: Map[ExprId, Expression]): Boolean =
      uses.flatMap(_.collect { case a: Attribute if sub.contains(a.exprId) => a.exprId })
        .groupBy(identity).forall { case (id, refs) => refs.size == 1 || free(sub(id)) }
    def go(p: LogicalPlan): Option[(Expression, Map[ExprId, Expression])] = p match {
      case _ if (p eq base) || p == base => Some((Literal.TrueLiteral, Map.empty))
      case Project(list, child) if list.forall(pure) => go(child).filter(r => once(list, r._2)).map {
        case (cond, sub) => (cond, list.map {
          case a: Alias => a.exprId -> inline(a.child, sub)
          case ne => ne.exprId -> inline(ne, sub)
        }.toMap)
      }
      case Filter(c, child) if pure(c) => go(child).filter(r => once(scala.Seq(c), r._2)).map {
        case (cond, sub) =>
          val c2 = inline(c, sub)
          (if (cond == Literal.TrueLiteral) c2 else And(cond, c2), sub)
      }
      case _ => None
    }
    go(plan).map { case (cond, sub) =>
      (cond, plan.output.map(a => sub.getOrElse(a.exprId, a)))
    }
  }

  /** The common type of two arm outputs, when there is one. */
  private def unify(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if sameShape(a, b) => Some(a)
    case (NullType, t) => Some(t)
    case (t, NullType) => Some(t)
    case (VariantType, t) if atomic(t) => Some(VariantType)
    case (t, VariantType) if atomic(t) => Some(VariantType)
    case (x: StructType, y: StructType) =>
      val both = x.fields.map(f => y.find(_.name == f.name) match {
        case Some(g) => unify(f.dataType, g.dataType).map(t =>
          f.copy(dataType = t, nullable = f.nullable || g.nullable))
        case None => Some(f.copy(nullable = true))
      })
      val extra = y.fields.filterNot(g => x.fieldNames.contains(g.name))
        .map(_.copy(nullable = true))
      if (both.forall(_.isDefined)) Some(StructType(both.flatten ++ extra)) else None
    case (ArrayType(x, n), ArrayType(y, m)) => unify(x, y).map(ArrayType(_, n || m))
    case (MapType(k, x, n), MapType(k2, y, m)) if sameShape(k, k2) =>
      unify(x, y).map(MapType(k, _, n || m))
    case _ if atomic(a) && atomic(b) => TypeCoercion.findWiderTypeForTwo(a, b)
    case _ => None
  }

  private def atomic(t: DataType): Boolean = t match {
    case _: StructType | _: ArrayType | _: MapType | VariantType | NullType => false
    case _ => true
  }

  /** `c` of type `from`, reshaped to the unified type `to`. */
  private def conform(c: Column, from: DataType, to: DataType): Column = (from, to) match {
    case _ if sameShape(from, to) => c
    case (f: StructType, t: StructType) =>
      when(c.isNotNull, struct(t.fields.map(tf => f.find(_.name == tf.name) match {
        case Some(ff) => conform(c.getField(tf.name), ff.dataType, tf.dataType).as(tf.name)
        case None => lit(null).cast(tf.dataType).as(tf.name)
      }).toIndexedSeq: _*))
    case (ArrayType(f, _), ArrayType(t, _)) => transform(c, x => conform(x, f, t))
    case (MapType(_, f, _), MapType(_, t, _)) => transform_values(c, (_, v) => conform(v, f, t))
    case _ => c.cast(to)
  }

  /** Equal up to nullability. */
  private def sameShape(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) => x.length == y.length &&
      x.fields.zip(y.fields).forall { case (f, g) => f.name == g.name && sameShape(f.dataType, g.dataType) }
    case (ArrayType(x, _), ArrayType(y, _)) => sameShape(x, y)
    case (MapType(k, v, _), MapType(k2, v2, _)) => sameShape(k, k2) && sameShape(v, v2)
    case _ => a == b
  }
}
