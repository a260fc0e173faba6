package graft.blobl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import Ast._

final case class CompileError(msg: String) extends RuntimeException(msg)

/** A compiled value: Catalyst Column + statically inferred Bloblang-ish type
  * (None = unknown). Types drive overloading decisions (`+` concat vs add,
  * `length` vs `size`, map vs struct access) — the schema-first design that
  * lets everything stay inside whole-stage codegen.
  */
final case class TC(col: Column, tpe: Option[DataType],
    err: Option[Column] = None) {
  def isString: Boolean = tpe.contains(StringType)
  def isArray: Boolean = tpe.exists(_.isInstanceOf[ArrayType])
  def isMap: Boolean = tpe.exists(_.isInstanceOf[MapType])
  def isVariant: Boolean = tpe.exists(_.isInstanceOf[VariantType])
  def elemType: Option[DataType] = tpe.collect { case ArrayType(e, _) => e }
  /** Merge an upstream error condition into this value's error channel
    * (first error wins, like the reference's short-circuit eval). */
  def orErr(e: Option[Column]): TC =
    if (e.isEmpty) this else copy(err = TC.mergeErr(e, err))
}

object TC {
  /** The expression-level error channel (reference `Function.Exec`'s
    * `error` return): a STRING Column that is non-null exactly when the
    * expression errored — distinct from a legitimate null VALUE, which is
    * what lets `.catch()` fire on errors only ("json catch 3" vector).
    * The channel rides beside the value column and costs nothing unless
    * a `catch`/`or` consumes it (unreferenced Columns never reach the
    * plan). None = this expression can never error. */
  def mergeErr(a: Option[Column], b: Option[Column]): Option[Column] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(coalesce(x, y))
      case (x, None) => x
      case (None, y) => y
    }
}

/** Compilation context: what `this` is, metadata/error columns, `let` vars,
  * named `map` definitions, optional batch columns for batch_index/from_all.
  */
final case class Ctx(
    thisTC: TC,
    meta: Option[Column],
    err: Option[Column],
    content: Option[Column],
    vars: Map[String, TC],
    maps: Map[String, List[Stmt]],
    batch: Option[(Column, Column)],
    rootMeta: Option[Column] = None,
    countCol: Option[Column] = None,
    envOverride: Map[String, String] = Map.empty) {
  def withThis(t: TC): Ctx = copy(thisTC = t)
  def withVar(n: String, v: TC): Ctx = copy(vars = vars + (n -> v))
}

/** Bloblang expression → Catalyst Column compiler (SURVEY §2.4 strategy).
  * Every method/function that has a builtin Spark equivalent uses it
  * (codegen'd, vectorized); nothing here drops out of the DataFrame API.
  */
object Compiler {

  /** Scan a regex pattern for capturing groups: returns the pattern with
    * Go-style named groups `(?P<n>` rewritten to plain `(` (Java rejects
    * some Go group names) plus the ordered group-name list (None =
    * unnamed). Tracks escapes and character classes. */
  private[graft] def captureGroups(pat: String): (String, List[Option[String]]) = {
    val out = new StringBuilder
    val groups = scala.collection.mutable.ListBuffer[Option[String]]()
    var i = 0
    var inClass = false
    while (i < pat.length) {
      val c = pat.charAt(i)
      c match {
        case '\\' if i + 1 < pat.length =>
          out.append(c).append(pat.charAt(i + 1)); i += 1
        case '[' if !inClass => inClass = true; out.append(c)
        case ']' if inClass => inClass = false; out.append(c)
        case '(' if !inClass =>
          val named = "^\\(\\?P?<([A-Za-z][A-Za-z0-9_]*)>".r
            .findFirstMatchIn(pat.substring(i))
          named match {
            case Some(m) =>
              groups += Some(m.group(1))
              out.append('(') // strip the name: extraction is by index
              i += m.end - 1
            case None if i + 1 < pat.length && pat.charAt(i + 1) == '?' =>
              out.append(c) // non-capturing / lookaround / flags
            case None =>
              groups += None
              out.append(c)
          }
        case o => out.append(o)
      }
      i += 1
    }
    (out.result(), groups.toList)
  }

  /** Fold jq `type`-dispatch against a statically-known type name:
    * `MethodCall(This, "type")` becomes the literal name, ==/!= and
    * boolean connectives over the folded literals reduce, and IfExpr
    * branches whose condition decided statically are PRUNED — so
    * `walk(if type == "object" then f else . end)` compiles, per schema
    * node, only the branch that node's type selects (the other branches
    * would not type-check against it). Scope-aware: descends where `.`
    * stays the same value, but NOT into lambda bodies or MatchExpr
    * cases (pipe stages), whose `.` is rebound — `.x | type` inside a
    * branch still compiles normally. */
  private[blobl] def foldTypeDispatch(e: Expr, typeName: String): Expr = {
    def fold(e: Expr): Expr = e match {
      case MethodCall(This, "type", Nil) => LitString(typeName)
      case MethodCall(tgt, n, as) =>
        MethodCall(fold(tgt), n, as.map {
          case l: Lambda => l // rebinds `.`
          case a => fold(a)
        })
      case Field(b, n) => Field(fold(b), n)
      case IndexOp(b, ix) => IndexOp(fold(b), fold(ix))
      case FnCall(n, as) => FnCall(n, as.map(fold))
      case Neg(x) => Neg(fold(x))
      case Not(x) => fold(x) match {
        case LitBool(b) => LitBool(!b)
        case fx => Not(fx)
      }
      case BinOp(op, l, r) => (op, fold(l), fold(r)) match {
        case ("==", LitString(a), LitString(b)) => LitBool(a == b)
        case ("!=", LitString(a), LitString(b)) => LitBool(a != b)
        case ("||" | "or", LitBool(true), _) => LitBool(true)
        case ("||" | "or", LitBool(false), rr) => rr
        case ("||" | "or", ll, LitBool(false)) => ll
        case ("&&" | "and", LitBool(false), _) => LitBool(false)
        case ("&&" | "and", LitBool(true), rr) => rr
        case ("&&" | "and", ll, LitBool(true)) => ll
        case (o, fl, fr) => BinOp(o, fl, fr)
      }
      case LitArray(xs) => LitArray(xs.map(fold))
      case LitObject(fs) =>
        LitObject(fs.map { case (k, v) => (fold(k), fold(v)) })
      case MatchExpr(tgt, cs) => MatchExpr(fold(tgt), cs) // stages rebind
      case IfExpr(branches, orElse) =>
        val fe = orElse.map(fold)
        val kept = scala.collection.mutable.ListBuffer[(Expr, Expr)]()
        var decided: Option[Expr] = None
        branches.foreach { case (c0, v0) =>
          if (decided.isEmpty) fold(c0) match {
            case LitBool(true) => decided = Some(fold(v0))
            case LitBool(false) => ()
            case fc => kept += ((fc, fold(v0)))
          }
        }
        (kept.toList, decided) match {
          case (Nil, Some(v)) => v
          case (ks, Some(v)) => IfExpr(ks, Some(v))
          case (Nil, None) => fe.getOrElse(LitNull)
          case (ks, None) => IfExpr(ks, fe)
        }
      case other => other
    }
    fold(e)
  }

  /** `deleted()` appearing as a branch value (valid inside map_each
    * lambdas and whole-assignment if/match positions). */
  private def isDeletedCall(e: Expr): Boolean = e match {
    case FnCall("deleted", _) => true
    case _ => false
  }

  // ---------- type helpers ----------
  private def numeric(t: Option[DataType]): Boolean = t.exists {
    case _: NumericType => true; case _ => false
  }
  private def unify(a: Option[DataType], b: Option[DataType]): Option[DataType] =
    (a, b) match {
      case (Some(x), Some(y)) if x == y => Some(x)
      case (Some(x: NumericType), Some(y: NumericType)) =>
        if (x == DoubleType || y == DoubleType) Some(DoubleType) else Some(LongType)
      // a null VALUE (LitNull, throw's value channel) adapts to any
      // branch/operand type — without this, a cap-throw branch in a jq
      // recursion unfolding widens int results to double
      case (Some(NullType), y) => y
      case (x, Some(NullType)) => x
      case _ => None
    }

  private def fieldType(t: Option[DataType], name: String): Option[DataType] = t match {
    case Some(s: StructType) => s.fields.find(_.name == name).map(_.dataType)
    case Some(MapType(_, v, _)) => Some(v)
    case Some(_: VariantType) => Some(VariantType)
    case _ => None
  }

  // ---------- entry ----------
  def compile(e: Expr, ctx: Ctx): TC = e match {
    case LitNull => TC(lit(null), Some(NullType))
    case LitBool(v) => TC(lit(v), Some(BooleanType))
    case LitLong(v) => TC(lit(v), Some(LongType))
    case LitDouble(v) => TC(lit(v), Some(DoubleType))
    case LitString(v) => TC(lit(v), Some(StringType))
    case LitArray(items) =>
      val cs = items.map(compile(_, ctx))
      val et = cs.map(_.tpe).reduceOption(unify).flatten
      // an element's error is the literal's: `[., error("x")]` errors
      val err = cs.map(_.err).reduceOption(TC.mergeErr).flatten
      if (et.isEmpty && cs.nonEmpty && cs.map(_.tpe).distinct.sizeIs > 1)
        // heterogeneous literal array (`[foo, 5]`): the dynamic engines
        // keep per-element types — element-wise variant instead of the
        // lowest-common-denominator string coercion array() would apply
        TC(array(cs.map(c => asVariant(c.col, c.tpe.getOrElse(StringType))): _*),
          Some(ArrayType(VariantType)), err)
      else
        TC(array(cs.map(_.col): _*), Some(ArrayType(et.getOrElse(StringType))), err)
    case LitObject(fields) =>
      val named = fields.map {
        case (LitString(k), v) => (k, compile(v, ctx))
        case (k, _) => throw CompileError(s"object literal keys must be static strings, got $k")
      }
      TC(struct(named.map { case (k, v) => v.col.as(k) }: _*),
        Some(StructType(named.map { case (k, v) =>
          StructField(k, v.tpe.getOrElse(StringType))
        })), named.map(_._2.err).reduceOption(TC.mergeErr).flatten)
    case This => ctx.thisTC
    case VarRef(n) =>
      ctx.vars.getOrElse(n, throw CompileError(s"unknown variable $$$n"))
    case Field(base, name) =>
      val b = compile(base, ctx)
      accessField(b, name)
    case IndexOp(base, idx) =>
      indexValue(compile(base, ctx), compile(idx, ctx))
    case Neg(x) => val c = compile(x, ctx); TC(-c.col, c.tpe, c.err)
    case Not(x) => val c = compile(x, ctx); TC(!c.col, Some(BooleanType), c.err)
    case BinOp(op, l, r) => binop(op, l, r, ctx)
    case IfExpr(branches, orElse) =>
      val compiled = branches.map { case (c, v) => (compile(c, ctx), compile(v, ctx)) }
      val elseTC = orElse.map(compile(_, ctx))
      // mixed variant/typed branch values unify to VARIANT (the jq
      // dynamic posture — `if type == "number" then . + 1 else . end`
      // over a variant node yields long THEN, variant ELSE)
      val vals0 = compiled.map(_._2) ++ elseTC.toList
      val tpe0 = vals0.map(_.tpe).reduceOption(unify).flatten
      val toVariant = tpe0.isEmpty && vals0.exists(_.isVariant)
      def adapt(v: TC): Column =
        if (toVariant && !v.isVariant && !v.tpe.contains(NullType))
          asVariant(v.col, v.tpe.getOrElse(StringType))
        else v.col
      val chain = compiled.tail.foldLeft(
        when(compiled.head._1.col, adapt(compiled.head._2))) {
        case (acc, (c, v)) => acc.when(c.col, adapt(v))
      }
      val tpe = if (toVariant) Some(VariantType) else tpe0
      TC(elseTC.map(e => chain.otherwise(adapt(e))).getOrElse(chain), tpe,
        branchErr(compiled.map { case (c, v) => (c.err, c.col, v.err) },
          elseTC.flatMap(_.err)))
    case MatchExpr(target, cases) =>
      val t = compile(target, ctx)
      val inner = ctx.withThis(t)
      val conds = cases.map {
        case (None, v) => (None: Option[Column], lit(true), compile(v, inner))
        case (Some(pat), v) =>
          val pc = compile(pat, inner)
          // null-safe equality: `match x { null => ... }` matches a null
          // target in the reference (nulls route like values, === would
          // fall through on NULL)
          val cond = if (pc.tpe.contains(BooleanType)) pc.col else (t.col <=> pc.col)
          (pc.err, cond, compile(v, inner))
      }
      // mixed variant/typed case values unify to VARIANT (see IfExpr)
      val mTpe0 = conds.map(_._3.tpe).reduceOption(unify).flatten
      val mToVariant = mTpe0.isEmpty && conds.exists(_._3.isVariant)
      def mAdapt(v: TC): Column =
        if (mToVariant && !v.isVariant && !v.tpe.contains(NullType))
          asVariant(v.col, v.tpe.getOrElse(StringType))
        else v.col
      val chain = conds.tail.foldLeft(when(conds.head._2, mAdapt(conds.head._3))) {
        case (acc, (_, c, v)) => acc.when(c, mAdapt(v))
      }
      // the target's error merges UNCONDITIONALLY — an errored value
      // routed through a match must still flag, even when no case
      // branch can error itself
      TC(chain, if (mToVariant) Some(VariantType) else mTpe0,
        TC.mergeErr(t.err,
          branchErr(conds.map { case (pe, c, v) => (pe, c, v.err) }, None)))
    case FnCall(name, args) => function(name, args, ctx)
    case MethodCall(LitString(fmt), "format", args) =>
      // Go fmt verbs: %v prints any value -> map to %s with string cast
      val jfmt = fmt.replace("%v", "%s")
      TC(format_string(jfmt, args.map(a => compile(a, ctx).col.cast(StringType)): _*),
        Some(StringType))
    case MethodCall(target, name, args) => method(compile(target, ctx), name, args, ctx)
    case Lambda(_, _) => throw CompileError("lambda only valid as a method argument")
    case SetPath(path, v) =>
      val t = ctx.thisTC
      val vc = compile(v, ctx)
      // jq setpath CREATES containers along a missing FIELD path (an
      // absent key): the fully-constructed nested value — static
      // construction, no runtime branch
      def createFields(segs: List[PathSeg]): Column = segs match {
        case Nil => vc.col
        case PField(n) :: rest => struct(createFields(rest).as(n))
        case PIndex(_) :: _ =>
          throw CompileError(
            "jq: cannot create an array through a missing field path")
      }
      def upd(cur: Column, tpe: Option[DataType], segs: List[PathSeg]): Column =
        segs match {
          case Nil => vc.col
          case PField(n) :: rest =>
            // withField PARSES its name argument — quote odd segments
            val nq = graft.model.Envelope.fieldRef(n)
            if (rest.isEmpty) cur.withField(nq, vc.col)
            else {
              val childExists = tpe.exists {
                case s: StructType => s.fieldNames.contains(n)
                case _ => false
              }
              val childT = tpe.collect {
                case s: StructType if s.fieldNames.contains(n) => s(n).dataType
              }
              if (!childExists && tpe.exists(_.isInstanceOf[StructType]))
                // absent field: jq creates the whole chain (setpath on a
                // missing key) — static construction, no runtime branch
                cur.withField(nq, createFields(rest))
              else {
                val raw = cur.getField(n)
                // jq creates containers through a NULL intermediate — a
                // null struct becomes a struct of nulls before the child
                // set, so `.a.b = 1` works when `.a` is null
                val base = childT match {
                  case Some(st: StructType) =>
                    coalesce(raw, struct(st.fields.toIndexedSeq.map(f =>
                      lit(null).cast(f.dataType).as(f.name)): _*))
                  case _ => raw
                }
                cur.withField(nq, upd(base, childT, rest))
              }
            }
          case PIndex(ix) :: rest =>
            val elemT = tpe.collect { case ArrayType(e, _) => e }
            // jq extends a SHORT array with nulls up to a positive target
            // index (gojq setpath) — array length is data, not schema, so
            // the static plan pads with typed nulls (a NULL array counts
            // as empty); negative indexes address existing positions only.
            val elemNull = elemT.map(e => lit(null).cast(e)).getOrElse(lit(null))
            val based = elemT match {
              case Some(e) if ix >= 0 =>
                coalesce(cur, array().cast(ArrayType(e)))
              case _ => cur
            }
            val padded =
              if (ix >= 0)
                when(size(based) >= lit(ix.toInt + 1), based)
                  .otherwise(concat(based,
                    array_repeat(elemNull, lit(ix.toInt + 1) - size(based))))
              else based
            val j =
              if (ix >= 0) lit(ix.toInt) else size(based) + lit(ix.toInt)
            transform(padded, (x, k) =>
              when(k === j, upd(x, elemT, rest)).otherwise(x))
        }
      val updated = t.tpe
        .flatMap(setNestedPathType(_, path, vc.tpe.getOrElse(NullType)))
      TC(upd(t.col, t.tpe, path), updated)
  }

  /** Error channel for a when-chain: only the TAKEN branch's error
    * matters (reference short-circuit), with one addition — a branch's
    * CONDITION erroring flags before that condition gets to route (the
    * reference aborts evaluation there). Triples are (condition error,
    * condition, value error). None if nothing can error. */
  private def branchErr(
      branches: scala.Seq[(Option[Column], Column, Option[Column])],
      orElse: Option[Column]): Option[Column] = {
    if (branches.forall(b => b._1.isEmpty && b._3.isEmpty) && orElse.isEmpty) None
    else {
      val nul = lit(null).cast(StringType)
      val pairs = branches.flatMap { case (ce, c, ve) =>
        ce.map(e => (e.isNotNull, e)).toSeq :+ ((c, ve.getOrElse(nul)))
      }
      val chain = pairs.tail.foldLeft(when(pairs.head._1, pairs.head._2)) {
        case (acc, (c, e)) => acc.when(c, e)
      }
      Some(orElse.map(chain.otherwise).getOrElse(chain))
    }
  }

  /** Path type update for [[Ast.SetPath]] over mixed field/index
    * segments; None when the result type can't be known statically
    * (missing intermediate, non-struct/array segment, or an index
    * update that would change the array's element type). */
  private def setNestedPathType(dt: DataType, path: List[PathSeg],
      leaf: DataType): Option[DataType] = path match {
    case Nil => Some(leaf)
    case PField(h) :: rest => dt match {
      case s: StructType => s.fields.find(_.name == h) match {
        case Some(f) => setNestedPathType(f.dataType, rest, leaf).map { u =>
          StructType(s.fields.map(x =>
            if (x.name == h) x.copy(dataType = u) else x))
        }
        case None if rest.isEmpty =>
          Some(StructType(s.fields :+ StructField(h, leaf)))
        case None =>
          // absent field with a deeper path: the CREATED chain's type is
          // fully known (nested single-field structs down to the leaf)
          def chain(p: List[PathSeg]): Option[DataType] = p match {
            case Nil => Some(leaf)
            case PField(n) :: r =>
              chain(r).map(u => StructType(scala.Seq(StructField(n, u))))
            case PIndex(_) :: _ => None
          }
          chain(rest).map(u => StructType(s.fields :+ StructField(h, u)))
      }
      case _ => None
    }
    case PIndex(_) :: rest => dt match {
      case ArrayType(e, n) =>
        setNestedPathType(e, rest, leaf).filter(_ == e)
          .map(_ => ArrayType(e, n))
      case _ => None
    }
  }


  /** Index access: 0-based, negative from end (index method + brackets).
    * Maps index by key; binary yields the byte value as a number. */
  private def indexValue(b0: TC, i: TC): TC = {
    // variant array target: index as array<variant> (see VariantArrayMethods)
    val b = if (b0.isVariant)
      TC(try_variant_get(b0.col, "$", "array<variant>"),
        Some(ArrayType(VariantType)), b0.err)
    else b0
    if (b.isMap) TC(element_at(b.col, i.col), fieldType(b.tpe, ""))
    else if (b.tpe.contains(BinaryType)) {
      val adj = when(i.col >= 0, i.col + 1).otherwise(octet_length(b.col) + i.col + 1)
      TC(conv(hex(b.col.substr(adj.cast(IntegerType), lit(1))), 16, 10).cast(LongType),
        Some(LongType))
    } else {
      val adj = when(i.col >= 0, i.col + 1).otherwise(i.col)
      // out-of-bounds errors in the reference (methods_structured.go
      // index) — the error channel lets `.catch(fallback)` fire on OOB
      // while an in-bounds null element stays a legitimate null
      val oob = when(b.col.isNotNull &&
        (i.col >= size(b.col) || i.col < -size(b.col)),
        lit("index out of bounds"))
      TC(element_at(b.col, adj.cast(IntegerType)), b.elemType,
        TC.mergeErr(TC.mergeErr(b.err, i.err), Some(oob)))
    }
  }

  def accessField(b: TC, name: String): TC = b.tpe match {
    case Some(MapType(_, v, _)) =>
      TC(element_at(b.col, lit(name)), Some(v), b.err)
    case Some(_: VariantType) =>
      // The dynamic-document path carries the reference's EXACT error
      // semantics: a variant distinguishes an absent field (SQL NULL from
      // try_variant_get) from a present-but-null one (variant-null) —
      // absent errors ("json catch 3" vs "or json null 2" vectors), while
      // the present null coerces to SQL null so `or`/`|` coalesce on it.
      val raw = try_variant_get(b.col, s"$$.$name", "variant")
      TC(when(is_variant_null(raw), lit(null)).otherwise(raw),
        Some(VariantType),
        TC.mergeErr(b.err, Some(when(b.col.isNotNull && raw.isNull,
          lit(s"field `$name` not found")))))
    case Some(s: StructType) if !s.fieldNames.contains(name) =>
      // schema-first: a field absent from the SCHEMA can never exist in
      // any row — the reference errors on every access, so the error
      // channel is constant-on (catch always fires, as it would there).
      // A field present in the schema but null in a row stays a plain
      // null (documented divergence: structs can't tell absent from null)
      TC(lit(null), Some(NullType),
        Some(lit(s"field `$name` not found")))
    case Some(NullType) =>
      TC(lit(null), Some(NullType), b.err) // path through null
    case _ => TC(b.col.getField(name), fieldType(b.tpe, name), b.err)
  }

  def accessPath(b: TC, path: scala.Seq[String]): TC =
    path.foldLeft(b)(accessField)

  /** Typed empty array<variant> (slice-of-one trick keeps the element
    * type without naming it). */
  private def emptyVariants: Column =
    slice(array(parse_json(lit("0"))), lit(1), lit(0))

  /** Any value as a variant: atomics cast directly; containers round-trip
    * through JSON text (Spark has no struct/array/map → variant cast). */
  private def asVariant(c: Column, t: DataType): Column = t match {
    case _: VariantType => c
    case _: StructType | _: ArrayType | _: MapType => parse_json(to_json(c))
    case NullType => parse_json(lit(null).cast(StringType))
    case _ => c.cast(VariantType)
  }

  /** jq `..`/recurse collected: value + all recursive descendants in
    * pre-order, array<variant>. STATIC schema walk — depth is bounded by
    * the type, every step stays in whole-stage codegen. Schema-first
    * caveat (documented): a null struct still contributes its fields'
    * null leaves, where jq would not descend. */
  private[blobl] def recurseValues(c: Column, t: DataType): Column = t match {
    case s: StructType =>
      s.fields.foldLeft(array(asVariant(c, s))) { (acc, f) =>
        concat(acc, recurseValues(c.getField(f.name), f.dataType))
      }
    case at @ ArrayType(et, _) =>
      concat(array(asVariant(c, at)),
        coalesce(flatten(transform(c, x => recurseValues(x, et))), emptyVariants))
    case mt @ MapType(_, vt, _) =>
      concat(array(asVariant(c, mt)),
        coalesce(flatten(transform(map_values(c), x => recurseValues(x, vt))),
          emptyVariants))
    case other => array(asVariant(c, other))
  }

  /** jq `paths` collected: every path (array<variant> of string keys and
    * long indices) in pre-order, root's empty path excluded. Same static
    * walk (and null-struct caveat) as recurseValues. `keep` filters by
    * the TYPE of the value at each path — the jq `paths(f)` form with a
    * type-filter f (`paths(numbers)`, `leaf_paths`, …), which is exactly
    * what a schema-directed walk can decide statically. */
  private[blobl] def jsonPaths(c: Column, t: DataType, prefix: Column,
      keep: DataType => Boolean = _ => true): Column = {
    def emptyPaths = slice(array(emptyVariants), lit(1), lit(0))
    def emit(p: Column, dt: DataType): Column =
      if (keep(dt)) array(p) else emptyPaths
    t match {
      case s: StructType =>
        s.fields.foldLeft(emptyPaths) { (acc, f) =>
          val p = concat(prefix, array(lit(f.name).cast(VariantType)))
          concat(acc, emit(p, f.dataType),
            jsonPaths(c.getField(f.name), f.dataType, p, keep))
        }
      case ArrayType(et, _) =>
        coalesce(flatten(transform(c, (x, ix) => {
          val p = concat(prefix, array(ix.cast(VariantType)))
          concat(emit(p, et), jsonPaths(x, et, p, keep))
        })), emptyPaths)
      case MapType(_, vt, _) =>
        coalesce(flatten(transform(map_keys(c), k => {
          val p = concat(prefix, array(k.cast(VariantType)))
          concat(emit(p, vt), jsonPaths(element_at(c, k), vt, p, keep))
        })), emptyPaths)
      case _ => emptyPaths
    }
  }

  /** Type predicate for the jq `paths(type-filter)` / `leaf_paths`
    * family, over STATIC schema types. */
  private[blobl] def pathTypeFilter(kind: String): DataType => Boolean = {
    def isNumber(t: DataType) = t match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    }
    def isIterable(t: DataType) = t match {
      case _: ArrayType | _: StructType | _: MapType => true
      case _ => false
    }
    kind match {
      case "values" => _ => true
      case "numbers" => isNumber
      case "strings" => _ == StringType
      case "booleans" => _ == BooleanType
      case "nulls" => _ == NullType
      case "arrays" => { case _: ArrayType => true; case _ => false }
      case "objects" =>
        { case _: StructType | _: MapType => true; case _ => false }
      case "iterables" => isIterable
      case "scalars" | "leaf" => t => !isIterable(t)
      case o => throw CompileError(
        s"paths: unsupported filter '$o' (type filters + leaf_paths only)")
    }
  }

  // ---------- operators ----------
  private def binop(op: String, le: Expr, re: Expr, ctx: Ctx): TC = {
    val l = compile(le, ctx)
    val r = compile(re, ctx)
    val res = binop0(op, l, r)
    // `|` (reference coalesce, arithmetic.go:438-446) and the jq
    // alternative `//` consume the LHS error: they fall back on error OR
    // null(/false), so only the RHS's channel survives. Every other
    // operator propagates both sides' errors.
    if (op == "|" || op == "//") res.copy(err = r.err)
    else res.orErr(TC.mergeErr(l.err, r.err))
  }

  private def binop0(op: String, l: TC, r: TC): TC = {
    // comparisons against a VARIANT operand: Spark defines no ordering on
    // VariantType, so cast the variant side to the other side's static
    // type (try-get: a type mismatch degrades to null, the engine's
    // error-as-null posture) — this is what lets dynamic-JSON predicates
    // like `.kind == "up"` or recurse conditions like `. > 1` compile
    def cmp(f: (Column, Column) => Column): TC = {
      val (lc, rc) =
        if (l.isVariant && r.isVariant && (op == "==" || op == "!="))
          // variant-to-variant equality: compare the canonical json form
          // (type-strict — false ≠ "false"; objects compare in their
          // stored key order, the documented static approximation)
          (to_json(l.col), to_json(r.col))
        else if (l.isVariant && !r.isVariant)
          (try_variant_get(l.col, "$",
            r.tpe.filterNot(_ == NullType).map(_.sql).getOrElse("string")), r.col)
        else if (r.isVariant && !l.isVariant)
          (l.col, try_variant_get(r.col, "$",
            l.tpe.filterNot(_ == NullType).map(_.sql).getOrElse("string")))
        else (l.col, r.col)
      TC(f(lc, rc), Some(BooleanType))
    }
    // equality with a null LITERAL is a null CHECK (reference dynamic
    // semantics; SQL's null-propagating = would yield null, never true) —
    // variant targets also treat an encoded variant null as null
    def isNullish(x: TC): Column =
      if (x.isVariant) x.col.isNull || is_variant_null(x.col) else x.col.isNull
    if (r.tpe.contains(NullType) && (op == "==" || op == "!="))
      return TC(if (op == "==") isNullish(l) else !isNullish(l), Some(BooleanType))
    if (l.tpe.contains(NullType) && (op == "==" || op == "!="))
      return TC(if (op == "==") isNullish(r) else !isNullish(r), Some(BooleanType))
    // arithmetic with a VARIANT operand: same try-get coercion to the
    // typed side (recurse steps like `. * 2` run on variant elements)
    val (la, ra) =
      if (!Set("+", "-", "*", "/", "%")(op)) (l, r)
      else if (l.isVariant && !r.isVariant && r.tpe.exists(_ != NullType))
        (TC(try_variant_get(l.col, "$", r.tpe.get.sql), r.tpe, l.err), r)
      else if (r.isVariant && !l.isVariant && l.tpe.exists(_ != NullType))
        (l, TC(try_variant_get(r.col, "$", l.tpe.get.sql), l.tpe, r.err))
      else (l, r)
    // arithmetic over two null VALUES (e.g. two cap-throw branches of a
    // jq recursion unfolding): the result is null anyway, but Spark
    // coerces Add(null,null) to DOUBLE, which would poison every
    // enclosing when-chain's type — emit a typed null instead
    val bothNull = la.tpe.contains(NullType) && ra.tpe.contains(NullType)
    op match {
      case "+" | "-" | "*" | "%" if bothNull => TC(lit(null), Some(NullType))
      case "+" =>
        if (la.isString || ra.isString) TC(concat(la.col, ra.col), Some(StringType))
        else if (la.isArray && ra.isArray) TC(concat(la.col, ra.col), la.tpe)
        else TC(la.col + ra.col, unify(la.tpe, ra.tpe))
      case "-" => TC(la.col - ra.col, unify(la.tpe, ra.tpe))
      case "*" => TC(la.col * ra.col, unify(la.tpe, ra.tpe))
      case "/" => TC(la.col / ra.col, Some(DoubleType))
      case "%" => TC(la.col % ra.col, unify(la.tpe, ra.tpe))
      case "==" => cmp(_ === _)
      case "!=" => cmp(_ =!= _)
      case ">" => cmp(_ > _)
      case "<" => cmp(_ < _)
      case ">=" => cmp(_ >= _)
      case "<=" => cmp(_ <= _)
      case "&&" => TC(l.col && r.col, Some(BooleanType))
      case "||" => TC(l.col || r.col, Some(BooleanType))
      // `|` = catch/coalesce: fallback when LHS is null (errors compile to
      // null under permissive eval — reference arithmetic.go:15-53).
      case "|" => TC(coalesce(l.col, r.col), unify(l.tpe, r.tpe).orElse(l.tpe))
      // jq alternative `//` (also `//=`): falls back on null OR false —
      // unlike `|`'s null-only coalesce. Boolean LHS tests === false;
      // variant LHS tests via to_json (which distinguishes boolean false
      // from the string "false") and must ALSO treat a variant-encoded
      // JSON null as falsy — a variant null is not SQL null (the `.isNull`
      // arm misses it; e.g. root `. // x` on a null document, array
      // elements, recurse outputs), yet jq's `null // b` is `b`; any
      // other static type cannot hold a boolean false, so the null-only
      // coalesce is already exact.
      case "//" =>
        val rCol = if (l.isVariant && !r.isVariant) r.col.cast(VariantType) else r.col
        val falseCond =
          if (l.tpe.contains(BooleanType)) Some(l.col === lit(false))
          else if (l.isVariant)
            Some(is_variant_null(l.col) || to_json(l.col) === lit("false"))
          else None
        falseCond match {
          case Some(fc) =>
            // a when-chain needs one branch type; a boolean LHS with a
            // non-boolean fallback (jq is dynamically typed) widens both
            // sides to string
            val ut = unify(l.tpe, r.tpe)
            val (lc, rc, tpe) =
              if (l.isVariant || ut.isDefined || l.tpe == r.tpe)
                (l.col, rCol, ut.orElse(l.tpe))
              else (l.col.cast(StringType), rCol.cast(StringType),
                Some(StringType): Option[DataType])
            TC(when(l.col.isNull || fc, rc).otherwise(lc), tpe)
          case None =>
            TC(coalesce(l.col, rCol), unify(l.tpe, r.tpe).orElse(l.tpe))
        }
      case other => throw CompileError(s"unknown operator $other")
    }
  }

  // ---------- functions (reference functions.go §2.2) ----------
  private def function(name: String, args: List[Expr], ctx: Ctx): TC = {
    // bare identifier = lambda-parameter / let-var reference
    if (args.isEmpty && ctx.vars.contains(name)) return ctx.vars(name)
    def arg(i: Int): Expr = args.lift(i).getOrElse(
      throw CompileError(s"$name: missing argument $i"))
    def litStr(i: Int): String = arg(i) match {
      case LitString(s) => s
      case other => throw CompileError(s"$name: argument $i must be a string literal, got $other")
    }
    name match {
      case "json" =>
        // On a RAW envelope (lines/binary codec: doc is the raw
        // string/bytes) json() PARSES the content — the reference's
        // functions.go json() semantics — as a variant document, with
        // the parse failure on the error channel. Structured envelopes
        // keep the pre-parsed doc.
        val base = ctx.thisTC.tpe match {
          case Some(StringType) | Some(BinaryType) if ctx.content.isDefined =>
            val c = ctx.content.get
            val parsed = try_parse_json(c.cast(StringType))
            TC(parsed, Some(VariantType),
              Some(when(c.isNotNull && parsed.isNull,
                lit("unable to parse message as JSON"))))
          case _ => ctx.thisTC
        }
        if (args.isEmpty) base
        else accessPath(base, litStr(0).split('.').toSeq.filter(_.nonEmpty))
      case "meta" =>
        val m = ctx.meta.getOrElse(throw CompileError("no metadata in this context"))
        if (args.isEmpty) TC(m, Some(MapType(StringType, StringType)))
        else TC(element_at(m, lit(litStr(0))), Some(StringType))
      case "root_meta" =>
        // reads the OUTPUT part's metadata written so far (functions.go:509);
        // meta() reads the input metadata
        val m = ctx.rootMeta.orElse(ctx.meta)
          .getOrElse(throw CompileError("no metadata in this context"))
        if (args.isEmpty) TC(m, Some(MapType(StringType, StringType)))
        else TC(element_at(m, lit(litStr(0))), Some(StringType))
      case "content" =>
        TC(ctx.content.getOrElse(to_json(ctx.thisTC.col).cast(BinaryType)), Some(BinaryType))
      case "error" =>
        TC(ctx.err.getOrElse(lit(null).cast(StringType)), Some(StringType))
      case "errored" =>
        TC(ctx.err.map(_.isNotNull).getOrElse(lit(false)), Some(BooleanType))
      case "deleted" | "nothing" =>
        throw CompileError(s"$name() only valid as a whole assignment value or if/match branch")
      case "now" =>
        TC(date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"), Some(StringType))
      case "timestamp" | "timestamp_utc" =>
        // deprecated aliases (functions.go:630,651): current time in a Go
        // layout; the session timezone is pinned to UTC, so the local and
        // UTC flavors coincide
        val layout =
          if (args.nonEmpty) litStr(0) else "Mon Jan 2 15:04:05 -0700 MST 2006"
        TC(date_format(current_timestamp(), TimeFormats.goToJava(layout)),
          Some(StringType))
      case "timestamp_unix" => TC(unix_timestamp(), Some(LongType))
      case "timestamp_unix_nano" =>
        TC(unix_micros(current_timestamp()) * 1000L, Some(LongType))
      case "uuid_v4" => TC(expr("uuid()"), Some(StringType))
      case "ksuid" | "nanoid" => TC(expr("uuid()"), Some(StringType))
      case "random_int" =>
        val r = args.headOption.map(a => rand(compile(a, ctx).col.toString.toLong))
          .getOrElse(rand())
        TC((r * lit(Int.MaxValue.toLong)).cast(LongType), Some(LongType))
      case "range" =>
        val start = compile(arg(0), ctx).col.cast(LongType)
        val stop = compile(arg(1), ctx).col.cast(LongType)
        val step = args.lift(2).map(compile(_, ctx).col).getOrElse(lit(1L)).cast(LongType)
        // Bloblang range excludes stop; sequence() is inclusive — and throws
        // on inverted boundaries, where range (and jq's range generator)
        // yields the empty stream. CaseWhen evaluates branches lazily, so the
        // sequence never runs for empty ranges.
        val empty = (step > 0 && start >= stop) || (step < 0 && start <= stop)
        val last = stop - when(step > 0, 1L).otherwise(-1L)
        TC(when(empty, array().cast(ArrayType(LongType)))
            .otherwise(sequence(start, last, step)),
          Some(ArrayType(LongType)))
      case "env" =>
        // per-case overrides (test-runner `environment`) win over process env
        TC(lit(ctx.envOverride.get(litStr(0))
          .orElse(sys.env.get(litStr(0))).orNull), Some(StringType))
      case "hostname" =>
        TC(lit(java.net.InetAddress.getLocalHost.getHostName), Some(StringType))
      case "file" =>
        TC(lit(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(litStr(0))), "UTF-8")), Some(StringType))
      case "batch_index" =>
        val (b, s) = ctx.batch.getOrElse(throw CompileError("batch_index() needs envelope batch columns"))
        TC(row_number().over(Window.partitionBy(b).orderBy(s)).cast(LongType) - 1L, Some(LongType))
      case "batch_size" =>
        val (b, _) = ctx.batch.getOrElse(throw CompileError("batch_size() needs envelope batch columns"))
        TC(count(lit(1)).over(Window.partitionBy(b)), Some(LongType))
      case "count" =>
        // global named counter (functions.go:200): 1-based stream index.
        // Mapping.applyEnvelope precomputes it via the partitioned
        // two-pass assignment (Envelope.withGlobalSeq) — no
        // single-partition window.
        val c = ctx.countCol.getOrElse(throw CompileError("count() needs envelope context"))
        TC(c, Some(LongType))
      case "var" => ctx.vars.getOrElse(litStr(0), throw CompileError(s"unknown var ${litStr(0)}"))
      case "__jq_as__" =>
        // jq `E as $x | REST`: $x binds to E's value in ctx.vars and `.`
        // is NOT rebound — the binding survives later pipe stages'
        // this-rebinding (inline substitution did not)
        val bound = compile(arg(0), ctx)
        args(1) match {
          case Lambda(p, body) =>
            compile(body, ctx.withVar(p, bound)).orErr(bound.err)
          case o => throw CompileError(s"__jq_as__: expected a lambda body, got $o")
        }
      case "throw" =>
        // NESTED throw (inside a larger expression — jq `error(msg)`):
        // value is null, the message rides the error channel so `catch`/
        // `or` consume it and uncaught flows flag `_error`. Assignment-
        // root throw keeps its dedicated Mapping handling.
        val m = compile(arg(0), ctx)
        // NullType (not None): unify treats the null value as adapting to
        // the surrounding branch/operand type, so e.g. a recursion cap cut
        // doesn't widen an int-typed unfolding to double
        TC(lit(null), Some(NullType), TC.mergeErr(m.err,
          Some(coalesce(m.col.cast(StringType), lit("error")))))
      case other if other.startsWith("__jq_self__") =>
        // a jq self-recursion marker that escaped its unfolding — only
        // reachable by calling a NESTED def (whose stored body captured
        // an outer def's marker) outside that outer def's own
        // expansion; without this guard the zero-arity catch-all below
        // would silently compile it as a field access
        throw CompileError(
          s"jq: recursive reference '${other.stripPrefix("__jq_self__")}' " +
            "used outside the def it recurses into")
      case other if args.isEmpty =>
        // v3 naked-path shorthand: `root.a = doc.b` ≡ `this.doc.b` (lambda
        // params and let-vars were already resolved above)
        compile(Field(This, other), ctx)
      case other => throw CompileError(s"unknown function $other()")
    }
  }

  // ---------- methods (reference methods*.go §2.3) ----------
  private def lambda1(e: Expr, ctx: Ctx, elemType: Option[DataType]): Column => Column = {
    e match {
      case Lambda(p, body) =>
        (x: Column) => compile(body, ctx.withVar(p, TC(x, elemType)).withThis(TC(x, elemType))).col
      case other =>
        // bare expression: treated as lambda over `this`
        (x: Column) => compile(other, ctx.withThis(TC(x, elemType))).col
    }
  }

  /** Structured methods that expect an ARRAY target: a variant holding
    * one feeds them as array<variant> (dynamic-JSON jq: `fromjson |
    * map(f)`); try-get degrades non-array variants to null, the
    * engine's error-as-null posture. */
  private val VariantArrayMethods = Set(
    "map_each", "filter", "join", "sort", "sort_by", "unique", "reverse",
    "flatten", "all", "any", "sum", "min", "max", "slice", "group_by",
    "enumerated", "index_of", "append", "fold", "fold_scan")

  private def method(t0: TC, name: String, args: List[Expr], ctx: Ctx): TC = {
    val t = if (t0.isVariant && VariantArrayMethods(name))
      TC(try_variant_get(t0.col, "$", "array<variant>"),
        Some(ArrayType(VariantType)), t0.err)
    else t0
    val r = method0(t, name, args, ctx)
    // propagate the target's error channel through the chain — except for
    // the consumers (catch/or clear it) and the batch-perspective methods
    // (from/from_all read OTHER rows; a this-row error doesn't apply)
    name match {
      case "catch" | "or" | "from" | "from_all" => r
      case _ => r.orErr(t.err)
    }
  }

  private def method0(t: TC, name: String, args: List[Expr], ctx: Ctx): TC = {
    def arg(i: Int): Expr = args.lift(i).getOrElse(
      throw CompileError(s"$name: missing argument $i"))
    def c(i: Int): TC = compile(arg(i), ctx)
    def litStr(i: Int): String = arg(i) match {
      case LitString(s) => s
      case other => throw CompileError(s"$name: argument $i must be a string literal, got $other")
    }
    def str: TC = TC(t.col, t.tpe) // alias for readability

    name match {
      // ----- general (methods.go) -----
      case "apply" =>
        val stmts = ctx.maps.getOrElse(litStr(0),
          throw CompileError(s"unknown map ${litStr(0)}"))
        Mapping.compileMapValue(stmts, ctx.withThis(t))
      case "bloblang" =>
        // dynamic-mapping method (internal/bloblang/plugins/bloblang.go —
        // the v3 constructor takes the mapping as a STRING argument, so
        // the literal case IS the contract): precompile at plan time and
        // run on the target value as `this` in a pure context — message
        // functions (content/json/meta/env) are disabled exactly as the
        // reference's restricted parser context disables them.
        //
        // Dynamic dispatch: a mapping CHOSEN among literal alternatives
        // (if/match over string literals — the realistic per-row shape)
        // compiles EVERY alternative once and selects by a when-chain on
        // the dispatch expression, so the "compiled-mapping cache keyed
        // by distinct mapping strings" lives inside the static plan. A
        // fully per-row-computed mapping string has no static Catalyst
        // plan and stays unsupported (clear compile error).
        def compileMappingLit(src: String): TC = {
          val prog = Parser.parseMapping(src)
          val mapDefs = prog.stmts.collect { case MapDef(n, body) => n -> body }.toMap
          Mapping.compileMapValue(prog.stmts,
            Ctx(thisTC = t, meta = None, err = None, content = None,
              vars = Map.empty, maps = mapDefs, batch = None))
        }
        arg(0) match {
          case LitString(s) => compileMappingLit(s)
          case dyn =>
            // rewrite the dispatch AST: each string-literal leaf becomes
            // a 1-based index, so the selector compiles in the OUTER ctx
            // with the compiler's own if/match semantics (null-safe
            // match, error channels) fully intact
            val leaves = scala.collection.mutable.ArrayBuffer.empty[String]
            def rewrite(e: Expr): Expr = e match {
              case LitString(s) => leaves += s; LitLong(leaves.size.toLong)
              case IfExpr(bs, oe) =>
                IfExpr(bs.map { case (cc, v) => (cc, rewrite(v)) },
                  oe.map(rewrite))
              case MatchExpr(tg, cs) =>
                MatchExpr(tg, cs.map { case (p, v) => (p, rewrite(v)) })
              case other => throw CompileError(
                "bloblang: the mapping must be a string literal or an " +
                  "if/match choosing among string literals — a per-row-" +
                  "computed mapping string only compiles when the data " +
                  "probe can bound its distinct values (non-streaming, " +
                  "top-level selector, <=32 mappings; see Mapping." +
                  s"resolveDynamicBloblang) (got $other)")
            }
            val sel = compile(rewrite(dyn), ctx)
            val alts = leaves.toList.map(compileMappingLit)
            val valChain = alts.zipWithIndex.tail
              .foldLeft(when(sel.col === lit(1), alts.head.col)) {
                case (acc, (a, i)) => acc.when(sel.col === lit(i + 1), a.col)
              }
            val altErr =
              if (alts.forall(_.err.isEmpty)) None
              else Some(alts.zipWithIndex
                .foldLeft(lit(null).cast(StringType)) { case (acc, (a, i)) =>
                  a.err.map(e =>
                    when(sel.col === lit(i + 1), e).otherwise(acc))
                    .getOrElse(acc)
                })
            TC(valChain,
              alts.map(_.tpe).reduceOption(unify).flatten,
              TC.mergeErr(sel.err, altErr))
        }
      case "catch" =>
        // reference semantics (methods.go:136-148): the fallback fires on
        // ERROR only — a legitimate null result propagates ("json catch
        // 3"). Where the target carries an error channel this is exact;
        // a channel-less target (schema-typed struct access, where absent
        // and null are indistinguishable) keeps the documented
        // null-coalesce approximation.
        val f = c(0)
        val fCol = if (t.isVariant && !f.isVariant) f.col.cast(VariantType) else f.col
        t.err match {
          case Some(e) =>
            TC(when(e.isNotNull, fCol).otherwise(t.col),
              unify(t.tpe, f.tpe).orElse(t.tpe), f.err)
          case None =>
            TC(coalesce(t.col, fCol), unify(t.tpe, f.tpe).orElse(t.tpe), f.err)
        }
      case "or" =>
        // reference or (methods.go:466-478): fallback on error OR null.
        // Errored values always compile to null columns here, so coalesce
        // covers both; the target's error is consumed.
        val f = c(0)
        val fCol = if (t.isVariant && !f.isVariant) f.col.cast(VariantType) else f.col
        TC(coalesce(t.col, fCol), unify(t.tpe, f.tpe).orElse(t.tpe), f.err)
      case "from" | "from_all" =>
        val (b, s) = ctx.batch.getOrElse(throw CompileError(s"$name needs envelope batch columns"))
        val all = collect_list(t.col).over(
          Window.partitionBy(b).orderBy(s)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        if (name == "from_all") TC(all, t.tpe.map(ArrayType(_)))
        else {
          // negative index counts from the batch end (query_method_parser
          // "json from 3/4": from(-1) = last part)
          val i = compile(arg(0), ctx).col.cast(IntegerType)
          TC(element_at(all, when(i >= 0, i + 1).otherwise(i)), t.tpe)
        }
      case "get" => accessPath(t, litStr(0).split('.').toSeq.filter(_.nonEmpty))
      case "exists" =>
        TC(accessPath(t, litStr(0).split('.').toSeq.filter(_.nonEmpty)).col.isNotNull,
          Some(BooleanType))
      case "not_null" => t
      case "not_empty" =>
        // reference (methods_structured.go:955): empty string/array/object
        // → ERROR (not null) — carried on the error channel so `.catch()`
        // fires on empty while a null input stays a plain null.
        val empty = t.tpe match {
          case Some(StringType) => length(t.col) === 0
          case Some(_: ArrayType) | Some(_: MapType) => size(t.col) === 0
          case Some(s: StructType) if s.fields.isEmpty => lit(true)
          case Some(_: StructType) => lit(false)
          case _ => t.col.cast(StringType).isin("", "[]", "{}")
        }
        TC(when(empty, lit(null)).otherwise(t.col), t.tpe,
          Some(when(coalesce(empty, lit(false)), lit("value is empty"))))
      case "number" =>
        // optional arg = fallback when the value can't be parsed
        // (methods.go numberCoerceMethod); without one, an unparseable
        // non-null input is an ERROR (catch-able), not a silent null.
        // Variant casts THROW on impossible casts even with ANSI off —
        // try_cast gives them the same null-on-failure contract.
        val n = if (t.isVariant) t.col.try_cast(DoubleType)
                else t.col.cast(DoubleType)
        TC(args.headOption.map(_ => coalesce(n, c(0).col.cast(DoubleType)))
          .getOrElse(n), Some(DoubleType),
          if (args.nonEmpty) None
          else Some(when(t.col.isNotNull && n.isNull,
            lit("unable to parse value as number"))))
      case "string" => t.tpe match {
        case Some(_: StructType) | Some(_: ArrayType) | Some(_: MapType) =>
          TC(to_json(t.col), Some(StringType))
        case Some(_: VariantType) => TC(t.col.cast(StringType), Some(StringType))
        case _ => TC(t.col.cast(StringType), Some(StringType))
      }
      case "int" | "integer" =>
        TC(if (t.isVariant) t.col.try_cast(LongType) else t.col.cast(LongType),
          Some(LongType))
      case "bool" =>
        // optional arg = fallback when the value can't be parsed
        // (methods.go boolMethod); error channel as with number()
        val b = if (t.isVariant) t.col.try_cast(BooleanType)
                else t.col.cast(BooleanType)
        TC(args.headOption.map(_ => coalesce(b, c(0).col.cast(BooleanType)))
          .getOrElse(b), Some(BooleanType),
          if (args.nonEmpty) None
          else Some(when(t.col.isNotNull && b.isNull,
            lit("unable to parse value as bool"))))
      case "bytes" => TC(t.col.cast(BinaryType), Some(BinaryType))
      case "type" if t.isVariant =>
        // variant: the per-row runtime schema, not the static column type
        // (typeof reports "variant" regardless of content)
        val sn = schema_of_variant(t.col)
        TC(when(t.col.isNull || is_variant_null(t.col), "null")
          .when(sn.startsWith("ARRAY"), "array")
          .when(sn.startsWith("OBJECT") || sn.startsWith("STRUCT") ||
            sn.startsWith("MAP"), "object")
          .when(sn === "STRING", "string")
          .when(sn.isin("BIGINT", "INT", "SMALLINT", "TINYINT", "DOUBLE",
            "FLOAT") || sn.startsWith("DECIMAL"), "number")
          .when(sn === "BOOLEAN", "bool")
          .when(sn === "BINARY", "bytes")
          .otherwise("null"), Some(StringType))
      case "type" =>
        // runtime null wins over the static SQL type (type_helpers.go:
        // ValueNull) — typeof alone reports the column type for null rows
        val tn = typeof(t.col)
        TC(when(t.col.isNull, "null")
          .when(tn.isin("tinyint", "smallint", "int", "bigint", "float", "double", "decimal"), "number")
          .when(tn === "string", "string")
          .when(tn === "boolean", "bool")
          .when(tn.startsWith("array"), "array")
          .when(tn.startsWith("struct") || tn.startsWith("map"), "object")
          .when(tn === "binary", "bytes")
          .otherwise("null"), Some(StringType))

      // ----- numbers (methods_numbers.go) -----
      case "abs" => TC(abs(t.col), t.tpe)
      case "ceil" => TC(ceil(t.col), Some(LongType))
      case "floor" => TC(floor(t.col), Some(LongType))
      case "log" => TC(log(t.col), Some(DoubleType))
      case "log10" => TC(log10(t.col), Some(DoubleType))
      case "round" =>
        if (args.isEmpty) TC(round(t.col).cast(LongType), Some(LongType))
        else TC(round(t.col, arg(0).asInstanceOf[LitLong].v.toInt), Some(DoubleType))
      // jq-parity math tail (gojq math.go); not in the reference Bloblang
      // method set but harmless extensions of it
      case "sqrt" => TC(sqrt(t.col), Some(DoubleType))
      case "exp" => TC(exp(t.col), Some(DoubleType))
      case "log2" => TC(log2(t.col), Some(DoubleType))
      case "pow" => TC(pow(t.col, c(0).col), Some(DoubleType))
      // jq C-math tail (gojq math.go binds libm 1:1) — like sqrt/pow
      // above, harmless extensions of the reference method set
      case "sin" => TC(sin(t.col), Some(DoubleType))
      case "cos" => TC(cos(t.col), Some(DoubleType))
      case "tan" => TC(tan(t.col), Some(DoubleType))
      case "asin" => TC(asin(t.col), Some(DoubleType))
      case "acos" => TC(acos(t.col), Some(DoubleType))
      case "atan" => TC(atan(t.col), Some(DoubleType))
      case "sinh" => TC(sinh(t.col), Some(DoubleType))
      case "cosh" => TC(cosh(t.col), Some(DoubleType))
      case "tanh" => TC(tanh(t.col), Some(DoubleType))
      case "cbrt" => TC(cbrt(t.col), Some(DoubleType))
      case "exp2" => TC(pow(lit(2d), t.col), Some(DoubleType))
      case "exp10" => TC(pow(lit(10d), t.col), Some(DoubleType))
      case "rint" => TC(rint(t.col), Some(DoubleType))
      case "atan2" => TC(atan2(t.col, c(0).col), Some(DoubleType)) // (y; x)
      case "trunc" =>
        // toward zero, integral result (jq numbers don't distinguish)
        TC(when(t.col >= 0, floor(t.col)).otherwise(ceil(t.col)), Some(LongType))
      case "logb" =>
        TC(floor(log2(abs(t.col))).cast(DoubleType), Some(DoubleType))
      case "significand" =>
        // x / 2^logb(x): sign preserved, |m| in [1,2); significand(0)=0
        TC(when(t.col === 0, lit(0d)).otherwise(
          t.col / pow(lit(2d), floor(log2(abs(t.col))))), Some(DoubleType))
      case "expm1" => TC(expm1(t.col), Some(DoubleType))
      case "log1p" => TC(log1p(t.col), Some(DoubleType))
      // gamma family + the exotic two/three-arg libm tail: cold jq
      // surface, exact-semantics UDFs (graft.exprs.JqMath) — the JVM
      // has no libm gamma, and C fmin/drem/copysign NaN/zero-sign
      // edges aren't worth a when()-chain in a never-hot path
      case "lgamma" => TC(graft.exprs.JqMath.lgamma(t.col.cast(DoubleType)),
        Some(DoubleType))
      case "tgamma" => TC(graft.exprs.JqMath.tgamma(t.col.cast(DoubleType)),
        Some(DoubleType))
      case "frexp" => TC(graft.exprs.JqMath.frexp(t.col.cast(DoubleType)),
        Some(ArrayType(DoubleType)))
      case "modf" => TC(graft.exprs.JqMath.modf(t.col.cast(DoubleType)),
        Some(ArrayType(DoubleType)))
      case "drem" => TC(graft.exprs.JqMath.dremU(t.col.cast(DoubleType),
        c(0).col.cast(DoubleType)), Some(DoubleType))
      case "ldexp" => TC(graft.exprs.JqMath.ldexpU(t.col.cast(DoubleType),
        c(0).col.cast(DoubleType)), Some(DoubleType))
      case "nextafter" => TC(graft.exprs.JqMath.nextafterU(
        t.col.cast(DoubleType), c(0).col.cast(DoubleType)), Some(DoubleType))
      case "copysign" => TC(graft.exprs.JqMath.copysignU(
        t.col.cast(DoubleType), c(0).col.cast(DoubleType)), Some(DoubleType))
      case "fmin" => TC(graft.exprs.JqMath.fminU(t.col.cast(DoubleType),
        c(0).col.cast(DoubleType)), Some(DoubleType))
      case "fmax" => TC(graft.exprs.JqMath.fmaxU(t.col.cast(DoubleType),
        c(0).col.cast(DoubleType)), Some(DoubleType))
      case "fdim" => TC(graft.exprs.JqMath.fdimU(t.col.cast(DoubleType),
        c(0).col.cast(DoubleType)), Some(DoubleType))
      case "fma" => TC(graft.exprs.JqMath.fmaU(t.col.cast(DoubleType),
        c(0).col.cast(DoubleType), c(1).col.cast(DoubleType)),
        Some(DoubleType))
      case "is_nan" =>
        // NOT `. != .`: Spark treats NaN as equal to NaN
        TC(isnan(t.col.cast(DoubleType)), Some(BooleanType))
      case "is_infinite" =>
        val d = t.col.cast(DoubleType)
        TC(d === lit(Double.PositiveInfinity) ||
          d === lit(Double.NegativeInfinity), Some(BooleanType))
      case "is_normal" =>
        // finite, not NaN, not zero, not subnormal (C fpclassify NORMAL)
        val d = t.col.cast(DoubleType)
        TC(!isnan(d) && d =!= lit(Double.PositiveInfinity) &&
          d =!= lit(Double.NegativeInfinity) && d =!= lit(0d) &&
          abs(d) >= lit(java.lang.Double.MIN_NORMAL), Some(BooleanType))
      case "max" => TC(array_max(t.col), t.elemType)
      case "min" => TC(array_min(t.col), t.elemType)

      // ----- strings (methods_strings.go) -----
      case "uppercase" => TC(upper(t.col), Some(StringType))
      case "lowercase" => TC(lower(t.col), Some(StringType))
      case "capitalize" =>
        // Go strings.Title semantics: first letter of EVERY word upper,
        // rest untouched (methods_strings.go:61 example "the foo bar" ->
        // "The Foo Bar")
        TC(array_join(transform(split(t.col, " "),
          w => concat(upper(substring(w, 1, 1)), w.substr(lit(2), length(w)))), " "),
          Some(StringType))
      case "trim" =>
        // no-arg trim is the reference's strings.TrimSpace — Unicode
        // whitespace (tabs, newlines, NBSP…), not Spark trim's ' ' only
        if (args.isEmpty) TC(regexp_replace(t.col,
          lit("(?U)(^\\s+|\\s+$)"), lit("")), Some(StringType))
        else TC(trim(t.col, litStr(0)), Some(StringType))
      case "trim_prefix" => TC(when(t.col.startsWith(litStr(0)),
        t.col.substr(lit(litStr(0).length + 1), length(t.col))).otherwise(t.col), Some(StringType))
      case "trim_suffix" => TC(when(t.col.endsWith(litStr(0)),
        t.col.substr(lit(1), length(t.col) - litStr(0).length)).otherwise(t.col), Some(StringType))
      case "has_prefix" => TC(t.col.startsWith(c(0).col), Some(BooleanType))
      case "has_suffix" => TC(t.col.endsWith(c(0).col), Some(BooleanType))
      case "contains" =>
        t.tpe match {
          case _ if t.isArray => TC(array_contains(t.col, c(0).col), Some(BooleanType))
          case _ if t.isMap =>
            TC(array_contains(map_values(t.col), c(0).col), Some(BooleanType))
          case Some(s: StructType) =>
            // object form checks VALUES (methods_structured.go contains)
            val uniform = s.fields.map(_.dataType).distinct.length == 1
            val vals = s.fields.map { f =>
              if (uniform) t.col.getField(f.name)
              else t.col.getField(f.name).cast(StringType)
            }
            val needle = if (uniform) c(0).col else c(0).col.cast(StringType)
            TC(array_contains(array(vals.toIndexedSeq: _*), needle), Some(BooleanType))
          case _ => TC(t.col.contains(c(0).col), Some(BooleanType))
        }
      case "index_of" => TC(instr(t.col, litStr(0)).cast(LongType) - 1L, Some(LongType))
      case "length" => t.tpe match {
        case Some(_: ArrayType) | Some(_: MapType) => TC(size(t.col).cast(LongType), Some(LongType))
        case Some(s: StructType) => TC(lit(s.fields.length.toLong), Some(LongType))
        case Some(BinaryType) => TC(octet_length(t.col).cast(LongType), Some(LongType))
        case Some(VariantType) =>
          // dynamic jq dispatch: array → element count, object → key
          // count, null → 0, number → |n| (truncated to the long the
          // typed paths return), else string chars — without this a
          // variant array measured its JSON text length
          val arr = try_variant_get(t.col, "$", "array<variant>")
          val obj = try_variant_get(t.col, "$", "map<string, variant>")
          val num = try_variant_get(t.col, "$", "double")
          TC(when(is_variant_null(t.col), lit(0L))
            .when(arr.isNotNull, size(arr).cast(LongType))
            .when(obj.isNotNull, size(obj).cast(LongType))
            .when(num.isNotNull, abs(num).cast(LongType))
            .otherwise(length(try_variant_get(t.col, "$", "string"))
              .cast(LongType)), Some(LongType))
        case _ => TC(length(t.col).cast(LongType), Some(LongType))
      }
      case "format" =>
        throw CompileError("format: target must be a literal format string")
      case "split" =>
        TC(split(t.col, java.util.regex.Pattern.quote(litStr(0))), Some(ArrayType(StringType)))
      case "re_split" => // jq splits / split(re; _): delimiter is a REGEX
        TC(split(t.col, litStr(0)), Some(ArrayType(StringType)))
      case "re_replace_first" =>
        // jq `sub`: replace the FIRST match only (re_replace is global) —
        // locate + substring surgery; replacement group refs unsupported
        val pat = litStr(0)
        val pos = regexp_instr(t.col, lit(pat)) // 1-based; 0 = no match
        val m = regexp_extract(t.col, pat, 0)
        TC(when(pos === 0, t.col).otherwise(concat(
            t.col.substr(lit(1), pos - 1),
            c(1).col,
            t.col.substr(pos + length(m), length(t.col)))),
          Some(StringType))
      case "delete_at" =>
        // remove ONE array position (jq del(.xs[i])); negative from end
        val ix = arg(0).asInstanceOf[LitLong].v
        val j = if (ix >= 0) lit(ix.toInt) else size(t.col) + lit(ix.toInt)
        TC(filter(t.col, (_, k) => k =!= j), t.tpe)
      case "rindex_of" =>
        // 0-based LAST occurrence, -1 if absent (Go strings.LastIndex,
        // mirroring index_of): search the reversed string, translate back
        // — rindex = len - |sub| - (posInReversed - 1)
        val sub = litStr(0)
        val q = instr(reverse(t.col), sub.reverse)
        TC(when(q === 0, lit(-1L)).otherwise(
            (length(t.col) - sub.length - (q - 1)).cast(LongType)),
          Some(LongType))
      case "join" =>
        val d = args.headOption.map {
          case LitString(s) => s
          case o => throw CompileError(s"join: delimiter must be a string literal, got $o")
        }.getOrElse("")
        val strArr = t.elemType match {
          case Some(StringType) => t.col
          case _ => transform(t.col, x => x.cast(StringType))
        }
        TC(array_join(strArr, d), Some(StringType))
      case "replace" => TC(regexp_replace(t.col,
        java.util.regex.Pattern.quote(litStr(0)),
        java.util.regex.Matcher.quoteReplacement(litStr(1))), Some(StringType))
      case "replace_many" =>
        val pairs = arg(0) match {
          case LitArray(items) => items.map {
            case LitString(s) => s
            case o => throw CompileError(s"replace_many: literal strings required, got $o")
          }
          case o => throw CompileError(s"replace_many: array literal required, got $o")
        }
        val out = pairs.grouped(2).foldLeft(t.col) {
          case (acc, scala.Seq(from, to)) => regexp_replace(acc,
            java.util.regex.Pattern.quote(from), java.util.regex.Matcher.quoteReplacement(to))
          case (acc, _) => acc
        }
        TC(out, Some(StringType))
      case "re_match" => TC(regexp_like(t.col, c(0).col), Some(BooleanType))
      case "transpose" =>
        // jq transpose: array-of-arrays transposed, rows padded with null
        // to the longest row (element_at past the end is null under
        // permissive eval); [] and all-empty-rows stay []. A non-nested
        // static element type can only lawfully hold [] — empty result.
        t.elemType match {
          case Some(_: ArrayType) =>
            val m = array_max(transform(t.col, r => size(r)))
            TC(when(size(t.col) === 0 || m <= 0, slice(t.col, lit(1), lit(0)))
              .otherwise(transform(sequence(lit(0), m - lit(1)),
                i => transform(t.col, row => element_at(row, i + lit(1))))),
              t.tpe)
          case _ => TC(slice(t.col, lit(1), lit(0)), t.tpe)
        }
      case "format_sh" =>
        // jq @sh: strings single-quoted POSIX-style (embedded ' becomes
        // '\''), numbers plain, arrays space-joined — dispatched on the
        // STATIC type; a variant value branches at runtime (both branch
        // results are strings, so the when-chain type-checks)
        def shq(c: Column): Column = concat(lit("'"),
          replace(c.cast(StringType), lit("'"), lit("'\\''")), lit("'"))
        def shOne(c: Column, tpe: Option[DataType]): Column = tpe match {
          case Some(StringType) => shq(c)
          case Some(_: VariantType) =>
            when(schema_of_variant(c) === "STRING", shq(c))
              .otherwise(c.cast(StringType))
          case _ => c.cast(StringType)
        }
        t.tpe match {
          case Some(ArrayType(et, _)) =>
            TC(array_join(
              transform(t.col, x => shOne(x, Some(et))), " "),
              Some(StringType))
          case other => TC(shOne(t.col, other), Some(StringType))
        }
      case "re_scan" =>
        // jq scan(re), collected: every match of re, in order (full-match
        // strings; jq's capture-group array flavor is out of scope)
        TC(regexp_extract_all(t.col, c(0).col, lit(0)),
          Some(ArrayType(StringType)))
      case "re_replace" => TC(regexp_replace(t.col, litStr(0), litStr(1)), Some(StringType))
      case "re_find_all" => TC(regexp_extract_all(t.col, lit(litStr(0)), lit(0)), Some(ArrayType(StringType)))
      case "re_find_all_submatch" =>
        // array of [full, group1, ...] per match (methods_strings.go:1659):
        // regexp_extract_all per group index aligns by match, zip them up
        val (pat, groups) = Compiler.captureGroups(litStr(0))
        val cols = (0 to groups.length).map(i =>
          regexp_extract_all(t.col, lit(pat), lit(i)).as(s"g$i"))
        TC(transform(arrays_zip(cols: _*), x =>
            array((0 to groups.length).map(i => x.getField(s"g$i")): _*)),
          Some(ArrayType(ArrayType(StringType))))
      case "re_find_all_object" =>
        // array of {name-or-index: match} per match (methods_strings.go:1768)
        val (pat, groups) = Compiler.captureGroups(litStr(0))
        val keys = "0" +: groups.zipWithIndex.map { case (n, i) =>
          n.getOrElse((i + 1).toString) }
        val cols = (0 to groups.length).map(i =>
          regexp_extract_all(t.col, lit(pat), lit(i)).as(s"g$i"))
        TC(transform(arrays_zip(cols: _*), x =>
            struct(keys.zipWithIndex.map { case (k, i) =>
              x.getField(s"g$i").as(k) }: _*)),
          None)
      case "re_capture" =>
        // jq `capture`: NAMED groups only, no "0" full-match key
        val (pat, groups) = Compiler.captureGroups(litStr(0))
        val named = groups.zipWithIndex.collect { case (Some(n), i) => (n, i + 1) }
        if (named.isEmpty) throw CompileError(
          s"re_capture: pattern '${litStr(0)}' has no named groups")
        val fields = named.map { case (n, i) =>
          regexp_extract(t.col, pat, i).as(n)
        }
        // gojq's capture ERRORS on non-matching input (it never fabricates
        // an all-empty-groups object) — ride the expression error channel
        // so `catch` fires and uncaught flows flag `_error`
        val matched = regexp_like(t.col, lit(pat))
        TC(when(matched, struct(fields: _*)),
          Some(StructType(named.map { case (n, _) => StructField(n, StringType) })),
          TC.mergeErr(t.err, Some(when(t.col.isNotNull && !matched,
            lit(s"capture: no match for pattern")))))
      case "re_find_object" =>
        // {“0”: full match, name-or-index: group} (methods_strings.go);
        // Go (?P<n> names rewritten via the shared translator
        val (pat, groups) = Compiler.captureGroups(litStr(0))
        val keys = "0" +: groups.zipWithIndex.map { case (n, i) =>
          n.getOrElse((i + 1).toString) }
        val fields = keys.zipWithIndex.map { case (k, i) =>
          regexp_extract(t.col, pat, i).as(k)
        }
        TC(struct(fields: _*), Some(StructType(keys.map(StructField(_, StringType)))))
      case "reverse" => TC(reverse(t.col), t.tpe)
      case "to_array" =>
        // array → unchanged; anything else wraps in a singleton array.
        // Internal (JMESPath §to_array targets it); resolved on the
        // STATIC type so the branches never need a common CASE type.
        if (t.isArray) t
        else if (t.isVariant) {
          val arr = try_variant_get(t.col, "$", "array<variant>")
          TC(when(arr.isNotNull, arr).otherwise(array(t.col)),
            Some(ArrayType(VariantType)), t.err)
        } else TC(array(t.col), t.tpe.map(dt => ArrayType(dt): DataType), t.err)
      case "slice" => sliceMethod(t, args, ctx)
      case "hash" =>
        if (litStr(0).startsWith("hmac_"))
          TC(graft.exprs.Codecs.hmacHex(t.col.cast(BinaryType), litStr(0), litStr(1)),
            Some(StringType))
        else hashMethod(t, litStr(0))
      case "compress" =>
        TC(graft.exprs.Codecs.compress(t.col.cast(BinaryType), litStr(0)), Some(BinaryType))
      case "decompress" =>
        TC(graft.exprs.Codecs.decompress(t.col.cast(BinaryType), litStr(0)), Some(BinaryType))
      case "encrypt_aes" if args.length == 3 =>
        // reference signature: encrypt_aes(scheme, key, iv) with an
        // explicit IV — deterministic, schemes ctr/ofb/cbc
        // (methods_strings.go:263; doc example ported verbatim)
        TC(graft.exprs.Codecs.aesIv(t.col.cast(BinaryType), litStr(0),
          c(1).col.cast(BinaryType), c(2).col.cast(BinaryType),
          encrypting = true), Some(BinaryType))
      case "decrypt_aes" if args.length == 3 =>
        TC(graft.exprs.Codecs.aesIv(t.col.cast(BinaryType), litStr(0),
          c(1).col.cast(BinaryType), c(2).col.cast(BinaryType),
          encrypting = false), Some(BinaryType))
      case "encrypt_aes" =>
        // 2-arg compat form (key, mode) over Spark's builtin envelope
        // (random IV for CBC/GCM — NOT byte-deterministic)
        TC(aes_encrypt(t.col.cast(BinaryType), c(0).col.cast(BinaryType),
          lit(litStr(1).toUpperCase)), Some(BinaryType))
      case "decrypt_aes" =>
        TC(aes_decrypt(t.col.cast(BinaryType), c(0).col.cast(BinaryType),
          lit(litStr(1).toUpperCase)), Some(BinaryType))
      case "parse_csv" =>
        // header row → array of row-objects (map header -> value); pure
        // Column implementation, no UDF
        val lines = filter(split(t.col.cast(StringType), "\r?\n"), l => length(l) > 0)
        val header = split(element_at(lines, 1), ",")
        val rows = slice(lines, lit(2), greatest(size(lines) - 1, lit(0)))
        TC(transform(rows, r => map_from_arrays(header, split(r, ","))),
          Some(ArrayType(MapType(StringType, StringType))))
      case "encode" => litStr(0) match {
        case "base64" => TC(base64(t.col.cast(BinaryType)), Some(StringType))
        case "hex" => TC(lower(hex(t.col)), Some(StringType))
        case "ascii85" =>
          TC(graft.exprs.Codecs.ascii85EncodeCol(t.col.cast(BinaryType)), Some(StringType))
        case "z85" =>
          TC(graft.exprs.Codecs.z85EncodeCol(t.col.cast(BinaryType)), Some(StringType))
        case o => throw CompileError(s"encode: unsupported scheme $o")
      }
      case "decode" => litStr(0) match {
        case "base64" => TC(unbase64(t.col), Some(BinaryType))
        case "hex" => TC(unhex(t.col), Some(BinaryType))
        case "ascii85" =>
          TC(graft.exprs.Codecs.ascii85DecodeCol(t.col.cast(StringType)), Some(BinaryType))
        case "z85" =>
          TC(graft.exprs.Codecs.z85DecodeCol(t.col.cast(StringType)), Some(BinaryType))
        case o => throw CompileError(s"decode: unsupported scheme $o")
      }
      case "escape_html" =>
        // html.EscapeString: & < > " ' (ampersand first)
        val esc = scala.Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;",
          "\"" -> "&#34;", "'" -> "&#39;")
          .foldLeft(t.col) { case (acc, (from, to)) =>
            regexp_replace(acc, java.util.regex.Pattern.quote(from),
              java.util.regex.Matcher.quoteReplacement(to))
          }
        TC(esc, Some(StringType))
      case "unescape_html" =>
        val un = scala.Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
          "&#34;" -> "\"", "&quot;" -> "\"", "&#39;" -> "'")
          .foldLeft(t.col) { case (acc, (from, to)) =>
            regexp_replace(acc, java.util.regex.Pattern.quote(from),
              java.util.regex.Matcher.quoteReplacement(to))
          }
        TC(un, Some(StringType))
      case "escape_url_query" => TC(url_encode(t.col), Some(StringType))
      case "unescape_url_query" => TC(url_decode(t.col), Some(StringType))
      case "strip_html" =>
        // optional arg: element types to PRESERVE (methods_strings.go
        // doc example 2): their open/close/self-closing tags survive
        val keep = args.headOption.map {
          case Ast.LitArray(items) => items.map {
            case Ast.LitString(s) => java.util.regex.Pattern.quote(s)
            case o => throw CompileError(s"strip_html: string list expected, got $o")
          }
          case o => throw CompileError(s"strip_html: array literal expected, got $o")
        }.getOrElse(Nil)
        val pat =
          if (keep.isEmpty) "<[^>]*>"
          else s"<(?!/?(?:${keep.mkString("|")})\\b)[^>]*>"
        TC(regexp_replace(t.col, pat, ""), Some(StringType))
      case "quote" => TC(to_json(struct(t.col.as("q"))).substr(lit(6),
        length(to_json(struct(t.col.as("q")))) - 6), Some(StringType))
      case "unquote" =>
        // strconv.Unquote (methods_strings.go:1492), exact: the full Go
        // escape set incl. octal \NNN, single-/back-quote forms, and
        // ErrSyntax on malformed input -> the expression error channel
        // (exprs/GoUnquote.scala)
        val uq = graft.exprs.GoUnquoteExpr.of(t.col.cast(StringType))
        TC(uq, Some(StringType),
          Some(when(t.col.isNotNull && uq.isNull, lit("invalid syntax"))))
      case "json_schema" =>
        // validate against a JSON schema subset; a validation failure is
        // an ERROR carrying the validator's message (reference
        // jsonschema.go) so `.catch()` distinguishes it from null input
        val asJson = t.tpe match {
          case Some(StringType) => t.col
          case _ => to_json(t.col)
        }
        val err = graft.exprs.Formats.jsonSchemaError(asJson, litStr(0))
        TC(when(err.isNull, t.col), t.tpe, Some(err))
      case "filepath_join" =>
        // Go filepath.Join cleans the result: collapse duplicate
        // separators, drop any trailing one (methods_strings.go doc
        // example: ["/foo/","bar.txt"] -> "/foo/bar.txt"). Full
        // Clean("..") resolution is out of scope.
        val joined = regexp_replace(array_join(t.col, "/"), "/{2,}", "/")
        TC(when(length(joined) > 1, regexp_replace(joined, "/$", ""))
          .otherwise(joined), Some(StringType))
      case "filepath_split" =>
        // Go filepath.Split: (dir incl. trailing sep, file) pair
        TC(array(
          regexp_extract(t.col, "^(.*/)?", 1),
          regexp_replace(t.col, "^.*/", "")), Some(ArrayType(StringType)))
      case "parse_json" =>
        // try-parse: invalid JSON is a catch-able ERROR (reference
        // parse_json errors), not a hard exception — the uncaught case
        // degrades to null, matching the engine's error-as-null posture
        val parsed = try_parse_json(t.col.cast(StringType))
        TC(parsed, Some(VariantType),
          Some(when(t.col.isNotNull && parsed.isNull,
            lit("failed to parse value as JSON"))))
      case "format_json" => TC(to_json(t.col), Some(StringType))
      case "parse_yaml" =>
        val yj = graft.exprs.Formats.yamlToJson(t.col.cast(StringType))
        TC(parse_json(yj), Some(VariantType),
          Some(when(t.col.isNotNull && yj.isNull,
            lit("failed to parse value as YAML"))))
      case "format_yaml" =>
        val json = t.tpe match {
          case Some(_: StructType) | Some(_: ArrayType) | Some(_: MapType) => to_json(t.col)
          case _ => t.col.cast(StringType)
        }
        TC(graft.exprs.Formats.jsonToYaml(json), Some(StringType))
      case "parse_xml" =>
        val xj = graft.exprs.Formats.xmlToJson(t.col.cast(StringType))
        TC(parse_json(xj), Some(VariantType),
          Some(when(t.col.isNotNull && xj.isNull,
            lit("failed to parse value as XML"))))
      case "parse_duration" =>
        val d = graft.exprs.GoDurationParse.column(t.col.cast(StringType))
        TC(d, Some(LongType),
          Some(when(t.col.isNotNull && d.isNull,
            lit("failed to parse duration"))))
      case "parse_timestamp" =>
        val ts = to_timestamp(t.col, TimeFormats.goToJava(litStr(0)))
        TC(ts, Some(TimestampType),
          Some(when(t.col.isNotNull && ts.isNull,
            lit("failed to parse timestamp"))))
      case "parse_timestamp_strptime" =>
        val ts = to_timestamp(t.col, TimeFormats.strftimeToJava(litStr(0)))
        TC(ts, Some(TimestampType),
          Some(when(t.col.isNotNull && ts.isNull,
            lit("failed to parse timestamp"))))
      case "parse_timestamp_unix" =>
        // no-format form accepts RFC3339 like the reference (Go
        // time.Parse default), not just "yyyy-MM-dd HH:mm:ss"
        val f = args.headOption.map(a => TimeFormats.goToJava(litStr(0)))
        TC(f.map(fmt => unix_timestamp(t.col, fmt))
          .getOrElse(unix_timestamp(tsOf(t))), Some(LongType))
      case "format_timestamp" =>
        val fmt = args.headOption.map(_ => TimeFormats.goToJava(litStr(0)))
          .getOrElse("yyyy-MM-dd'T'HH:mm:ssXXX")
        TC(date_format(tsOf(t), fmt), Some(StringType))
      case "format_timestamp_strftime" =>
        TC(date_format(tsOf(t), TimeFormats.strftimeToJava(litStr(0))), Some(StringType))
      case "format_timestamp_unix" => TC(unix_timestamp(tsOf(t)), Some(LongType))
      case "format_timestamp_unix_nano" =>
        TC(unix_micros(tsOf(t)) * 1000L, Some(LongType))

      // ----- structured (methods_structured.go) -----
      case "all" => TC(forall(t.col, lambda1(arg(0), ctx, t.elemType)), Some(BooleanType))
      case "any" => TC(exists(t.col, lambda1(arg(0), ctx, t.elemType)), Some(BooleanType))
      case "append" =>
        val items = args.map(a => compile(a, ctx).col)
        TC(concat(t.col, array(items: _*)), t.tpe)
      case "enumerated" =>
        val et = t.elemType.getOrElse(StringType)
        TC(transform(t.col, (x, i) => struct(i.cast(LongType).as("index"), x.as("value"))),
          Some(ArrayType(StructType(scala.Seq(
            StructField("index", LongType), StructField("value", et))))))
      case "filter" =>
        t.tpe match {
          case _ if t.isMap =>
            TC(map_filter(t.col, (k, v) =>
              lambda1(arg(0), ctx, None)(struct(k.as("key"), v.as("value")))), t.tpe)
          case Some(s: StructType) =>
            // object form: keys kept per-row → result is a map (a struct
            // can't drop fields dynamically); values unify to string when
            // field types differ (key_values convention)
            val uniform = s.fields.map(_.dataType).distinct.length == 1
            val vt = if (uniform) s.fields.head.dataType else StringType
            val entries = s.fields.map { f =>
              val v = if (uniform) t.col.getField(f.name)
                else t.col.getField(f.name).cast(StringType)
              struct(lit(f.name).as("key"), v.as("value"))
            }
            val kept = filter(array(entries.toIndexedSeq: _*),
              e => lambda1(arg(0), ctx, None)(e))
            TC(map_from_entries(kept), Some(MapType(StringType, vt)))
          case _ => TC(filter(t.col, lambda1(arg(0), ctx, t.elemType)), t.tpe)
        }
      case "from_entries" =>
        // inverse of key_values: [{key,value}…] → object (the jq
        // to_entries/from_entries round trip; the reference reaches this
        // via the jq processor's embedded runtime)
        val vt = t.elemType match {
          case Some(s: StructType) =>
            s.fields.find(_.name == "value").map(_.dataType).getOrElse(StringType)
          case _ => StringType
        }
        TC(map_from_entries(transform(t.col, e =>
          struct(e.getField("key").cast(StringType).as("key"),
            e.getField("value").as("value")))), Some(MapType(StringType, vt)))
      case "flatten" =>
        TC(flatten(t.col), t.elemType)
      case "fold" =>
        val init = c(0)
        val fn = arg(1)
        val body: (Column, Column) => Column = (acc, x) => fn match {
          case Lambda(p, b) =>
            val bound = struct(acc.as("tally"), x.as("value"))
            compile(b, ctx.withVar(p, TC(bound, None)).withThis(TC(bound, None))).col
          case o => throw CompileError(s"fold: lambda required, got $o")
        }
        TC(aggregate(t.col, init.col, body), init.tpe)
      case "fold_scan" =>
        // fold emitting every intermediate tally (jq `foreach g as $x
        // (init; upd)` collected): accumulator carries (tally, outs[])
        val init = c(0)
        val fn = arg(1)
        val body: (Column, Column) => Column = (acc, x) => fn match {
          case Lambda(p, b) =>
            val bound = struct(acc.as("tally"), x.as("value"))
            compile(b, ctx.withVar(p, TC(bound, None)).withThis(TC(bound, None))).col
          case o => throw CompileError(s"fold_scan: lambda required, got $o")
        }
        // slice(array(init), 1, 0) = a correctly-TYPED empty array
        val acc0 = struct(init.col.as("tally"),
          slice(array(init.col), lit(1), lit(0)).as("outs"))
        TC(aggregate(t.col, acc0,
          (acc, x) => {
            val nt = body(acc.getField("tally"), x)
            struct(nt.as("tally"),
              concat(acc.getField("outs"), array(nt)).as("outs"))
          },
          acc => acc.getField("outs")), init.tpe.map(ArrayType(_)))
      case "recurse_apply" =>
        // jq `recurse(f)` / `recurse(f; cond)`, collected, with an
        // explicit DEPTH CAP (the gojq definition is unbounded iteration,
        // which a static plan can't express): levels are array<variant>
        // frontiers — L0 = [.], L(k+1) = cond-filtered outputs of f over
        // Lk — and the result is the pre-order concat L0..Lcap. One more
        // expansion past the cap decides convergence: a non-empty
        // L(cap+1) rides the error channel instead of silently
        // truncating. The whole iteration is ONE `aggregate` over
        // sequence(1, cap+1) so f appears once in the plan (a per-level
        // unrolling would double the expression tree per level).
        // args: (f-lambda, LitBool(f is a generator), cond-lambda | null,
        // LitLong(cap)); scalar-f branches terminate on a null output
        // (gojq would recurse on null forever — the cap error would be
        // the only outcome, so termination is the useful divergence).
        val genF = args(1) match {
          case LitBool(b) => b
          case o => throw CompileError(s"recurse_apply: bool flag expected, got $o")
        }
        val cap = args(3) match {
          case LitLong(n) if n > 0 && n <= 64 => n.toInt
          case o => throw CompileError(s"recurse_apply: depth cap in 1..64 expected, got $o")
        }
        def fOut(x: Column): Column = {
          val tc = arg(0) match {
            case Lambda(p, body) =>
              val xe = TC(x, Some(VariantType))
              compile(body, ctx.withVar(p, xe).withThis(xe))
            case o => throw CompileError(s"recurse_apply: f lambda expected, got $o")
          }
          asVariant(tc.col, tc.tpe.getOrElse(VariantType))
        }
        def expand(x: Column): Column =
          if (genF)
            coalesce(try_variant_get(fOut(x), "$", "array<variant>"),
              emptyVariants)
          else filter(array(fOut(x)),
            v => !(v.isNull || is_variant_null(v)))
        def keep(arr: Column): Column = args(2) match {
          case LitNull => arr
          case Lambda(p, body) => filter(arr, x => {
            val xe = TC(x, Some(VariantType))
            val c = compile(body, ctx.withVar(p, xe).withThis(xe))
            coalesce(c.col.cast(BooleanType), lit(false))
          })
          case o => throw CompileError(s"recurse_apply: cond lambda expected, got $o")
        }
        val rootV = asVariant(t.col, t.tpe.getOrElse(StringType))
        val state = aggregate(
          sequence(lit(1), lit(cap + 1)),
          struct(array(rootV).as("acc"), array(rootV).as("frontier")),
          (st, i) => {
            val next = keep(coalesce(
              flatten(transform(st.getField("frontier"), expand(_))),
              emptyVariants))
            struct(
              when(i <= cap, concat(st.getField("acc"), next))
                .otherwise(st.getField("acc")).as("acc"),
              next.as("frontier"))
          })
        val overflow = when(size(state.getField("frontier")) > 0,
          lit(s"recurse: depth cap $cap exceeded with the frontier still live"))
        TC(state.getField("acc"), Some(ArrayType(VariantType)),
          TC.mergeErr(t.err, Some(overflow)))
      case "iterate_until" | "iterate_while" =>
        // jq `until(cond; f)` / `while(cond; f)` on the same bounded-
        // iteration machinery as recurse_apply (ONE aggregate over
        // sequence(1, cap), f and cond appear once in the plan).
        // until: apply f while cond is FALSE, return the first value
        // satisfying cond — still unsatisfied past the cap errors.
        // while: emit values while cond HOLDS (collected array), stop at
        // the first failure — still alive past the cap errors.
        // args: (cond-lambda, f-lambda, LitLong(cap)); scalar f only.
        val isUntil = name == "iterate_until"
        def lam(i: Int): Column => Column = args(i) match {
          case Lambda(p, body) => (x: Column) => {
            val xe = TC(x, Some(VariantType))
            val tc = compile(body, ctx.withVar(p, xe).withThis(xe))
            if (i == 0) coalesce(tc.col.cast(BooleanType), lit(false))
            else asVariant(tc.col, tc.tpe.getOrElse(VariantType))
          }
          case o => throw CompileError(s"$name: lambda expected, got $o")
        }
        val condF = lam(0)
        val stepF = lam(1)
        val cap = args(2) match {
          case LitLong(n) if n > 0 && n <= 1024 => n.toInt
          case o => throw CompileError(s"$name: iteration cap in 1..1024 expected, got $o")
        }
        val rootV = asVariant(t.col, t.tpe.getOrElse(StringType))
        if (isUntil) {
          val state = aggregate(
            sequence(lit(1), lit(cap)),
            struct(rootV.as("cur")),
            (st, _) => {
              val cur = st.getField("cur")
              struct(when(condF(cur), cur).otherwise(stepF(cur)).as("cur"))
            })
          val cur = state.getField("cur")
          val overflow = when(!condF(cur),
            lit(s"until: not satisfied within $cap iterations"))
          TC(cur, Some(VariantType), TC.mergeErr(t.err, Some(overflow)))
        } else {
          val state = aggregate(
            sequence(lit(1), lit(cap)),
            struct(emptyVariants.as("acc"), rootV.as("cur"),
              lit(true).as("alive")),
            (st, _) => {
              val cur = st.getField("cur")
              val alive = st.getField("alive") && condF(cur)
              struct(
                when(alive, concat(st.getField("acc"), array(cur)))
                  .otherwise(st.getField("acc")).as("acc"),
                when(alive, stepF(cur)).otherwise(cur).as("cur"),
                alive.as("alive"))
            })
          val overflow = when(
            state.getField("alive") && condF(state.getField("cur")),
            lit(s"while: still alive past $cap iterations"))
          TC(state.getField("acc"), Some(ArrayType(VariantType)),
            TC.mergeErr(t.err, Some(overflow)))
        }
      case "repeat_apply" =>
        // jq repeat(f), bounded: ., f(.), f(f(.)), … to at most cap
        // outputs. gojq's generator is unbounded — `limit(n; repeat(f))`
        // is the canonical use and slices this collected expansion, so
        // hitting the cap truncates SILENTLY (unlike recurse_apply's
        // live-frontier error: truncation here is the contract, not a
        // lossy surprise). A null f-output ends the stream (the same
        // scalar-arm divergence recurse_apply documents).
        // args: (f-lambda, LitLong(cap)).
        val rCap = args(1) match {
          case LitLong(n) if n > 0 && n <= 1024 => n.toInt
          case o => throw CompileError(s"repeat_apply: cap in 1..1024 expected, got $o")
        }
        def rStep(x: Column): Column = arg(0) match {
          case Lambda(p, body) =>
            val xe = TC(x, Some(VariantType))
            val tc = compile(body, ctx.withVar(p, xe).withThis(xe))
            asVariant(tc.col, tc.tpe.getOrElse(VariantType))
          case o => throw CompileError(s"repeat_apply: f lambda expected, got $o")
        }
        val rRoot = asVariant(t.col, t.tpe.getOrElse(StringType))
        if (rCap == 1) TC(array(rRoot), Some(ArrayType(VariantType)), t.err)
        else {
          val state = aggregate(
            sequence(lit(1), lit(rCap - 1)),
            struct(array(rRoot).as("acc"), rRoot.as("cur"),
              lit(true).as("alive")),
            (st, _) => {
              val next = rStep(st.getField("cur"))
              val alive = st.getField("alive") &&
                !(next.isNull || is_variant_null(next))
              struct(
                when(alive, concat(st.getField("acc"), array(next)))
                  .otherwise(st.getField("acc")).as("acc"),
                when(alive, next).otherwise(st.getField("cur")).as("cur"),
                alive.as("alive"))
            })
          TC(state.getField("acc"), Some(ArrayType(VariantType)), t.err)
        }
      case "walk_apply" =>
        // jq walk(f): f applied to every value, bottom-up. The recursion
        // expands STATICALLY over the schema (the `..`/recurse_values
        // posture), and f's `type`-dispatch — the canonical
        // `walk(if type == "object" then … else . end)` idiom — is
        // FOLDED per node at compile time ([[Compiler.foldTypeDispatch]]):
        // each schema node compiles only the branch its static type
        // selects, so the other branches never have to type-check
        // against it. A VARIANT document has no static schema to walk —
        // typed error (parse to a typed document first).
        val wLam = arg(0) match {
          case l: Lambda => l
          case o => throw CompileError(s"walk_apply: f lambda expected, got $o")
        }
        def typeName(tpe: Option[DataType]): String = tpe match {
          case Some(_: ArrayType) => "array"
          case Some(_: StructType) | Some(_: MapType) => "object"
          case Some(StringType) => "string"
          case Some(BooleanType) => "bool"
          case Some(ByteType | ShortType | IntegerType | LongType |
              FloatType | DoubleType) | Some(_: DecimalType) => "number"
          case Some(BinaryType) => "bytes"
          case _ => "null"
        }
        def applyF(x: TC): TC = {
          val folded = Compiler.foldTypeDispatch(wLam.body, typeName(x.tpe))
          compile(folded, ctx.withVar(wLam.param, x).withThis(x))
        }
        def walkNode(x: TC): TC = x.tpe match {
          case Some(_: VariantType) =>
            // TRUE runtime walk (r10, closing the r9 boundary): compile
            // f ONCE over a BoundReference(0, variant) node, run the
            // session analyzer so every function node supports
            // interpreted eval, then evaluate it per node bottom-up
            // inside VariantWalkApplyExpr. f must be node-pure (no
            // outer column references) — a per-node closure cannot see
            // the enclosing row.
            import org.apache.spark.sql.GraftBridge
            val bref = GraftBridge.column(
              org.apache.spark.sql.catalyst.expressions.BoundReference(
                0, VariantType, nullable = true))
            val node = TC(bref, Some(VariantType))
            val fTC = compile(wLam.body,
              ctx.withVar(wLam.param, node).withThis(node))
            val spark = org.apache.spark.sql.SparkSession.active
            val analyzed = GraftBridge.analyzeExpressions(spark,
              fTC.col.cast(VariantType) +: fTC.err.toSeq)
            analyzed.foreach { e =>
              if (e.references.nonEmpty) throw CompileError(
                "walk: on a variant document f must be node-pure " +
                  "(no references to outer columns or variables)")
            }
            val out = GraftBridge.column(graft.exprs.VariantWalkApplyExpr(
              GraftBridge.expression(x.col), analyzed.head,
              analyzed.lift(1)))
            TC(out.getField("v"), Some(VariantType),
              TC.mergeErr(x.err, Some(out.getField("e"))))
          case Some(st: StructType) =>
            val kids = st.fields.toList.map { f =>
              (f.name, walkNode(TC(x.col.getField(f.name), Some(f.dataType))))
            }
            applyF(TC(struct(kids.map { case (n, w) => w.col.as(n) }: _*),
              Some(StructType(kids.map { case (n, w) =>
                StructField(n, w.tpe.getOrElse(NullType)) }))))
          case Some(MapType(kt, vt, _)) =>
            var out: Option[DataType] = Some(vt)
            val col = transform_values(x.col, (_, v) => {
              val w = walkNode(TC(v, Some(vt))); out = w.tpe; w.col
            })
            applyF(TC(col, Some(MapType(kt, out.getOrElse(NullType)))))
          case Some(ArrayType(et, _)) =>
            var out: Option[DataType] = Some(et)
            val col = transform(x.col, e => {
              val w = walkNode(TC(e, Some(et))); out = w.tpe; w.col
            })
            applyF(TC(col, Some(ArrayType(out.getOrElse(NullType)))))
          case _ => applyF(x)
        }
        walkNode(TC(t.col, t.tpe))
      case "jq_match" =>
        // jq match(re): match objects {offset, length, string, captures}
        // with CODEPOINT offsets (gojq); always the all-matches array —
        // the translate layer takes [0] for the non-global form. Go
        // (?P<n> names rewritten via the shared translator.
        val (mPat, mGroups) = Compiler.captureGroups(litStr(0))
        val mGlobal = arg(1) match {
          case LitBool(b) => b
          case o => throw CompileError(s"jq_match: bool flag expected, got $o")
        }
        val capT = StructType(scala.Seq(
          StructField("offset", LongType), StructField("length", LongType),
          StructField("string", StringType), StructField("name", StringType)))
        TC(graft.exprs.JqStrings.matchAllCol(
          t.col.cast(StringType), mPat, mGroups, mGlobal),
          Some(ArrayType(StructType(scala.Seq(
            StructField("offset", LongType), StructField("length", LongType),
            StructField("string", StringType),
            StructField("captures", ArrayType(capT)))))))
      case "indices" =>
        // jq indices(s): string/substring → codepoint start indices
        // (overlapping, gojq scans by one); array/scalar → positions of
        // equal elements; array/array → subarray start positions.
        // Dispatched on the STATIC input type.
        val emptyLongs = slice(array(lit(0L)), lit(1), lit(0))
        t.tpe match {
          case Some(ArrayType(_, _)) =>
            val needle = c(0)
            needle.tpe match {
              case Some(ArrayType(_, _)) =>
                val nlen = size(needle.col)
                TC(when(nlen === 0 || size(t.col) < nlen, emptyLongs)
                  .otherwise(filter(
                    sequence(lit(0L), (size(t.col) - nlen).cast(LongType)),
                    i => slice(t.col, (i + 1).cast(IntegerType), nlen)
                      === needle.col)),
                  Some(ArrayType(LongType)))
              case _ =>
                TC(when(size(t.col) === 0, emptyLongs)
                  .otherwise(filter(
                    sequence(lit(0L), size(t.col).cast(LongType) - 1L),
                    i => element_at(t.col, (i + 1).cast(IntegerType))
                      <=> needle.col)),
                  Some(ArrayType(LongType)))
            }
          case _ =>
            TC(graft.exprs.JqStrings.strIndicesCol(
              t.col.cast(StringType), c(0).col.cast(StringType)),
              Some(ArrayType(LongType)))
        }
      case "str_explode" =>
        // jq explode: string → array of codepoints
        TC(graft.exprs.JqStrings.explodeCol(t.col.cast(StringType)),
          Some(ArrayType(LongType)))
      case "str_implode" =>
        TC(graft.exprs.JqStrings.implodeCol(
          t.col.cast(ArrayType(LongType))), Some(StringType))
      case "combinations" =>
        // jq combinations: cartesian product of the input's inner arrays
        // ([[1,2],[3,4]] → [1,3],[1,4],[2,3],[2,4]), collected. ONE
        // aggregate over the outer array — acc starts as the single
        // empty combination (so [] yields [[]], the empty product, as
        // jq does) and each inner array multiplies it out; the typed
        // empty partial comes from slicing the flattened input.
        t.tpe match {
          case Some(ArrayType(ArrayType(_, _), _)) =>
            val emptyCombo = slice(flatten(t.col), lit(1), lit(0))
            TC(aggregate(t.col, array(emptyCombo),
              (acc, arr) => flatten(transform(acc,
                p => transform(arr, e => concat(p, array(e)))))), t.tpe)
          case o => throw CompileError(
            s"combinations: array-of-arrays input required, got $o")
        }
      case "jq_base32" =>
        // gojq @base32 (RFC 4648 + padding) — a jq-only scheme; the
        // reference encode processor is exactly base64/hex/ascii85/z85
        // (encode.go:98-104), so this stays OFF the `encode` method
        TC(graft.exprs.JqStrings.base32EncodeCol(t.col.cast(BinaryType)),
          Some(StringType))
      case "jq_base32d" =>
        TC(graft.exprs.JqStrings.base32DecodeCol(t.col.cast(StringType))
          .cast(StringType), Some(StringType))
      case "recurse_values" =>
        // jq `..` / no-arg recurse, collected: this value and every
        // recursive descendant (pre-order), as array<variant>. The walk is
        // STATIC over the schema — bounded depth, whole-stage codegen —
        // which is what makes it feasible in a columnar plan at all; a
        // VARIANT target (dynamic JSON: `fromjson | ..`) instead gets a
        // true runtime walk of the binary variant.
        if (t.isVariant)
          TC(graft.exprs.VariantWalkExpr.values(t.col),
            Some(ArrayType(VariantType)))
        else
          TC(recurseValues(t.col, t.tpe.getOrElse(StringType)),
            Some(ArrayType(VariantType)))
      case "json_paths" =>
        // jq `paths` / `paths(type-filter)` / `leaf_paths`, collected:
        // array of paths (each itself an array<variant> of string keys /
        // long indices), pre-order, excluding the root's empty path; an
        // optional literal filter keeps only paths whose value has that
        // (static) type
        val kind = args match {
          case Nil => "values"
          case List(LitString(k)) => k
          case o => throw CompileError(s"json_paths: literal filter expected, got $o")
        }
        if (t.isVariant)
          // dynamic JSON: runtime walk of the binary variant (the static
          // type filter has nothing to inspect there)
          TC(graft.exprs.VariantWalkExpr.paths(t.col, kind),
            Some(ArrayType(ArrayType(VariantType))))
        else
          TC(jsonPaths(t.col, t.tpe.getOrElse(StringType),
            slice(array(parse_json(lit("0"))), lit(1), lit(0)),
            pathTypeFilter(kind)),
            Some(ArrayType(ArrayType(VariantType))))
      case "jq_tostream" =>
        // jq `tostream` (gojq builtin): runtime variant walk — closing
        // events need each container's RUNTIME last key/index, which a
        // static schema expansion can't know for arrays/maps
        val vcol = if (t.isVariant) t.col
          else asVariant(t.col, t.tpe.getOrElse(StringType))
        TC(transform(graft.exprs.JqStreamExprs.tostream(vcol),
          s => parse_json(s)), Some(ArrayType(VariantType)), t.err)
      case "jq_fromstream" =>
        // jq `fromstream(f)`: target is the collected event array; the
        // overwhelmingly common single reconstruction comes back as the
        // value itself, multiple outputs as their collected array
        val ev = t.elemType match {
          case Some(VariantType) | None => t.col
          case Some(et) => transform(t.col, x => asVariant(x, et))
        }
        val outs = transform(graft.exprs.JqStreamExprs.fromstream(ev),
          s => parse_json(s))
        TC(when(size(outs) === 1, element_at(outs, 1))
          .otherwise(parse_json(to_json(outs))), Some(VariantType), t.err)
      case "jq_truncate_stream" =>
        // jq `truncate_stream(f)` with `.` = depth at the call site
        val ev = t.elemType match {
          case Some(VariantType) | None => t.col
          case Some(et) => transform(t.col, x => asVariant(x, et))
        }
        TC(transform(graft.exprs.JqStreamExprs.truncate(
          c(0).col.cast(LongType), ev), s => parse_json(s)),
          Some(ArrayType(VariantType)), t.err)
      case "index" => indexValue(t, c(0))
      case "keys" => t.tpe match {
        case Some(s: StructType) =>
          TC(array(s.fieldNames.map(lit(_)).toIndexedSeq: _*), Some(ArrayType(StringType)))
        case _ => TC(map_keys(t.col), Some(ArrayType(StringType)))
      }
      case "key_values" => t.tpe match {
        case Some(s: StructType) =>
          // struct-typed object: entries in field order; values unify to
          // string when the field types differ (dynamic-object rendering)
          val uniform = s.fields.map(_.dataType).distinct.length == 1
          val entries = s.fields.map { f =>
            val v = if (uniform) t.col.getField(f.name)
              else t.col.getField(f.name).cast(StringType)
            struct(lit(f.name).as("key"), v.as("value"))
          }
          TC(array(entries.toIndexedSeq: _*), None)
        case _ => TC(map_entries(t.col), None)
      }
      case "values" => t.tpe match {
        case Some(s: StructType) =>
          TC(array(s.fieldNames.map(t.col.getField).toIndexedSeq: _*), None)
        case Some(MapType(_, v, _)) => TC(map_values(t.col), Some(ArrayType(v)))
        case _ => TC(map_values(t.col), None)
      }
      // jq's `.[]` under collected semantics (internal marker emitted by
      // the jq bracket parser): arrays pass through untouched — the
      // collected value IS the array — while OBJECTS iterate their
      // VALUES (struct → field array in schema order = jq's insertion
      // order, map → values, variant → array shape first then object
      // values at runtime), so `[.o[]]`, `reduce .o[] as $x (…)` and
      // `recurse(.kids[])` behave identically on arrays and objects
      case "jq_iter_values" => t.tpe match {
        case Some(_: ArrayType) => t
        case Some(s: StructType) =>
          // gojq iterates object values in SORTED-key order (JSON
          // schema inference happens to sort field names, but structs
          // from parquet/explicit schemas don't — r9 advisor); sort
          // here so `.o[]` matches the reference on any source.
          // Homogeneous objects iterate as a TYPED array (folds and
          // arithmetic keep working); heterogeneous ones go variant.
          val names = s.fieldNames.sorted.toIndexedSeq
          val ftypes = s.fields.map(_.dataType).distinct
          if (ftypes.length == 1 && ftypes.head != VariantType)
            TC(array(names.map(t.col.getField): _*),
              Some(ArrayType(ftypes.head)), t.err)
          else TC(array(names.map(f =>
            t.col.getField(f).cast(VariantType)): _*),
            Some(ArrayType(VariantType)), t.err)
        case Some(MapType(_, v, _)) =>
          // maps iterate value-by-sorted-key too (gojq object order)
          TC(transform(array_sort(map_keys(t.col)),
            k => element_at(t.col, k)), Some(ArrayType(v)), t.err)
        case Some(VariantType) =>
          TC(coalesce(
            try_variant_get(t.col, "$", "array<variant>"),
            map_values(try_variant_get(t.col, "$", "map<string, variant>"))),
            Some(ArrayType(VariantType)), t.err)
        case _ => t // untyped: assume array (pre-r8 behavior)
      }
      case "map_each" =>
        if (t.isMap) TC(transform_values(t.col, (k, v) =>
          lambda1(arg(0), ctx, None)(struct(k.as("key"), v.as("value")))), None)
        else if (t.tpe.exists(_.isInstanceOf[StructType])) {
          // object form: apply the lambda to each {key,value}, keys kept
          // (methods_structured.go map_each object flavor)
          val s = t.tpe.get.asInstanceOf[StructType]
          val mapped = s.fields.map { f =>
            lambda1(arg(0), ctx, None)(
              struct(lit(f.name).as("key"),
                t.col.getField(f.name).as("value"))).as(f.name)
          }
          TC(struct(mapped.toIndexedSeq: _*), None)
        } else arg(0) match {
          // `deleted()` in an if-branch drops the element (the reference's
          // filter+map fusion, methods_structured.go:762): compile the
          // delete-condition and the kept body separately, then
          // filter-then-transform — both stay codegen'd HOFs.
          case Lambda(p, IfExpr(branches, orElse))
              if (branches.map(_._2) ++ orElse).exists(isDeletedCall) =>
            val delCond: Expr = {
              // disjunction of conditions guarding deleted() branches
              // (else-branch deletion = negation of all guards)
              val guarded = branches.collect {
                case (c, b) if isDeletedCall(b) => c
              }
              val elseDel = orElse.exists(isDeletedCall)
              val ors = guarded.reduceOption[Expr]((a, b) => BinOp("||", a, b))
              if (elseDel) {
                val allGuards = branches.map(_._1)
                  .reduceOption[Expr]((a, b) => BinOp("||", a, b))
                  .getOrElse(LitBool(false))
                val notAll = Not(allGuards)
                ors.map(o => BinOp("||", o, notAll)).getOrElse(notAll)
              } else ors.get
            }
            val keptBranches = branches.filterNot(b => isDeletedCall(b._2))
            val keptBody: Expr =
              if (keptBranches.isEmpty) orElse.get
              else IfExpr(keptBranches, orElse.filterNot(isDeletedCall))
            val kept = filter(t.col,
              e => !lambda1(Lambda(p, delCond), ctx, t.elemType)(e).cast(BooleanType))
            val outElem = t.elemType.flatMap { et =>
              val ph = TC(lit(null).cast(et), Some(et))
              try compile(keptBody, ctx.withVar(p, ph).withThis(ph)).tpe
              catch { case _: Exception => None }
            }
            TC(transform(kept, lambda1(Lambda(p, keptBody), ctx, t.elemType)),
              outElem.map(ArrayType(_)))
          case _ => {
          // infer the result element type from the lambda body (typing
          // pass against a placeholder element)
          val outElem = arg(0) match {
            case Lambda(p, body) => t.elemType.flatMap { et =>
              val ph = TC(lit(null).cast(et), Some(et))
              try compile(body, ctx.withVar(p, ph).withThis(ph)).tpe
              catch { case _: Exception => None }
            }
            case _ => None
          }
          TC(transform(t.col, lambda1(arg(0), ctx, t.elemType)),
            outElem.map(ArrayType(_)))
          }
        }
      case "map_each_key" =>
        t.tpe match {
          case Some(s: StructType) =>
            // struct columns (schema-inferred objects) have static keys;
            // renaming them dynamically requires the map representation.
            // Values keep their type when uniform, else stringify
            // (documented divergence for heterogeneous objects).
            val vt =
              if (s.fields.nonEmpty && s.fields.map(_.dataType).distinct.length == 1)
                s.fields.head.dataType
              else StringType
            val m = map_from_arrays(
              array(s.fields.toIndexedSeq.map(f => lit(f.name)): _*),
              array(s.fields.toIndexedSeq.map(f => t.col.getField(f.name).cast(vt)): _*))
            TC(transform_keys(m, (k, _) => lambda1(arg(0), ctx, Some(StringType))(k)),
              Some(MapType(StringType, vt)))
          case _ =>
            TC(transform_keys(t.col, (k, _) => lambda1(arg(0), ctx, Some(StringType))(k)), t.tpe)
        }
      case "merge" =>
        val o = c(0)
        (t.tpe, o.tpe) match {
          case (Some(_: MapType), Some(_: MapType)) => TC(map_concat(t.col, o.col), t.tpe)
          case (Some(_: StructType), Some(_: StructType)) => deepMerge(t, o)
          // array targets append (methods_structured.go merge: "if the
          // target is an array the value is appended")
          case (Some(_: ArrayType), Some(_: ArrayType)) =>
            TC(concat(t.col, o.col), t.tpe)
          case (Some(at: ArrayType), _) =>
            TC(concat(t.col, array(o.col)), t.tpe)
          case _ => throw CompileError("merge: both sides must be objects")
        }
      case "collapse" =>
        // flatten nested structure to a dot-path → string map, arrays
        // expanded with numeric indices (`methods_structured.go:152`:
        // gabs Flatten — {"foo":[{"bar":"1"}]} → {"foo.0.bar":"1"};
        // empty objects/arrays dropped, matching the no-arg form)
        t.tpe match {
          case Some(_: StructType) =>
            val entryType = ArrayType(StructType(scala.Seq(
              StructField("key", StringType), StructField("value", StringType))))
            def entries(c: Column, tpe: DataType, prefix: Column): Column = tpe match {
              case s: StructType =>
                val parts = s.fields.map { f =>
                  val p = concat(prefix,
                    when(length(prefix) === 0, lit("")).otherwise(lit(".")),
                    lit(f.name))
                  entries(c.getField(f.name), f.dataType, p)
                }
                if (parts.isEmpty) lit(Array.empty[String]).cast(entryType)
                else flatten(array(parts.toIndexedSeq: _*))
              case a: ArrayType =>
                flatten(transform(c, (x, i) =>
                  entries(x, a.elementType,
                    concat(prefix, lit("."), i.cast(StringType)))))
              case _ =>
                array(struct(prefix.as("key"), c.cast(StringType).as("value")))
            }
            TC(map_from_entries(entries(t.col, t.tpe.get, lit(""))),
              Some(MapType(StringType, StringType)))
          case _ => throw CompileError("collapse: object required")
        }
      case "sort" =>
        if (args.isEmpty) TC(array_sort(t.col), t.tpe)
        else {
          val fn = arg(0)
          val cmp: (Column, Column) => Column = (a, b) => fn match {
            case Lambda(p, body) =>
              def app(l: Column, r: Column) = {
                val bound = struct(l.as("left"), r.as("right"))
                compile(body, ctx.withVar(p, TC(bound, None)).withThis(TC(bound, None))).col
              }
              when(app(a, b), -1).when(app(b, a), 1).otherwise(0)
            case o => throw CompileError(s"sort: lambda required, got $o")
          }
          TC(array_sort(t.col, cmp), t.tpe)
        }
      case "sort_by" =>
        val key = lambda1(arg(0), ctx, t.elemType)
        TC(array_sort(t.col, (a, b) =>
          when(key(a) < key(b), -1).when(key(a) > key(b), 1).otherwise(0)), t.tpe)
      case "group_by" =>
        // jq group_by: array of groups of key-equal elements, groups
        // ordered by key, element order preserved within a group. jq's
        // value order puts null FIRST (null < false < true < numbers <
        // strings) while array_sort's default puts null last — the
        // comparator special-cases null-first. The cross-TYPE leg of
        // jq's total order can't arise here: a Catalyst array key has
        // one static element type.
        val key = lambda1(arg(0), ctx, t.elemType)
        val keys = array_sort(array_distinct(transform(t.col, key)),
          (a, b) => when(a.isNull && b.isNull, 0)
            .when(a.isNull, -1).when(b.isNull, 1)
            .when(a < b, -1).when(a > b, 1).otherwise(0))
        TC(transform(keys, k => filter(t.col, x => key(x) <=> k)),
          t.tpe.map(ArrayType(_)))
      case "sum" =>
        val zero = t.elemType match {
          case Some(LongType) | Some(IntegerType) => lit(0L)
          case _ => lit(0.0)
        }
        TC(aggregate(t.col, zero, (acc, x) => acc + x),
          t.elemType.flatMap(e => unify(Some(LongType), Some(e))))
      case "unique" => TC(array_distinct(t.col), t.tpe)
      case "without" =>
        val names = args.map {
          case LitString(s) => s
          case o => throw CompileError(s"without: literal string paths required, got $o")
        }
        // dotted args remove NESTED fields (methods_structured.go: paths)
        def drop(col0: Column, st: StructType,
            paths: scala.Seq[List[String]]): (Column, StructType) = {
          val topLevel = paths.collect { case n :: Nil => n }.toSet
          val nested = paths.collect { case n :: rest if rest.nonEmpty => (n, rest) }
            .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
          val kept = st.fields.filterNot(f => topLevel.contains(f.name)).map { f =>
            (f.dataType, nested.get(f.name)) match {
              case (inner: StructType, Some(sub)) =>
                val (c, newType) = drop(col0.getField(f.name), inner, sub.toSeq)
                (c.as(f.name), StructField(f.name, newType, f.nullable))
              case _ => (col0.getField(f.name).as(f.name), f)
            }
          }
          (struct(kept.map(_._1).toIndexedSeq: _*), StructType(kept.map(_._2)))
        }
        t.tpe match {
          case Some(s: StructType) =>
            val (c, newType) = drop(t.col, s, names.map(_.split('.').toList))
            TC(c, Some(newType))
          case Some(_: MapType) =>
            TC(map_filter(t.col, (k, _) => !k.isin(names.map(lit(_)): _*)), t.tpe)
          case _ => throw CompileError("without: object required")
        }
      case "explode" | "explode_array" =>
        // value-level explode (methods_structured.go:338): on an array
        // target, an array of parent copies with the target replaced by
        // each element; on an object target, an object keyed like the
        // target whose values are parent copies. Row-producing explosion
        // stays with ops.Unarchive.
        val fld = litStr(0)
        val parent = t.tpe match {
          case Some(s: StructType) if s.fieldNames.contains(fld) => s
          case _ => throw CompileError(
            s"explode: receiver must be an object with field '$fld'")
        }
        val target = t.col.getField(fld)
        def replaced(v: Column) = struct(parent.fields.toIndexedSeq.map { f =>
          (if (f.name == fld) v else t.col.getField(f.name)).as(f.name) }: _*)
        parent.fields(parent.fieldIndex(fld)).dataType match {
          case ArrayType(et, _) =>
            val outF = StructType(parent.fields.map(f =>
              if (f.name == fld) f.copy(dataType = et) else f))
            TC(transform(target, v => replaced(v)), Some(ArrayType(outF)))
          case st: StructType =>
            TC(struct(st.fields.toIndexedSeq.map(f =>
                replaced(target.getField(f.name)).as(f.name)): _*),
              Some(StructType(st.fields.map(f => f.copy(dataType =
                StructType(parent.fields.map(p =>
                  if (p.name == fld) p.copy(dataType = f.dataType) else p)))))))
          case mt: MapType =>
            TC(transform_values(target, (_, v) => replaced(v)),
              Some(MapType(mt.keyType,
                StructType(parent.fields.map(p =>
                  if (p.name == fld) p.copy(dataType = mt.valueType) else p)))))
          case _ => throw CompileError("explode: target must be array or object")
        }
      case other => throw CompileError(s"unknown method .$other()")
    }
  }

  /** Deep merge of two struct values (reference `methods_structured.go:897`):
    * same-named struct fields recurse; colliding scalars/arrays
    * CONCATENATE into an array (the reference's gather-append — see its
    * own doc example: `likes` "bars" + "foos" → ["bars","foos"]);
    * left-only fields are kept. */
  private def deepMerge(l: TC, r: TC): TC = {
    val (a, b) = (l.tpe, r.tpe) match {
      case (Some(x: StructType), Some(y: StructType)) => (x, y)
      case _ => return r
    }
    val names = a.fieldNames.filterNot(b.fieldNames.contains) ++ b.fieldNames
    val merged = names.map { n =>
      (a.fields.find(_.name == n), b.fields.find(_.name == n)) match {
        case (Some(af), Some(bf)) if af.dataType.isInstanceOf[StructType] &&
            bf.dataType.isInstanceOf[StructType] =>
          val sub = deepMerge(
            TC(l.col.getField(n), Some(af.dataType)),
            TC(r.col.getField(n), Some(bf.dataType)))
          (n, sub)
        case (Some(af), Some(bf)) =>
          (n, mergeCollide(TC(l.col.getField(n), Some(af.dataType)),
            TC(r.col.getField(n), Some(bf.dataType))))
        case (_, Some(bf)) => (n, TC(r.col.getField(n), Some(bf.dataType)))
        case (Some(af), None) => (n, TC(l.col.getField(n), Some(af.dataType)))
        case _ => (n, TC(lit(null), None))
      }
    }
    TC(struct(merged.map { case (n, v) => v.col.as(n) }.toIndexedSeq: _*),
      Some(StructType(merged.map { case (n, v) =>
        StructField(n, v.tpe.getOrElse(NullType))
      })))
  }

  /** Colliding non-struct values under merge: arrays concat, scalars
    * gather into an array (heterogeneous types stringify — static
    * schemas need one element type). */
  private def mergeCollide(lv: TC, rv: TC): TC = (lv.tpe, rv.tpe) match {
    case (Some(ArrayType(x, _)), Some(ArrayType(y, _))) if x == y =>
      TC(concat(lv.col, rv.col), lv.tpe)
    case (Some(ArrayType(x, _)), Some(y)) if x == y =>
      TC(concat(lv.col, array(rv.col)), lv.tpe)
    case (Some(x), Some(ArrayType(y, _))) if x == y =>
      TC(concat(array(lv.col), rv.col), rv.tpe)
    case (Some(x), Some(y)) if x == y =>
      TC(array(lv.col, rv.col), Some(ArrayType(x)))
    case _ =>
      TC(array(lv.col.cast(StringType), rv.col.cast(StringType)),
        Some(ArrayType(StringType)))
  }

  private def tsOf(t: TC): Column = t.tpe match {
    case Some(TimestampType) => t.col
    case Some(LongType) | Some(IntegerType) | Some(DoubleType) =>
      timestamp_seconds(t.col)
    case _ => to_timestamp(t.col)
  }

  /** hash returns raw BYTES like the reference (`methods_strings.go:683`);
    * the idiomatic chain is `.hash("sha1").encode("hex")`. */
  private def hashMethod(t: TC, alg: String): TC = alg match {
    case "md5" => TC(unhex(md5(t.col.cast(BinaryType))), Some(BinaryType))
    case "sha1" => TC(unhex(sha1(t.col.cast(BinaryType))), Some(BinaryType))
    case "sha256" => TC(unhex(sha2(t.col.cast(BinaryType), 256)), Some(BinaryType))
    case "sha512" => TC(unhex(sha2(t.col.cast(BinaryType), 512)), Some(BinaryType))
    case "xxhash64" =>
      TC(unhex(lpad(hex(xxhash64(t.col)), 16, "0")), Some(BinaryType))
    case "crc32" =>
      TC(unhex(lpad(hex(crc32(t.col.cast(BinaryType))), 8, "0")), Some(BinaryType))
    case o => throw CompileError(s"hash: unsupported algorithm $o")
  }

  private def sliceMethod(t: TC, args: List[Expr], ctx: Ctx): TC = {
    val low = compile(args.head, ctx).col.cast(IntegerType)
    val len: Column = if (t.isArray) size(t.col) else length(t.col)
    val hi = args.lift(1).map(a => compile(a, ctx).col.cast(IntegerType))
    val lowIdx = when(low >= 0, low).otherwise(greatest(len + low, lit(0)))
    val hiIdx = hi.map(h => when(h >= 0, least(h, len)).otherwise(len + h)).getOrElse(len)
    val sliceLen = greatest(hiIdx - lowIdx, lit(0))
    if (t.isArray) TC(slice(t.col, lowIdx + 1, sliceLen), t.tpe)
    else TC(t.col.substr(lowIdx + 1, sliceLen), Some(StringType))
  }

}
