package graft.blobl

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Ast._

/** Statement-level Bloblang mapping compiler.
  *
  * Reproduces the reference executor's semantics
  * (`internal/bloblang/mapping/executor.go:116-215`): `root` starts EMPTY
  * (map semantics — untouched mapping = passthrough), assignments write into
  * root/meta/vars in order, `deleted()` drops the row (or field), an `if`
  * with no else yields Nothing (no assignment). The whole mapping compiles to
  * ONE `select` — never a withColumn chain — so Catalyst sees a single
  * projection (SURVEY §3.2).
  */
object Mapping {

  def compile(src: String): CompiledMapping =
    new CompiledMapping(resolveImports(Parser.parseMapping(src), 0))

  /** Resolve `import "file"` (map definitions only, with the reference's
    * no-maps / collision errors — mapping_parser.go importParser) and
    * `from "file"` (whole-mapping splice) statements. */
  private def resolveImports(prog: Program, depth: Int): Program = {
    if (depth > 10) throw CompileError("import nesting too deep")
    val out = prog.stmts.flatMap {
      case ImportFile(path) =>
        val sub = resolveImports(
          Parser.parseMapping(java.nio.file.Files.readString(
            java.nio.file.Paths.get(path))), depth + 1)
        val maps = sub.stmts.collect { case m: MapDef => m }
        if (maps.isEmpty) throw CompileError(s"no maps to import from '$path'")
        maps
      case FromFile(path) =>
        resolveImports(
          Parser.parseMapping(java.nio.file.Files.readString(
            java.nio.file.Paths.get(path))), depth + 1).stmts
      case s => List(s)
    }
    val names = out.collect { case MapDef(n, _) => n }
    val dups = names.diff(names.distinct).distinct
    if (dups.nonEmpty)
      throw CompileError(
        s"map name collisions from import: ${dups.mkString("[", ", ", "]")}")
    Program(out)
  }

  /** Compile a bare Bloblang expression against an envelope DataFrame
    * (`this` = doc, meta/_error/content/batch available). */
  def envelopeExpr(df: DataFrame, src: String): Column = {
    Compiler.compile(Parser.parseQueryString(src), envelopeCtx(df)).col
  }

  /** Per-row-computed `bloblang(mapping)` (plugins/bloblang.go dynamic
    * case): a mapping STRING computed from data has no static Catalyst
    * plan, but realistic uses draw from a SMALL set of distinct mappings
    * — resolve them by probing the data (ONE column-pruned distinct
    * scan, bounded by `limit(MaxDistinct+1)` — never a data-sized
    * collect), then rewrite the call into the compiler's literal-
    * alternatives dispatch (an if-chain over the observed strings).
    * Skipped when the probe can't run (streaming plans, lambda-bound or
    * let-bound selectors, >MaxDistinct values) — those keep the
    * compiler's static error. */
  private val MaxDynamicMappings = 32

  private[blobl] def resolveDynamicBloblang(
      stmts: List[Stmt], df: DataFrame, ctx: Ctx): List[Stmt] = {
    def isStatic(e: Expr): Boolean = e match {
      case LitString(_) => true
      case IfExpr(bs, oe) => bs.forall(b => isStatic(b._2)) && oe.forall(isStatic)
      case MatchExpr(_, cs) => cs.forall(c => isStatic(c._2))
      case _ => false
    }
    def probe(dyn: Expr): Option[List[String]] =
      if (df.isStreaming) None
      else try {
        val c = Compiler.compile(dyn, ctx).col
        val rows = df.select(c.cast(StringType).as("m")).distinct()
          .limit(MaxDynamicMappings + 1).collect()
        val lits = rows.toList.flatMap(r => Option(r.getString(0)))
        if (rows.length > MaxDynamicMappings || lits.isEmpty) None
        else Some(lits)
      } catch { case scala.util.control.NonFatal(_) => None }
    def rwE(e: Expr): Expr = e match {
      case MethodCall(t, "bloblang", List(dyn)) if !isStatic(dyn) =>
        val tR = rwE(t)
        val dynR = rwE(dyn)
        probe(dynR) match {
          case Some(lits) => MethodCall(tR, "bloblang", List(
            IfExpr(lits.map(v =>
              (BinOp("==", dynR, LitString(v)), LitString(v): Expr)),
              // drift guard: a mapping string that appears at EXECUTION
              // time but was absent from the plan-time probe (data
              // mutated between probe and run, concurrent writer) must
              // not silently map to null — the fallback alternative is
              // itself a literal mapping that throws, so the miss rides
              // the error channel like any other mapping error
              Some(LitString(
                """root = throw("unprobed dynamic mapping value")""")))))
          case None => MethodCall(tR, "bloblang", List(dynR))
        }
      case MethodCall(t, n, as) => MethodCall(rwE(t), n, as.map(rwE))
      case FnCall(n, as) => FnCall(n, as.map(rwE))
      case Field(b, n) => Field(rwE(b), n)
      case IndexOp(b, ix) => IndexOp(rwE(b), rwE(ix))
      case BinOp(o, l, r) => BinOp(o, rwE(l), rwE(r))
      case Not(x) => Not(rwE(x))
      case Neg(x) => Neg(rwE(x))
      case IfExpr(bs, oe) =>
        IfExpr(bs.map { case (c, v) => (rwE(c), rwE(v)) }, oe.map(rwE))
      case MatchExpr(t, cs) =>
        MatchExpr(rwE(t), cs.map { case (p, v) => (p.map(rwE), rwE(v)) })
      case Lambda(p, b) => Lambda(p, rwE(b))
      case LitArray(xs) => LitArray(xs.map(rwE))
      case LitObject(fs) =>
        LitObject(fs.map { case (k, v) => (rwE(k), rwE(v)) })
      case SetPath(p, v) => SetPath(p, rwE(v))
      case other => other
    }
    def rwS(s: Stmt): Stmt = s match {
      case Assign(t, v) => Assign(t, rwE(v))
      case MapDef(n, ss) => MapDef(n, ss.map(rwS))
      case other => other
    }
    // cheap pre-scan: only pay the walk+probe when a dynamic node exists
    var found = false
    def scanE(e: Expr): Unit = e match {
      case MethodCall(t, "bloblang", List(dyn)) =>
        if (!isStatic(dyn)) found = true else { scanE(t); scanE(dyn) }
      case MethodCall(t, _, as) => scanE(t); as.foreach(scanE)
      case FnCall(_, as) => as.foreach(scanE)
      case Field(b, _) => scanE(b)
      case IndexOp(b, ix) => scanE(b); scanE(ix)
      case BinOp(_, l, r) => scanE(l); scanE(r)
      case Not(x) => scanE(x)
      case Neg(x) => scanE(x)
      case IfExpr(bs, oe) =>
        bs.foreach { case (c, v) => scanE(c); scanE(v) }; oe.foreach(scanE)
      case MatchExpr(t, cs) =>
        scanE(t); cs.foreach { case (p, v) => p.foreach(scanE); scanE(v) }
      case Lambda(_, b) => scanE(b)
      case LitArray(xs) => xs.foreach(scanE)
      case LitObject(fs) => fs.foreach { case (k, v) => scanE(k); scanE(v) }
      case SetPath(_, v) => scanE(v)
      case _ => ()
    }
    def scanS(s: Stmt): Unit = s match {
      case Assign(_, v) => scanE(v)
      case MapDef(_, ss) => ss.foreach(scanS)
      case _ => ()
    }
    stmts.foreach(scanS)
    if (found) stmts.map(rwS) else stmts
  }

  def envelopeCtx(df: DataFrame): Ctx = {
    import graft.model.Envelope._
    // `this`/json() carry the reference's parse-error semantics ("json
    // catch" vectors): when raw content exists but is not valid JSON and
    // no parsed doc is available, the value is an expression-level ERROR
    // (so `.catch()` fires) rather than a legitimate null (content `null`
    // parses to a JSON null and stays null). The condition only reaches
    // the plan if a catch/or consumes it.
    val parseErr = when(
      col(Content).isNotNull && col(Doc).isNull &&
        try_parse_json(col(Content).cast(StringType)).isNull,
      lit("unable to parse message as JSON"))
    Ctx(
      thisTC = TC(col(Doc), Some(df.schema(Doc).dataType), Some(parseErr)),
      meta = Some(col(Meta)), err = Some(col(Error)), content = Some(col(Content)),
      vars = Map.empty, maps = Map.empty,
      batch = if (df.columns.contains(BatchId)) Some((col(BatchId), col(Seq))) else None)
  }

  private[blobl] def plainCtx(df: DataFrame): Ctx = {
    val docType = StructType(df.schema.fields)
    Ctx(
      thisTC = TC(struct(df.columns.map(col).toIndexedSeq: _*), Some(docType)),
      meta = None, err = None, content = None,
      vars = Map.empty, maps = Map.empty, batch = None)
  }

  /** Value of a named map applied to `ctx.this` (the `.apply(name)` method,
    * nested `map` definitions, and inline branch composition). */
  def compileMapValue(stmts: List[Stmt], ctx: Ctx): TC = {
    val state = new RootState(ctx)
    var c = ctx
    stmts.foreach {
      case Assign(RootPath(segs), v) => state.assignStmt(segs, v, c)
      case Assign(LetVar(n), v) => c = c.withVar(n, Compiler.compile(v, c))
      case Assign(MetaKey(_), _) => () // meta writes inside maps: no-op here
      case MapDef(_, _) => ()
    }
    val base = state.materialize().getOrElse(TC(lit(null), None))
    // throw() inside a nested mapping (map body, bloblang() alternative —
    // incl. the dynamic-dispatch drift guard) must ride the value's error
    // channel, not vanish: there is no _error column at this level to
    // absorb the write, so the enclosing expression's catch/_error
    // handling is the only route out
    if (state.errorWrites.isEmpty) base
    else {
      val thrown = state.errorWrites.foldLeft(
          lit(null).cast(StringType): Column) {
        case (acc, (cond, msg)) => coalesce(acc, when(cond, msg))
      }
      TC(base.col, base.tpe, TC.mergeErr(base.err, Some(thrown)))
    }
  }

  // ---------------- output-document state ----------------

  /** Mutable assignment tree overlaying an optional base value.
    * `root = x` sets base; `root.a.b = y` inserts into the tree;
    * materialization = base.withField overlays or a fresh nested struct. */
  private[blobl] final class Node {
    var base: Option[TC] = None
    val children: mutable.LinkedHashMap[String, Node] = mutable.LinkedHashMap()
    val deletedFields: mutable.LinkedHashSet[String] = mutable.LinkedHashSet()

    def assign(path: List[String], v: TC): Unit = path match {
      case Nil =>
        base = Some(v); children.clear(); deletedFields.clear()
      case h :: rest =>
        deletedFields -= h
        children.getOrElseUpdate(h, new Node).assign(rest, v)
    }

    def delete(path: List[String]): Unit = path match {
      case Nil => base = None; children.clear(); deletedFields.clear()
      case h :: Nil =>
        children.remove(h)
        if (base.isDefined) deletedFields += h
      case h :: rest =>
        children.get(h) match {
          case Some(n) => n.delete(rest)
          case None if base.isDefined => deletedFields += path.mkString(".")
          case None => ()
        }
    }

    def resolve(path: List[String]): TC = path match {
      case Nil => materialize().getOrElse(TC(lit(null), None))
      case h :: rest =>
        children.get(h) match {
          case Some(n) => n.resolve(rest)
          case None => base match {
            case Some(b) => Compiler.accessPath(b, path)
            case None => TC(lit(null), None)
          }
        }
    }

    def isEmpty: Boolean = base.isEmpty && children.isEmpty

    def materialize(): Option[TC] = {
      if (isEmpty) return None
      base match {
        case Some(b) =>
          var c = b.col
          var tpe: Option[StructType] = b.tpe.collect { case s: StructType => s }
          deletedFields.foreach { f =>
            // withField/dropFields PARSE their name — quote odd segments
            c = c.dropFields(graft.model.Envelope.fieldPath(f.split('.').toSeq))
            tpe = tpe.map(s => StructType(s.fields.filterNot(_.name == f.split('.').head)))
          }
          children.foreach { case (name, n) =>
            n.materialize() match {
              case Some(v) =>
                c = c.withField(graft.model.Envelope.fieldRef(name), v.col)
                tpe = tpe.map { s =>
                  val f = StructField(name, v.tpe.getOrElse(NullType))
                  if (s.fieldNames.contains(name))
                    StructType(s.fields.map(x => if (x.name == name) f else x))
                  else StructType(s.fields :+ f)
                }
              case None =>
                c = c.dropFields(graft.model.Envelope.fieldRef(name))
                tpe = tpe.map(s => StructType(s.fields.filterNot(_.name == name)))
            }
          }
          Some(TC(c, tpe))
        case None =>
          val fields = children.toList.flatMap { case (name, n) =>
            n.materialize().map(v => (name, v))
          }
          if (fields.isEmpty) None
          else Some(TC(
            struct(fields.map { case (n, v) => v.col.as(n) }: _*),
            Some(StructType(fields.map { case (n, v) =>
              StructField(n, v.tpe.getOrElse(NullType))
            }))))
      }
    }
  }

  /** Root document state + row-delete conditions for one mapping run. */
  private[blobl] final class RootState(ctx0: Ctx) {
    val root = new Node
    val rowDeletes: mutable.ListBuffer[Column] = mutable.ListBuffer()
    val errorWrites: mutable.ListBuffer[(Column, Column)] = mutable.ListBuffer()

    def assignStmt(segs: List[String], value: Expr, ctx: Ctx): Unit = {
      val rowLevel = segs.isEmpty
      val r = compileAssign(value, ctx, () => root.resolve(segs), rowLevel)
      r.delete.foreach { d => if (rowLevel) rowDeletes += d }
      errorWrites ++= r.errors
      (r.value, r.delete) match {
        case (Some(tc), _) =>
          // an UNCAUGHT expression error flags the message `_error` (the
          // reference's ProcessMessage failure path) — the value lands as
          // null and the row keeps flowing, same posture as throw().
          // Channels that never fire (e.g. the parse check on a
          // content-less envelope) constant-fold away.
          tc.err.foreach(e => errorWrites += ((e.isNotNull, e)))
          root.assign(segs, tc)
        case (None, Some(_)) if !rowLevel => root.delete(segs)
        case _ => ()
      }
    }

    def materialize(): Option[TC] = root.materialize()
    def deleteCond: Option[Column] = rowDeletes.reduceOption(_ || _)
    /** _error value from throw() writes (first matching message wins). */
    def errorCol(orig: Column): Column =
      errorWrites.foldLeft(orig) { case (acc, (cond, msg)) =>
        coalesce(acc, when(cond, msg))
      }
  }

  private def isDeleted(e: Expr): Boolean = e match {
    case FnCall("deleted", _) => true; case _ => false
  }
  private def isNothing(e: Expr): Boolean = e match {
    case FnCall("nothing", _) => true; case _ => false
  }
  private def throwMsg(e: Expr): Option[Expr] = e match {
    case FnCall("throw", List(m)) => Some(m); case _ => None
  }

  /** Result of compiling an assignment RHS: the value to assign (if any),
    * a row/field delete condition, and error-flag writes from `throw()`
    * (reference semantics: throw flags `_error`, the message keeps flowing
    * — `functions.go:700` + `lib/types/interface.go:89-104`). */
  private[blobl] final case class AssignResult(
      value: Option[TC], delete: Option[Column],
      errors: List[(Column, Column)] = Nil)

  /** Compile an assignment RHS handling deleted()/nothing()/throw() in
    * if/match branches. `prev` = current value at the target path (used
    * for Nothing branches). */
  private[blobl] def compileAssign(
      e: Expr, ctx: Ctx, prev: () => TC, rowLevel: Boolean): AssignResult = {
    if (isDeleted(e)) return AssignResult(None, Some(lit(true)))
    if (isNothing(e)) return AssignResult(None, None)
    // `x.catch(deleted())` — the reference's documented "delete
    // non-structured data" idiom (methods.go catch example): when the
    // target errors the message/field is deleted, otherwise the value
    // assigns. With no error channel the null-coalesce approximation
    // applies (delete on null).
    e match {
      case MethodCall(target, "catch", List(f)) if isDeleted(f) =>
        val t = Compiler.compile(target, ctx)
        val cond = t.err.map(_.isNotNull).getOrElse(t.col.isNull)
        return AssignResult(Some(t), Some(cond))
      case _ => ()
    }
    throwMsg(e).foreach { m =>
      return AssignResult(None, None,
        List((lit(true), Compiler.compile(m, ctx).col.cast("string"))))
    }

    def branches(cases: List[(Column, Expr)], orElse: Option[Expr], inner: Ctx): AssignResult = {
      def inert(b: Expr) = isDeleted(b) || isNothing(b) || throwMsg(b).isDefined
      val anyValue = cases.exists(c => !inert(c._2)) || orElse.exists(o => !inert(o))
      // delete/throw conditions: (cond_i && none-of-earlier) per body kind
      var notEarlier: Column = lit(true)
      val delConds = mutable.ListBuffer[Column]()
      val errWrites = mutable.ListBuffer[(Column, Column)]()
      cases.foreach { case (cond, body) =>
        if (isDeleted(body)) delConds += (notEarlier && cond)
        throwMsg(body).foreach(m => errWrites +=
          ((notEarlier && cond, Compiler.compile(m, inner).col.cast("string"))))
        notEarlier = notEarlier && !cond
      }
      orElse.foreach { o =>
        if (isDeleted(o)) delConds += notEarlier
        throwMsg(o).foreach(m => errWrites +=
          ((notEarlier, Compiler.compile(m, inner).col.cast("string"))))
      }
      val del = delConds.reduceOption(_ || _)

      val value: Option[TC] = if (!anyValue) None else {
        lazy val prevTC = prev()
        def bodyCol(body: Expr): (Column, Option[DataType]) =
          if (isDeleted(body) || throwMsg(body).isDefined) (lit(null), None)
          else if (isNothing(body)) (prevTC.col, prevTC.tpe)
          else { val t = Compiler.compile(body, inner); (t.col, t.tpe) }
        val compiled = cases.map { case (cond, body) => (cond, bodyCol(body)) }
        val chain = compiled.tail.foldLeft(
          when(compiled.head._1, compiled.head._2._1)) {
          case (acc, (cond, (col0, _))) => acc.when(cond, col0)
        }
        val elseCol = orElse match {
          case Some(o) if !isDeleted(o) && throwMsg(o).isEmpty => bodyCol(o)._1
          case Some(_) => lit(null)
          case None => prevTC.col
        }
        val tps = compiled.map(_._2._2) ++ orElse.toList.map(o => bodyCol(o)._2)
        val unified = tps.flatten.distinct match {
          case t :: Nil => Some(t)
          case _ => None
        }
        Some(TC(chain.otherwise(elseCol), unified))
      }
      AssignResult(value, del, errWrites.toList)
    }

    e match {
      case IfExpr(bs, orElse) =>
        val cases = bs.map { case (c, b) => (Compiler.compile(c, ctx).col, b) }
        branches(cases, orElse, ctx)
      case MatchExpr(target, cs) =>
        val t = Compiler.compile(target, ctx)
        val inner = ctx.withThis(t)
        var sawDefault = false
        val cases = cs.flatMap {
          case (None, body) => sawDefault = true; Some((lit(true), body))
          case (Some(pat), body) =>
            val pc = Compiler.compile(pat, inner)
            val cond = if (pc.tpe.contains(BooleanType)) pc.col else (t.col === pc.col)
            Some((cond, body))
        }
        branches(cases, if (sawDefault) None else Some(FnCall("nothing", Nil)), inner)
      case other => AssignResult(Some(Compiler.compile(other, ctx)), None)
    }
  }
}

/** A parsed+type-directed Bloblang mapping, applicable to envelope or plain
  * DataFrames. Compilation is per-DataFrame (schema-directed); the result is
  * a single Catalyst projection + optional filter.
  */
final class CompiledMapping(val program: Program,
    env: Map[String, String] = Map.empty) extends Serializable {

  /** Copy with per-run env() overrides (the test runner's `environment`
    * field — lib/service/test/case.go). */
  def withEnv(e: Map[String, String]): CompiledMapping =
    new CompiledMapping(program, e)

  private def mapDefs: Map[String, List[Stmt]] =
    program.stmts.collect { case MapDef(n, s) => n -> s }.toMap

  /** Run on a plain DataFrame (e.g. a TPC-H table): `this` = the row struct;
    * output = root struct expanded back to columns. */
  def applyPlain(df: DataFrame): DataFrame = {
    val ctx = Mapping.plainCtx(df).copy(maps = mapDefs, envOverride = env)
    val (docTC, deleteCond, _, _) = run(df, ctx)
    val filtered = deleteCond.map(c => df.filter(!coalesce(c, lit(false)))).getOrElse(df)
    filtered.select(docTC.col.as("doc")).select(col("doc.*"))
  }

  /** Run on an envelope DataFrame (content/doc/meta/_error/batch_id/seq). */
  def applyEnvelope(df0: DataFrame): DataFrame = {
    import graft.model.Envelope._
    val docType = df0.schema(Doc).dataType
    val hasBatch = df0.columns.contains(BatchId)
    // count() needs a global 1-based stream index: precompute it with the
    // partitioned two-pass assignment instead of a single-partition window
    val usesCount = hasBatch && !df0.isStreaming &&
      Targets.usesFunction(program, "count")
    val df =
      if (usesCount)
        graft.model.Envelope.withGlobalSeq(
          df0, scala.Seq(col(Seq), col(BatchId)), "_graft_count")
      else df0
    val ctx = Ctx(
      thisTC = TC(col(Doc), Some(docType)),
      meta = Some(col(Meta)), err = Some(col(Error)),
      content = Some(col(Content)),
      vars = Map.empty, maps = mapDefs,
      batch = if (hasBatch) Some((col(BatchId), col(Seq))) else None,
      countCol = if (usesCount) Some(col("_graft_count") + lit(1L)) else None,
      envOverride = env)
    val (docTC, deleteCond, metaCol, errCol) = run(df, ctx)
    val filtered = deleteCond.map(c => df.filter(!coalesce(c, lit(false)))).getOrElse(df)
    filtered.select(
      lit(null).cast(BinaryType).as(Content),
      docTC.col.as(Doc),
      metaCol.as(Meta),
      errCol.as(Error),
      col(BatchId).as(BatchId),
      col(Seq).as(Seq))
  }

  /** Shared statement walk. Returns (root doc, row-delete cond, meta col,
    * error col). */
  private def run(df: DataFrame, ctx0: Ctx): (TC, Option[Column], Column, Column) = {
    val state = new Mapping.RootState(ctx0)
    var ctx = ctx0
    var meta: Column = ctx0.meta.getOrElse(
      map().cast(MapType(StringType, StringType)))

    Mapping.resolveDynamicBloblang(program.stmts, df, ctx0).foreach {
      case MapDef(_, _) => ()
      case Assign(RootPath(segs), v) =>
        state.assignStmt(segs, v, ctx.copy(rootMeta = Some(meta)))
      case Assign(LetVar(n), v) =>
        ctx = ctx.withVar(n, Compiler.compile(v, ctx.copy(rootMeta = Some(meta))))
      case Assign(MetaKey(Some(k)), v) =>
        val r = Mapping.compileAssign(
          v, ctx.copy(meta = Some(meta)), () => TC(element_at(meta, lit(k)), Some(StringType)),
          rowLevel = false)
        (r.value, r.delete) match {
          case (Some(tc), _) =>
            meta = map_concat(
              map_filter(meta, (mk, _) => mk =!= lit(k)),
              map(lit(k), tc.col.cast(StringType)))
          case (None, Some(_)) => meta = map_filter(meta, (mk, _) => mk =!= lit(k))
          case _ => ()
        }
      case Assign(MetaKey(None), v) =>
        val r = Mapping.compileAssign(
          v, ctx.copy(meta = Some(meta)),
          () => TC(meta, Some(MapType(StringType, StringType))), rowLevel = false)
        (r.value, r.delete) match {
          case (Some(tc), _) => meta = tc.col.cast(MapType(StringType, StringType))
          case (None, Some(_)) => meta = map().cast(MapType(StringType, StringType))
          case _ => ()
        }
    }
    val doc = state.materialize().getOrElse(ctx0.thisTC) // untouched root = passthrough
    val origErr = ctx0.err.getOrElse(lit(null).cast("string"))
    (doc, state.deleteCond, meta, state.errorCol(origErr))
  }
}
