package graft.blobl

import Ast._

/** jq → Bloblang-AST translator (the `jq` processor,
  * `lib/processor/jq.go`, gojq in the reference). Covers the common
  * value-level subset — `.a.b` paths, `[n]` indexes, `[a:b]` slices,
  * pipes, `//` alternative, `if/elif/else/end`, the `?` error-suppress
  * postfix, string interpolation `"\(expr)"`, arithmetic/comparisons,
  * object/array construction, and the frequent builtins (`map`,
  * `map(select(f))`, `length`, `keys`, `add`, `min`/`max`, `sort`,
  * `sort_by`/`min_by`/`max_by`, `unique`, `join`, `tostring`,
  * `tonumber`, `tojson`/`fromjson`, `del`, `with_entries`,
  * `ascii_downcase`/`ascii_upcase`, `split`, `ltrimstr`/`rtrimstr`,
  * `floor`, `ceil`, `fabs`, `group_by`, `unique_by`, `range`,
  * `capture` (named groups), `env`/`$ENV`, `sub`/`gsub`, `splits`,
  * `index`/`rindex`/`inside`, `utf8bytelength`, `sqrt`/`pow`/`exp`/
  * `log`/`log2`/`log10`, `now`/`todate`/`fromdate`, `error(msg)`,
  * `try f catch g`, `setpath` with a literal path, the type filters
  * `values`/`nulls`/`booleans`/`numbers`/`strings`/`arrays`/`objects`/
  * `iterables`/`scalars`, format strings `@base64`/`@base64d`/`@uri`/
  * `@html`/`@json`/`@text`/`@csv`/`@tsv`/`@sh`, `strftime`/`strptime` (with
  * `mktime`/`gmtime` as timestamp projections so the composed
  * `strptime(f)|mktime` and `now|gmtime|strftime(f)` idioms are exact),
  * `first(g)`/`last(g)`/`any(f)`/`all(f)`, `has`/`in`, `debug`,
  * and — r9 tail — user `def`s (inline macro expansion; filter and
  * `$value` params; recursion is the typed-error boundary), `walk(f)`
  * (static schema expansion with per-node `type`-dispatch folding),
  * `match(re[; flags])` match objects with codepoint offsets,
  * `indices` (string/substring, array/element, array/subarray),
  * `explode`/`implode`, `delpaths`, `pick` (jq 1.7, field paths),
  * `repeat(f)` (bounded like until/while; `limit(n; repeat(f))` slices),
  * `toarray`, `todateiso8601`/`fromdateiso8601`, `isnan`/`isinfinite`/
  * `isnormal`/`infinite`/`nan`, the FULL C-math tail (`sin`..`tanh`,
  * `cbrt`, `exp2`/`exp10`/`pow10`, `trunc`, `rint`/`nearbyint`, `logb`,
  * `significand`, `expm1`/`log1p`, `gamma`/`lgamma`/`lgamma_r`/`tgamma`
  * (Lanczos), `frexp`/`modf`, `atan2(y;x)`, `drem`, `ldexp`/`scalb`/
  * `scalbln`, `nextafter`/`nexttoward`, `copysign`, `fmin`/`fmax`/
  * `fdim`, `fma`), `nth(n)`/`nth(n; g)`, `localtime`/`strflocaltime`
  * (UTC session — ≡ gmtime/strftime, documented), `stderr`,
  * `input_line_number` (0 — no input iterator, matching the reference's
  * gojq compile options), `$metadata` (the part metadata variable,
  * jq.go:114-116), `@base32`/`@base32d`, `$__loc__`,
  * `halt`/`halt_error`, scientific-notation number literals;
  * `input`/`inputs` are a translate-time typed error — the reference
  * compiles gojq without WithInputIter, so they fail there too — by
  * translating onto the
  * Bloblang AST, so the query compiles to Catalyst Columns with no jq
  * runtime. Path update-assignment is supported on ident paths with
  * literal array indexes: `.a.b |= f`, `.xs[0].price = v`, `.xs[-1] += x`
  * (with `.` = the current path value inside `|= f`; the arithmetic
  * flavors' right side sees the root, as gojq). A positive index past
  * the array's end extends it with typed nulls first (gojq setpath —
  * array length is data, not schema); negative indexes address existing
  * positions from the end. Containers are CREATED along the path like
  * jq setpath: an absent field grows the whole chain statically, a null
  * struct/array intermediate becomes an object-of-nulls/empty array
  * before the child set. Residual: an intermediate whose SCHEMA type is
  * scalar is a typed compile error (jq would error at runtime on
  * non-null values but create through null ones — a static schema can't
  * split that).
  *
  * The row-producing generator `.xs[]` IS supported as the leading
  * pipe stage (`.xs[] | f`, `.xs[].a`): `JqProc` compiles the array
  * expression, `posexplode`s it into one envelope row per element,
  * and applies the rest of the query per element. (The reference's jq
  * processor collects MULTIPLE outputs into one part as a JSON array
  * — `lib/processor/jq.go` SetJSON(emitted) — and DROPS the part on
  * zero outputs; row emission is this engine's deliberate superset —
  * per-output rows parallelize downstream at 100 TB where an
  * array-in-one-part cannot — and the zero-output DROP is matched:
  * bare `empty` and top-level `select` filter rows out, and an empty
  * generator stream explodes to zero rows.)
  *
  * Generator forms elsewhere follow COLLECTED semantics (jq's `[g]`):
  * `reduce g as $x (init; upd)` / `foreach g as $x (init; upd)` compile
  * onto Bloblang fold / fold_scan with `.`→accumulator and `$x`→element
  * substitution; `limit(n; g)` slices the collected array; `..` /
  * `recurse` and `paths` (incl. `paths(type-filter)` / `leaf_paths`)
  * expand STATICALLY over the schema (bounded
  * depth, stays in codegen) to array<variant> — and on a VARIANT
  * document (raw-content `fromjson | ..`) run a true runtime walk of
  * the binary variant ([[graft.exprs.VariantWalkExpr]], type filters
  * applied per-node at runtime); `getpath([...])` with a
  * literal path is static field access; `expr as $x | rest` bindings
  * (incl. `[$a,$b]` / `{k:$x}` destructuring) substitute inline with
  * `.` unrebound; `recurse(f)` / `recurse(f; cond)` compile onto a
  * bounded level-expansion (default depth cap 16, overridable via an
  * extra literal-int argument; a frontier still live past the cap
  * errors instead of silently truncating — gojq's unbounded iteration
  * is the boundary; a null scalar-f output ends its branch where gojq
  * would recurse on null forever); `until(cond; f)` / `while(cond; f)`
  * ride the same bounded-iteration machinery (default cap 64,
  * literal-int override ≤1024, error past the cap); `[.xs[] | f]`
  * collects a generator in any VALUE position (array items parse in
  * collected mode and pipe stages after the generator MAP over its
  * outputs — so `{a: [.xs[] | f]}`, `first(.xs[] | f)`,
  * `limit(n; .xs[] | f)` all compile), and NESTED generators flatten
  * (`[.xs[] | .ys[]]` — each mapped element's array concatenates, jq's
  * stream semantics); `recurse(.[])` routes to the same walk as `..`
  * (gojq defines recurse ≡ recurse(.[]?), which iterates object values
  * too — recurse_apply's generator arm only flattens arrays); a BARE
  * generator in a leading-position object value (`{a: .xs[]}`) emits
  * one object per element via the explode machinery, and `.[]` on an
  * OBJECT iterates its values EVERYWHERE — leading position (struct →
  * field values in schema order, map → values, variant →
  * array-else-object at runtime) and collected positions (`[.o[]]`,
  * reduce sources, recurse bodies — the `jq_iter_values` marker
  * type-dispatches at compile; homogeneous objects yield a typed
  * array so folds/arithmetic stay native). Bare generators bind their
  * element as a context VARIABLE over a row-preserving explode (r9) —
  * so root references beside a generator ({a: .xs[], b: .n}) read the
  * pre-explode row, multiple bare generators ({a: .xs[], b: .ys[]})
  * are sequential explodes = jq's cartesian (first varies slowest,
  * incl. the dependent `.xs[].ys[]` form), and a generator among
  * array items ([.a, .xs[], .b]) is segment concatenation.
  *
  * Ordering note: `group_by`/`unique_by` sort null keys FIRST (jq's
  * value order); the cross-TYPE leg of jq's total order cannot arise
  * on a statically-typed key column.
  */
object Jq {

  /** Context-variable name binding the k-th bare generator's element
    * (JqProc explodes each base and binds the element column here, so
    * root `this` stays the ROOT document — `{a: .xs[], b: .n}` binds
    * `b` against the pre-explode row, jq's semantics). */
  private[blobl] def genMarker(k: Int): String = s"__jq_gen_$k"

  def translate(src: String): Expr = {
    val p = new P(src.trim, allowGen = false)
    val e = p.parsePipe()
    p.ws()
    require(p.i >= p.s.length, s"jq: trailing input at ${p.i} in '$src'")
    e
  }

  private[blobl] final class P(val s: String, val allowGen: Boolean) {
    var i = 0
    /** Bases of the bare generators consumed in TOP-LEVEL pipe stages,
      * in source order; the k-th generator's outputs substitute for
      * `VarRef(genMarker(k))` in the expression. Multiple bare
      * generators are jq's CARTESIAN (first varies slowest) — JqProc
      * compiles them as sequential explodes. A base may itself
      * reference an EARLIER marker (`.xs[].ys[]` dependent iteration)
      * or the prior pipe value (`.xs[] | .ys[]` — substituted at parse,
      * see parsePipe). */
    val genBases = scala.collection.mutable.ListBuffer[Expr]()
    def genSeen: Boolean = genBases.nonEmpty
    /** Generators are only legal in TOP-LEVEL pipe stages; locked once
      * a paren or array constructor opens a nested context (parsePipe
      * restores the lock between top-level stages). */
    private var genLocked = false
    /** Collected-generator mode (reduce/foreach/limit argument positions):
      * a trailing `[]` yields the array ITSELF — the jq `[g]` collection
      * semantics — instead of exploding rows. */
    private var collectGen = false
    /** Set when a collected parse consumed a trailing `[]` — recurse(f)
      * uses it to decide whether f emits MANY outputs per value (flatten
      * the level) or one. SCOPED per [[collected]] call: a nested
      * collected parse inside f (first/limit/reduce bodies) must not
      * leak its own `[]` consumption into the enclosing scope's
      * generator detection — `recurse(first(.children[]))` has a SCALAR
      * body even though `first` consumed a `[]` internally. */
    private var collectSawGen = false
    /** The saw-gen flag of the most recent [[collected]] parse — read it
      * immediately after the call; the global is restored on exit. */
    private var lastCollectedSawGen = false
    private def collected[A](f: => A): A = {
      val saveGen = collectGen; val saveSaw = collectSawGen
      collectGen = true; collectSawGen = false
      try f finally {
        lastCollectedSawGen = collectSawGen
        collectGen = saveGen; collectSawGen = saveSaw
      }
    }

    def peek: Char = if (i < s.length) s.charAt(i) else ' '
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def eat(c: Char): Unit = {
      ws(); require(peek == c, s"jq: expected '$c' at $i in '$s'"); i += 1
    }
    def tryEat(tok: String): Boolean = {
      ws()
      if (s.startsWith(tok, i)) { i += tok.length; true } else false
    }
    /** Keyword with a word boundary (so `or` never eats `order`). */
    def tryWord(w: String): Boolean = {
      ws()
      if (s.startsWith(w, i) && (i + w.length >= s.length ||
          { val c = s.charAt(i + w.length); !c.isLetterOrDigit && c != '_' })) {
        i += w.length; true
      } else false
    }

    /** True only for the OUTERMOST parsePipe call (the program's own
      * pipe); nested calls (parens, collected args) consume it. */
    private var inTop = true

    def parsePipe(): Expr = {
      ws()
      while (tryWord("def")) parseDef()
      val top = inTop && allowGen && !collectGen
      inTop = false
      val genBefore = genBases.length
      var l = parseStage()
      ws()
      // `EXPR as PATTERN | REST` (gojq binding incl. destructuring):
      // `.` is NOT rebound. The binding compiles as a ctx-level var
      // (__jq_as__): unlike inline substitution it survives REST's
      // this-rebinding pipe stages (`.d as $dot | 1 | f($dot)` — the
      // substituted `.d` used to resolve against the rebound 1).
      // Expressions that registered a GENERATOR keep the substitution
      // path — the marker machinery rewrites through the substituted
      // tree.
      if (tryWord("as")) {
        val binds = parseBindPattern(l)
        ws(); eat('|')
        genLocked = true
        val rest = parsePipe()
        return if (genBases.length > genBefore) substVars(rest, binds)
        else binds.foldLeft(rest) { case (body, (name, src)) =>
          FnCall("__jq_as__", List(src, Lambda(name, body)))
        }
      }
      while (peek == '|' && !s.startsWith("||", i)) {
        i += 1
        genLocked = true
        if (top) {
          // TOP-LEVEL pipe in explode mode: later stages may also carry
          // bare generators (`.xs[] | .ys[]` — jq iterates ys of each
          // x). `.` inside the stage is the prior pipe value, so any
          // base registered during this stage has its root `this`
          // substituted with the accumulated expression (rebinding-
          // scope-aware, like `|=`); the stage itself rebinds through
          // the usual MatchExpr. Nested contexts lock as usual within
          // the stage; the lock is restored so stage k+1 keeps the
          // privilege.
          val nBefore = genBases.length
          val accBefore = l
          genLocked = false
          val stage = parseStage()
          genLocked = false
          var j = nBefore
          while (j < genBases.length) {
            genBases(j) = substThis(genBases(j), accBefore)
            j += 1
          }
          l = MatchExpr(accBefore, List((None, stage)))
        } else if (collectGen && collectSawGen) {
          // Inside a collected scope, a prior stage's trailing `[]` made
          // the current value the ARRAY of the generator's outputs, so a
          // later pipe stage MAPS over its elements — jq's `.xs[] | f`
          // under collection ([g], limit/first/last args, reduce
          // sources). The stage body uses `this` for the element, same
          // contract as map(f). A NESTED generator stage
          // (`.xs[] | .ys[]`) yields one array per element; flattening
          // the mapped output is exactly jq's stream concatenation, and
          // the saw-gen flag stays up so further stages keep mapping.
          val sawOuter = collectSawGen
          collectSawGen = false
          val stage = parseStage()
          val stageWasGen = collectSawGen
          collectSawGen = sawOuter
          l = stage match {
            // select-shaped stage (select(f), the type filters): jq
            // DROPS rejected elements (empty), so compile to filter —
            // map_each's if/null approximation would emit nulls into
            // the collected stream ([.xs[] | select(. > 2)] on [1,2,3]
            // must be [3], not [null,null,3]; first(.xs[] | select(f))
            // must skip failing elements, not return null).
            case IfExpr(List((cond, This)), Some(LitNull)) =>
              MethodCall(l, "filter", List(Lambda("x", cond)))
            case _ =>
              val mapped = MethodCall(l, "map_each", List(Lambda("x", stage)))
              if (stageWasGen) MethodCall(mapped, "flatten", Nil) else mapped
          }
        } else l = MatchExpr(l, List((None, parseStage()))) // rebind `this`
      }
      l
    }

    /** User `def name(a; $b): body;` definitions (the reference embeds
      * full gojq, jq.go, which supports them): INLINE macro expansion.
      * Filter params are call-by-name and every expression here is pure,
      * so substituting the argument AST at each use site is exact — the
      * body parses eagerly with params bound to placeholder variables,
      * and a call substitutes the argument expressions ([[substVars]]).
      * A value param `$x` also exposes the filter name `x` (jq defines
      * `def f($x): E` as `def f(x): x as $x | E`). Defs are legal at the
      * start of any pipe expression (so `(def f: …; expr)` scopes
      * naturally); visibility is forward-global per program, and
      * redefinition (incl. shadowing a builtin) takes the latest —
      * jq's lexical-from-here-on scope, minus nested shadow restore
      * (a self-reference inside a redefinition resolves to the
      * PREVIOUS def, jq's behavior). SELF-recursive defs unfold inline
      * up to a depth cap ([[RecDefDepthCap]], cumulative node budget
      * for multi-self-call bodies) — exact for recursions that
      * terminate within it; past it the call compiles to an
      * error-channel throw, the recurse/until posture. Boundary
      * (typed error): a bare row-generator body (`def f: .xs[];`)
      * hits the standing generators-only-in-top-level-stages error. */
    private val defs =
      scala.collection.mutable.Map[String, (List[String], Expr)]()
    private val defStack = scala.collection.mutable.Set[String]()
    // arity of the def(s) currently being parsed, so a SELF-call site
    // inside the body knows how many arguments to consume
    private val defSig = scala.collection.mutable.Map[String, List[String]]()
    private var paramScope: Set[String] = Set.empty
    private[blobl] def defParamMarker(n: String): String = "$__defp_" + n
    private def selfMarker(n: String): String = "__jq_self__" + n

    private def parseDef(): Unit = {
      ws()
      val name = ident()
      val params = scala.collection.mutable.ListBuffer[String]()
      ws()
      if (peek == '(') {
        i += 1
        var go = true
        while (go) {
          ws()
          val isVal = tryEat("$")
          params += (if (isVal) "$" else "") + ident()
          go = tryEat(";")
        }
        eat(')')
      }
      eat(':')
      val savedTop = inTop; inTop = false
      val savedLock = genLocked; genLocked = true
      val savedScope = paramScope
      paramScope = paramScope ++ params.map(_.stripPrefix("$"))
      defStack += name
      defSig(name) = params.toList
      val body =
        try parsePipe()
        finally {
          inTop = savedTop; genLocked = savedLock
          paramScope = savedScope; defStack -= name; defSig -= name
        }
      eat(';')
      defs(name) = (params.toList, body)
    }

    /** Depth cap for SELF-recursive defs: the body unfolds inline this
      * many times (each level is exact macro expansion); a call still
      * live past the cap compiles to an error-channel throw — the same
      * bounded posture as recurse/until/while. The node budget stops a
      * multi-self-call body (fib-shaped, 2^depth nodes) from exploding
      * the plan before the depth cap is reached. */
    private val RecDefDepthCap = 16
    private val RecDefNodeBudget = 60000

    private def countNodes(e: Expr): Int = e match {
      case Field(b, _) => 1 + countNodes(b)
      case IndexOp(b, ix) => 1 + countNodes(b) + countNodes(ix)
      case MethodCall(t, _, as) => 1 + countNodes(t) + as.map(countNodes).sum
      case FnCall(_, as) => 1 + as.map(countNodes).sum
      case BinOp(_, l, r) => 1 + countNodes(l) + countNodes(r)
      case Not(x) => 1 + countNodes(x)
      case Neg(x) => 1 + countNodes(x)
      case IfExpr(bs, oe) => 1 + bs.map { case (c, b) =>
        countNodes(c) + countNodes(b) }.sum + oe.map(countNodes).getOrElse(0)
      case MatchExpr(t, cs) => 1 + countNodes(t) + cs.map { case (p, v) =>
        p.map(countNodes).getOrElse(0) + countNodes(v) }.sum
      case Lambda(_, b) => 1 + countNodes(b)
      case LitArray(xs) => 1 + xs.map(countNodes).sum
      case LitObject(fs) => 1 + fs.map { case (k, v) =>
        countNodes(k) + countNodes(v) }.sum
      case SetPath(_, v) => 1 + countNodes(v)
      case _ => 1
    }

    /** Replace every self-call marker `FnCall(selfMarker(name), args)`
      * with `f(args)` — one level only (no recursion into the
      * replacement; `expand` drives the levels). */
    private def rewriteSelf(e: Expr, name: String,
        f: List[Expr] => Expr): Expr = e match {
      case FnCall(n, as) if n == selfMarker(name) => f(as)
      case Field(b, fn) => Field(rewriteSelf(b, name, f), fn)
      case IndexOp(b, ix) =>
        IndexOp(rewriteSelf(b, name, f), rewriteSelf(ix, name, f))
      case MethodCall(t, n, as) =>
        MethodCall(rewriteSelf(t, name, f), n, as.map {
          case Lambda(p, b) => Lambda(p, rewriteSelf(b, name, f))
          case a => rewriteSelf(a, name, f)
        })
      case FnCall(n, as) => FnCall(n, as.map(rewriteSelf(_, name, f)))
      case BinOp(o, l, r) =>
        BinOp(o, rewriteSelf(l, name, f), rewriteSelf(r, name, f))
      case Not(x) => Not(rewriteSelf(x, name, f))
      case Neg(x) => Neg(rewriteSelf(x, name, f))
      case IfExpr(bs, oe) =>
        IfExpr(bs.map { case (c, b) =>
          (rewriteSelf(c, name, f), rewriteSelf(b, name, f)) },
          oe.map(rewriteSelf(_, name, f)))
      case MatchExpr(t, cs) =>
        MatchExpr(rewriteSelf(t, name, f),
          cs.map { case (p, v) =>
            (p.map(rewriteSelf(_, name, f)), rewriteSelf(v, name, f)) })
      case Lambda(p, b) => Lambda(p, rewriteSelf(b, name, f))
      case LitArray(xs) => LitArray(xs.map(rewriteSelf(_, name, f)))
      case LitObject(fs) => LitObject(fs.map { case (k, v) =>
        (rewriteSelf(k, name, f), rewriteSelf(v, name, f)) })
      case SetPath(p, v) => SetPath(p, rewriteSelf(v, name, f))
      case other => other
    }

    private def defParamMap(name: String, params: List[String],
        args: List[Expr]): Map[String, Expr] = {
      require(args.length == params.length,
        s"jq: $name expects ${params.length} argument(s), got ${args.length}")
      params.zip(args).flatMap { case (p, a) =>
        if (p.startsWith("$"))
          List(p -> a, defParamMarker(p.stripPrefix("$")) -> a)
        else List(defParamMarker(p) -> a)
      }.toMap
    }

    /** Unfold a (possibly self-recursive) def body BREADTH-FIRST: every
      * surviving self-call expands one level per pass, so the depth cap
      * and node budget cut the tree at a UNIFORM depth (a depth-first
      * walk with a global budget would let the first branch starve a
      * shallow sibling — fib's `(. - 2 | fib)` at depth 1 must not
      * become the throw while `(. - 1 | …)` unfolds to the cap). Calls
      * still live past the cut compile to an error-channel throw —
      * catchable, the recurse/until posture. */
    private def expandDef(name: String, params: List[String], body: Expr,
        args: List[Expr]): Expr = {
      def bind(as: List[Expr]): Expr = {
        val m = defParamMap(name, params, as)
        if (m.isEmpty) body else substVars(body, m)
      }
      var selfPerBody = 0
      rewriteSelf(body, name, as => {
        selfPerBody += 1; FnCall(selfMarker(name), as)
      })
      // NON-recursive defs keep plain inlining — no cap, no budget (a
      // large composed body must not start throwing a recursion error)
      if (selfPerBody == 0) return bind(args)
      var tree: Expr = FnCall(selfMarker(name), args)
      var markers = 1
      var level = 0
      // the budget is checked against the MEASURED tree (substituted
      // arguments grow it too — f([$x,$x,$x]) triples per level while
      // the body size stays flat), re-counted after every level
      while (markers > 0 && level < RecDefDepthCap &&
          countNodes(tree) <= RecDefNodeBudget) {
        var n = 0
        tree = rewriteSelf(tree, name, as => { n += 1; bind(as) })
        markers = n * selfPerBody
        level += 1
      }
      if (markers > 0)
        tree = rewriteSelf(tree, name, _ => FnCall("throw", List(LitString(
          s"jq: def $name recursion exceeds the inline depth cap " +
            s"($RecDefDepthCap levels / $RecDefNodeBudget nodes) — " +
            "rewrite on reduce/until/recurse"))))
      tree
    }

    /** Inline a user def at its call site: parse `(a1; a2)` argument
      * expressions (in the CALLER's scope) and substitute them for the
      * body's parameter placeholders. */
    private def parseDefArgs(name: String, params: List[String]): List[Expr] =
      if (params.isEmpty) Nil
      else {
        eat('(')
        val savedLock = genLocked; genLocked = true
        val as = scala.collection.mutable.ListBuffer(parsePipe())
        ws()
        while (peek == ';') { i += 1; as += parsePipe(); ws() }
        eat(')')
        genLocked = savedLock
        require(as.length == params.length,
          s"jq: $name expects ${params.length} argument(s), got ${as.length}")
        as.toList
      }

    private def callDef(name: String): Expr = {
      val (params, body) = defs(name)
      val args = parseDefArgs(name, params)
      expandDef(name, params, body, args)
    }

    /** `$x`, `[$a, $b, …]`, or `{key: $x, …}` after `as`. */
    private def parseBindPattern(src: Expr): Map[String, Expr] = {
      ws()
      peek match {
        case '$' => i += 1; Map("$" + ident() -> src)
        case '[' =>
          i += 1
          val out = scala.collection.mutable.Map[String, Expr]()
          var ix = 0L
          var go = true
          while (go) {
            ws(); eat('$')
            out += ("$" + ident()) -> IndexOp(src, LitLong(ix))
            ix += 1
            go = tryEat(",")
          }
          eat(']')
          out.toMap
        case '{' =>
          i += 1
          val out = scala.collection.mutable.Map[String, Expr]()
          var go = true
          while (go) {
            ws()
            val k = ident()
            eat(':'); ws(); eat('$')
            out += ("$" + ident()) -> Field(src, k)
            go = tryEat(",")
          }
          eat('}')
          out.toMap
        case c => throw new IllegalArgumentException(
          s"jq: expected binding pattern after 'as', got '$c' at $i in '$s'")
      }
    }

    /** Inline-substitute bound `$vars` ($-names can't be shadowed by
      * lambda params, so descending everywhere is safe). */
    private def substVars(e: Expr, m: Map[String, Expr]): Expr = e match {
      case VarRef(n) if m.contains(n) => m(n)
      case Field(b, n) => Field(substVars(b, m), n)
      case IndexOp(b, ix) => IndexOp(substVars(b, m), substVars(ix, m))
      case MethodCall(t, n, as) =>
        MethodCall(substVars(t, m), n, as.map {
          case Lambda(p, b) => Lambda(p, substVars(b, m))
          case a => substVars(a, m)
        })
      case FnCall(n, as) => FnCall(n, as.map(substVars(_, m)))
      case BinOp(o, l, r) => BinOp(o, substVars(l, m), substVars(r, m))
      case Not(x) => Not(substVars(x, m))
      case Neg(x) => Neg(substVars(x, m))
      case IfExpr(bs, oe) =>
        IfExpr(bs.map { case (c, b) => (substVars(c, m), substVars(b, m)) },
          oe.map(substVars(_, m)))
      case MatchExpr(tgt, cs) =>
        MatchExpr(substVars(tgt, m),
          cs.map { case (p, v) => (p.map(substVars(_, m)), substVars(v, m)) })
      case Lambda(p, b) => Lambda(p, substVars(b, m))
      case LitArray(xs) => LitArray(xs.map(substVars(_, m)))
      case LitObject(fs) =>
        LitObject(fs.map { case (k, v) => (substVars(k, m), substVars(v, m)) })
      case SetPath(p, v) => SetPath(p, substVars(v, m))
      case other => other
    }

    /** One pipe stage: a jq path assignment `.a.b = expr`
      * (jq_test.go TestJQMutation), an update-assignment
      * `.a.b |= f` / `.a += x` (and the -,*,/,%,// flavors), or a plain
      * expression. In `|= f`, `.` inside f is the CURRENT path value; in
      * the arithmetic forms the right side sees the root `.` (gojq). */
    def parseStage(): Expr = {
      ws()
      val save = i
      if (peek == '.') {
        val segs = tryParsePurePath()
        if (segs.nonEmpty) {
          ws()
          val pathExpr = segs.foldLeft(This: Expr) {
            case (b, PField(n)) => Field(b, n)
            case (b, PIndex(ix)) => IndexOp(b, LitLong(ix))
          }
          if (peek == '=' && !s.startsWith("==", i)) {
            i += 1
            return SetPath(segs, parseAlt())
          } else if (s.startsWith("|=", i)) {
            i += 2
            genLocked = true
            return SetPath(segs, substThis(parseAlt(), pathExpr))
          } else {
            val upd = List("+=", "-=", "*=", "/=", "%=", "//=")
              .find(o => s.startsWith(o, i))
            upd match {
              case Some(o) =>
                i += o.length
                genLocked = true
                val rhs = parseAlt()
                val op = o.dropRight(1)
                return SetPath(segs, BinOp(op, pathExpr, rhs))
              case None => ()
            }
          }
        }
        i = save
      }
      parseAlt()
    }

    /** Replace `.` (This) with `repl` — the `|= f` body where `.` means
      * the current path value. Stops at lambdas, whose `this` is their
      * own element binding, and at pipe stages (MatchExpr cases), whose
      * `this` is the piped value. */
    private def substThis(e: Expr, repl: Expr): Expr = e match {
      case This => repl
      case Field(b, n) => Field(substThis(b, repl), n)
      case IndexOp(b, ix) => IndexOp(substThis(b, repl), substThis(ix, repl))
      case MethodCall(t, n, as) =>
        MethodCall(substThis(t, repl), n, as.map {
          case l @ Lambda(_, _) => l
          case a => substThis(a, repl)
        })
      case FnCall(n, as) => FnCall(n, as.map(substThis(_, repl)))
      case BinOp(o, l, r) => BinOp(o, substThis(l, repl), substThis(r, repl))
      case Not(x) => Not(substThis(x, repl))
      case Neg(x) => Neg(substThis(x, repl))
      case IfExpr(bs, oe) =>
        IfExpr(bs.map { case (c, b) => (substThis(c, repl), substThis(b, repl)) },
          oe.map(substThis(_, repl)))
      case MatchExpr(tgt, cs) => MatchExpr(substThis(tgt, repl), cs)
      case LitArray(xs) => LitArray(xs.map(substThis(_, repl)))
      case LitObject(fs) =>
        LitObject(fs.map { case (k, v) => (substThis(k, repl), substThis(v, repl)) })
      case other => other
    }

    /** `.ident(.ident | [n])*` with nothing else — the assignable-path
      * form, where `[n]` is a LITERAL integer index (negative = from
      * the end); empty list (caller restores position) when it isn't
      * one. */
    private def tryParsePurePath(): List[PathSeg] = {
      val segs = List.newBuilder[PathSeg]
      var n = 0
      var go = true
      while (go) {
        if (peek == '.' && i + 1 < s.length &&
            (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '_')) {
          i += 1
          val st = i
          while (i < s.length &&
            (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
          segs += PField(s.substring(st, i))
          n += 1
        } else if (n > 0 && peek == '[') {
          val save = i
          i += 1; ws()
          val neg = tryEat("-")
          val st = i
          while (i < s.length && s.charAt(i).isDigit) i += 1
          val digits = i > st
          ws()
          if (digits && peek == ']') {
            val v = s.substring(st, i).toLong * (if (neg) -1 else 1)
            i += 1
            segs += PIndex(v)
            n += 1
          } else { i = save; go = false }
        } else go = false
      }
      if (n == 0) Nil else segs.result()
    }
    def parseAlt(): Expr = { // `a // b`
      var l = parseOr()
      // jq alternative: null OR false falls back (distinct from the
      // bloblang `|` coalesce, which is null-only — Compiler's `//` case)
      while (tryEat("//")) l = BinOp("//", l, parseOr())
      l
    }
    def parseOr(): Expr = {
      var l = parseAnd()
      while (tryWord("or")) l = BinOp("||", l, parseAnd())
      l
    }
    def parseAnd(): Expr = {
      var l = parseCmp()
      while (tryWord("and")) l = BinOp("&&", l, parseCmp())
      l
    }
    def parseCmp(): Expr = {
      val l = parseAdd()
      ws()
      List("==", "!=", ">=", "<=", ">", "<").find(o => s.startsWith(o, i)) match {
        case Some(o) => i += o.length; BinOp(o, l, parseAdd())
        case None => l
      }
    }
    def parseAdd(): Expr = {
      var l = parseMul()
      var go = true
      while (go) {
        ws()
        if (peek == '+' ) { i += 1; l = BinOp("+", l, parseMul()) }
        else if (peek == '-' && !s.startsWith("//", i)) { i += 1; l = BinOp("-", l, parseMul()) }
        else go = false
      }
      l
    }
    def parseMul(): Expr = {
      var l = parsePostfix()
      var go = true
      while (go) {
        ws()
        if (peek == '*') { i += 1; l = BinOp("*", l, parsePostfix()) }
        else if (peek == '/' && !s.startsWith("//", i)) { i += 1; l = BinOp("/", l, parsePostfix()) }
        else if (peek == '%') { i += 1; l = BinOp("%", l, parsePostfix()) }
        else go = false
      }
      l
    }

    def parsePostfix(): Expr = {
      var e = parsePrimary()
      var go = true
      while (go) {
        ws()
        if (peek == '.' && i + 1 < s.length && (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '_')) {
          i += 1
          e = Field(e, ident())
        } else if (peek == '[') {
          i += 1; ws()
          e = bracket(e)
        } else if (peek == '?') {
          i += 1
          e = MethodCall(e, "catch", List(LitNull))
        } else go = false
      }
      e
    }

    /** After the '[': generator `]`, string key `"k"]`, index `n]`, or
      * slice `a:b]` (either bound optional, negatives from the end). */
    private def bracket(e: Expr): Expr = {
      if (peek == ']') {
        i += 1
        if (collectGen) {
          // collected: the value itself — wrapped in the iter-values
          // marker so OBJECT bases iterate their values like arrays
          // (compile-time type dispatch in the Compiler)
          collectSawGen = true
          MethodCall(e, "jq_iter_values", Nil)
        }
        else {
          require(allowGen && !genLocked,
            "jq: .[] generator only supported in top-level pipe stages " +
              "(collect with [...] inside nested contexts)")
          genBases += e
          VarRef(genMarker(genBases.length - 1))
        }
      } else if (peek == '"') {
        i += 1
        val st = i
        while (i < s.length && s.charAt(i) != '"') i += 1
        val k = s.substring(st, i); i += 1
        eat(']')
        Field(e, k)
      } else {
        def num(): Option[Long] = {
          ws()
          val neg = tryEat("-")
          val st = i
          while (i < s.length && s.charAt(i).isDigit) i += 1
          if (i == st) { require(!neg, s"jq: expected number at $i in '$s'"); None }
          else Some(s.substring(st, i).toLong * (if (neg) -1 else 1))
        }
        val lo = num()
        ws()
        if (peek == ':') {
          i += 1
          val hi = num()
          eat(']')
          MethodCall(e, "slice",
            LitLong(lo.getOrElse(0L)) :: hi.map(h => LitLong(h): Expr).toList)
        } else {
          eat(']')
          IndexOp(e, LitLong(lo.getOrElse(
            throw new IllegalArgumentException(s"jq: expected index at $i in '$s'"))))
        }
      }
    }

    def parsePrimary(): Expr = {
      ws()
      peek match {
        case '.' if i + 1 < s.length && s.charAt(i + 1) == '.' &&
            !(i + 2 < s.length && s.charAt(i + 2) == '.') =>
          // `..` = recurse: all recursive descendants, COLLECTED to an
          // array (the jq [..] form; see recurse_values in the compiler)
          i += 2
          MethodCall(This, "recurse_values", Nil)
        case '.' =>
          i += 1
          if (i < s.length && (s.charAt(i).isLetter || s.charAt(i) == '_'))
            Field(This, ident())
          else This
        case '$' =>
          // jq variable reference ($x from `reduce/foreach ... as $x`);
          // resolved by substitution at the binding site. $ENV is the
          // environment object (gojq).
          i += 1
          val n = ident()
          if (n == "ENV") envObject()
          else if (n == "__loc__")
            // gojq $__loc__: {file, line} of the call site — one-line
            // inline programs, so the constant is exact
            LitObject(List(
              (LitString("file"), LitString("<stdin>")),
              (LitString("line"), LitLong(1L))))
          else VarRef("$" + n)
        case '@' =>
          // jq format strings applied to `.` (`.foo | @base64`). @csv /
          // @tsv follow the jq escaping spec: numbers plain, strings
          // double-quoted with `""` (csv) or tab/newline/return/backslash
          // escapes (tsv).
          i += 1
          val fmt = ident()
          // f sees the element ALREADY stringified (so the escape chain
          // runs on a string even when elements are variants)
          def quoteEach(f: Expr => Expr): Expr =
            MethodCall(This, "map_each", List(Lambda("x",
              IfExpr(List((BinOp("==", MethodCall(This, "type", Nil),
                LitString("string")), f(MethodCall(This, "string", Nil)))),
                Some(MethodCall(This, "string", Nil))))))
          fmt match {
            case "base64" => MethodCall(This, "encode", List(LitString("base64")))
            case "base64d" =>
              MethodCall(MethodCall(This, "decode", List(LitString("base64"))),
                "string", Nil)
            case "base32" =>
              // gojq @base32 (Go encoding/base32, RFC 4648 + padding) —
              // a jq-only scheme: the reference encode PROCESSOR has
              // exactly base64/hex/ascii85/z85 (encode.go:98-104), so
              // this routes through a dedicated method, not `encode`
              MethodCall(This, "jq_base32", Nil)
            case "base32d" =>
              MethodCall(This, "jq_base32d", Nil)
            case "uri" => MethodCall(This, "escape_url_query", Nil)
            case "html" => MethodCall(This, "escape_html", Nil)
            case "json" => MethodCall(This, "format_json", Nil)
            case "text" => MethodCall(This, "string", Nil)
            case "csv" =>
              MethodCall(quoteEach(x => BinOp("+", BinOp("+", LitString("\""),
                MethodCall(x, "replace", List(LitString("\""), LitString("\"\"")))),
                LitString("\""))), "join", List(LitString(",")))
            case "tsv" =>
              MethodCall(quoteEach(x =>
                MethodCall(x, "replace_many", List(LitArray(List(
                  LitString("\\"), LitString("\\\\"), LitString("\t"),
                  LitString("\\t"), LitString("\n"), LitString("\\n"),
                  LitString("\r"), LitString("\\r")))))),
                "join", List(LitString("\t")))
            case "sh" =>
              // POSIX shell single-quoting (jq @sh): strings 'quoted'
              // with embedded ' as '\''; numbers plain; arrays
              // space-joined. Type dispatch is static, so it lives in
              // the compiler (an if-over-types would compile unreached
              // branches against the wrong static type).
              MethodCall(This, "format_sh", Nil)
            case o => throw new IllegalArgumentException(
              s"jq: unsupported format string @$o")
          }
        case '"' =>
          i += 1
          stringLit()
        case '(' =>
          i += 1; genLocked = true; val e = parsePipe(); eat(')'); e
        case '[' =>
          i += 1
          genLocked = true
          // items parse in COLLECTED mode: `[.xs[] | f]` is jq's
          // generator-collection form — the trailing `[]` yields the
          // array and later stages map (parsePipe) — so the bracketed
          // value IS the collected array and the brackets are identity
          val items = scala.collection.mutable.ListBuffer[Expr]()
          val itemGen = scala.collection.mutable.ListBuffer[Boolean]()
          ws()
          if (peek != ']') {
            items += collected(parsePipe()); itemGen += lastCollectedSawGen
            while (tryEat(",")) {
              items += collected(parsePipe()); itemGen += lastCollectedSawGen
            }
          }
          eat(']')
          // recurse/paths/range/splits already yield the collected array
          // (possibly at the end of a pipe) — brackets identity for them
          def collectedGen(e: Expr): Boolean = e match {
            case MethodCall(_,
              "recurse_values" | "recurse_apply" | "iterate_while" |
              "json_paths" | "fold_scan" | "re_split" | "re_scan" |
              "repeat_apply" | "jq_match" | "combinations" |
              "jq_tostream" | "jq_truncate_stream", _) => true
            case FnCall("range", _) => true
            case MatchExpr(_, List((None, r))) => collectedGen(r)
            // an `as`-binding is transparent: its body decides
            case FnCall("__jq_as__", List(_, Lambda(_, b))) => collectedGen(b)
            case _ => false
          }
          items.toList match {
            case List(g) if itemGen.head || collectedGen(g) => g
            case xs if itemGen.exists(identity) ||
                xs.exists(collectedGen) =>
              // mixed items: jq's stream concatenation — [.a, .xs[], .b]
              // = [a] ++ xs ++ [b]. Generator items are already the
              // collected array; scalars wrap as one-element segments.
              val segs = xs.zip(itemGen).map { case (it, g) =>
                if (g || collectedGen(it)) it else LitArray(List(it))
              }
              MethodCall(LitArray(segs), "flatten", Nil)
            case xs => LitArray(xs)
          }
        case '{' =>
          i += 1
          // genLocked is INHERITED, not forced: a bare generator in a
          // leading-position object VALUE (`{a: .xs[]}`) is jq's
          // one-output-object-per-element form. Generator elements bind
          // as context VARIABLES over row-preserving explodes (r9), so
          // root references beside the generator (`{a: .xs[], b: .n}`)
          // read the pre-explode row, and multiple bare generators are
          // sequential explodes — jq's cartesian.
          val fields = scala.collection.mutable.ListBuffer[(Expr, Expr)]()
          ws()
          if (peek != '}') {
            fields += objField()
            while (tryEat(",")) fields += objField()
          }
          eat('}')
          LitObject(fields.toList)
        case '-' =>
          i += 1
          Neg(parsePostfix())
        case c if c.isDigit =>
          val start = i
          while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
          // scientific notation (1e308, 2.5E-3) — JSON number grammar
          if (i < s.length && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
            val save = i
            i += 1
            if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
            if (i < s.length && s.charAt(i).isDigit)
              while (i < s.length && s.charAt(i).isDigit) i += 1
            else i = save // not an exponent (e.g. `3 end`)
          }
          val raw = s.substring(start, i)
          if (raw.contains('.') || raw.contains('e') || raw.contains('E'))
            LitDouble(raw.toDouble)
          else LitLong(raw.toLong)
        case c if c.isLetter || c == '_' =>
          val name = ident()
          name match {
            case "true" => LitBool(true)
            case "false" => LitBool(false)
            case "null" => LitNull
            case "if" => parseIf()
            case "reduce" => parseReduce(scan = false)
            case "foreach" => parseReduce(scan = true)
            case "try" =>
              // `try f catch g` / bare `try f` (≡ f?): f's error routes
              // to the catch value (g sees the outer scope, not the
              // error string — the common constant-fallback uses are
              // exact); bare try maps suppressed output to null, like `?`
              val body = parsePostfix()
              if (tryWord("catch")) MethodCall(body, "catch", List(parsePostfix()))
              else MethodCall(body, "catch", List(LitNull))
            // user defs: params shadow defs, defs shadow builtins (jq)
            case n if paramScope.contains(n) => VarRef(defParamMarker(n))
            case n if defs.contains(n) => callDef(n)
            case n if defStack.contains(n) =>
              // SELF-recursive call: emit a marker carrying the parsed
              // argument ASTs; the outer callDef unfolds it inline up
              // to the depth cap (exact for terminating recursions
              // within it; past it, the error channel — the recurse
              // posture, closing the r8 typed-error boundary)
              FnCall(selfMarker(n), parseDefArgs(n, defSig(n)))
            case _ => builtin(name)
          }
        case c => throw new IllegalArgumentException(s"jq: unexpected '$c' at $i in '$s'")
      }
    }

    /** `reduce SRC as $x (INIT; UPDATE)` / `foreach SRC as $x (INIT;
      * UPDATE)` (gojq in `lib/processor/jq.go` embeds the full forms).
      * SRC parses in collected mode (`.xs[]` = the array), then the pair
      * compiles onto Bloblang fold / fold_scan: inside UPDATE, `.` is the
      * accumulator and `$x` the element — substituted to the fold lambda's
      * {tally, value} binding. foreach emits every intermediate
      * accumulator (collected to an array). */
    private def parseReduce(scan: Boolean): Expr = {
      genLocked = true
      val src = collected(parsePostfix())
      require(tryWord("as"), s"jq: expected 'as' at $i in '$s'")
      ws(); eat('$')
      val v = "$" + ident()
      eat('(')
      val init = parsePipe()
      ws(); eat(';')
      val upd = parsePipe()
      eat(')')
      val p = "__jq_fold__"
      val bound = substFold(upd, v, p)
      // foreach emits every intermediate accumulator — a generator from
      // the enclosing collected scope's perspective; reduce emits one
      if (scan && collectGen) collectSawGen = true
      MethodCall(src, if (scan) "fold_scan" else "fold",
        List(init, Lambda(p, bound)))
    }

    /** In a reduce/foreach UPDATE body: `.` → tally, `$x` → value. Stops
      * at nested lambdas that rebind `this` (their `.` is their own). */
    private def substFold(e: Expr, v: String, p: String): Expr = e match {
      case This => Field(VarRef(p), "tally")
      case VarRef(`v`) => Field(VarRef(p), "value")
      case Field(b, n) => Field(substFold(b, v, p), n)
      case IndexOp(b, ix) => IndexOp(substFold(b, v, p), substFold(ix, v, p))
      case MethodCall(t, n, as) =>
        MethodCall(substFold(t, v, p), n, as.map {
          case l @ Lambda(_, _) => l // inner lambda: its own this-binding
          case a => substFold(a, v, p)
        })
      case FnCall(n, as) => FnCall(n, as.map(substFold(_, v, p)))
      case BinOp(o, l, r) => BinOp(o, substFold(l, v, p), substFold(r, v, p))
      case Not(x) => Not(substFold(x, v, p))
      case Neg(x) => Neg(substFold(x, v, p))
      case IfExpr(bs, oe) =>
        IfExpr(bs.map { case (c, b) => (substFold(c, v, p), substFold(b, v, p)) },
          oe.map(substFold(_, v, p)))
      case MatchExpr(tgt, cs) =>
        // pipe stages compile to MatchExpr; only the TARGET sees the
        // outer bindings — inside the stage `this` is the piped value
        MatchExpr(substFold(tgt, v, p), cs)
      case LitArray(xs) => LitArray(xs.map(substFold(_, v, p)))
      case LitObject(fs) =>
        LitObject(fs.map { case (k, x) => (substFold(k, v, p), substFold(x, v, p)) })
      case other => other
    }

    /** `if c then a (elif c2 then b)* (else z)? end`; no else = identity
      * (jq's if without else passes `.` through unchanged). */
    private def parseIf(): Expr = {
      genLocked = true
      val branches = scala.collection.mutable.ListBuffer[(Expr, Expr)]()
      val c = parsePipe()
      require(tryWord("then"), s"jq: expected 'then' at $i in '$s'")
      branches += ((c, parsePipe()))
      var els: Expr = This
      var done = false
      while (!done) {
        if (tryWord("elif")) {
          val c2 = parsePipe()
          require(tryWord("then"), s"jq: expected 'then' at $i in '$s'")
          branches += ((c2, parsePipe()))
        } else if (tryWord("else")) {
          els = parsePipe()
          require(tryWord("end"), s"jq: expected 'end' at $i in '$s'")
          done = true
        } else {
          require(tryWord("end"), s"jq: expected 'end' at $i in '$s'")
          done = true
        }
      }
      IfExpr(branches.toList, Some(els))
    }

    /** String body after the opening quote: JSON escapes plus jq's
      * `\(expr)` interpolation (each piece stringified and concatenated). */
    private def stringLit(): Expr = {
      val parts = scala.collection.mutable.ListBuffer[Expr]()
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case '(' =>
              i += 2
              genLocked = true
              if (sb.nonEmpty) { parts += LitString(sb.toString); sb.clear() }
              val e = parsePipe()
              eat(')')
              parts += MethodCall(e, "string", Nil)
            case 'n' => sb += '\n'; i += 2
            case 't' => sb += '\t'; i += 2
            case 'r' => sb += '\r'; i += 2
            case '"' => sb += '"'; i += 2
            case '\\' => sb += '\\'; i += 2
            case '/' => sb += '/'; i += 2
            case o => sb += o; i += 2
          }
        } else { sb += c; i += 1 }
      }
      require(i < s.length, s"jq: unterminated string in '$s'")
      i += 1
      if (parts.isEmpty) LitString(sb.toString)
      else {
        if (sb.nonEmpty) parts += LitString(sb.toString)
        parts.reduceLeft((a, b) => BinOp("+", a, b))
      }
    }

    private def objField(): (Expr, Expr) = {
      ws()
      if (peek == '"') { // quoted (possibly interpolated) key
        i += 1
        val k = stringLit()
        eat(':')
        (k, parsePipe())
      } else {
        val k = ident()
        eat(':')
        (LitString(k), parsePipe())
      }
    }

    /** Shared tail of `del(...)` / `delpaths([...])`: all-field paths
      * compose onto `without`; one path ending in an array index is
      * path-set surgery via delete_at. */
    private def delFromSegs(paths: List[List[PathSeg]]): Expr = {
      if (paths.forall(_.forall(_.isInstanceOf[PField])))
        MethodCall(This, "without", paths.map(p =>
          LitString(p.collect { case PField(f) => f }.mkString("."))))
      else paths match {
        case List(p) if p.init.forall(_.isInstanceOf[PField]) &&
            p.last.isInstanceOf[PIndex] =>
          val prefix = p.init
          val PIndex(ix) = p.last: @unchecked
          val arrExpr = prefix.foldLeft(This: Expr) {
            case (b, PField(n)) => Field(b, n)
            case (b, PIndex(j)) => IndexOp(b, LitLong(j))
          }
          SetPath(prefix, MethodCall(arrExpr, "delete_at", List(LitLong(ix))))
        case _ => throw new IllegalArgumentException(
          "jq: del/delpaths supports field paths, or ONE path ending in an array index")
      }
    }

    /** Builtins apply to `this` (the piped value). */
    private def builtin(name: String): Expr = {
      def arg(): Expr = {
        eat('('); genLocked = true; val e = parsePipe(); eat(')'); e
      }
      /** `(a; b; c)` — jq's semicolon-separated argument list. */
      def argList(): List[Expr] = {
        eat('('); genLocked = true
        val as = scala.collection.mutable.ListBuffer(parsePipe())
        ws()
        while (peek == ';') { i += 1; ws(); as += parsePipe(); ws() }
        eat(')')
        as.toList
      }
      /** Apply jq regex flags (i/m/s/x → Java inline flags) by prefixing
        * the pattern; `g` is handled by the caller (global vs first). */
      def flagged(re: Expr, flags: String): Expr = {
        val inline = flags.filter("imsx".contains(_))
        if (inline.isEmpty) re
        else re match {
          case LitString(p) => LitString(s"(?$inline)$p")
          case e => BinOp("+", LitString(s"(?$inline)"), e)
        }
      }
      def flagStr(e: Expr): String = e match {
        case LitString(f) => f
        case o => throw new IllegalArgumentException(
          s"jq: regex flags must be a string literal, got $o")
      }
      name match {
        case "length" => MethodCall(This, "length", Nil)
        case "keys" => MethodCall(MethodCall(This, "keys", Nil), "sort", Nil)
        case "keys_unsorted" => MethodCall(This, "keys", Nil)
        case "add" => MethodCall(This, "sum", Nil)
        case "min" => MethodCall(This, "min", Nil)
        case "max" => MethodCall(This, "max", Nil)
        case "sort" => MethodCall(This, "sort", Nil)
        case "unique" => MethodCall(MethodCall(This, "unique", Nil), "sort", Nil)
        case "reverse" => MethodCall(This, "reverse", Nil)
        case "floor" => MethodCall(This, "floor", Nil)
        case "ceil" => MethodCall(This, "ceil", Nil)
        case "round" => MethodCall(This, "round", Nil)
        case "fabs" | "abs" => MethodCall(This, "abs", Nil) // abs: jq 1.7
        case "tostring" => MethodCall(This, "string", Nil)
        case "tonumber" => MethodCall(This, "number", Nil)
        case "tojson" => MethodCall(This, "format_json", Nil)
        case "fromjson" => MethodCall(This, "parse_json", Nil)
        case "ascii_downcase" => MethodCall(This, "lowercase", Nil)
        case "ascii_upcase" => MethodCall(This, "uppercase", Nil)
        case "join" => MethodCall(This, "join", List(arg()))
        case "split" =>
          // 1-arg split is LITERAL (jq); the 2-arg form is regex+flags
          argList() match {
            case List(d) => MethodCall(This, "split", List(d))
            case List(re, f) =>
              MethodCall(This, "re_split", List(flagged(re, flagStr(f))))
            case _ => throw new IllegalArgumentException("jq: split takes 1-2 args")
          }
        case "ltrimstr" => MethodCall(This, "trim_prefix", List(arg()))
        case "rtrimstr" => MethodCall(This, "trim_suffix", List(arg()))
        case "trim" => MethodCall(This, "trim", Nil) // jq 1.8 whitespace trim
        case "ltrim" => // jq 1.8: leading-whitespace trim — (?U) makes
          // \s Unicode-aware (jq trims NBSP/ideographic space too)
          MethodCall(This, "re_replace", List(LitString("(?U)^\\s+"), LitString("")))
        case "rtrim" => // jq 1.8: trailing-whitespace trim
          MethodCall(This, "re_replace", List(LitString("(?U)\\s+$"), LitString("")))
        case "trimstr" =>
          // jq 1.7.1: strip the literal string from BOTH ends
          val t0 = arg()
          MethodCall(MethodCall(This, "trim_prefix", List(t0)),
            "trim_suffix", List(t0))
        case "startswith" => MethodCall(This, "has_prefix", List(arg()))
        case "endswith" => MethodCall(This, "has_suffix", List(arg()))
        case "contains" => MethodCall(This, "contains", List(arg()))
        case "map" =>
          eat('(')
          genLocked = true
          ws()
          // map(select(f)) → filter; map(select(f).path) → filter+map;
          // map(f) → map_each
          if (tryEat("select")) {
            val cond = { eat('('); val c = parsePipe(); eat(')'); c }
            // optional postfix path applied to each selected element
            var proj: Expr = This
            var more = true
            while (more) {
              ws()
              if (peek == '.' && i + 1 < s.length &&
                  (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '_')) {
                i += 1
                proj = Field(proj, ident())
              } else if (peek == '[') {
                i += 1; ws()
                val neg = tryEat("-")
                val st = i
                while (i < s.length && s.charAt(i).isDigit) i += 1
                val n = s.substring(st, i).toLong * (if (neg) -1 else 1)
                eat(']')
                proj = IndexOp(proj, LitLong(n))
              } else more = false
            }
            eat(')')
            val filtered = MethodCall(This, "filter", List(Lambda("x", cond)))
            if (proj == This) filtered
            else MethodCall(filtered, "map_each", List(Lambda("x", proj)))
          } else {
            val body = parsePipe()
            eat(')')
            body match {
              // select-shaped body (select(f), the type filters): jq
              // drops rejected elements (empty), so compile to filter —
              // the null approximation only stands OUTSIDE collections
              case IfExpr(List((cond, This)), Some(LitNull)) =>
                MethodCall(This, "filter", List(Lambda("x", cond)))
              case _ =>
                MethodCall(This, "map_each", List(Lambda("x", body)))
            }
          }
        case "select" =>
          val cond = arg()
          IfExpr(List((cond, This)), Some(LitNull))
        case "not" => Not(This)
        case "transpose" => MethodCall(This, "transpose", Nil)
        case "to_entries" => MethodCall(This, "key_values", Nil)
        case "from_entries" => MethodCall(This, "from_entries", Nil)
        case "with_entries" =>
          // to_entries | map(f) | from_entries (jq manual definition)
          val f = arg()
          MethodCall(
            MethodCall(MethodCall(This, "key_values", Nil),
              "map_each", List(Lambda("x", f))),
            "from_entries", Nil)
        case "del" =>
          // del(.a.b, .c) → without("a.b", "c") (nested paths supported);
          // del(.xs[i]) — a single field-prefixed index path — removes
          // that array position via path-set surgery
          eat('(')
          genLocked = true
          val paths = scala.collection.mutable.ListBuffer[List[PathSeg]]()
          var go = true
          while (go) {
            ws()
            val segs = tryParsePurePath()
            require(segs.nonEmpty, s"jq: del expects a field path at $i in '$s'")
            paths += segs
            go = tryEat(",")
          }
          eat(')')
          delFromSegs(paths.toList)
        case "sort_by" =>
          MethodCall(This, "sort_by", List(Lambda("x", arg())))
        case "group_by" =>
          // groups of key-equal elements ordered by key (jq manual)
          MethodCall(This, "group_by", List(Lambda("x", arg())))
        case "unique_by" =>
          // first element of each group_by group (jq manual definition)
          MethodCall(MethodCall(This, "group_by", List(Lambda("x", arg()))),
            "map_each", List(Lambda("g", IndexOp(VarRef("g"), LitLong(0)))))
        case "range" =>
          // range(n) = 0..n-1; range(a;b); range(a;b;step) — collected
          // to the array (generator semantics; Bloblang range is already
          // stop-exclusive like jq)
          eat('(')
          genLocked = true
          val a0 = parsePipe()
          ws()
          val rest = scala.collection.mutable.ListBuffer[Expr]()
          while (tryEat(";")) rest += parsePipe()
          eat(')')
          rest.toList match {
            case Nil => FnCall("range", List(LitLong(0), a0))
            case more => FnCall("range", a0 :: more)
          }
        case "capture" =>
          // named groups only, as an object (gojq capture)
          MethodCall(This, "re_capture", List(arg()))
        case "env" =>
          // process environment as an object (gojq env/$ENV); static at
          // translate time, which is when the reference reads it too
          envObject()
        case "values" | "nulls" | "booleans" | "numbers" | "strings" |
            "arrays" | "objects" | "iterables" | "scalars" =>
          // jq type filters: select on the value's type, null when the
          // filter rejects (empty approximated as null, as with select)
          def ofType(ts: String*): Expr =
            IfExpr(List((ts.map(t => BinOp("==",
              MethodCall(This, "type", Nil), LitString(t)): Expr)
              .reduceLeft(BinOp("||", _, _)), This)), Some(LitNull))
          name match {
            // NOT `. != null`: SQL three-valued logic makes that NULL
            // (falsy) on every row — type() reports "null" reliably
            case "values" =>
              IfExpr(List((BinOp("!=", MethodCall(This, "type", Nil),
                LitString("null")), This)), Some(LitNull))
            case "nulls" =>
              IfExpr(List((BinOp("==", MethodCall(This, "type", Nil),
                LitString("null")), This)), Some(LitNull))
            case "booleans" => ofType("bool")
            case "numbers" => ofType("number")
            case "strings" => ofType("string")
            case "arrays" => ofType("array")
            case "objects" => ofType("object")
            case "iterables" => ofType("array", "object")
            case _ => ofType("bool", "number", "string") // scalars (non-null)
          }
        case "strftime" =>
          // jq strftime on a timestamp value (epoch seconds or the
          // gmtime passthrough — see gmtime below)
          MethodCall(This, "format_timestamp_strftime", List(arg()))
        case "strptime" =>
          // jq strptime yields a broken-down time consumed by mktime /
          // strftime; here it parses straight to a timestamp, and
          // mktime/gmtime are projections of it — the composed idioms
          // (`strptime(f)|mktime`, `now|gmtime|strftime(f)`) are exact
          MethodCall(This, "parse_timestamp_strptime", List(arg()))
        case "mktime" => MethodCall(This, "format_timestamp_unix", Nil)
        case "gmtime" => This
        // the session timezone is pinned UTC, so local time IS gmtime;
        // divergence from a TZ-set jq process is documented, not silent
        case "localtime" => This
        case "strflocaltime" =>
          MethodCall(This, "format_timestamp_strftime", List(arg()))
        case "debug" => This // identity; the reference logs to stderr
        case "stderr" => This // identity; the reference writes to stderr
        case "input" | "inputs" =>
          // the reference compiles gojq WITHOUT an input iterator
          // (jq.go:114-116 — jqCompileOptions has no WithInputIter), so
          // input/inputs error at runtime there; surface it at
          // translate time instead of silently emitting nothing
          throw new IllegalArgumentException(
            "jq: input/inputs is not available — the jq processor runs " +
              "one document per part with no input iterator " +
              "(lib/processor/jq.go compiles gojq without WithInputIter)")
        case "input_line_number" => LitLong(0) // gojq: 0 without an iterator
        case "min_by" =>
          IndexOp(MethodCall(This, "sort_by", List(Lambda("x", arg()))), LitLong(0))
        case "max_by" =>
          IndexOp(MethodCall(This, "sort_by", List(Lambda("x", arg()))), LitLong(-1))
        case "empty" => LitNull
        case "type" => MethodCall(This, "type", Nil)
        case "has" => MethodCall(This, "exists", List(arg()))
        case "in" =>
          // has, flipped — keys-contains, since the key is dynamic (`.`)
          MethodCall(MethodCall(arg(), "keys", Nil), "contains", List(This))
        case "any" =>
          // any / any(f): disjunction over elements (2-arg generator
          // form out of scope)
          ws()
          if (peek == '(') MethodCall(This, "any", List(Lambda("x", arg())))
          else MethodCall(This, "any", List(Lambda("x", VarRef("x"))))
        case "all" =>
          ws()
          if (peek == '(') MethodCall(This, "all", List(Lambda("x", arg())))
          else MethodCall(This, "all", List(Lambda("x", VarRef("x"))))
        case "first" =>
          // first / first(g): head of the collected generator output
          ws()
          if (peek == '(') {
            eat('('); genLocked = true
            val g = collected(parsePipe()); eat(')')
            IndexOp(g, LitLong(0))
          } else IndexOp(This, LitLong(0))
        case "last" =>
          ws()
          if (peek == '(') {
            eat('('); genLocked = true
            val g = collected(parsePipe()); eat(')')
            IndexOp(g, LitLong(-1))
          } else IndexOp(This, LitLong(-1))
        case "flatten" => MethodCall(This, "flatten", Nil)
        case "test" =>
          // test(re) / test(re; flags)
          argList() match {
            case List(re) => MethodCall(This, "re_match", List(re))
            case List(re, f) =>
              MethodCall(This, "re_match", List(flagged(re, flagStr(f))))
            case _ => throw new IllegalArgumentException("jq: test takes 1-2 args")
          }
        case "until" | "while" =>
          // until(cond; f) / while(cond; f): bounded iteration on the
          // recurse_apply machinery (default cap 64; an extra literal-
          // int argument raises it to ≤1024; past the cap the row
          // errors instead of silently truncating)
          eat('(')
          genLocked = true
          val cond = parsePipe()
          ws(); eat(';')
          val f = parsePipe()
          ws()
          val cap = if (tryEat(";")) parsePipe() match {
            case LitLong(n) => n
            case o => throw new IllegalArgumentException(
              s"jq: $name iteration cap must be an integer literal, got $o")
          } else 64L
          eat(')')
          MethodCall(This,
            if (name == "until") "iterate_until" else "iterate_while",
            List(Lambda("x", cond), Lambda("x", f), LitLong(cap)))
        case "recurse" =>
          // no-arg recurse ≡ `..` (collected, static schema walk);
          // recurse(f) / recurse(f; cond) compile onto the bounded
          // recurse_apply machinery: levels expand to an explicit depth
          // cap (default 16; an extra literal-int argument overrides it,
          // e.g. recurse(.next; . != null; 32)) and a frontier still
          // live past the cap errors instead of silently truncating —
          // gojq's unbounded iteration is the documented boundary.
          // `.[]`-on-objects as f is out of scope (use `..`).
          ws()
          if (peek != '(') MethodCall(This, "recurse_values", Nil)
          else {
            eat('(')
            genLocked = true
            val f = collected(parsePipe())
            val fWasGen = lastCollectedSawGen
            ws()
            val cond = if (tryEat(";")) Some(parsePipe()) else None
            ws()
            val cap = if (tryEat(";")) {
              val c = parsePipe()
              c match {
                case LitLong(n) => n
                case o => throw new IllegalArgumentException(
                  s"jq: recurse depth cap must be an integer literal, got $o")
              }
            } else 16L
            eat(')')
            // recurse(.[]) IS jq's default recurse (gojq defines
            // recurse ≡ recurse(.[]?)): the bare-iterate body walks
            // object values AND array elements, which is exactly the
            // static/variant walk behind `..` — recurse_apply's
            // generator arm only flattens ARRAYS, so route the bare
            // form there instead of leaving it a boundary
            if (fWasGen && f == MethodCall(This, "jq_iter_values", Nil) &&
                cond.isEmpty)
              MethodCall(This, "recurse_values", Nil)
            else MethodCall(This, "recurse_apply", List(
              Lambda("x", f), LitBool(fWasGen),
              cond.map(Lambda("x", _): Expr).getOrElse(LitNull),
              LitLong(cap)))
          }
        case "paths" =>
          // paths / paths(type-filter): the filter forms a static schema
          // walk can decide (numbers/strings/booleans/arrays/objects/
          // scalars/iterables/values); arbitrary predicate filters stay
          // out of scope
          ws()
          if (peek != '(') MethodCall(This, "json_paths", Nil)
          else {
            eat('(')
            val kind = ident()
            eat(')')
            MethodCall(This, "json_paths", List(LitString(kind)))
          }
        case "leaf_paths" =>
          // leaf_paths ≡ paths(scalars) (jq manual definition)
          MethodCall(This, "json_paths", List(LitString("scalars")))
        case "tostream" =>
          // the streaming trio (gojq builtins via lib/processor/jq.go):
          // [path, leaf] events + closing [path] markers, as a runtime
          // variant walk (closing markers need RUNTIME container lengths)
          MethodCall(This, "jq_tostream", Nil)
        case "fromstream" =>
          // fromstream(f): f yields the collected event array; one
          // reconstruction returns the value itself (multiple: the
          // collected array — the engine's generator convention)
          MethodCall(arg(), "jq_fromstream", Nil)
        case "truncate_stream" =>
          // truncate_stream(f) with `.` = depth: drop the first depth
          // path segments of every event; shorter events drop entirely
          MethodCall(arg(), "jq_truncate_stream", List(This))
        case "getpath" =>
          // getpath(["a","b"]) with a literal path array → static access
          arg() match {
            case LitArray(items) =>
              items.foldLeft(This: Expr) {
                case (acc, LitString(k)) => Field(acc, k)
                case (acc, LitLong(n)) => IndexOp(acc, LitLong(n))
                case (_, o) => throw new IllegalArgumentException(
                  s"jq: getpath segments must be literals, got $o")
              }
            case o => throw new IllegalArgumentException(
              s"jq: getpath expects a literal array, got $o")
          }
        case "limit" =>
          // limit(n; g): first n outputs of g — with collected-generator
          // semantics, a slice of the collected array
          eat('(')
          genLocked = true
          val n = parsePipe()
          ws(); eat(';')
          val g = collected(parsePipe())
          eat(')')
          // limit(n; g) is itself a generator (emits up to n outputs):
          // inside an enclosing collected scope — e.g. as a recurse(f)
          // body — its slice output is a LEVEL of many children, so the
          // inner generator-ness propagates outward
          if (collectGen && lastCollectedSawGen) collectSawGen = true
          // limit(k; repeat(f)) cap pushdown (r12): the slice keeps only
          // the first k outputs, so repeat's bounded expansion never
          // needs to run past k — with the default cap 64 the fold ran
          // 63 variant iterations (and O(cap²) accumulator copying) to
          // keep 5 (q178's rep term). repeat's cap truncates SILENTLY by
          // contract, so a lower cap ≥ k yields the identical first-k
          // stream (an early null end shortens both forms the same way).
          // recurse/until are NOT eligible: their caps ERROR when still
          // live, so lowering one changes the error channel. An f that
          // fails past k leaves the error channel unchanged too: the
          // capped form never runs it, and the uncapped form ends the
          // stream at the failed output without flagging the row
          // (repeat_apply does not propagate f's error), so both give
          // the same k outputs and no error (JqSpec pins it).
          val g2 = (n, g) match {
            case (LitLong(k),
                MethodCall(recv, "repeat_apply", List(f, LitLong(cap))))
                if k >= 1 && k < cap =>
              MethodCall(recv, "repeat_apply", List(f, LitLong(k)))
            case _ => g
          }
          MethodCall(g2, "slice", List(LitLong(0), n))
        case "gsub" | "sub" =>
          // sub(re; repl[; flags]) replaces the FIRST match, gsub (or the
          // `g` flag) every match; i/m/s/x flags prefix the pattern
          val (re0, repl, fl) = argList() match {
            case List(r, p) => (r, p, "")
            case List(r, p, f) => (r, p, flagStr(f))
            case _ => throw new IllegalArgumentException(s"jq: $name takes 2-3 args")
          }
          val re = flagged(re0, fl)
          val global = name == "gsub" || fl.contains('g')
          MethodCall(This,
            if (global) "re_replace" else "re_replace_first", List(re, repl))
        case "splits" =>
          // splits(re[; flags]) generator → collected to the split array
          val re = argList() match {
            case List(r) => r
            case List(r, f) => flagged(r, flagStr(f))
            case _ => throw new IllegalArgumentException("jq: splits takes 1-2 args")
          }
          MethodCall(This, "re_split", List(re))
        case "scan" =>
          // scan(re[; flags]) generator → collected to the array of
          // full-match strings (jq's capture-group array flavor — a
          // value-dependent shape — stays out of scope)
          val re = argList() match {
            case List(r) => r
            case List(r, f) => flagged(r, flagStr(f))
            case _ => throw new IllegalArgumentException("jq: scan takes 1-2 args")
          }
          MethodCall(This, "re_scan", List(re))
        case "index" | "rindex" =>
          // Bloblang's index_of/rindex_of return -1 when absent (Go
          // strings.Index); jq yields null — map it here
          val m = if (name == "index") "index_of" else "rindex_of"
          val ix = MethodCall(This, m, List(arg()))
          IfExpr(List((BinOp("==", ix, LitLong(-1)), LitNull)), Some(ix))
        case "inside" =>
          // inside(b) ≡ b contains .
          MethodCall(arg(), "contains", List(This))
        case "utf8bytelength" =>
          MethodCall(MethodCall(This, "bytes", Nil), "length", Nil)
        case "sqrt" => MethodCall(This, "sqrt", Nil)
        case "exp" => MethodCall(This, "exp", Nil)
        case "log" => MethodCall(This, "log", Nil)
        case "log2" => MethodCall(This, "log2", Nil)
        case "log10" => MethodCall(This, "log10", Nil)
        case "pow" =>
          // pow(x; y) — two-arg filter form
          eat('(')
          genLocked = true
          val x = parsePipe()
          ws(); eat(';'); ws()
          val y = parsePipe()
          eat(')')
          MethodCall(x, "pow", List(y))
        case "now" =>
          // seconds since epoch as a float (gojq now)
          BinOp("/", FnCall("timestamp_unix_nano", Nil),
            LitLong(1000000000L))
        case "todate" =>
          // unix seconds → ISO8601 Z (jq todate)
          MethodCall(This, "format_timestamp", List(LitString("2006-01-02T15:04:05Z")))
        case "fromdate" =>
          MethodCall(This, "parse_timestamp_unix", Nil)
        case "error" =>
          // error(msg): catchable via `?` / `//`; uncaught flags `_error`
          FnCall("throw", List(arg()))
        case "setpath" =>
          // setpath([segs]; v) with a LITERAL string path — same machinery
          // as `.a.b = v`
          eat('(')
          genLocked = true
          val p = parsePipe()
          ws(); eat(';'); ws()
          val v = parsePipe()
          eat(')')
          p match {
            case LitArray(items) => SetPath(items.map {
              case LitString(k) => PField(k): PathSeg
              case LitLong(n) => PIndex(n): PathSeg
              case o => throw new IllegalArgumentException(
                s"jq: setpath segments must be string/int literals, got $o")
            }, v)
            case o => throw new IllegalArgumentException(
              s"jq: setpath expects a literal array path, got $o")
          }
        case "delpaths" =>
          // delpaths([["a","b"],["c"]]) — literal path arrays, composed
          // on the same machinery as del
          arg() match {
            case LitArray(paths) => delFromSegs(paths.map {
              case LitArray(items) => items.map {
                case LitString(k) => PField(k): PathSeg
                case LitLong(n) => PIndex(n): PathSeg
                case o => throw new IllegalArgumentException(
                  s"jq: delpaths segments must be string/int literals, got $o")
              }
              case o => throw new IllegalArgumentException(
                s"jq: delpaths expects literal path arrays, got $o")
            })
            case o => throw new IllegalArgumentException(
              s"jq: delpaths expects a literal array of paths, got $o")
          }
        case "match" =>
          // match(re[; flags]): match objects {offset, length, string,
          // captures} with codepoint offsets (gojq); the `g` flag emits
          // every match (an array under collected semantics), otherwise
          // the first (null when no match — the select convention)
          val (re, fl) = argList() match {
            case List(r) => (r, "")
            case List(r, f) => (r, flagStr(f))
            case _ => throw new IllegalArgumentException("jq: match takes 1-2 args")
          }
          val all = MethodCall(This, "jq_match",
            List(flagged(re, fl), LitBool(true)))
          if (fl.contains('g')) {
            if (collectGen) collectSawGen = true // generator: many matches
            all
          } else IndexOp(all, LitLong(0))
        case "indices" =>
          // indices(s): string/substring → codepoint start indices;
          // array/scalar → element positions; array/array → subarray
          // starts (type-dispatched statically in the compiler)
          MethodCall(This, "indices", List(arg()))
        case "explode" => MethodCall(This, "str_explode", Nil)
        case "implode" => MethodCall(This, "str_implode", Nil)
        case "walk" =>
          // walk(f): f applied to every value bottom-up; the recursion
          // expands statically over the schema and f's `type`-dispatch
          // folds per node (see walk_apply in the compiler)
          MethodCall(This, "walk_apply", List(Lambda("x", arg())))
        case "repeat" =>
          // repeat(f): ., f(.), f(f(.)), … — gojq's unbounded generator,
          // bounded here (default cap 64, literal-int override ≤1024);
          // `limit(n; repeat(f))` is the canonical form and slices the
          // collected expansion, so the cap truncates silently (see
          // repeat_apply)
          eat('(')
          genLocked = true
          val f = parsePipe()
          ws()
          val cap = if (tryEat(";")) parsePipe() match {
            case LitLong(n) => n
            case o => throw new IllegalArgumentException(
              s"jq: repeat cap must be an integer literal, got $o")
          } else 64L
          eat(')')
          if (collectGen) collectSawGen = true // generator semantics
          MethodCall(This, "repeat_apply", List(Lambda("x", f), LitLong(cap)))
        case "pick" =>
          // pick(.a.b, .c) — jq 1.7: project ONLY the given field paths
          // (array-index picks are a value-dependent shape — out of scope)
          eat('(')
          genLocked = true
          val paths = scala.collection.mutable.ListBuffer[List[String]]()
          var go = true
          while (go) {
            ws()
            val segs = tryParsePurePath()
            require(segs.nonEmpty && segs.forall(_.isInstanceOf[PField]),
              s"jq: pick expects field paths at $i in '$s'")
            paths += segs.collect { case PField(f) => f }
            go = tryEat(",")
          }
          eat(')')
          def build(prefix: Expr, ps: List[List[String]]): Expr = {
            val heads = ps.map(_.head).distinct
            LitObject(heads.map { h =>
              val subs = ps.filter(_.head == h).map(_.tail)
              val fieldE = Field(prefix, h)
              val v = if (subs.exists(_.isEmpty)) fieldE
                else build(fieldE, subs)
              (LitString(h): Expr, v)
            })
          }
          build(This, paths.toList)
        case "isnan" => MethodCall(This, "is_nan", Nil)
        case "isinfinite" => MethodCall(This, "is_infinite", Nil)
        case "isnormal" => MethodCall(This, "is_normal", Nil)
        case "infinite" => LitDouble(Double.PositiveInfinity)
        case "nan" => LitDouble(Double.NaN)
        case "sin" | "cos" | "tan" | "asin" | "acos" | "atan" | "sinh" |
            "cosh" | "tanh" | "cbrt" | "exp2" | "exp10" | "trunc" |
            "rint" | "nearbyint" | "logb" | "significand" =>
          // C-math tail (gojq math.go binds libm 1:1)
          MethodCall(This,
            if (name == "nearbyint") "rint" else name, Nil)
        case "atan2" =>
          // atan2(y; x) — C argument order
          eat('(')
          genLocked = true
          val y = parsePipe()
          ws(); eat(';'); ws()
          val x = parsePipe()
          eat(')')
          MethodCall(y, "atan2", List(x))
        case "expm1" | "log1p" | "gamma" | "lgamma" | "lgamma_r" |
            "tgamma" | "frexp" | "modf" | "pow10" =>
          // rest of the libm 0-arity tail (gojq math.go): `gamma` and
          // `lgamma_r` are lgamma aliases (log|Γ|, the libm tradition
          // jq inherits); pow10 ≡ exp10; frexp/modf return two-element
          // arrays ([mantissa, exp] / [frac, int])
          MethodCall(This, name match {
            case "gamma" | "lgamma_r" => "lgamma"
            case "pow10" => "exp10"
            case n => n
          }, Nil)
        case "drem" | "ldexp" | "scalb" | "scalbln" | "nextafter" |
            "nexttoward" | "copysign" | "fmin" | "fmax" | "fdim" =>
          // two-arg libm tail — C argument order like atan2; scalb(ln)
          // ≡ ldexp and nexttoward ≡ nextafter at double precision
          eat('(')
          genLocked = true
          val a = parsePipe()
          ws(); eat(';'); ws()
          val b = parsePipe()
          eat(')')
          MethodCall(a, name match {
            case "scalb" | "scalbln" => "ldexp"
            case "nexttoward" => "nextafter"
            case n => n
          }, List(b))
        case "fma" =>
          // fma(a; b; c) = a*b + c, fused (Math.fma)
          eat('(')
          genLocked = true
          val a = parsePipe()
          ws(); eat(';'); ws()
          val b = parsePipe()
          ws(); eat(';'); ws()
          val cc = parsePipe()
          eat(')')
          MethodCall(a, "fma", List(b, cc))
        case "nth" =>
          // nth(n) ≡ .[n]; nth(n; g) indexes the collected generator
          // stream (like first/last, a short stream yields null where
          // jq yields empty — the standing collected-form divergence)
          eat('(')
          genLocked = true
          val n0 = parsePipe()
          ws()
          val r = if (tryEat(";")) { ws(); IndexOp(collected(parsePipe()), n0) }
          else IndexOp(This, n0)
          eat(')')
          r
        case "toarray" =>
          // jq 1.7.1: array unchanged, anything else wraps as [.]
          MethodCall(This, "to_array", Nil)
        case "combinations" =>
          // combinations: cartesian product of the input's inner arrays,
          // collected (jq emits one array per combination)
          if (collectGen) collectSawGen = true
          MethodCall(This, "combinations", Nil)
        case "todateiso8601" =>
          MethodCall(This, "format_timestamp", List(LitString("2006-01-02T15:04:05Z")))
        case "fromdateiso8601" => MethodCall(This, "parse_timestamp_unix", Nil)
        case "halt_error" =>
          // halt_error stops gojq with the input as the message; in a
          // per-row plan the error channel is the analogue (catchable
          // like error(msg), flags `_error` uncaught)
          ws()
          if (peek == '(') { arg(); () } // exit code: no process to stop
          FnCall("throw", List(MethodCall(This, "string", Nil)))
        case "halt" => FnCall("throw", List(LitString("halt")))
        case o => throw new IllegalArgumentException(s"jq: unsupported builtin $o")
      }
    }

    private def envObject(): Expr = {
      // `env.KEY` / `$ENV.KEY` project ONLY the accessed variable into the
      // plan — baking the full environment in as literals would expose
      // every secret (tokens, keys) in df.explain() / the Spark UI SQL tab
      // and bloat each plan by the env size. The bare-object form (`env`
      // with no key access) would embed ALL of it, so it is a translate-
      // time error unless explicitly opted in via the JVM property
      // -Dgraft.jq.env.bare=true (gojq parity for callers who accept the
      // plan-visibility trade).
      ws()
      if (peek == '.' && i + 1 < s.length &&
          (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '_')) {
        i += 1
        val k = ident()
        sys.env.get(k).map(LitString(_): Expr).getOrElse(LitNull)
      } else if (java.lang.Boolean.getBoolean("graft.jq.env.bare"))
        LitObject(sys.env.toList.sortBy(_._1).map { case (k, v) =>
          (LitString(k): Expr, LitString(v): Expr)
        })
      else
        throw new IllegalArgumentException(
          "jq: bare `env`/`$ENV` would bake the entire process environment " +
            "into the compiled plan (visible in explain()/Spark UI); use " +
            "`env.KEY` to project a single variable, or opt in with " +
            "-Dgraft.jq.env.bare=true")
    }

    def ident(): String = {
      ws()
      val start = i
      while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
      require(i > start, s"jq: expected identifier at $start")
      s.substring(start, i)
    }
  }
}

/** `jq` processor: doc := query(doc); a leading `.xs[]` generator stage
  * explodes into one envelope row per element (multi-message output).
  *
  * `wrap = true` selects the reference's exact PART semantics instead
  * (lib/processor/jq.go:231-248): zero outputs drop the part, one
  * output replaces it, MULTIPLE outputs become a single part holding
  * the JSON array of all of them — never more rows out than in. The
  * default (row-per-output) is the documented Spark-native superset:
  * downstream operators see a relation, not an array blob. */
final case class JqProc(query: String, raw: Boolean = false,
    wrap: Boolean = false)
    extends graft.ops.Processor {
  def apply(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.model.Envelope._
    // `raw: true` (JQConfig.Raw, jq.go getPartValue): `.` is the part's
    // raw CONTENT string, not the parsed document
    def baseCtx(frame: org.apache.spark.sql.DataFrame): Ctx = {
      // `$metadata` is bound to the part's metadata object, exactly the
      // reference's gojq variable (jq.go:114-116 WithVariables +
      // :210-213 code.Run(in, metadata))
      val c = Mapping.envelopeCtx(frame).withVar("$metadata",
        TC(col(Meta), Some(frame.schema(Meta).dataType)))
      if (raw) c.copy(thisTC = TC(col(Content).cast(
        org.apache.spark.sql.types.StringType),
        Some(org.apache.spark.sql.types.StringType)))
      else c
    }
    // uncaught expression errors (error(msg), recurse depth cap, …) take
    // the reference failure path: the value nulls, `_error` flags
    def errOut(value: org.apache.spark.sql.Column,
        err: Option[org.apache.spark.sql.Column]) = err match {
      case Some(ec) => (when(ec.isNotNull, lit(null)).otherwise(value),
        coalesce(col(Error), ec))
      case None => (value, col(Error))
    }
    if (this.wrap) {
      // Reference PART semantics (jq.go:231-248): collect every output
      // of the program per part via the collected form `[query]` — the
      // machinery that already handles generators, select-filters and
      // stream commas (so top-level `.a, .b`, which the row-emitting
      // path rejects, works here) — then 0 outputs drop the part, 1
      // output unwraps, >1 stay the array. Variant-typed doc so both
      // arms share a column type. Query errors keep the row with a
      // null doc + _error flag, same as the row path.
      if (query.trim == "empty") return df.filter(lit(false))
      val pw = new Jq.P(s"[${query.trim}]", allowGen = true)
      val ew = pw.parsePipe()
      pw.ws()
      require(pw.i >= pw.s.length,
        s"jq: trailing input at ${pw.i - 1} in '$query'")
      val ctxW = baseCtx(df)
      val r = Compiler.compile(ew, ctxW)
      val (v, errC) = errOut(r.col, r.err)
      val vt = org.apache.spark.sql.types.VariantType
      val doc = when(size(v) === 1, element_at(v, 1).cast(vt))
        .otherwise(v.cast(vt))
      return df
        .filter(v.isNull || size(v) > 0)
        .select(col(Content), doc.as(Doc), col(Meta), errC.as(Error),
          col(BatchId), col(Seq))
    }
    val p = new Jq.P(query.trim, allowGen = true)
    val e = p.parsePipe()
    p.ws()
    require(p.i >= p.s.length, s"jq: trailing input at ${p.i} in '$query'")
    if (!p.genSeen) {
      // Zero jq outputs DROP the part (lib/processor/jq.go: an empty
      // emitted list returns `false, nil` — the message is removed,
      // not nulled). Match it for the shapes a static plan can see:
      // a bare `empty` program drops every row, and a TOP-LEVEL
      // select (alone, or as the final pipe stage) filters rows out
      // instead of emitting null docs.
      if (query.trim == "empty") return df.filter(lit(false))
      val ctx0 = baseCtx(df)
      e match {
        // `select(f)` alone: value unchanged, row dropped on reject
        case IfExpr(List((cond, Ast.This)), Some(Ast.LitNull)) =>
          return df.filter(Compiler.compile(cond, ctx0).col)
        // `expr | select(f)` — the trailing-select chain: the
        // condition sees expr's value; survivors carry that value
        case MatchExpr(tgt,
            List((None, IfExpr(List((cond, Ast.This)), Some(Ast.LitNull))))) =>
          val t = Compiler.compile(tgt, ctx0)
          val c = Compiler.compile(cond, ctx0.withThis(t))
          val (v, errC) = errOut(t.col, t.err)
          return df.filter(c.col)
            .select(col(Content), v.as(Doc), col(Meta), errC.as(Error),
              col(BatchId), col(Seq))
        case _ => ()
      }
      val result = Compiler.compile(e, ctx0)
      val (v, errC) = errOut(result.col, result.err)
      df.select(col(Content), v.as(Doc), col(Meta), errC.as(Error),
        col(BatchId), col(Seq))
    } else {
      // Generators: explode each base in source order (UnarchiveParts
      // seq convention), binding the k-th element as a context VARIABLE
      // so `this` stays the ROOT document throughout — root references
      // beside a generator ({a: .xs[], b: .n}) bind b against the
      // pre-explode row (Spark's explode preserves sibling columns),
      // and multiple bare generators become sequential explodes: jq's
      // cartesian, first generator varying slowest. A base may
      // reference an EARLIER marker (.xs[].ys[] — the dependent form).
      var frame = df
      var vars = Map.empty[String, TC]
      for ((bexpr, k) <- p.genBases.toList.zipWithIndex) {
        val ctx = vars.foldLeft(baseCtx(frame)) {
          case (c, (n, tc)) => c.withVar(n, tc)
        }
        val base = Compiler.compile(bexpr, ctx)
        // `.[]` iterates ARRAYS element-wise; on OBJECTS jq iterates
        // the VALUES in SORTED-key order (gojq), and a VARIANT
        // document tries the array shape first, then the object's
        // values, at runtime
        val baseArr = base.tpe match {
          case Some(st: org.apache.spark.sql.types.StructType) =>
            array(st.fieldNames.sorted.map(f => base.col.getField(f)
              .cast(org.apache.spark.sql.types.VariantType)): _*)
          case Some(_: org.apache.spark.sql.types.MapType) =>
            transform(array_sort(map_keys(base.col)),
              k => element_at(base.col, k))
          case Some(org.apache.spark.sql.types.NullType) =>
            // statically-absent base (`.missing[]` / `.missing[]?`):
            // iterating null is jq's empty stream — zero rows, not a
            // posexplode(NULL) analysis error
            lit(null).cast(org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.VariantType))
          case Some(org.apache.spark.sql.types.VariantType) =>
            coalesce(
              try_variant_get(base.col, "$", "array<variant>"),
              map_values(try_variant_get(base.col, "$", "map<string, variant>")))
          case _ => base.col
        }
        frame = frame
          .select(col("*"), posexplode(baseArr).as(scala.Seq("_pos", s"_g$k")))
          .withColumn(Seq, col(Seq) * 1000000 + col("_pos"))
          .drop("_pos")
        vars += Jq.genMarker(k) ->
          TC(col(s"_g$k"), Some(frame.schema(s"_g$k").dataType))
      }
      val ctx = vars.foldLeft(baseCtx(frame)) {
        case (c, (n, tc)) => c.withVar(n, tc)
      }
      val r = Compiler.compile(e, ctx)
      val (v, errC) = errOut(r.col, r.err)
      frame.select(col(Content), v.as(Doc), col(Meta), errC.as(Error),
        col(BatchId), col(Seq))
    }
  }
}
