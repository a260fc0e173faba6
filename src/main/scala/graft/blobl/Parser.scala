package graft.blobl

import Ast._

final case class ParseError(msg: String, pos: Int) extends RuntimeException(s"$msg (at offset $pos)")

/** Hand-rolled lexer + recursive-descent parser for Bloblang mappings.
  *
  * Grammar per the reference combinator parsers
  * (`internal/bloblang/parser/mapping_parser.go:51-101` statements;
  * `query_arithmetic_parser.go` precedence; `query_expression_parser.go`
  * if/match/lambda; `query_function_parser.go` functions & method chains).
  * Operator precedence (loosest → tightest): `|` (coalesce), `||`, `&&`,
  * comparisons, `+ -`, `* / %`, unary, postfix (field/method/index).
  */
object Parser {

  // ---------------- Lexer ----------------
  sealed trait Tok { def pos: Int }
  final case class TIdent(s: String, pos: Int) extends Tok
  final case class TNum(s: String, pos: Int) extends Tok
  final case class TStr(s: String, pos: Int) extends Tok
  final case class TOp(s: String, pos: Int) extends Tok
  final case class TVar(s: String, pos: Int) extends Tok
  final case class TEOF(pos: Int) extends Tok

  private val ops = List(
    "&&", "||", "==", "!=", ">=", "<=", "=>", "->",
    "|", ">", "<", "+", "-", "*", "/", "%", "!", "=",
    ".", ",", "(", ")", "[", "]", "{", "}", ":")

  def lex(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r') i += 1
      else if (c == '#') { while (i < n && src.charAt(i) != '\n') i += 1 }
      else if (c == '"') {
        val (s, j) = lexString(src, i)
        out += TStr(s, i); i = j
      } else if (c.isDigit) {
        val start = i
        // a '.' continues the number only when a digit follows — so path
        // segments like `this.0.keys()` lex as [0][.][keys], not "0."
        while (i < n && (src.charAt(i).isDigit ||
          (src.charAt(i) == '.' && i + 1 < n && src.charAt(i + 1).isDigit) ||
          src.charAt(i) == 'e' || src.charAt(i) == 'E' ||
          ((src.charAt(i) == '+' || src.charAt(i) == '-') && i > start &&
            (src.charAt(i - 1) == 'e' || src.charAt(i - 1) == 'E')))) i += 1
        out += TNum(src.substring(start, i), start)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_')) i += 1
        out += TIdent(src.substring(start, i), start)
      } else if (c == '$') {
        val start = i; i += 1
        val s0 = i
        while (i < n && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_')) i += 1
        if (i == s0) throw ParseError("expected variable name after $", start)
        out += TVar(src.substring(s0, i), start)
      } else {
        ops.find(op => src.startsWith(op, i)) match {
          case Some(op) => out += TOp(op, i); i += op.length
          case None => throw ParseError(s"unexpected character '$c'", i)
        }
      }
    }
    out += TEOF(n)
    out.result()
  }

  private def lexString(src: String, start: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = start + 1
    val n = src.length
    while (i < n && src.charAt(i) != '"') {
      val c = src.charAt(i)
      if (c == '\\' && i + 1 < n) {
        src.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' =>
            val hex = src.substring(i + 2, math.min(i + 6, n))
            sb.append(Integer.parseInt(hex, 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    if (i >= n) throw ParseError("unterminated string", start)
    (sb.toString, i + 1)
  }

  // ---------------- Parser state ----------------
  private final class P(toks: Vector[Tok]) {
    var pos = 0
    // recursion guard: bounded nesting so hostile/degenerate input yields
    // a ParseError diagnostic instead of a JVM StackOverflowError
    var depth = 0
    def enter(): Unit = {
      depth += 1
      // 40 levels × ~10 recursive-descent frames each (~400 frames) fits
      // any JVM thread stack; 100 was still observed to overflow on
      // concurrent test-runner threads, and real mappings nest < 20
      if (depth > 40)
        throw ParseError("expression nesting too deep (limit 40)", peek.pos)
    }
    def exit(): Unit = depth -= 1
    def peek: Tok = toks(pos)
    def peek2: Tok = toks(math.min(pos + 1, toks.length - 1))
    def next(): Tok = { val t = toks(pos); pos += 1; t }
    def expectOp(op: String): Unit = peek match {
      case TOp(`op`, _) => pos += 1
      case t => throw ParseError(s"expected '$op' but found $t", t.pos)
    }
    def isOp(op: String): Boolean = peek match {
      case TOp(`op`, _) => true; case _ => false
    }
    def eatOp(op: String): Boolean = { val r = isOp(op); if (r) pos += 1; r }
    def isIdent(s: String): Boolean = peek match {
      case TIdent(`s`, _) => true; case _ => false
    }
  }

  def parseMapping(src: String): Program = {
    val p = new P(lex(src))
    val stmts = List.newBuilder[Stmt]
    while (!p.peek.isInstanceOf[TEOF]) stmts += parseStmt(p)
    Program(stmts.result())
  }

  /** A single expression (for condition fields / interpolations). */
  def parseQueryString(src: String): Expr = {
    val p = new P(lex(src))
    val e = parseQuery(p)
    if (!p.peek.isInstanceOf[TEOF])
      throw ParseError(s"trailing input after expression: ${p.peek}", p.peek.pos)
    e
  }

  private def parseStmt(p: P): Stmt = p.peek match {
    case TIdent("root", _) =>
      p.next()
      val segs = parsePathSegs(p)
      p.expectOp("=")
      Assign(RootPath(segs), parseQuery(p))
    case TIdent("meta", _) =>
      p.next()
      val key = p.peek match {
        case TIdent(s, _) if s != "=" => p.next(); Some(s)
        case TStr(s, _) => p.next(); Some(s)
        case _ => None
      }
      p.expectOp("=")
      Assign(MetaKey(key), parseQuery(p))
    case TIdent("let", _) =>
      p.next()
      val name = p.next() match {
        case TIdent(s, _) => s
        case TStr(s, _) => s
        case t => throw ParseError("expected variable name after let", t.pos)
      }
      p.expectOp("=")
      Assign(LetVar(name), parseQuery(p))
    case TIdent("import", _) if p.peek2.isInstanceOf[TStr] =>
      p.next()
      ImportFile(p.next().asInstanceOf[TStr].s)
    case TIdent("from", _) if p.peek2.isInstanceOf[TStr] =>
      p.next()
      FromFile(p.next().asInstanceOf[TStr].s)
    case TIdent("map", _)
        if p.peek2.isInstanceOf[TIdent] || p.peek2.isInstanceOf[TStr] =>
      p.next()
      val name = p.next() match {
        case TIdent(s, _) => s
        case TStr(s, _) => s
        case t => throw ParseError("expected map name", t.pos)
      }
      p.expectOp("{")
      val stmts = List.newBuilder[Stmt]
      while (!p.isOp("}")) stmts += parseStmt(p)
      p.expectOp("}")
      MapDef(name, stmts.result())
    case TIdent(_, _) =>
      // v3 naked forms (mapping_parser.go statement parser): a bare
      // path target `foo.bar = q` is sugar for `root.foo.bar = q`
      // ("simple json map 2"), and a bare query Q with no assignment
      // is `root = Q` ("compressed arithmetic" / the blobl CLI form).
      val save = p.pos
      val isNakedAssign = {
        p.next()
        val pathOk =
          try { parsePathSegs(p); true } catch { case _: ParseError => false }
        val ok = pathOk && p.isOp("=")
        p.pos = save
        ok
      }
      if (isNakedAssign) {
        val first = p.next().asInstanceOf[TIdent].s
        val segs = parsePathSegs(p)
        p.expectOp("=")
        Assign(RootPath(first :: segs), parseQuery(p))
      } else Assign(RootPath(Nil), parseQuery(p))
    case t => throw ParseError(s"expected statement (root/meta/let/map) but found $t", t.pos)
  }

  private def parsePathSegs(p: P): List[String] = {
    val segs = List.newBuilder[String]
    while (p.isOp(".")) {
      p.next()
      p.next() match {
        case TIdent(s, _) => segs += s
        case TStr(s, _) => segs += s
        case t => throw ParseError("expected path segment", t.pos)
      }
    }
    segs.result()
  }

  // ---------------- Expressions ----------------
  def parseQuery(p: P): Expr = parsePipe(p)

  private def parsePipe(p: P): Expr = {
    p.enter()
    try {
      var l = parseOr(p)
      while (p.isOp("|")) { p.next(); l = BinOp("|", l, parseOr(p)) }
      l
    } finally p.exit()
  }
  private def parseOr(p: P): Expr = {
    var l = parseAnd(p)
    while (p.isOp("||")) { p.next(); l = BinOp("||", l, parseAnd(p)) }
    l
  }
  private def parseAnd(p: P): Expr = {
    var l = parseCmp(p)
    while (p.isOp("&&")) { p.next(); l = BinOp("&&", l, parseCmp(p)) }
    l
  }
  private def parseCmp(p: P): Expr = {
    val l = parseAdd(p)
    p.peek match {
      case TOp(op @ ("==" | "!=" | ">" | "<" | ">=" | "<="), _) =>
        p.next(); BinOp(op, l, parseAdd(p))
      case _ => l
    }
  }
  private def parseAdd(p: P): Expr = {
    var l = parseMul(p)
    var done = false
    while (!done) p.peek match {
      case TOp(op @ ("+" | "-"), _) => p.next(); l = BinOp(op, l, parseMul(p))
      case _ => done = true
    }
    l
  }
  private def parseMul(p: P): Expr = {
    var l = parseUnary(p)
    var done = false
    while (!done) p.peek match {
      case TOp(op @ ("*" | "/" | "%"), _) => p.next(); l = BinOp(op, l, parseUnary(p))
      case _ => done = true
    }
    l
  }
  private def parseUnary(p: P): Expr = p.peek match {
    case TOp("-", _) =>
      p.enter()
      try { p.next(); Neg(parseUnary(p)) } finally p.exit()
    case TOp("!", _) =>
      p.enter()
      try { p.next(); Not(parseUnary(p)) } finally p.exit()
    case _ => parsePostfix(p)
  }

  private def parsePostfix(p: P): Expr = {
    var e = parsePrimary(p)
    var done = false
    while (!done) {
      if (p.isOp(".")) {
        p.next()
        p.peek match {
          // numeric path segment: `this.0` == `this.index(0)` (the
          // reference's path grammar allows array indices as segments)
          case TNum(s, _) if s.forall(_.isDigit) =>
            p.next()
            e = IndexOp(e, LitLong(s.toLong))
          case _ =>
            val name = p.next() match {
              case TIdent(s, _) => s
              case TStr(s, _) => s
              case t => throw ParseError("expected field or method name after '.'", t.pos)
            }
            if (p.isOp("(")) {
              e = MethodCall(e, name, parseArgs(p))
            } else e = Field(e, name)
        }
      } else if (p.isOp("[")) {
        p.next()
        val idx = parseQuery(p)
        p.expectOp("]")
        e = IndexOp(e, idx)
      } else done = true
    }
    e
  }

  private def parseArgs(p: P): List[Expr] = {
    p.expectOp("(")
    val args = List.newBuilder[Expr]
    if (!p.isOp(")")) {
      args += parseQuery(p)
      while (p.eatOp(",")) args += parseQuery(p)
    }
    p.expectOp(")")
    args.result()
  }

  private def parsePrimary(p: P): Expr = p.peek match {
    case TNum(s, _) =>
      p.next()
      if (s.contains('.') || s.contains('e') || s.contains('E')) LitDouble(s.toDouble)
      else LitLong(s.toLong)
    case TStr(s, _) => p.next(); LitString(s)
    case TVar(s, _) => p.next(); VarRef(s)
    case TOp("(", _) =>
      p.next(); val e = parseQuery(p); p.expectOp(")"); e
    case TOp("[", _) =>
      p.next()
      val items = List.newBuilder[Expr]
      if (!p.isOp("]")) {
        items += parseQuery(p)
        // trailing commas allowed (reference literal grammar)
        while (p.eatOp(",") && !p.isOp("]")) items += parseQuery(p)
      }
      p.expectOp("]")
      LitArray(items.result())
    case TOp("{", _) =>
      p.next()
      val fields = List.newBuilder[(Expr, Expr)]
      if (!p.isOp("}")) {
        fields += parseObjField(p)
        // trailing commas allowed (reference literal grammar)
        while (p.eatOp(",") && !p.isOp("}")) fields += parseObjField(p)
      }
      p.expectOp("}")
      LitObject(fields.result())
    case TIdent("true", _) => p.next(); LitBool(true)
    case TIdent("false", _) => p.next(); LitBool(false)
    case TIdent("null", _) => p.next(); LitNull
    case TIdent("this", _) => p.next(); This
    case TIdent("if", _) => parseIf(p)
    case TIdent("match", _) => parseMatch(p)
    case TIdent(name, _) if p.peek2 == TOp("->", p.peek2.pos) =>
      p.next(); p.next(); Lambda(name, parseQuery(p))
    case TIdent(name, _) =>
      p.next()
      if (p.isOp("(")) FnCall(name, parseArgs(p))
      else FnCall(name, Nil) // bare identifier: lambda param, function, or
                             // naked field path — resolved at compile time
    case t => throw ParseError(s"unexpected token $t", t.pos)
  }

  private def parseObjField(p: P): (Expr, Expr) = {
    val k = p.peek match {
      case TStr(s, _) => p.next(); LitString(s)
      case TIdent(s, _) => p.next(); LitString(s)
      case _ =>
        val e = parseQuery(p); e
    }
    p.expectOp(":")
    (k, parseQuery(p))
  }

  private def parseIf(p: P): Expr = {
    p.next() // if
    val branches = List.newBuilder[(Expr, Expr)]
    val cond = parseQuery(p)
    p.expectOp("{")
    val body = parseQuery(p)
    p.expectOp("}")
    branches += ((cond, body))
    var orElse: Option[Expr] = None
    var done = false
    while (!done) {
      if (p.isIdent("else")) {
        p.next()
        if (p.isIdent("if")) {
          p.next()
          val c = parseQuery(p)
          p.expectOp("{")
          val b = parseQuery(p)
          p.expectOp("}")
          branches += ((c, b))
        } else {
          p.expectOp("{")
          orElse = Some(parseQuery(p))
          p.expectOp("}")
          done = true
        }
      } else done = true
    }
    IfExpr(branches.result(), orElse)
  }

  private def parseMatch(p: P): Expr = {
    p.next() // match
    val target = if (p.isOp("{")) This else parseQuery(p)
    p.expectOp("{")
    val cases = List.newBuilder[(Option[Expr], Expr)]
    while (!p.isOp("}")) {
      val pat: Option[Expr] = p.peek match {
        case TIdent("_", _) => p.next(); None
        case _ => Some(parseQuery(p))
      }
      p.expectOp("=>")
      cases += ((pat, parseQuery(p)))
      p.eatOp(",")
    }
    p.expectOp("}")
    MatchExpr(target, cases.result())
  }
}
