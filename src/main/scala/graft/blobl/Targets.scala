package graft.blobl

import Ast._

/** Dependency analysis over mappings: which doc paths a program READS
  * (from `this`) and WRITES (to `root`). The reference uses the same
  * analysis (`QueryTargets`/`AssignmentTargets`,
  * `internal/bloblang/mapping/executor.go:217-243`, `query/target.go`) to
  * auto-order `workflow` branches into a DAG. */
object Targets {

  /** Whether the program calls function `name` anywhere (statements, map
    * definitions, nested expressions). Used by Mapping.applyEnvelope to
    * precompute columns that need a whole-DataFrame pass (e.g. count()). */
  def usesFunction(prog: Program, name: String): Boolean = {
    def inE(e: Expr): Boolean = e match {
      case FnCall(n, args) => n == name || args.exists(inE)
      case other => childrenOf(other).exists(inE)
    }
    def inStmts(stmts: List[Stmt]): Boolean = stmts.exists {
      case Assign(_, v) => inE(v)
      case MapDef(_, ss) => inStmts(ss)
    }
    inStmts(prog.stmts)
  }

  /** Doc paths read from `this` anywhere in the program. */
  def queryPaths(prog: Program): Set[List[String]] = {
    val out = scala.collection.mutable.Set[List[String]]()
    def walkE(e: Expr): Unit = {
      pathOf(e) match {
        case Some(p) => out += p
        case None => childrenOf(e).foreach(walkE)
      }
    }
    prog.stmts.foreach {
      case Assign(_, v) => walkE(v)
      case MapDef(_, stmts) => stmts.foreach { case Assign(_, v) => walkE(v); case _ => () }
    }
    out.toSet
  }

  /** `this`-rooted field chain (this.a.b → [a,b]; bare `this` → []) or
    * `json("a.b")`. */
  private def pathOf(e: Expr): Option[List[String]] = e match {
    case This => Some(Nil)
    case FnCall("json", LitString(p) :: Nil) =>
      Some(p.split('.').toList.filter(_.nonEmpty))
    case FnCall("json", Nil) => Some(Nil)
    case Field(base, name) => pathOf(base).map(_ :+ name)
    case _ => None
  }

  private def childrenOf(e: Expr): List[Expr] = e match {
    case LitArray(items) => items
    case LitObject(fields) => fields.flatMap { case (k, v) => List(k, v) }
    case Field(base, _) => List(base)
    case IndexOp(b, i) => List(b, i)
    case FnCall(_, args) => args
    case MethodCall(t, _, args) => t :: args
    case BinOp(_, l, r) => List(l, r)
    case Not(x) => List(x)
    case Neg(x) => List(x)
    case IfExpr(bs, oe) => bs.flatMap { case (c, v) => List(c, v) } ++ oe.toList
    case MatchExpr(t, cs) => t :: cs.flatMap { case (p, v) => p.toList :+ v }
    case Lambda(_, b) => List(b)
    case SetPath(_, v) => List(v)
    case _ => Nil
  }

  /** True when a write to `w` affects a read of `r` (prefix overlap in
    * either direction; whole-root involvement always overlaps). */
  def overlaps(w: List[String], r: List[String]): Boolean =
    w.zip(r).forall { case (a, b) => a == b }
}
