package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.blobl.{Mapping => Blobl}
import graft.model.Envelope._

/** Flow-control / composition operators (SURVEY §2.1 flow table). */
object FlowOps {

  /** `switch` (`lib/processor/switch.go`): case list, first matching case
    * wins, rows matching no case drop. A case with check None is a default
    * (matches everything unmatched). Routed by [[Router]]: cases that are
    * pure maps/filters fuse into one projection. */
  final case class Switch(cases: scala.Seq[(Option[String], scala.Seq[Processor])]) extends Processor {
    def apply(df: DataFrame): DataFrame =
      Router(df, cases.map { case (check, procs) =>
        check.map(Blobl.envelopeExpr(df, _)).getOrElse(lit(true)) -> Pipeline(procs)
      })
  }

  /** `conditional` (deprecated two-armed switch). */
  def conditional(check: String, ifTrue: scala.Seq[Processor], ifFalse: scala.Seq[Processor]): Switch =
    Switch(scala.Seq(Some(check) -> ifTrue, None -> ifFalse))

  /** `while` (`lib/processor/while.go`): fixpoint loop over the pipeline,
    * driver-side iteration bounded by maxLoops (batch-mode only, like the
    * reference). The condition is evaluated per-row; rows failing it stop
    * being processed. */
  final case class WhileProc(check: String, children: scala.Seq[Processor], maxLoops: Int)
      extends Processor {
    def apply(df: DataFrame): DataFrame = {
      var done = df.filter(!coalesce(Blobl.envelopeExpr(df, check), lit(false)))
      var active = df.filter(coalesce(Blobl.envelopeExpr(df, check), lit(false)))
      var i = 0
      while (i < maxLoops) {
        val next = Pipeline(children)(active)
        val cond = coalesce(Blobl.envelopeExpr(next, check), lit(false))
        done = done.unionByName(next.filter(!cond))
        active = next.filter(cond)
        i += 1
      }
      done.unionByName(active)
    }
  }

  /** `branch` (`lib/processor/branch.go:25-42`): request_map → child
    * pipeline → result_map merged onto the origin row.
    *
    * When the child pipeline is row-wise (1 row in → 1 row out) the merge
    * is a join on (batch_id, seq) — at scale this is a co-partitioned
    * shuffle join; for pure-mapping children prefer composing Columns
    * directly (the compiler does that when you inline mappings). result_map
    * sees the child doc as `this` and assigns into the origin doc paths.
    */
  final case class Branch(
      requestMap: String,
      children: scala.Seq[Processor],
      resultPaths: scala.Seq[(String, String)]) extends Processor {

    /** Pure-mapping children compose as Columns — no join, no shuffle, one
      * projection (the compiler-level path SURVEY §2.1 calls for). */
    private def inlinable: Boolean = children.forall(_.isInstanceOf[BloblangProc])

    def apply(df: DataFrame): DataFrame =
      if (inlinable) applyInline(df) else applyJoin(df)

    private def applyInline(df: DataFrame): DataFrame = {
      import graft.blobl.{Mapping => BM, Parser}
      val ctx0 = BM.envelopeCtx(df)
      val reqTC = BM.compileMapValue(Parser.parseMapping(requestMap).stmts, ctx0)
      val childTC = children.foldLeft(reqTC) { (tc, p) =>
        val stmts = Parser.parseMapping(p.asInstanceOf[BloblangProc].mapping).stmts
        BM.compileMapValue(stmts, ctx0.withThis(tc))
      }
      val newDoc = resultPaths.foldLeft(col(Doc)) { case (acc, (childField, destPath)) =>
        val v = if (childField.isEmpty) childTC.col
          else graft.blobl.Compiler.accessField(childTC, childField).col
        acc.withField(graft.model.Envelope.fieldPath(destPath.split('.').toSeq), v)
      }
      df.select(col(Content), newDoc.as(Doc), col(Meta), col(Error), col(BatchId), col(Seq))
    }

    /** General children (joins, lookups, re-batching): merge back by row
      * identity — a co-partitioned shuffle join at scale. */
    private def applyJoin(df: DataFrame): DataFrame = {
      val request = BloblangProc(requestMap)(df)
      val childOut = Pipeline(children)(request)
      val right = childOut.select(
        col(BatchId).as("_b"), col(Seq).as("_s"), col(Doc).as("_child"))
      val joined = df.join(right,
        df(BatchId) === right("_b") && df(Seq) === right("_s"), "left")
      val newDoc = resultPaths.foldLeft(col(Doc)) { case (acc, (childField, destPath)) =>
        val v = if (childField.isEmpty) col("_child")
          else col("_child").getField(childField)
        acc.withField(graft.model.Envelope.fieldPath(destPath.split('.').toSeq), v)
      }
      joined.select(
        col(Content), newDoc.as(Doc), col(Meta), col(Error), col(BatchId), col(Seq))
    }
  }

  /** `workflow` (`lib/processor/workflow.go`): DAG of branches executed in
    * dependency order. Layers compile sequentially and Catalyst fuses the
    * resulting projections — no runtime DAG engine (SURVEY §4.1). */
  final case class Workflow(layers: scala.Seq[scala.Seq[Branch]]) extends Processor {
    def apply(df: DataFrame): DataFrame =
      layers.foldLeft(df)((d, layer) => layer.foldLeft(d)((dd, b) => b(dd)))
  }

  object Workflow {
    import graft.blobl.{Parser, Targets}

    /** Auto-order branches into layers from their Bloblang read/write
      * targets, exactly the reference's dependency analysis
      * (`workflow_branch_map.go` + `QueryTargets`/`AssignmentTargets`):
      * branch A precedes B when A writes a doc path B's request_map reads. */
    def auto(branches: scala.Seq[Branch]): Workflow = {
      val reads = branches.map(b => Targets.queryPaths(Parser.parseMapping(b.requestMap)))
      val writes = branches.map(_.resultPaths.map(_._2.split('.').toList).toSet)
      val n = branches.length
      val dependsOn = Array.fill(n)(scala.collection.mutable.Set[Int]())
      for (a <- 0 until n; b <- 0 until n if a != b)
        if (writes(a).exists(w => reads(b).exists(r => Targets.overlaps(w, r))))
          dependsOn(b) += a
      // Kahn layering
      val placed = scala.collection.mutable.Set[Int]()
      val layers = scala.collection.mutable.ListBuffer[scala.Seq[Branch]]()
      while (placed.size < n) {
        val ready = (0 until n).filter(i => !placed(i) && dependsOn(i).forall(placed))
        require(ready.nonEmpty, "workflow: dependency cycle between branches")
        layers += ready.map(branches)
        placed ++= ready
      }
      Workflow(layers.toSeq)
    }
  }

  /** Named processor registry (`resource` processor,
    * `lib/processor/resource.go`). */
  object Resources {
    private val reg = scala.collection.concurrent.TrieMap[String, Processor]()
    def register(name: String, p: Processor): Unit = reg.put(name, p)
    def apply(name: String): Processor = reg.getOrElse(name,
      throw new IllegalArgumentException(s"unknown processor resource $name"))
  }
  final case class Resource(name: String) extends Processor {
    def apply(df: DataFrame): DataFrame = Resources(name)(df)
  }
}
