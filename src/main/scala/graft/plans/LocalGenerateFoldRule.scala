package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.GENERATE
import org.apache.spark.sql.types.ArrayType

/** Optimizer rule: evaluate a deterministic `Generate` over a batch
  * `LocalRelation` on the driver and replace it with the `LocalRelation`
  * it produces — the `Generate` twin of Spark's own
  * `ConvertToLocalRelation`, which folds projections, filters and limits
  * over local data but not generators.
  *
  * Motivation: the per-request serve tail (the reference's per-hit SSE
  * emission, SSEOpenAIController.java:188-247) is
  * [[graft.pipeline.Summarizer.serveEvents]] — an `explode` of a 3-element
  * event array — over the request's ~5 hit rows, which live in a local
  * relation on the driver. Without the fold, collecting those ~15 event
  * rows schedules a whole Spark job (one task per core, nearly all of them
  * idle) on every request; folded, `collect()` reads the local rows back
  * with no job at all.
  *
  * Scope — deliberately narrow, so the folded relation is bounded by the
  * input without a size setting:
  *  - the generator is `explode`, `posexplode` or `inline` (including the
  *    `_outer` forms) of an ARRAY CONSTRUCTOR `array(e1, …, ek)` (or the
  *    array literal it constant-folds to): every input row yields at most
  *    k rows, so the result is at most k × the rows already held on the
  *    driver. Generators whose output length is
  *    data-dependent (`explode(sequence(…))`, `explode(split(…))`, the
  *    delta stream of `serveEventsDelta`) are left to `GenerateExec`;
  *  - the generator is deterministic and evaluable (no subqueries or
  *    other unevaluable expressions), the same guard
  *    `ConvertToLocalRelation` applies to projections;
  *  - the input is a batch relation (a streaming `LocalRelation`, e.g. a
  *    memory-stream micro-batch, is never folded).
  *
  * `outer` keeps its meaning: an input row whose array is empty yields one
  * row with nulls in the generator columns, exactly as `GenerateExec`
  * emits it. The folded relation reuses the `Generate`'s output attributes,
  * so parent operators resolve unchanged; a projection chain over the
  * child is folded first (and over the result after, see [[toLocal]]),
  * so the rule works in the operator-optimization batch and in the late
  * user-provided batch of a pre-existing session alike. */
object LocalGenerateFoldRule extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(GENERATE)) plan
    else {
      var folded = false
      val out = plan.transformUp {
        case g: Generate if foldable(g.generator) =>
          toLocal(g.child) match {
            case l: LocalRelation if !l.isStreaming =>
              folded = true
              fold(g, l)
            case _ => g
          }
      }
      if (folded) toLocal(out) else out
    }

  /** `ConvertToLocalRelation` run to its fixed point: it rewrites top-down,
    * so one pass folds only the lowest operator of a chain such as
    * `Project(Project(LocalRelation))`. */
  def toLocal(plan: LogicalPlan): LogicalPlan = {
    val next = ConvertToLocalRelation(plan)
    if (next.fastEquals(plan)) plan else toLocal(next)
  }

  private def foldable(gen: Generator): Boolean = {
    val arrayCtor = gen match {
      case Explode(a) => fixedLength(a)
      case PosExplode(a) => fixedLength(a)
      case Inline(a) => fixedLength(a)
      case _ => false
    }
    arrayCtor && gen.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(gen)
  }

  /** `array(e1, …, ek)`, or the literal `ConstantFolding` makes of it
    * when every element is constant. */
  private def fixedLength(e: Expression): Boolean = e match {
    case _: CreateArray => true
    case Literal(_, _: ArrayType) => true
    case _ => false
  }

  private def fold(g: Generate, child: LocalRelation): LocalRelation = {
    val gen = BindReferences.bindReference(g.generator: Expression, child.output)
      .asInstanceOf[Generator]
    val required = child.output.zipWithIndex.collect {
      case (a, i) if !g.unrequiredChildIndex.contains(i) => BoundReference(i, a.dataType, a.nullable)
    }
    val nullRow = new GenericInternalRow(g.generatorOutput.length)
    // g.output is (required child columns ++ generator columns): the
    // layout of each joined row
    val toUnsafe = InterpretedUnsafeProjection.createProjection(
      g.output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) })
    val keep = InterpretedUnsafeProjection.createProjection(required)
    val rows = child.data.flatMap { row =>
      val kept = keep(row).copy()
      val produced = gen.eval(row).iterator.toSeq
      val genRows = if (produced.isEmpty && g.outer) Seq(nullRow) else produced
      genRows.map(genRow => toUnsafe(new JoinedRow(kept, genRow)).copy(): InternalRow)
    }
    LocalRelation(g.output, rows)
  }
}
