package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._

/** Finds loop-invariant array work in an optimized plan: a subtree that
  * contains a higher-order function, `array_position` or `sequence`,
  * sits inside a `transform`, `aggregate` or `filter` lambda, and reads
  * none of the lambda variables bound inside that loop. Catalyst does
  * not hoist such a subtree, so the interpreted loop re-evaluates it at
  * every element. A one-element `transform(array(e), …)` is
  * [[graft.functions.Hof.let]], which runs its body once: it is not a
  * loop, though the variable it binds counts as bound in any loop
  * around it. */
object LoopInvariants {

  /** One line per finding: the loop and the invariant subtree's SQL. */
  def find(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case p => p }
      .flatMap(_.expressions).flatMap(inExpression)

  def inExpression(e: Expression): Seq[String] =
    e.collect { case h: HigherOrderFunction if isLoop(h) => h }
      .flatMap(loop => loop.functions.flatMap(invariant(_, Set.empty))
        .map(x => s"${loop.prettyName} loop: ${x.sql.take(240)}"))

  private def isLoop(h: HigherOrderFunction): Boolean = h match {
    case ArrayTransform(CreateArray(Seq(_), _), _) => false // Hof.let
    case _: ArrayTransform | _: ArrayAggregate | _: ArrayFilter => true
    case _ => false
  }

  private def arrayWork(e: Expression): Boolean = e.exists {
    case _: HigherOrderFunction | _: ArrayPosition | _: Sequence => true
    case _ => false
  }

  private def argIds(f: LambdaFunction): Set[ExprId] =
    f.arguments.collect { case v: NamedLambdaVariable => v.exprId }.toSet

  private def freeVars(e: Expression): Set[ExprId] = e match {
    case v: NamedLambdaVariable => Set(v.exprId)
    case f: LambdaFunction => freeVars(f.function) -- argIds(f)
    case _ => e.children.flatMap(freeVars).toSet
  }

  /** The outermost subtrees of a loop body that do array work but read
    * no variable in `bound` (the variables bound between the loop and
    * the subtree, the loop's own included). */
  private def invariant(e: Expression, bound: Set[ExprId])
      : Seq[Expression] = e match {
    case f: LambdaFunction => invariant(f.function, bound ++ argIds(f))
    case _ if arrayWork(e) && (freeVars(e) & bound).isEmpty => Seq(e)
    case _ => e.children.flatMap(invariant(_, bound))
  }
}
