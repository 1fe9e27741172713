package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalAggregation}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.internal.SQLConf

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.ControlThrowable

/** Driver-side evaluation of a small optimized plan whose leaves are all
  * `LocalRelation`s: no physical planning, no job, no codegen. It extends
  * the idea of Spark's `ConvertToLocalRelation` (which already folds
  * `Project`/`Filter` over a `LocalRelation`) to joins, unions and
  * aggregates, and mirrors the reference's row interpreter for small plans
  * (interpreter/Interpreter.java; Nodes.java dispatches Filter, Project,
  * Join, Aggregate and Union nodes).
  *
  * Supported: `Project`, `Filter`, inner and cross `Join` (a hash join on
  * the `ExtractEquiJoinKeys` keys plus the residual predicate; null keys
  * never match), `Union`, `Aggregate` over `DeclarativeAggregate`s
  * (no DISTINCT, no FILTER), `GlobalLimit`/`LocalLimit`, and pass-through
  * of `Repartition`, `RepartitionByExpression`, `ResolvedHint` and
  * `SubqueryAlias`. Expressions are bound with `BindReferences` and
  * evaluated interpreted.
  *
  * The optimized plan, not the analyzed one: `NormalizeFloatingNumbers`
  * has given join keys Spark's equality (NaN = NaN, -0.0 = 0.0) and
  * `ReplaceExpressions` has left only evaluable expressions. Grouping keys
  * are normalized here, as Spark's physical aggregation does, and both
  * join and grouping keys compare as `UnsafeRow` bytes, like Spark's hash
  * join and hash aggregate.
  *
  * [[collect]] declines on any other node, on a non-deterministic,
  * subquery or `Unevaluable` expression, as soon as an operator below the
  * root outputs more than `cap + 1` rows, and once the evaluation passes
  * [[MaxWork]]. A root that outputs more than `cap` rows is [[OverCap]]
  * instead: the result itself is too large to hold. An error an
  * expression raises is never swallowed: it propagates as it would from
  * Spark's own execution.
  */
object LocalEval {

  sealed trait Outcome
  /** The result: at most `cap` rows. */
  final case class Rows(rows: Array[Row]) extends Outcome
  /** The result has more than `cap` rows. */
  case object OverCap extends Outcome
  /** Not evaluated: an unsupported plan, or more work than pays off here. */
  case object Declined extends Outcome

  /** Work budget: the rows all operators output plus the row pairs joins
    * check. Past it a round runs as a Spark job. `graft.LocalEvalCrossover`
    * times both on round plans over `LocalRelation`s (local[4], 4-core
    * VM). A job costs 50-250 ms however few its rows. Interpreting costs
    * 0.13 µs a unit on a theta join (pairs) and 0.6-1 µs on the fixpoint
    * steps' joins and aggregates. The job wins from 400,000-490,000 units
    * on a theta join, but the steps' rounds still win by a third at
    * 500,000 (and clusters rounds at 1.5 million). This is the largest
    * budget at which no measured shape loses more than 10 ms to the job. */
  val MaxWork: Long = 500000L

  /** `df`'s rows, evaluated on the driver under [[MaxWork]]. */
  def collect(df: DataFrame, cap: Long): Outcome = evaluate(df, cap, MaxWork)._1

  /** [[collect]] under the budget `maxWork`, with the work it did (up to
    * where it stopped). */
  private[graft] def evaluate(df: DataFrame, cap: Long, maxWork: Long): (Outcome, Long) = {
    // a plan that reads files or checkpoints is declined before it is optimized
    if (!df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
      return (Declined, 0L)
    val plan = df.queryExecution.optimizedPlan
    // every leaf row is output once, so their count alone can pass the budget
    val leafRows = plan.collectLeaves().map(_.asInstanceOf[LocalRelation].data.size.toLong).sum
    if (!supported(plan) || leafRows > maxWork) (Declined, 0L)
    else SQLConf.withExistingConf(df.sparkSession.sessionState.conf) {
      val eval = new Eval(cap, maxWork)
      val outcome =
        try {
          val rows = eval.root(plan)
          val toRow = CatalystTypeConverters.createToScalaConverter(plan.schema)
          Rows(rows.map(toRow(_).asInstanceOf[Row]).toArray)
        } catch { case Stop(o) => o }
      (outcome, eval.work)
    }
  }

  private final case class Stop(outcome: Outcome) extends ControlThrowable

  private def supported(p: LogicalPlan): Boolean = (p match {
    case _: LocalRelation => true
    case Project(list, _) => list.forall(evaluable)
    case Filter(cond, _) => evaluable(cond)
    case Join(_, _, Inner | Cross, cond, _) => cond.forall(evaluable)
    case _: Union => true
    case PhysicalAggregation(groups, aggs, results, _) =>
      (groups ++ results).forall(evaluable) && aggs.forall { ae =>
        ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty && ae.deterministic &&
          (ae.aggregateFunction match {
            case f: DeclarativeAggregate =>
              (f.children ++ f.initialValues ++ f.updateExpressions :+ f.evaluateExpression)
                .forall(evaluable)
            case _ => false
          })
      }
    case GlobalLimit(IntegerLiteral(_), _) | LocalLimit(IntegerLiteral(_), _) => true
    case _: Repartition | _: RepartitionByExpression | _: ResolvedHint | _: SubqueryAlias => true
    case _ => false
  }) && p.children.forall(supported)

  private def evaluable(e: Expression): Boolean = e.deterministic && !e.exists {
    case _: Attribute => false
    case _: SubqueryExpression | _: Unevaluable => true
    case _ => false
  }

  private def bind(es: Seq[Expression], input: Seq[Attribute]): Array[Expression] =
    BindReferences.bindReferences(es, input).toArray

  private def project(es: Array[Expression])(r: InternalRow): InternalRow =
    new GenericInternalRow(es.map(_.eval(r)))

  private def holds(cond: Expression, r: InternalRow): Boolean = cond.eval(r) == true

  /** Evaluates a [[supported]] plan: an operator below the root outputs
    * at most `cap + 1` rows, the root at most `cap`, and all of them
    * together do at most `maxWork` work. */
  private final class Eval(cap: Long, maxWork: Long) {
    var work = 0L

    private def charge(n: Long): Unit = {
      work += n
      if (work > maxWork) throw Stop(Declined)
    }

    private def bounded(rows: Iterator[InternalRow], atRoot: Boolean): IndexedSeq[InternalRow] = {
      val limit = if (atRoot) cap else cap + 1
      val out = mutable.ArrayBuffer.empty[InternalRow]
      rows.foreach { r =>
        out += r
        charge(1)
        if (out.size > limit) throw Stop(if (atRoot) OverCap else Declined)
      }
      out.toIndexedSeq
    }

    def root(p: LogicalPlan): IndexedSeq[InternalRow] = eval(p, atRoot = true)

    private def apply(p: LogicalPlan): IndexedSeq[InternalRow] = eval(p, atRoot = false)

    /** `atRoot`: `p` outputs as many rows as the result. */
    private def eval(p: LogicalPlan, atRoot: Boolean): IndexedSeq[InternalRow] = p match {
      case r: LocalRelation => bounded(r.data.iterator, atRoot)
      case Project(list, child) =>
        val es = bind(list, child.output)
        bounded(eval(child, atRoot).iterator.map(project(es)), atRoot)
      case Filter(cond, child) =>
        val c = bind(Seq(cond), child.output).head
        bounded(apply(child).iterator.filter(holds(c, _)), atRoot)
      case j: Join => join(j, atRoot)
      case u: Union => bounded(u.children.iterator.flatMap(apply), atRoot)
      case a: Aggregate => aggregate(a, atRoot)
      case GlobalLimit(IntegerLiteral(n), child) => apply(child).take(n)
      case LocalLimit(IntegerLiteral(n), child) => apply(child).take(n)
      case other => eval(other.children.head, atRoot)
    }

    /** A hash join built on the smaller side. */
    private def join(j: Join, atRoot: Boolean): IndexedSeq[InternalRow] = {
      val (lk, rk, residual) = j match {
        case ExtractEquiJoinKeys(_, lks, rks, other, _, _, _, _) => (lks, rks, other)
        case _ => (Nil, Nil, j.condition)
      }
      val left = apply(j.left)
      val right = apply(j.right)
      val cond = residual.map(c => bind(Seq(c), j.left.output ++ j.right.output).head)
      val buildLeft = left.size < right.size
      val (build, probe) = if (buildLeft) (left, right) else (right, left)
      val matches: InternalRow => collection.IndexedSeq[InternalRow] =
        if (lk.isEmpty) _ => build
        else {
          def keyOf(keys: Seq[Expression], side: LogicalPlan) =
            InterpretedUnsafeProjection.createProjection(bind(keys, side.output).toSeq)
          val (bkey, pkey) =
            if (buildLeft) (keyOf(lk, j.left), keyOf(rk, j.right))
            else (keyOf(rk, j.right), keyOf(lk, j.left))
          val table = mutable.HashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
          build.foreach { r =>
            val k = bkey(r)
            if (!k.anyNull) table.getOrElseUpdate(k.copy(), mutable.ArrayBuffer.empty) += r
          }
          p => {
            val k = pkey(p)
            if (k.anyNull) IndexedSeq.empty else table.getOrElse(k, IndexedSeq.empty)
          }
        }
      bounded(probe.iterator.flatMap { p =>
        val bs = matches(p)
        charge(bs.size) // the pairs, before they are checked
        bs.iterator.map(b => (if (buildLeft) new JoinedRow(b, p) else new JoinedRow(p, b)): InternalRow)
          .filter(jr => cond.forall(holds(_, jr)))
      }, atRoot)
    }

    /** Spark's physical aggregation, one buffer row per group: grouping
      * keys normalized and compared as `UnsafeRow`s, results evaluated on
      * the group key joined with the aggregate values. */
    private def aggregate(a: Aggregate, atRoot: Boolean): IndexedSeq[InternalRow] = {
      val PhysicalAggregation(groups, aggs, results, child) = a: @unchecked
      val fns = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
      val bufAttrs = fns.flatMap(_.aggBufferAttributes)
      val init = fns.flatMap(_.initialValues).toArray
      val update = bind(fns.flatMap(_.updateExpressions), bufAttrs ++ child.output)
      val evaluate = bind(fns.map(_.evaluateExpression), bufAttrs)
      val keyOf = InterpretedUnsafeProjection.createProjection(
        bind(groups.map(GraftBridge.normalizeFloats), child.output).toSeq)
      val result = bind(results, groups.map(_.toAttribute) ++ aggs.map(_.resultAttribute))
      val buffers = new java.util.LinkedHashMap[UnsafeRow, Array[Any]]()
      def fresh(): Array[Any] = init.map(_.eval(InternalRow.empty))
      apply(child).foreach { r =>
        val k = keyOf(r)
        var buf = buffers.get(k)
        if (buf == null) { buf = fresh(); buffers.put(k.copy(), buf) }
        val in = new JoinedRow(new GenericInternalRow(buf), r)
        val next = update.map(_.eval(in))
        System.arraycopy(next, 0, buf, 0, buf.length)
      }
      if (buffers.isEmpty && groups.isEmpty) buffers.put(keyOf(InternalRow.empty).copy(), fresh())
      bounded(buffers.asScala.iterator.map { case (k, buf) =>
        project(result)(new JoinedRow(k, project(evaluate)(new GenericInternalRow(buf))))
      }, atRoot)
    }
  }
}
