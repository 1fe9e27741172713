package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.GraftBridge.RoundInput
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalAggregation}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.ControlThrowable

/** Driver-side evaluation of a small optimized plan whose leaves are all
  * `LocalRelation`s, `RoundInput`s or `OneRowRelation`s (one empty row, the
  * leaf of a `SELECT <literals>`): no physical planning, no job, no
  * codegen. [[compile]] optimizes a plan once; [[run]] evaluates it with
  * each round input bound to rows, so a fixpoint step pays analysis and
  * optimization once, not every round. It extends the idea of Spark's
  * `ConvertToLocalRelation` (which already folds `Project`/`Filter` over
  * a `LocalRelation`) to joins, unions and aggregates, and mirrors the
  * reference's row interpreter for small plans (interpreter/Interpreter.java;
  * Nodes.java dispatches Filter, Project, Join, Aggregate and Union nodes).
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
  * [[compile]] declines any other node and a non-deterministic, subquery
  * or `Unevaluable` expression. [[run]] declines as soon as an operator
  * below the root outputs more than `cap + 1` rows, and once the
  * evaluation passes [[MaxWork]]. A root that outputs more than `cap`
  * rows is [[OverCap]] instead: the result itself is too large to hold.
  * An error an expression raises is never swallowed: it propagates as it
  * would from Spark's own execution.
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
    * times both as `Fixpoint` runs them (local[4], 4-core VM): the step's
    * plan compiled once with each round's rows bound, against a job over
    * a plan built for the round. A job costs 50-250 ms however few its
    * rows. Interpreting costs about 0.13 µs a unit on a theta join
    * (pairs) and 0.1-0.3 µs on the fixpoint steps' joins and aggregates.
    * The job wins from about 400,000 units on a theta join (66 against
    * 59 ms at 492,000, 136 against 73 ms at 1 million), while closure
    * levels at 500,000 units (169 against 808 ms) and clusters rounds at
    * 1.56 million (150 against 1,090 ms) still win by far. This is the
    * largest budget at which no measured shape loses more than 10 ms to
    * the job. */
  val MaxWork: Long = 500000L

  /** A plan [[compile]] optimized once: [[run]] evaluates it for each
    * binding of its [[GraftBridge.RoundInput]]s, under the conf of the
    * session that built it. */
  final case class Compiled(plan: LogicalPlan, conf: SQLConf) {
    def schema: StructType = plan.schema
  }

  /** `df`'s optimized plan when every leaf is a `LocalRelation`, a
    * `RoundInput` or a `OneRowRelation` and every operator is supported;
    * `None` otherwise. */
  def compile(df: DataFrame): Option[Compiled] = {
    // a plan that reads files or checkpoints is declined before it is optimized
    if (!driverLocal(df.queryExecution.analyzed)) None
    else Some(df.queryExecution.optimizedPlan).filter(supported)
      .map(Compiled(_, df.sparkSession.sessionState.conf))
  }

  /** `c`'s rows with each round input read from `bindings` (by its id),
    * evaluated on the driver under [[MaxWork]]. */
  def run(c: Compiled, bindings: Map[Long, Seq[Row]], cap: Long): Outcome =
    evaluate(c, bindings, cap, MaxWork)._1

  /** `df`'s rows, evaluated on the driver under [[MaxWork]]. */
  def collect(df: DataFrame, cap: Long): Outcome =
    compile(df).fold[Outcome](Declined)(run(_, Map.empty, cap))

  /** [[run]] under the budget `maxWork`, with the work it did (up to where
    * it stopped). */
  private[graft] def evaluate(c: Compiled, bindings: Map[Long, Seq[Row]], cap: Long,
      maxWork: Long): (Outcome, Long) = {
    // every leaf row is output once, so their count alone can pass the budget
    val leafRows = c.plan.collectLeaves().map {
      case r: LocalRelation => r.data.size.toLong
      case r: RoundInput => bindings(r.id).size.toLong
      case _: OneRowRelation => 1L
    }.sum
    if (leafRows > maxWork) (Declined, 0L)
    else SQLConf.withExistingConf(c.conf) {
      val eval = new Eval(cap, maxWork, bindings)
      val outcome =
        try {
          val rows = eval.root(c.plan)
          val toRow = CatalystTypeConverters.createToScalaConverter(c.schema)
          Rows(rows.map(toRow(_).asInstanceOf[Row]).toArray)
        } catch { case Stop(o) => o }
      (outcome, eval.work)
    }
  }

  /** Whether every leaf of `p` is one [[compile]] accepts. */
  def driverLocal(p: LogicalPlan): Boolean = p.collectLeaves().forall {
    case _: LocalRelation | _: RoundInput | _: OneRowRelation => true
    case _ => false
  }

  private final case class Stop(outcome: Outcome) extends ControlThrowable

  private def supported(p: LogicalPlan): Boolean = (p match {
    case _: LocalRelation | _: RoundInput | _: OneRowRelation => true
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
  private final class Eval(cap: Long, maxWork: Long, bindings: Map[Long, Seq[Row]]) {
    var work = 0L

    /** Each round input's rows in Catalyst form, converted once per id. */
    private val inputs = mutable.HashMap.empty[Long, IndexedSeq[InternalRow]]

    private def input(r: RoundInput): IndexedSeq[InternalRow] = inputs.getOrElseUpdate(r.id, {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(r.schema)
      bindings(r.id).iterator.map(toCatalyst(_).asInstanceOf[InternalRow]).toIndexedSeq
    })

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
      case r: RoundInput => bounded(input(r).iterator, atRoot)
      case _: OneRowRelation => bounded(Iterator.single(InternalRow.empty), atRoot)
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
