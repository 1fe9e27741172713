package org.apache.spark.sql

import graft.{Fixpoint, LocalEval}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, UnionLoop, UnionLoopRef}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{ExplainUtils, LeafExecNode, SQLExecution, SparkPlan, SparkStrategy, UnionLoopExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf

/** Plans Spark's native recursion (`WITH RECURSIVE`, a `UnionLoop`) as a
  * [[GraftUnionLoopExec]]. */
class GraftUnionLoopStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case u: UnionLoop =>
      GraftUnionLoopExec(u.id, u.anchor, u.recursion, u.output, u.limit, u.maxDepth) :: Nil
    case _ => Nil
  }
}

/** A native recursion whose recursion is planned once. Spark's own
  * `UnionLoopExec` analyzes, optimizes and plans the recursion again for
  * every level (`Dataset.ofRows` on the recursion with the previous level
  * in place of its `UnionLoopRef`): about 5 ms a level on the driver,
  * however few its rows (a 100-level series, local[4] on a 4-core VM).
  * This exec runs the loop as the reference runs
  * RepeatUnion, in-process over a transient table scan
  * (EnumerableRepeatUnion.java:39, schema/TransientTable.java):
  *  - the recursion's `UnionLoopRef` becomes a `RoundInput`, and
  *    `Fixpoint.unionAll` compiles it once and binds each level's rows
  *    into it, on the driver ([[graft.LocalEval]]);
  *  - each subtree of the recursion that does not read the loop and is
  *    not already on the driver (a table the recursion joins) is
  *    collected once, as the reference's TableSpool holds it, where
  *    `UnionLoopExec` scans it again at every level;
  *  - the result is returned as `LocalTableScanExec` returns its rows:
  *    collecting it runs no job.
  * Where the driver path cannot finish exactly as Spark would, it hands
  * the whole loop, from scratch, to `UnionLoopExec`, which keeps Spark's
  * semantics and error classes: a non-deterministic plan (Spark reseeds
  * `rand` every level), a subquery or nested recursion, an operator
  * LocalEval declines, rows past the broadcast threshold or past
  * LocalEval's work budget, and the level and row limits Spark raises
  * errors for (see `Fixpoint.unionAll`).
  *
  * The exec posts `UnionLoopExec`'s three metrics under its names, and
  * its EXPLAIN line says which path ran and, when it delegated, why. It
  * keeps no state across executions besides that line and the metrics. */
case class GraftUnionLoopExec(
    loopId: Long,
    @transient anchor: LogicalPlan,
    @transient recursion: LogicalPlan,
    override val output: Seq[Attribute],
    limit: Option[Int],
    maxDepth: Option[Int]) extends LeafExecNode {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(anchor, recursion)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numIterations" -> SQLMetrics.createMetric(sparkContext, "number of recursive iterations"),
    "numAnchorOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of anchor output rows"))

  /** Why the loop cannot take the driver path, as far as the plan shows. */
  @transient private lazy val planned: Option[String] =
    if (!anchor.deterministic || !recursion.deterministic) Some("nondeterministic")
    else if (recursion.exists(_.expressions.exists(SubqueryExpression.hasSubquery)))
      Some("subquery")
    else if (recursion.exists {
      case _: UnionLoop => true
      case r: UnionLoopRef => r.loopId != loopId || r.accumulated
      case _ => false
    }) Some("nested recursion")
    else if (conf.autoBroadcastJoinThreshold <= 0) Some("broadcast threshold off")
    else None

  /** The last run's path; shown by EXPLAIN only. */
  @transient @volatile private var ran: Option[String] = None

  private def path: String = ran.getOrElse(planned.fold("driver (planned)")(r => s"delegated: $r"))

  override def simpleString(maxFields: Int): String =
    s"$nodeName loopId=$loopId${limit.fold("")(l => s", limit=$l")}" +
      s"${maxDepth.fold("")(d => s", maxDepth=$d")}, path=$path"

  override def verboseStringWithOperatorId(): String =
    s"""(${ExplainUtils.getOpId(this)}) $nodeName
       |${ExplainUtils.generateFieldString("Output", output)}
       |Loop id: $loopId
       |Limit: ${limit.getOrElse("none")}
       |Path: $path
       |""".stripMargin

  override def doCanonicalize(): SparkPlan = super.doCanonicalize()
    .asInstanceOf[GraftUnionLoopExec]
    .copy(anchor = anchor.canonicalized, recursion = recursion.canonicalized)

  override protected def doExecute(): RDD[InternalRow] = run() match {
    case Right(rows) if rows.isEmpty => sparkContext.emptyRDD[InternalRow]
    case Right(rows) =>
      sparkContext.parallelize(rows.toSeq, math.min(rows.length, session.leafNodeDefaultParallelism))
    case Left(spark) => delegated(spark)(_.execute())
  }

  override def executeCollect(): Array[InternalRow] =
    run().fold(delegated(_)(_.executeCollect()), identity)

  override def executeTake(n: Int): Array[InternalRow] =
    run().fold(delegated(_)(_.executeTake(n)), _.take(n))

  /** The loop's rows from the driver path, or Spark's exec for the loop. */
  private def run(): Either[UnionLoopExec, Array[InternalRow]] =
    planned.toLeft(()).flatMap(_ => onDriver()) match {
      case Right(levels) =>
        ran = Some("driver")
        post(levels.rows.size, levels.iterations, levels.anchorRows)
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(
          DataTypeUtils.fromAttributes(output))
        // every field nullable: Spark's exec keeps a NULL a recursion
        // produces even where the loop's output says the column has none
        val toUnsafe = UnsafeProjection.create(output.map(_.dataType).toArray)
        Right(levels.rows.iterator
          .map(r => toUnsafe(toCatalyst(r).asInstanceOf[InternalRow]).copy(): InternalRow)
          .toArray)
      case Left(reason) =>
        ran = Some(s"delegated: $reason")
        Left(session.withActive(UnionLoopExec(loopId, anchor, recursion, output, limit, maxDepth)))
    }

  /** `f` on Spark's exec, whose metrics then become this exec's. */
  private def delegated[T](spark: UnionLoopExec)(f: UnionLoopExec => T): T = {
    val out = f(spark)
    def value(name: String) = spark.metrics(name).value
    post(value("numOutputRows"), value("numIterations"), value("numAnchorOutputRows"))
    out
  }

  private def post(rows: Long, iterations: Long, anchorRows: Long): Unit = {
    longMetric("numOutputRows") += rows
    longMetric("numIterations") += iterations
    longMetric("numAnchorOutputRows") += anchorRows
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
  }

  /** The levels, evaluated on the driver, or why they cannot be. */
  private def onDriver(): Either[String, Fixpoint.Levels] = {
    // one transient input for every reference to the loop, each keeping
    // its own attributes
    val input = GraftBridge.roundInput(session, Nil)
    var overCap = false
    val bound = recursion.transformDown {
      case r: UnionLoopRef => input.copy(output = r.output)
      // a loop-invariant input: read once, not once a level
      case p if !overCap && !p.exists(_.isInstanceOf[UnionLoopRef]) &&
          !LocalEval.driverLocal(p) =>
        val df = GraftBridge.frame(session, p)
        Fixpoint.collectInternal(df, Fixpoint.localRowCap(df)) match {
          case Some(rows) => LocalRelation(p.output, rows)
          case None => overCap = true; p
        }
    }
    if (overCap) Left("loop-invariant input over the broadcast threshold")
    else Fixpoint.unionAll(GraftBridge.frame(session, anchor),
      GraftBridge.frame(session, bound), input.id, limit,
      levelLimit = maxDepth.getOrElse(conf.getConf(SQLConf.CTE_RECURSION_LEVEL_LIMIT)),
      rowLimit = conf.getConf(SQLConf.CTE_RECURSION_ROW_LIMIT))
  }
}
