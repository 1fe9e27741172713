package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Deferred NEXT VALUE FOR assignment — a custom LogicalPlan + planner
  * Strategy + SparkPlan chain (the (c) tier of the custom-operator
  * ladder, registered through GraftExtensions.injectPlannerStrategy).
  *
  * Why a custom node at all: a sequence reservation is a side effect
  * (the counter advances by the row count), and side effects belong at
  * EXECUTION time, not parse time. The r6 front end reserved inside
  * `ParserInterface.parsePlan`, so anything that re-parsed the statement
  * text — a tool replaying SQL strings, a view definition, an explicit
  * re-parse — silently advanced the sequence and ran a Spark job during
  * parsing. With this node the parse is pure: the plan carries an
  * unexecuted assignment, EXPLAIN renders it without reserving, and the
  * counter advances exactly when the first action executes the plan.
  * Spark memoizes a plan's executed RDD, so re-collecting the SAME
  * DataFrame replays its reserved block (stable values under re-reads,
  * task retries and recomputes); re-issuing the statement parses a new
  * plan and reserves a fresh block (reference: sequence.iq re-query
  * semantics).
  *
  * The reservation itself is [[graft.operators.Sequences.nextValueFor]]'s:
  * one atomic driver-side block grab, over rows the driver collected and
  * stamped when they fit it, else over partition-local blocks — no global
  * window, no single-partition collapse.
  */
case class SequenceAssignPlan(
    source: LogicalPlan,
    seqName: String,
    alias: String,
    assign: () => DataFrame,
    outAttr: AttributeReference) extends LeafNode {
  override def output: Seq[Attribute] = source.output :+ outAttr
  // size-only estimate: the appended BIGINT is noise next to the source
  override def computeStats(): Statistics = source.stats
}

object SequenceAssignPlan {
  def apply(source: LogicalPlan, seqName: String, alias: String,
      assign: () => DataFrame): SequenceAssignPlan =
    SequenceAssignPlan(source, seqName, alias, assign,
      AttributeReference(alias, LongType, nullable = false)())
}

case class SequenceAssignExec(logical: SequenceAssignPlan)
    extends LeafExecNode {
  override def output: Seq[Attribute] = logical.output
  override protected def doExecute(): RDD[InternalRow] = {
    // doExecute runs on the driver: the thunk reserves the block (atomic
    // counter advance) and hands back the stamped DataFrame, whose row
    // layout is positionally source.output :+ alias — exactly `output`.
    logical.assign().queryExecution.toRdd
  }
}

class SequenceStrategy(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: SequenceAssignPlan => SequenceAssignExec(s) :: Nil
    case _ => Nil
  }
}
