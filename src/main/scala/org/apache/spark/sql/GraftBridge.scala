package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType

import java.util.concurrent.atomic.AtomicLong

/** Access bridge for extension libraries: Column ↔ Expression conversion
  * is `private[sql]` in Spark 4 (classic.ExpressionUtils); this re-exports
  * the two conversions graft's custom expressions need. Standard practice
  * for Catalyst extension packages. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `e` with Spark's float key equality: -0.0 as 0.0 and one NaN, inside
    * structs and arrays too (what physical planning applies to grouping
    * keys). */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)

  /** An eager local checkpoint of `df` and its row count, for fixpoint
    * rounds. It differs from `Dataset.localCheckpoint` in two ways:
    *  - it carries none of `df`'s constraints. `LogicalRDD.fromDataset`
    *    maps them onto the new output by attribute equality, which
    *    includes the qualifier, so a constraint on a column the optimizer
    *    de-aliased (`r.start_k AS start_k` over a self-join) keeps the old
    *    exprId, and a later union of such checkpoints fails constraint
    *    propagation (`key not found` in Union.rewriteConstraints). Its
    *    statistics are the exact row count instead;
    *  - when materializing throws, the blocks already pinned are freed. */
  def localCheckpoint(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val (rdd, n) = SQLExecution.withNewExecutionId(ds.queryExecution, Some("localCheckpoint")) {
      val rdd = ds.queryExecution.toRdd.map(_.copy())
      rdd.localCheckpoint()
      try (rdd, rdd.count())
      catch { case e: Throwable => rdd.unpersist(blocking = false); throw e }
    }
    val session = ds.sparkSession
    val stats = Statistics(
      sizeInBytes = BigInt(n) * math.max(1, df.schema.defaultSize), rowCount = Some(n))
    val plan = LogicalRDD(ds.queryExecution.analyzed.output.map(_.newInstance()), rdd)(
      session, Some(stats), None)
    (classic.Dataset.ofRows(session, plan), n)
  }

  /** A fixpoint round's input as a plan leaf: the scan of a transient
    * table whose rows are bound each time the plan is evaluated
    * ([[graft.LocalEval]]), so a step's plan is analyzed and optimized once
    * for every round (reference: schema/TransientTable.java,
    * RelBuilder.transientScan:1822). A self-join of the input gets fresh
    * attribute ids but keeps `id`, so both sides read the same rows. Its
    * statistics are fixed: a driver round holds at most what Spark
    * broadcasts. Spark cannot plan it physically, so an action on a frame
    * over it throws. */
  final case class RoundInput(output: Seq[Attribute], id: Long, sizeInBytes: BigInt)
      extends LeafNode with MultiInstanceRelation {
    override def newInstance(): RoundInput = copy(output = output.map(_.newInstance()))
    override def computeStats(): Statistics = Statistics(sizeInBytes)
  }

  private val roundInputIds = new AtomicLong()

  /** A frame over a new [[RoundInput]] of `schema`, and the id that binds
    * its rows. */
  def roundInput(spark: SparkSession, schema: StructType): (DataFrame, Long) = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val id = roundInputIds.incrementAndGet()
    val size = math.max(1L, session.sessionState.conf.autoBroadcastJoinThreshold)
    (classic.Dataset.ofRows(session, RoundInput(DataTypeUtils.toAttributes(schema), id, size)), id)
  }

  /** Returns once Spark's listener bus has delivered every event posted so
    * far, so a listener's counts are complete (the bus is `private[spark]`). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** SQL executions Spark's status store currently holds (the store is
    * `private[sql]`); bounded by `spark.sql.ui.retainedExecutions`. */
  def sqlExecutionsRetained(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sharedState.statusStore.executionsCount()
}
