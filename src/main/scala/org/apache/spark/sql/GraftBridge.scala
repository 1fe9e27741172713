package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.Await
import scala.concurrent.duration.Duration

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
    val in = roundInput(spark, DataTypeUtils.toAttributes(schema))
    (frame(spark, in), in.id)
  }

  /** A new [[RoundInput]] whose output is `output`, attributes a plan
    * already refers to. */
  def roundInput(spark: SparkSession, output: Seq[Attribute]): RoundInput = RoundInput(output,
    roundInputIds.incrementAndGet(),
    math.max(1L, spark.sessionState.conf.autoBroadcastJoinThreshold))

  /** A frame over an analyzed or optimized plan. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  private val collectIds = new AtomicLong()

  /** The rows of `df` when their total `weight` is at most `budget`, else
    * `None`; one job over all partitions, in partition order. Each task
    * ships its partition's rows, or only the fact that their weight passed
    * `budget`; the driver cancels the job, and drops what it holds, once
    * the running total passes `budget`. So the driver holds at most twice
    * `budget` at once, where `limit(n).collect()` runs partition 0 first
    * and the rest as a second job. The rows are copied `UnsafeRow`s. */
  def collectWithin(df: DataFrame, budget: Long)(
      weight: InternalRow => Long): Option[Array[InternalRow]] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val sc = ds.sparkSession.sparkContext
    val numFields = df.schema.length
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("collectWithin")) {
      val rdd = ds.queryExecution.toRdd
      val chunks = rdd.mapPartitions { it =>
        val bytes = new ByteArrayOutputStream()
        val out = new DataOutputStream(bytes)
        val buf = new Array[Byte](4096)
        var w = 0L
        while (w <= budget && it.hasNext) {
          val row = it.next()
          w += weight(row)
          val u = row.asInstanceOf[UnsafeRow]
          out.writeInt(u.getSizeInBytes)
          u.writeToStream(out, buf)
        }
        out.flush()
        Iterator.single((w, if (w <= budget) bytes.toByteArray else null))
      }
      val parts = new Array[Array[Byte]](rdd.getNumPartitions)
      val tag = s"graft-collect-within-${collectIds.incrementAndGet()}"
      // the handler runs under the job waiter's lock, one result at a time
      var total = 0L
      @volatile var over = false
      def take(i: Int, chunk: (Long, Array[Byte])): Unit = if (!over) {
        total += chunk._1
        if (chunk._2 == null || total > budget) {
          over = true
          parts.indices.foreach(parts(_) = null)
          sc.cancelJobsWithTag(tag)
        } else parts(i) = chunk._2
      }
      sc.addJobTag(tag)
      val job = try sc.submitJob(chunks, (it: Iterator[(Long, Array[Byte])]) => it.next(),
        parts.indices, take, ())
      finally sc.removeJobTag(tag)
      val done = Await.ready(job, Duration.Inf).value.get
      if (over) None
      else {
        done.get // rethrows a failed job's error
        Some(parts.flatMap { p =>
          val in = new DataInputStream(new java.io.ByteArrayInputStream(p))
          Iterator.continually(in.available() > 0).takeWhile(identity).map { _ =>
            val b = new Array[Byte](in.readInt())
            in.readFully(b)
            val row = new UnsafeRow(numFields)
            row.pointTo(b, b.length)
            row: InternalRow
          }
        })
      }
    }
  }

  /** `rows` of `df`'s row type as external `Row`s, as `collect` returns them. */
  def toRows(df: DataFrame, rows: Array[InternalRow]): Array[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val toRow = ds.exprEnc.resolveAndBind(ds.queryExecution.analyzed.output,
      ds.sparkSession.sessionState.analyzer).createDeserializer()
    rows.map(toRow)
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
