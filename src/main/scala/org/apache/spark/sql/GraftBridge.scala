package org.apache.spark.sql

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.FilePartition
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

  /** `df` materialized by ONE job that pins each of its partitions as a
    * local checkpoint and counts its rows. When there are at most `cap`
    * rows, the same job brings them back (packed, as [[collectWithin]]
    * ships them): the result is `Left(rows)`, copied `UnsafeRow`s, and the
    * pins are released. Otherwise it is `Right` of the checkpoint; a `cap`
    * of -1 always pins. So the plan runs once on either side of the cap,
    * where a bounded collect that overflows would run it again to
    * checkpoint it. The checkpoint differs from `Dataset.localCheckpoint`
    * in two ways:
    *  - it carries none of `df`'s constraints. `LogicalRDD.fromDataset`
    *    maps them onto the new output by attribute equality, which
    *    includes the qualifier, so a constraint on a column the optimizer
    *    de-aliased (`r.start_k AS start_k` over a self-join) keeps the old
    *    exprId, and a later union of such checkpoints fails constraint
    *    propagation (`key not found` in Union.rewriteConstraints). Its
    *    statistics are the exact row count instead;
    *  - when materializing throws, the blocks already pinned are freed. */
  def materialize(df: DataFrame, cap: Long): Either[Array[InternalRow], Pinned] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val numFields = df.schema.length
    val (rdd, counts, parts) =
      SQLExecution.withNewExecutionId(ds.queryExecution, Some("materialize")) {
        val rdd = ds.queryExecution.toRdd.map(_.copy())
        rdd.localCheckpoint()
        val counts = new Array[Long](rdd.getNumPartitions)
        val parts = new Array[Array[Byte]](counts.length)
        // the handler runs on the scheduler's thread, one result at a time
        var total = 0L
        def take(i: Int, part: (Long, Array[Byte])): Unit = {
          counts(i) = part._1
          total += part._1
          if (total <= cap) parts(i) = part._2
          else parts.indices.foreach(parts(_) = null)
        }
        try session.sparkContext.runJob(rdd, (_: TaskContext, it: Iterator[InternalRow]) => {
          var n = 0L
          val bytes = pack(it.map { row => n += 1; row }.takeWhile(_ => n <= cap))
          it.foreach(_ => n += 1)
          (n, if (n <= cap) bytes else null)
        }, counts.indices, take _)
        catch { case e: Throwable => rdd.unpersist(blocking = false); throw e }
        (rdd, counts.toIndexedSeq, parts)
      }
    if (counts.sum <= cap) {
      rdd.unpersist(blocking = false)
      Left(parts.flatMap(unpack(_, numFields)))
    } else {
      val output = ds.queryExecution.analyzed.output.map(_.newInstance())
      Right(Pinned(frame(session, LogicalRDD(output, rdd)(session,
        Some(statistics(counts.sum, df.schema)), None)), rdd, counts))
    }
  }

  /** A local checkpoint from [[materialize]]: its frame, its RDD (whose
    * partition `i` holds `counts(i)` rows) and its row count. */
  final case class Pinned(df: DataFrame, rdd: RDD[InternalRow], counts: IndexedSeq[Long]) {
    def count: Long = counts.sum
  }

  /** An eager local checkpoint of `df`: [[materialize]] with a cap of -1. */
  def localCheckpoint(df: DataFrame): Pinned = materialize(df, -1).toOption.get

  /** A frame of `schema` over `rdd`, whose rows are `UnsafeRow`s. */
  def rddFrame(spark: SparkSession, schema: StructType, rdd: RDD[InternalRow],
      count: Long): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    frame(spark, LogicalRDD(DataTypeUtils.toAttributes(schema), rdd)(session,
      Some(statistics(count, schema)), None))
  }

  /** Statistics of `rows` rows of `schema`: the exact count, and the
    * size Spark estimates for it. */
  private def statistics(rows: Long, schema: StructType): Statistics =
    Statistics(sizeInBytes = BigInt(rows) * math.max(1, schema.defaultSize), rowCount = Some(rows))

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

  /** Rows the driver holds, as an RDD: each partition is one byte array
    * of packed rows ([[pack]]) that its task unpacks, and the driver reads
    * `rows` with no job ([[graft.LocalEval]] evaluates plans over it). It
    * is the one form of every relation the engine holds on the driver
    * (`graft.Fixpoint.local`: DDL tables, pairs; sequence output), in
    * place of a `LocalRelation`: Catalyst maps over a `LocalRelation`'s
    * rows in every rule that rewrites its expressions, and
    * `LocalTableScanExec` Java-serializes each row object into its task.
    * Writing 150,000 two-BIGINT rows to the `noop` sink took 0.25–0.45 s
    * as a `LocalRelation` (about 0.23 s of it analysis and optimization)
    * and 0.05–0.07 s packed (local[4], 4-core VM). */
  final class DriverRows private[GraftBridge] (sc: SparkContext,
      @transient packed: Seq[Array[Byte]], numFields: Int,
      @transient val rows: IndexedSeq[InternalRow]) extends RDD[InternalRow](sc, Nil) {
    override protected def getPartitions: Array[Partition] =
      packed.indices.map(i => new DriverRowsPartition(i, packed(i))).toArray
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      unpack(split.asInstanceOf[DriverRowsPartition].bytes, numFields)
  }

  private final class DriverRowsPartition(val index: Int, val bytes: Array[Byte])
      extends Partition

  /** A scan of rows the driver holds as a [[DriverRows]] RDD: its rows. */
  object DriverRowsScan {
    def unapply(p: LogicalPlan): Option[IndexedSeq[InternalRow]] = p match {
      case r: LogicalRDD => r.rdd match {
        case d: DriverRows => Some(d.rows)
        case _ => None
      }
      case _ => None
    }
  }

  /** A frame over `rows` of `schema` held on the driver, as [[DriverRows]]
    * cut as Spark cuts a file of the same estimated size into scan splits
    * (`FilePartition.maxSplitBytes`, from `spark.sql.files.*`): at
    * Spark's defaults, anything up to 4 MB is one partition. The plan
    * knows a one-partition relation is one, so a global sort or an
    * aggregate over it plans no exchange and runs in its one task. */
  def driverFrame(spark: SparkSession, schema: StructType, rows: IndexedSeq[InternalRow]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val toUnsafe = UnsafeProjection.create(schema)
    val n = rows.size
    val stats = statistics(n, schema)
    val split = FilePartition.maxSplitBytes(session, stats.sizeInBytes.toLong)
    val slices = math.max(1, math.min(n, ((stats.sizeInBytes + split - 1) / split).toInt))
    val packed = (0 until slices).map(i =>
      pack(rows.iterator.slice(i * n / slices, (i + 1) * n / slices).map(toUnsafe)))
    val rdd = new DriverRows(session.sparkContext, packed, schema.length, rows)
    val partitioning = if (slices == 1) SinglePartition else UnknownPartitioning(slices)
    frame(spark, LogicalRDD(DataTypeUtils.toAttributes(schema), rdd, partitioning)(session,
      Some(stats), None))
  }

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
        var w = 0L
        val bytes = pack(it.takeWhile(_ => w <= budget).map { row => w += weight(row); row })
        Iterator.single((w, if (w <= budget) bytes else null))
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
        Some(parts.flatMap(unpack(_, numFields)))
      }
    }
  }

  /** `rows` (`UnsafeRow`s) packed into one byte array, each as its size
    * and its bytes: the form rows cross between the driver and tasks in,
    * one array per partition instead of one serialized object per row. */
  private def pack(rows: Iterator[InternalRow]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    val buf = new Array[Byte](4096)
    rows.foreach { row =>
      val u = row.asInstanceOf[UnsafeRow]
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, buf)
    }
    out.flush()
    bytes.toByteArray
  }

  /** The rows of `numFields` fields that [[pack]] wrote into `bytes`. */
  private def unpack(bytes: Array[Byte], numFields: Int): Iterator[InternalRow] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    Iterator.continually(in.available() > 0).takeWhile(identity).map { _ =>
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      val row = new UnsafeRow(numFields)
      row.pointTo(b, b.length)
      row: InternalRow
    }
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
