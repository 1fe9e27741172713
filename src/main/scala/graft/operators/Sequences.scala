package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.{Checkpoints, Fixpoint, LocalEval, QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** SQL sequences — NEXT VALUE FOR / CURRENT VALUE FOR
  * (reference: core/.../sql/fun/SqlStdOperatorTable.java:2206
  * NEXT_VALUE/CURRENT_VALUE; server/.../sql/ddl/SqlCreateSequence
  * via the `sequence.iq` goldens: `NEXT VALUE FOR seq` yields
  * consecutive values in row order, `CURRENT VALUE FOR seq` reads the
  * last generated value without advancing, an unknown sequence is a
  * "Table not found" error).
  *
  * Two paths, one contract. An input the driver can hold (at most
  * [[graft.Fixpoint.localRowCap]] rows, the size Spark broadcasts) is
  * collected once, ordered and stamped on the driver, as the reference
  * evaluates row at a time. A larger one would collapse to one partition
  * under a global row_number, so it takes BLOCK RESERVATION, as
  * production engines do: the job that pins the input counts rows per
  * partition, the driver atomically advances the counter by the total
  * once, and each partition stamps its contiguous block by row position
  * — no global window ever touches the data. Values are
  * gap-free and unique on both paths; with explicit order columns the
  * assignment is additionally DETERMINISTIC (a driver sort, or range
  * partitioning + in-partition sort), which is what the oracle query
  * pins. SequencesSpec runs each case on both paths.
  */
object Sequences {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.t(s, dir, n)

  private final case class SeqState(start: Long, incrementBy: Long,
      next: AtomicLong) {
    /** Reserve `n` values; returns the first of the reserved block. */
    def reserve(n: Long): Long = next.getAndAdd(n * incrementBy)
    /** Last generated value (reference CURRENT VALUE semantics); the
      * reference errors before any NEXT VALUE — callers check
      * [[started]] first. */
    def current: Long = next.get() - incrementBy
    def started: Boolean = next.get() != start
  }

  /** (session, name) → state: each session has its own sequences, as
    * TableDdlSql keys its tables, so two sessions may each have a `seq`
    * of their own. A stopped session's sequences are swept on create. */
  private val catalog = new ConcurrentHashMap[(SparkSession, String), SeqState]()

  private def sweep(): Unit = catalog.keySet.removeIf(_._1.sparkContext.isStopped)

  def create(spark: SparkSession, name: String, startWith: Long = 1L, incrementBy: Long = 1L,
      replace: Boolean = false): Unit = {
    sweep()
    val st = SeqState(startWith, incrementBy, new AtomicLong(startWith))
    if (replace) catalog.put((spark, name), st)
    else if (catalog.putIfAbsent((spark, name), st) != null)
      throw new IllegalArgumentException(s"Sequence '$name' already exists")
  }

  /** CREATE SEQUENCE IF NOT EXISTS — atomic put-if-absent (a
    * check-then-create would race two concurrent callers into the
    * "already exists" error the clause is meant to suppress). */
  def createIfNotExists(spark: SparkSession, name: String, startWith: Long = 1L,
      incrementBy: Long = 1L): Unit = {
    sweep()
    catalog.putIfAbsent((spark, name),
      SeqState(startWith, incrementBy, new AtomicLong(startWith)))
  }

  def drop(spark: SparkSession, name: String): Boolean = catalog.remove((spark, name)) != null

  def exists(spark: SparkSession, name: String): Boolean = catalog.containsKey((spark, name))

  /** Whether the sequence has handed out any value yet (diagnostic; the
    * deferred-reservation spec pins parse/EXPLAIN purity with it). */
  def started(spark: SparkSession, name: String): Boolean = state(spark, name).started

  private def state(spark: SparkSession, name: String): SeqState = {
    val st = catalog.get((spark, name))
    if (st == null)
      throw new IllegalArgumentException(s"Table '$name' not found")
    st
  }

  /** CURRENT VALUE FOR — the last value handed out, without advancing. */
  def currentValue(spark: SparkSession, name: String): Long = {
    val st = state(spark, name)
    if (!st.started)
      throw new IllegalStateException(
        s"Sequence '$name' has not yet generated a value")
    st.current
  }

  /** NEXT VALUE FOR over a DataFrame: appends column `as` holding
    * consecutive sequence values and advances the counter by the row
    * count. With `orderCols` the values follow that global order
    * deterministically; without, they follow the DataFrame's existing
    * partition/row order — unique and gap-free either way. The sequence
    * is `df`'s session's. The counter advances once, when this is called.
    *
    * Where the input, with the appended BIGINT, has at most
    * [[graft.Fixpoint.localRowCap]] rows, it is collected once
    * ([[graft.Fixpoint.collectInternal]]: no job for a driver-held input,
    * one bounded job otherwise), sorted on the driver by `orderCols`
    * ([[graft.LocalEval.sortRows]]), stamped in Catalyst form and
    * returned as `GraftBridge.DriverRows`, packed for the tasks that read
    * it. A larger input (or a broadcast threshold of -1) takes
    * [[inBlocks]].
    */
  def nextValueFor(df: DataFrame, name: String, as: String,
      orderCols: Seq[Column] = Nil): DataFrame = {
    val st = state(df.sparkSession, name)
    val schema = df.schema.add(StructField(as, LongType, nullable = false))
    val cap = Fixpoint.localRowCap(df.sparkSession.sessionState.conf, schema)
    val onDriver = for {
      order <- if (orderCols.isEmpty) Some(Nil) else sortOrder(df, orderCols)
      rows <- Fixpoint.collectInternal(df, cap)
    } yield {
      val input = df.queryExecution.analyzed.output
      val sorted = if (order.isEmpty) rows else LocalEval.sortRows(rows, order, input)
      val types = input.map(_.dataType)
      val base = st.reserve(sorted.size)
      val stamped = sorted.iterator.zipWithIndex.map { case (r, i) =>
        new GenericInternalRow((r.toSeq(types) :+ (base + i * st.incrementBy)).toArray): InternalRow
      }.toIndexedSeq
      GraftBridge.driverFrame(df.sparkSession, schema, stamped)
    }
    onDriver.getOrElse(inBlocks(df, st, schema, orderCols))
  }

  /** `orderCols` resolved against `df`'s output, as its `Sort` holds them;
    * `None` where the driver cannot evaluate them. */
  private def sortOrder(df: DataFrame, orderCols: Seq[Column]): Option[Seq[SortOrder]] =
    df.sort(orderCols: _*).queryExecution.analyzed match {
      case Sort(order, true, child, _)
          if child.output == df.queryExecution.analyzed.output && LocalEval.sortable(order) =>
        Some(order)
      case _ => None
    }

  /** NEXT VALUE FOR by BLOCK RESERVATION, for an input too large for the
    * driver. One job pins the input as a local checkpoint and counts each
    * partition's rows (`GraftBridge.localCheckpoint`); the counter then
    * advances by the total once, and each partition stamps its contiguous
    * block by row position, with no window, join or shuffle. With
    * `orderCols` the input is range-partitioned and each partition sorted
    * first, a total order.
    *
    * The counts hold only for the layout they were taken on (range
    * partitioning samples its bounds per evaluation), and the pin fixes
    * that layout for every later read of the result. The pin belongs to
    * the result ([[graft.Checkpoints.ownedBy]]): a result the caller still
    * holds stays readable after further invocations, and the pin is
    * released once the result is unreachable, or by the harness's
    * `releaseAll`.
    */
  private def inBlocks(df: DataFrame, st: SeqState, schema: StructType,
      orderCols: Seq[Column]): DataFrame = {
    val parted =
      if (orderCols.isEmpty) df
      else df.repartitionByRange(orderCols: _*).sortWithinPartitions(orderCols: _*)
    val pinned = GraftBridge.localCheckpoint(parted)
    val base = st.reserve(pinned.count)
    val offsets = pinned.counts.scanLeft(0L)(_ + _)
    val inc = st.incrementBy
    val stamped = pinned.rdd.mapPartitionsWithIndex { (i, rows) =>
      val toUnsafe = UnsafeProjection.create(schema)
      val joined = new JoinedRow
      val value = new GenericInternalRow(1)
      rows.zipWithIndex.map { case (row, j) =>
        value.setLong(0, base + (offsets(i) + j) * inc)
        toUnsafe(joined(row, value)): InternalRow
      }
    }
    Checkpoints.ownedBy(GraftBridge.rddFrame(df.sparkSession, schema, stamped, pinned.count),
      pinned.rdd)
  }

  // ---- registry queries ----------------------------------------------------
  val defs: Seq[QDef] = Seq(

    // NEXT VALUE FOR with explicit order: a fresh sequence (START WITH
    // 1000 INCREMENT BY 5) stamped over orders keyed by o_orderkey. The
    // ordered assignment makes the distributed block reservation
    // deterministic, so the oracle is closed-form arithmetic over
    // row_number. Re-created per run (replace = true) → idempotent.
    QDef.sql("seq_next_value",
      """SELECT o_orderkey,
        |  1000 + (row_number() OVER (ORDER BY o_orderkey) - 1) * 5 AS seqval
        |FROM orders""") { (s, dir) =>
      create(s, "q_seq", startWith = 1000L, incrementBy = 5L, replace = true)
      nextValueFor(t(s, dir, "orders").select(col("o_orderkey")),
        "q_seq", "seqval", Seq(col("o_orderkey")))
    }
  )
}
