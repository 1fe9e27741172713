package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.{QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SQL sequences — NEXT VALUE FOR / CURRENT VALUE FOR
  * (reference: core/.../sql/fun/SqlStdOperatorTable.java:2206
  * NEXT_VALUE/CURRENT_VALUE; server/.../sql/ddl/SqlCreateSequence
  * via the `sequence.iq` goldens: `NEXT VALUE FOR seq` yields
  * consecutive values in row order, `CURRENT VALUE FOR seq` reads the
  * last generated value without advancing, an unknown sequence is a
  * "Table not found" error).
  *
  * Scale design — a sequence is an inherently global serialization
  * point, so a naive distributed implementation (global row_number)
  * collapses the data to one partition. This one does what production
  * engines do instead: BLOCK RESERVATION. One tiny aggregation counts
  * rows per partition (one row per partition on the driver), the
  * driver atomically advances the counter by the total once, and each
  * partition stamps its contiguous block with a partition-local
  * row_number — no global window ever touches the data. The per-
  * partition offset prefix-sum runs over at most `numPartitions` rows
  * by construction (bounded input, the documented unpartitioned-window
  * exemption). Values are gap-free and unique; with explicit order
  * columns the assignment is additionally DETERMINISTIC (range
  * partitioning + in-partition sort define a total order), which is
  * what the oracle query pins.
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
    * deterministically (range partition + in-partition sort); without,
    * they follow the DataFrame's existing partition/row order — unique
    * and gap-free either way. The sequence is `df`'s session's.
    *
    * Cost: one extra pass to count rows per partition (the price of
    * gap-free blocks); the data itself is never globally re-sorted
    * beyond what `orderCols` asks for. The input stays persisted until
    * the session evicts it — the count and assignment passes must see
    * the same (sampled) range-partition layout.
    */
  def nextValueFor(df: DataFrame, name: String, as: String,
      orderCols: Seq[Column] = Nil): DataFrame = {
    val spark = df.sparkSession
    val st = state(spark, name)
    val parted =
      if (orderCols.nonEmpty) df.repartitionByRange(orderCols: _*)
      else df
    // Persisted for the lifetime of the two passes: range partitioning
    // samples its boundaries per evaluation, so the count pass and the
    // assignment pass MUST observe the same partition layout or blocks
    // could overlap. The pin also makes the count pass the only extra
    // scan (the price of gap-free blocks).
    val withPid = parted.withColumn("__pid", spark_partition_id()).persist()
    // one tiny collect: one row per partition → offsets computed on the
    // driver (no window anywhere near the data)
    val counts = withPid.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = counts.map(_._2).sum
    val base = st.reserve(total)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _).init)
    val offs = spark.createDataFrame(offsets.toSeq).toDF("__pid", "__off")
    val localOrder = if (orderCols.nonEmpty) orderCols
      else Seq(monotonically_increasing_id())
    val local = row_number()
      .over(Window.partitionBy(col("__pid")).orderBy(localOrder: _*))
    withPid.join(broadcast(offs), "__pid")
      .withColumn(as,
        lit(base) + (col("__off") + local - lit(1L)) * lit(st.incrementBy))
      .drop("__pid", "__off")
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
