package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Driver-loop fixpoint iteration for the engine's recursive loops, each
  * shaped like the reference's RepeatUnion
  * (adapter/enumerable/EnumerableRepeatUnion.java:39):
  *  - the library's UNION-distinct `Recursive.repeatUnion`: [[unionDistinct]];
  *  - Spark's native `WITH RECURSIVE` (UNION ALL): its `UnionLoop` is
  *    planned as `GraftUnionLoopExec`, which runs [[unionAll]] and hands
  *    anything the driver cannot finish to Spark's own `UnionLoopExec`;
  *  - state iteration over checkpoints: [[iterate]]. Its one caller,
  *    `Dedup.clusters`, takes it only for an edge set past [[localRowCap]];
  *    one that fits is labelled on the driver by one union-find pass.
  *
  * Each round of [[unionDistinct]] applies a step to the previous round's
  * materialized result, and the module picks how that result is held:
  *  - '''small''' — at most [[localRowCap]] rows, held on the driver.
  *    The step's plan is built and optimized once, over a transient input
  *    (the reference's TransientTable scan), and each round binds its rows
  *    into it; a plan that reads only driver relations is evaluated by
  *    [[LocalEval]], with no job:
  *    `Project`, `Filter`, inner and cross joins, `Union`, aggregates over
  *    declarative functions, limits, and pass-through repartitions, hints
  *    and aliases. LocalEval declines any other operator, a
  *    non-deterministic, subquery or unevaluable expression, an
  *    intermediate output past `cap + 1` rows, and a round whose work
  *    passes [[LocalEval.MaxWork]] (where a Spark job is the faster). A
  *    step it cannot compile is built once per round over a
  *    `LocalRelation` of the round's rows (see [[unionDistinct]]); a round
  *    it declines (and a seed read from files) is collected by one job
  *    over all its partitions, each capped at `cap + 1` rows and the job
  *    cancelled once the total passes `cap`. A round LocalEval finds
  *    over the cap goes straight to the large path;
  *  - '''large''' — anything over the cap: `localCheckpoint`ed at the
  *    session's own parallelism, the only form that holds what the driver
  *    cannot.
  * A loop that has gone large stays large, so a large input pays the
  * collect attempt once, not every round.
  *
  * The same small/large choice holds one-shot relations the engine owns,
  * through [[materialize]] (or [[collectInternal]] for rows only): the
  * pairs of `BroadcastGrams.run`, the rows of `TableDdlSql`'s tables, and
  * the input of `Sequences.nextValueFor`.
  *
  * The module releases every checkpoint a round supersedes, and on a
  * throwing step everything the loop still holds. It sets no session conf.
  */
object Fixpoint {

  /** One materialized relation of `count` rows: `internal` holds them in
    * Catalyst form iff they live on the driver (then `df` is a
    * `GraftBridge.DriverRows` frame over them, built on first use);
    * otherwise `df` is a local checkpoint. */
  final class Round private[Fixpoint] (frame: => DataFrame, val schema: StructType,
      val internal: Option[IndexedSeq[InternalRow]], val count: Long) {
    lazy val df: DataFrame = frame
    /** The driver rows as external `Row`s, converted on first use. */
    lazy val rows: Option[IndexedSeq[Row]] =
      internal.map(rs => ArraySeq.unsafeWrapArray(toRows(schema, rs)))
    def local: Boolean = internal.isDefined
  }

  /** Largest row count a round may hold on the driver: Spark's
    * `spark.sql.autoBroadcastJoinThreshold` (the size Spark itself ships
    * to every task as a broadcast) over the row's estimated size. A
    * threshold of -1 turns the local path off. */
  def localRowCap(df: DataFrame): Long = localRowCap(df.sparkSession.sessionState.conf, df.schema)

  /** [[localRowCap]] for rows of `schema` under `conf`. */
  def localRowCap(conf: SQLConf, schema: StructType): Long = {
    val bytes = conf.autoBroadcastJoinThreshold
    math.min(math.max(0L, bytes / math.max(1, schema.defaultSize)), Int.MaxValue - 1L)
  }

  /** Materializes `df` on the driver when it has at most [[localRowCap]]
    * rows, else as a local checkpoint. A plan [[LocalEval]] evaluates runs
    * no job; any other runs as one job on either side of the cap
    * (`GraftBridge.materialize`). */
  def materialize(df: DataFrame): Round = {
    val spark = df.sparkSession
    val cap = localRowCap(df)
    val evaluated = if (cap > 0) LocalEval.collectInternal(df, cap).toOption else None
    evaluated match {
      case Some(rows) => local(spark, df.schema, rows)
      case None => GraftBridge.materialize(df, if (cap > 0) cap else -1) match {
        case Left(rows) => local(spark, df.schema, ArraySeq.unsafeWrapArray(rows))
        case Right(pinned) => new Round(pinned.df, df.schema, None, pinned.count)
      }
    }
  }

  /** A round of `rows` of `schema` held on the driver. */
  def local(spark: SparkSession, schema: StructType, rows: IndexedSeq[InternalRow]): Round =
    new Round(GraftBridge.driverFrame(spark, schema, rows), schema, Some(rows), rows.size)

  /** Frees a round's pinned blocks (a local round holds none). */
  def release(r: Round): Unit = if (!r.local) Checkpoints.release(r.df)

  /** State fixpoint over checkpoints: `state = step(state)` until
    * `done(state)` holds. Each state is `localCheckpoint`ed at the
    * session's own parallelism, and the state it supersedes is released;
    * on a throwing step or test, so is the state the loop holds. The
    * returned state's blocks are the caller's to release. There is no
    * driver path: a state that fits on the driver has a direct solution
    * cheaper than rounds (`Dedup.clusters`' union-find). */
  def iterate(init: DataFrame)(step: DataFrame => DataFrame)
      (done: DataFrame => Boolean): DataFrame = {
    var state = checkpoint(init)._1
    try {
      while (!done(state)) {
        val next = checkpoint(step(state))._1
        Checkpoints.release(state)
        state = next
      }
      state
    } catch { case e: Throwable => Checkpoints.release(state); throw e }
  }

  /** UNION-distinct fixpoint (RepeatUnion's contract):
    * seed ∪ step(seed) ∪ step²(seed) ∪ … — semi-naive, so each round
    * applies `step` once to the previous round's NEW rows only. Stops when
    * a round adds no row or after `maxIter` rounds (`maxIter < 0`:
    * unbounded, like RepeatUnion.iterationLimit).
    *
    * While the accumulated set fits under [[localRowCap]], it is a
    * driver-side set with `except`'s row equality (see [[key]]) and each
    * delta is bound into one compiled plan. Past the cap — or when a round
    * changes the row type, which only the engine's union widening can
    * follow — the loop continues as `localCheckpoint` + `except(acc)`
    * rounds.
    *
    * '''The step contract.''' `step` builds a plan from its input, and it
    * is called once per plan, not once per round. On the driver path the
    * loop calls it once on a transient input (a `RoundInput` leaf, the
    * reference's TransientTable scan), [[LocalEval]] compiles the result,
    * and each round binds its rows into that plan: no analysis, no
    * optimization and no job per round. The plan is built again only when
    * the round's row type changes (a round widened a nullability). A step
    * LocalEval cannot compile — an unsupported operator, a leaf that is
    * not a `LocalRelation`, output types other than its input's, or a
    * step that throws while it is built over the transient input (one
    * that runs an action on it, say) — runs one plan per round over a
    * `LocalRelation` of the round's rows, as every step did before. So
    * does a single round LocalEval declines at run time. The checkpoint
    * path builds one plan per round. */
  def unionDistinct(seed: DataFrame, step: DataFrame => DataFrame,
      maxIter: Int): DataFrame = {
    val spark = seed.sparkSession
    var schema = seed.schema
    val cap = localRowCap(seed)
    val acc = new java.util.LinkedHashMap[Any, Row]()
    def absorb(rows: Array[Row]): IndexedSeq[Row] = rows.iterator.map(canonRow)
      .filter(r => acc.putIfAbsent(key(r), r) == null).toIndexedSeq
    def accFrame = frame(spark, schema, acc.values.asScala.toIndexedSeq)
    var delta = collectUpTo(seed, cap) match {
      case Some(rows) => absorb(rows)
      case None => return large(seed.distinct(), None, step, maxIter)
    }
    val plans = new StepPlans(spark, step)
    var i = 0
    while (delta.nonEmpty && (maxIter < 0 || i < maxIter)) {
      val in = delta
      lazy val input = frame(spark, schema, in)
      lazy val cand = step(input)
      val (rows, candSchema) = plans(schema) match {
        case Some(plan) => (runRound(plan, in, cap, cand), plan.schema)
        case None =>
          (if (sameTypes(cand.schema, schema)) collectUpTo(cand, cap) else None, cand.schema)
      }
      rows.foreach { rs =>
        schema = orNullable(schema, candSchema)
        delta = absorb(rs)
        i += 1
      }
      if (rows.isEmpty || acc.size > cap)
        // candidates that did not fit: this round again, on the large path
        return large(accFrame, Some(if (rows.isEmpty) input else frame(spark, schema, delta)),
          step, if (maxIter < 0) maxIter else maxIter - i)
    }
    accFrame
  }

  /** What [[unionAll]] evaluated: every level's rows in order, anchor
    * first; the anchor's row count; and the number of non-empty levels.
    * `UnionLoopExec` reports the last two as `numAnchorOutputRows` and
    * `numIterations`. */
  final case class Levels(rows: IndexedSeq[Row], anchorRows: Long, iterations: Long)

  /** Spark's native recursion on the driver: `UnionLoopExec`'s UNION ALL
    * contract, which is the anchor, then the recursion applied to each
    * level's rows until a level is empty. `recursion` reads the previous
    * level through the transient input `input`. [[LocalEval]] compiles it
    * once, and each level binds its rows into that plan, so a level runs
    * no analysis, no optimization and no job. The anchor is collected as
    * a seed is ([[collectUpTo]]).
    *
    * The loop stops where `UnionLoopExec` stops. A pushed-down `limit`
    * ends it once the total reaches the limit, and caps each level at
    * what remains. It returns `Left(reason)` wherever it could not finish
    * exactly as Spark would; the caller then runs Spark's own loop:
    *  - where Spark raises an error: a non-empty level past `levelLimit`,
    *    and, with no `limit`, a total of `rowLimit` rows or more (-1
    *    turns either check off);
    *  - a recursion LocalEval cannot compile, or one whose row types are
    *    not the anchor's;
    *  - an anchor, a level or a total past [[localRowCap]] (a broadcast
    *    threshold of -1 turns the driver path off);
    *  - a level LocalEval declines, such as one past [[LocalEval.MaxWork]].
    * There is no large path: Spark's loop is the large path. */
  def unionAll(anchor: DataFrame, recursion: DataFrame, input: Long, limit: Option[Int],
      levelLimit: Int, rowLimit: Int): Either[String, Levels] = {
    val cap = localRowCap(anchor)
    if (cap <= 0) return Left("broadcast threshold off")
    val plan = LocalEval.compile(recursion) match {
      case Some(c) if sameTypes(c.schema, anchor.schema) => c
      case Some(_) => return Left("recursion changes the row type")
      case None => return Left("recursion not driver-evaluable")
    }
    // UnionLoopExec's countdown: the pushed limit, else the row limit
    var remaining = limit.getOrElse(rowLimit)
    val counted = remaining != -1
    def capped(rows: Array[Row]): IndexedSeq[Row] =
      if (limit.exists(_ >= 0)) rows.toIndexedSeq.take(math.max(remaining, 0)) else rows.toIndexedSeq
    var level = collectUpTo(anchor, cap) match {
      case Some(rows) => capped(rows)
      case None => return Left("anchor over the broadcast threshold")
    }
    val anchorRows = level.size.toLong
    val out = IndexedSeq.newBuilder[Row]
    var total = 0L
    var iterations = 0L
    var depth = 1
    var limitReached = false
    while (level.nonEmpty && !limitReached) {
      if (levelLimit != -1 && depth > levelLimit) return Left("level limit")
      out ++= level
      total += level.size
      iterations += 1
      if (total > cap) return Left("result over the broadcast threshold")
      if (counted) {
        remaining -= level.size
        if (remaining <= 0) {
          if (limit.isDefined) limitReached = true
          else return Left("row limit")
        }
      }
      if (!limitReached) {
        level = LocalEval.run(plan, Map(input -> level), cap) match {
          case LocalEval.Rows(rows) => capped(rows)
          case LocalEval.OverCap => return Left("level over the broadcast threshold")
          case LocalEval.Declined => return Left("level declined")
        }
        depth += 1
      }
    }
    Right(Levels(out.result(), anchorRows, iterations))
  }

  /** A step compiled over a transient input: the plan and the input's id. */
  private final case class StepPlan(compiled: LocalEval.Compiled, input: Long) {
    def schema: StructType = compiled.schema
  }

  /** `step`'s compiled plan for the current input row type, built again
    * only when the row type changes; `None` where LocalEval cannot compile
    * it (the step contract at [[unionDistinct]]). */
  private final class StepPlans(spark: SparkSession, step: DataFrame => DataFrame) {
    private var last: Option[(StructType, Option[StepPlan])] = None

    def apply(schema: StructType): Option[StepPlan] = last match {
      case Some((s, plan)) if s == schema => plan
      case _ =>
        val plan = compile(schema)
        last = Some((schema, plan))
        plan
    }

    private def compile(schema: StructType): Option[StepPlan] = {
      val (input, id) = GraftBridge.roundInput(spark, schema)
      try {
        val out = step(input)
        if (sameTypes(out.schema, schema)) LocalEval.compile(out).map(StepPlan(_, id))
        else None
      } catch { case NonFatal(_) => None }
    }
  }

  /** One driver round: `plan` over `rows`, its result when it has at most
    * `cap` rows. `df` is the same round as a plan of its own, which runs
    * as one bounded job where LocalEval declines the round. */
  private def runRound(plan: StepPlan, rows: IndexedSeq[Row], cap: Long,
      df: => DataFrame): Option[Array[Row]] =
    withinCap(LocalEval.runInternal(plan.compiled, Map(plan.input -> rows), cap), df, cap)
      .map(toRows(plan.schema, _))

  /** Large rounds merge into one checkpoint every this many rounds: a
    * union chain longer than this makes each round's `except` plan deep,
    * a shorter one re-copies the accumulator too often. */
  private val CompactEvery = 8

  /** The large path of [[unionDistinct]]: `acc0` is the set so far,
    * `delta0` the rows the next round expands (`None`: all of `acc0`). */
  private def large(acc0: DataFrame, delta0: Option[DataFrame],
      step: DataFrame => DataFrame, maxIter: Int): DataFrame = {
    var acc = checkpoint(acc0)._1
    var accCkpt = acc // last checkpointed ancestor of acc's union chain
    var delta = delta0.getOrElse(acc)
    // whether delta's blocks back acc's plan (until the next compaction)
    var deltaInAcc = delta0.isEmpty
    // deltas superseded as step inputs but still unioned into acc's plan:
    // releasable only once acc is compacted past them
    val retired = scala.collection.mutable.Buffer.empty[DataFrame]
    try {
      var i = 0
      var done = false
      while (!done && (maxIter < 0 || i < maxIter)) {
        // except's output is already distinct (set semantics)
        val (next, n) = checkpoint(step(delta).except(acc))
        if (!deltaInAcc) Checkpoints.release(delta)
        else if (delta ne accCkpt) retired += delta
        delta = next
        deltaInAcc = false
        done = n == 0
        if (done) Checkpoints.release(delta)
        else {
          acc = acc.union(delta)
          deltaInAcc = true
          i += 1
          if (i % CompactEvery == 0) {
            // compacted is materialized: the old base and every retired
            // delta have left acc's plan, and so has the current delta,
            // which stays live as the next round's input
            val compacted = checkpoint(acc)._1
            Checkpoints.release(accCkpt)
            retired.foreach(Checkpoints.release)
            retired.clear()
            acc = compacted
            accCkpt = compacted
            deltaInAcc = false
          }
        }
      }
      if (!deltaInAcc) Checkpoints.release(delta)
      // acc's leaves (accCkpt + the deltas since) back the returned plan
      acc.distinct()
    } catch {
      case e: Throwable =>
        Checkpoints.release(acc); retired.foreach(Checkpoints.release)
        Checkpoints.release(delta)
        throw e
    }
  }

  /** The rows when there are at most `cap`, as external `Row`s:
    * [[collectInternal]]'s, converted. */
  def collectUpTo(df: DataFrame, cap: Long): Option[Array[Row]] =
    collectInternal(df, cap).map(toRows(df.schema, _))

  /** The rows when there are at most `cap`, in Catalyst form: evaluated on
    * the driver by [[LocalEval]] or, where it declines, by one bounded job. */
  def collectInternal(df: DataFrame, cap: Long): Option[IndexedSeq[InternalRow]] =
    if (cap <= 0) None else withinCap(LocalEval.collectInternal(df, cap), df, cap)

  /** The one choice between the driver and a job: LocalEval's rows, `None`
    * past `cap`, or where LocalEval declines, `df` as one job over every
    * partition, each stopping after `cap + 1` rows, cancelled once the rows
    * the driver has received pass `cap` (`GraftBridge.collectWithin`). */
  private def withinCap(evaluated: Either[LocalEval.Outcome, IndexedSeq[InternalRow]],
      df: => DataFrame, cap: Long): Option[IndexedSeq[InternalRow]] = evaluated match {
    case Right(rows) => Some(rows)
    case Left(LocalEval.OverCap) => None
    case Left(_) => GraftBridge.collectWithin(df, cap)(_ => 1L).map(ArraySeq.unsafeWrapArray(_))
  }

  private def toRows(schema: StructType, rows: IndexedSeq[InternalRow]): Array[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    rows.iterator.map(toRow(_).asInstanceOf[Row]).toArray
  }

  private def checkpoint(df: DataFrame): (DataFrame, Long) = {
    val pinned = GraftBridge.localCheckpoint(df)
    (pinned.df, pinned.count)
  }

  private def frame(spark: SparkSession, schema: StructType,
      rows: IndexedSeq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def sameTypes(a: StructType, b: StructType): Boolean =
    a.map(_.dataType) == b.map(_.dataType)

  /** `a` with each top-level field nullable when it is in `a` or `b`. */
  private def orNullable(a: StructType, b: StructType): StructType =
    StructType(a.fields.zip(b.fields).map { case (x, y) =>
      StructField(x.name, x.dataType, x.nullable || y.nullable, x.metadata)
    })

  /** The row `except` and `distinct` output for a row: Spark's
    * NormalizeFloatingNumbers folds -0.0 into 0.0 and every NaN bit
    * pattern into one NaN, inside structs and arrays too. */
  private def canonRow(r: Row): Row = Row.fromSeq(r.toSeq.map(canon))

  private def canon(v: Any): Any = v match {
    case d: Double => if (d == 0.0d) 0.0d else if (d.isNaN) Double.NaN else d
    case f: Float => if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f
    case r: Row => canonRow(r)
    case s: scala.collection.Seq[_] => s.map(canon)
    case other => other
  }

  private case object NaNKey

  /** Hash key with `except`'s equality for a [[canonRow]]ical row: NULL
    * equals NULL, NaN equals NaN (JVM `==` says otherwise, hence the
    * stand-in), binary compares by content. */
  private def key(v: Any): Any = v match {
    case d: Double if d.isNaN => NaNKey
    case f: Float if f.isNaN => NaNKey
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(key)
    case s: scala.collection.Seq[_] => s.map(key)
    case other => other
  }
}
