package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Programmatic relational-algebra builder — the analogue of the
  * reference's RelBuilder entry point
  * (reference: core/src/main/java/org/apache/calcite/tools/RelBuilder.java —
  * scan:1067, filter:1178, project:1229, aggregate:1548, join:1936,
  * semiJoin:2077, antiJoin:2109, union:1764, intersect:1783, minus:1802,
  * values:2147, sort:2325, sortLimit:2344, limit:2300, snapshot:1104,
  * transientScan:1822, repeatUnion:1867, match:2474).
  *
  * Spark's DataFrame API *is* RelBuilder (SURVEY.md §3 entry point 2); this
  * facade completes the method-for-method surface — including the operators
  * Spark lacks (repeatUnion, match, snapshot/asof) — so a reference user
  * can port RelBuilder programs mechanically. It is a thin stack machine
  * over DataFrame: every call delegates to Catalyst-optimized operations,
  * adding no execution layer of its own.
  */
final class Rel private (
    private val spark: SparkSession,
    private val sfDir: String,
    private val stack: List[DataFrame]) {

  private def push(df: DataFrame) = new Rel(spark, sfDir, df :: stack)
  private def pop1(f: DataFrame => DataFrame) =
    new Rel(spark, sfDir, f(stack.head) :: stack.tail)
  private def pop2(f: (DataFrame, DataFrame) => DataFrame) = stack match {
    case right :: left :: rest => new Rel(spark, sfDir, f(left, right) :: rest)
    case _ => throw new IllegalStateException("need two inputs on the stack")
  }

  /** Current top-of-stack relation. */
  def build(): DataFrame = stack.head

  // -- leaves ---------------------------------------------------------------
  def scan(table: String): Rel = push(Tables.t(spark, sfDir, table))
  def values[T <: Product : org.apache.spark.sql.Encoder](rows: Seq[T], cols: String*): Rel =
    push(spark.createDataset(rows).toDF(cols: _*))
  /** TransientTable scan: push an existing relation
    * (reference: tools/RelBuilder.java transientScan:1822). */
  def pushRelation(df: DataFrame): Rel = push(df)

  // -- unary ----------------------------------------------------------------
  def filter(cond: Column): Rel = pop1(_.where(cond))
  def project(cols: Column*): Rel = pop1(_.select(cols: _*))
  def aggregate(groupBy: Seq[Column], aggs: Column*): Rel =
    pop1(df => if (groupBy.isEmpty) df.agg(aggs.head, aggs.tail: _*)
               else df.groupBy(groupBy: _*).agg(aggs.head, aggs.tail: _*))
  def distinct(): Rel = pop1(_.distinct())
  def sort(cols: Column*): Rel = pop1(_.orderBy(cols: _*))
  def sortLimit(offset: Int, fetch: Int, cols: Column*): Rel =
    pop1(_.orderBy(cols: _*).offset(offset).limit(fetch))
  def limit(n: Int): Rel = pop1(_.limit(n))
  def sample(fraction: Double, seed: Long): Rel =
    pop1(_.sample(withReplacement = false, fraction, seed))
  /** Exchange: redistribute by hash of the given keys
    * (reference: rel/core/Exchange.java:42, RelDistribution hash). */
  def exchange(cols: Column*): Rel = pop1(_.repartition(cols: _*))
  /** SortExchange: range-partition + per-partition sort
    * (reference: rel/core/SortExchange.java:44). */
  def sortExchange(cols: Column*): Rel =
    pop1(_.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*))
  /** Snapshot: latest state per key as of `asOf`
    * (reference: rel/core/Snapshot.java:47). */
  def snapshot(key: Column, time: Column, asOf: Column): Rel = pop1 { df =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(time.desc)
    df.where(time <= asOf).withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  // -- binary ---------------------------------------------------------------
  def join(joinType: String, cond: Column): Rel = pop2((l, r) => l.join(r, cond, joinType))
  def semiJoin(cond: Column): Rel = pop2((l, r) => l.join(r, cond, "left_semi"))
  def antiJoin(cond: Column): Rel = pop2((l, r) => l.join(r, cond, "left_anti"))
  def union(all: Boolean): Rel =
    pop2((l, r) => if (all) l.unionAll(r) else l.union(r).distinct())
  def intersect(all: Boolean): Rel =
    pop2((l, r) => if (all) l.intersectAll(r) else l.intersect(r))
  def minus(all: Boolean): Rel =
    pop2((l, r) => if (all) l.exceptAll(r) else l.except(r))

  /** Correlate / lateral: cross-apply a generator to each row
    * (reference: rel/core/Correlate.java:63; RelBuilder correlate). */
  def correlate(generator: Column, aliases: String*): Rel =
    pop1(_.select(col("*") +: Seq(generator.as(aliases)): _*))

  /** Pivot: per-value conditional aggregation
    * (reference: the Pivot relational shape; RelBuilder pivot). */
  def pivot(groupBy: Column, pivotCol: String, values: Seq[Any], agg: Column): Rel =
    pop1(_.groupBy(groupBy).pivot(pivotCol, values).agg(agg))

  /** As-of join: the correlated-Snapshot form over the top two relations
    * (probe below build on the stack; reference: Snapshot.java:47). */
  def asofJoin(probeKey: Column, buildKey: Column, probeTime: Column,
      buildTime: Column, buildCols: Seq[String], tieBreak: Column): Rel =
    pop2((probe, build) => operators.AsOf.asofJoin(
      probe, build, probeKey, buildKey, probeTime, buildTime, buildCols, tieBreak))

  /** MATCH_RECOGNIZE from clause bodies (reference: RelBuilder match:2474);
    * same grammar as the injected SQL syntax. */
  def matchRecognize(partitionCol: String, orderCol: String, orderTie: Option[String],
      measures: String, pattern: String, defines: String): Rel =
    pop1(df => plans.MatchRecognizeSql.dataframe(
      df, partitionCol, orderCol, orderTie, measures, pattern, defines))

  // -- iteration (reference: repeatUnion:1867 + transientScan:1822) ---------
  /** UNION-DISTINCT repeat-union of the top relation. `step` receives the
    * iteration's input, the transient scan, and builds one plan from it:
    * it is called once per plan, not once per round. A step that reads
    * the input's rows (an action on it) falls back to one plan per round.
    * See [[operators.Recursive.repeatUnion]]. */
  def repeatUnion(step: DataFrame => DataFrame, maxIter: Int = 100): Rel =
    pop1(seed => operators.Recursive.repeatUnion(seed, step, maxIter, tag = "rel"))

  /** TableFunctionScan leaf: push a generated relation
    * (reference: rel/core/TableFunctionScan.java; RelBuilder functionScan). */
  def functionScan(start: Long, end: Long): Rel =
    push(spark.range(start, end).toDF("id"))
}

object Rel {
  def builder(spark: SparkSession, sfDir: String): Rel =
    new Rel(spark, sfDir, Nil)
}
