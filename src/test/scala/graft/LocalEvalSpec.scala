package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Union}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Differential: every supported shape is evaluated by [[LocalEval]] and by
  * Spark's own collect, and the two results must be the same multiset;
  * every unsupported shape is declined. */
class LocalEvalSpec extends AnyFunSuite {
  import SparkTestSession._

  private val cap = 1000L

  /** Rows as a sorted multiset of their renderings: -0.0 and 0.0, and
    * decimals of different scale, render differently. */
  private def multiset(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** Asserts that `df`'s optimized plan has a `node` operator, that
    * LocalEval evaluates it, and that the result equals Spark's. */
  private def agrees(df: DataFrame, node: Class[_ <: LogicalPlan]): Seq[String] = {
    val plan = df.queryExecution.optimizedPlan
    assert(plan.exists(node.isInstance), s"no ${node.getSimpleName} in\n$plan")
    val local = rows(LocalEval.collect(df, cap), plan)
    val expected = multiset(df.collect())
    assert(multiset(local) == expected)
    expected
  }

  private def rows(outcome: LocalEval.Outcome, plan: LogicalPlan): Array[Row] = outcome match {
    case LocalEval.Rows(rs) => rs
    case other => fail(s"$other:\n$plan")
  }

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def ints(names: String*)(rows: Row*): DataFrame =
    frame(StructType(names.map(StructField(_, IntegerType))), rows: _*)

  private val left = ints("k", "v")(Row(1, 10), Row(2, 20), Row(null, 30), Row(2, 21), Row(4, 40))
  private val right = ints("k2", "w")(Row(1, 100), Row(2, 200), Row(null, 300), Row(3, 300))

  test("inner join: null keys never match") {
    val got = agrees(left.join(right, col("k") === col("k2")), classOf[Join])
    assert(got == Seq("[1,10,1,100]", "[2,20,2,200]", "[2,21,2,200]"))
    // the smaller side is the hash table's: here the left one
    val flipped = agrees(right.join(left, col("k") === col("k2")), classOf[Join])
    assert(flipped == Seq("[1,100,1,10]", "[2,200,2,20]", "[2,200,2,21]"))
    // keys that are NULL on non-null columns: no inferred IS NOT NULL
    // filter removes their rows before the join
    def key(c: String) = when(col(c) > 1, col(c))
    val nullable = agrees(left.join(right, key("k") === key("k2")), classOf[Join])
    assert(nullable == Seq("[2,20,2,200]", "[2,21,2,200]"))
  }

  test("null-safe join keys match NULL to NULL") {
    val got = agrees(left.join(right, col("k") <=> col("k2")), classOf[Join])
    assert(got.contains("[null,30,null,300]"))
  }

  test("join with a residual condition, and a cross join") {
    agrees(left.join(right, col("k") === col("k2") && col("v") * 10 <= col("w")), classOf[Join])
    agrees(left.crossJoin(right).where(col("v") + col("w") > 250), classOf[Join])
  }

  private val doubles = frame(StructType(Seq(StructField("x", DoubleType), StructField("n", IntegerType))),
    Row(0.0, 1), Row(-0.0, 2), Row(Double.NaN, 3),
    Row(java.lang.Double.longBitsToDouble(0x7ff8000000000001L), 4), Row(1.0, 5), Row(null, 6))

  test("NaN and -0.0 join keys match as Spark's") {
    val other = doubles.select(col("x").as("y"), col("n").as("m"))
    val got = agrees(doubles.join(other, col("x") === col("y")).select("n", "m"), classOf[Join])
    // 0.0 and -0.0 match each other, the two NaN bit patterns too
    assert(got.size == 9)
  }

  test("NaN and -0.0 grouping keys group as Spark's") {
    val got = agrees(doubles.groupBy("x").agg(count(lit(1)).as("c"), sum("n").as("s")),
      classOf[Aggregate])
    assert(got.sorted == Seq("[0.0,2,3]", "[1.0,1,5]", "[NaN,2,7]", "[null,1,6]"))
  }

  test("decimal sum and avg") {
    val dec = frame(StructType(Seq(StructField("g", StringType), StructField("d", DecimalType(10, 2)))),
      Row("a", new java.math.BigDecimal("1.25")), Row("a", new java.math.BigDecimal("2.50")),
      Row("b", new java.math.BigDecimal("99999999.99")), Row("b", new java.math.BigDecimal("0.01")),
      Row("c", null))
    agrees(dec.groupBy("g").agg(sum("d"), avg("d"), min("d"), max("d"), count("d")),
      classOf[Aggregate])
  }

  test("global aggregate over empty input is one row of initial values") {
    val empty = left.join(right, col("k") === col("k2")).where(col("w") > 1000)
    val got = agrees(empty.agg(count(lit(1)), min("v"), sum("w")), classOf[Aggregate])
    assert(got == Seq("[0,null,null]"))
  }

  test("distinct and grouped results over a join") {
    agrees(left.join(right, col("k") === col("k2")).select("k").distinct(), classOf[Aggregate])
    agrees(left.join(right, col("k") === col("k2")).groupBy(col("k") % 2)
      .agg(max(col("v") + col("w")), (sum("w") / 2).as("half")), classOf[Aggregate])
  }

  test("three-way union, with a limit") {
    val third = ints("a", "b")(Row(7, 70), Row(null, null))
    val u = left.join(right, col("k") === col("k2")).select("k", "v")
      .union(left).union(third)
    agrees(u, classOf[Union])
    val limited = u.limit(3)
    assert(rows(LocalEval.collect(limited, cap), limited.queryExecution.optimizedPlan).length == 3)
  }

  /** The condition of the first `SparkThrowable` in `t`'s cause chain. */
  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .collectFirst { case s: SparkThrowable => s.getCondition }
      .getOrElse(fail(s"no SparkThrowable in $t"))

  test("ANSI overflow raises the same error on both paths") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val big = ints("k", "v")(Row(1, Int.MaxValue))
    val df = big.join(right, col("k") === col("k2")).select(col("v") + 1)
    val local = intercept[Exception](LocalEval.collect(df, cap))
    val remote = intercept[Exception](df.collect())
    assert(condition(local) == condition(remote))
    assert(condition(local) == "ARITHMETIC_OVERFLOW")
  }

  test("unsupported shapes are declined") {
    val joined = left.join(right, col("k") === col("k2"))
    val declined = Seq(
      "left outer join" -> left.join(right, col("k") === col("k2"), "left_outer"),
      "rand()" -> joined.select(col("v") + rand()),
      "collect_list" -> joined.groupBy("k").agg(collect_list("w")),
      "count(DISTINCT)" -> joined.agg(countDistinct("w")),
      "window" -> joined.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("w"))))
    for ((name, df) <- declined)
      assert(LocalEval.collect(df, cap) == LocalEval.Declined, name)
  }

  test("a result over the cap is OverCap, an intermediate one is declined") {
    // 5 x 4 = 20 rows
    val cross = left.crossJoin(right)
    assert(LocalEval.collect(cross, 19) == LocalEval.OverCap)
    assert(LocalEval.collect(cross.select("v"), 19) == LocalEval.OverCap)
    assert(rows(LocalEval.collect(cross, 20), cross.queryExecution.optimizedPlan).length == 20)
    // one row out, but 20 rows in: the cap bounds every operator
    assert(LocalEval.collect(cross.agg(count(lit(1))), 10) == LocalEval.Declined)
  }

  test("a join that checks more pairs than the work budget is declined") {
    // n^2 pairs, about n rows out: the output alone stays far under the cap
    val n = math.sqrt(LocalEval.MaxWork.toDouble).toInt + 10
    val s = spark
    import s.implicits._
    val theta = (0 until n).toDF("x").join((0 until n).toDF("y"),
      col("x") + 1 === col("y") || col("x") > col("y") + (n - 2))
    val plan = LocalEval.compile(theta).get
    def evaluate(maxWork: Long) = LocalEval.evaluate(plan, Map.empty, cap = 1000000L, maxWork)
    val (outcome, work) = evaluate(LocalEval.MaxWork)
    assert(outcome == LocalEval.Declined)
    // it stops at the budget: it does not check all n^2 pairs first
    assert(work <= LocalEval.MaxWork + n)
    // inputs whose rows alone pass the budget are declined before any work
    assert(evaluate(maxWork = n) == (LocalEval.Declined, 0L))
    // and under an unbounded budget it agrees with Spark
    val (all, _) = evaluate(Long.MaxValue)
    assert(multiset(rows(all, theta.queryExecution.optimizedPlan)) == multiset(theta.collect()))
  }

  test("a round input bound twice through a self-join agrees with Spark") {
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("lbl", IntegerType)))
    // a pointer jump, as dedup_clusters' rounds take it: each id's label's label
    def jump(l: DataFrame): DataFrame = l
      .join(l.select(col("id").as("jid"), col("lbl").as("jlbl")), col("lbl") === col("jid"))
      .select(col("id"), col("jlbl").as("lbl"))
    val (input, id) = GraftBridge.roundInput(spark, schema)
    val plan = LocalEval.compile(jump(input)).get
    val inputs = plan.plan.collectLeaves().collect { case r: GraftBridge.RoundInput => r }
    assert(inputs.size == 2 && inputs.map(_.id).distinct == Seq(id))
    assert(inputs.map(_.output.head.exprId).distinct.size == 2)
    // one plan, rebound: each binding agrees with Spark over a LocalRelation
    for (bound <- Seq(
        Seq(Row(1, 1), Row(2, 1), Row(3, 2), Row(4, 3), Row(5, null)),
        Seq(Row(7, 8), Row(8, 9), Row(9, 9)))) {
      val local = rows(LocalEval.run(plan, Map(id -> bound), cap), plan.plan)
      val expected = multiset(jump(frame(schema, bound: _*)).collect())
      assert(expected.nonEmpty && multiset(local) == expected)
    }
  }
}
