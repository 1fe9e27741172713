package graft

import org.apache.spark.sql.{DataFrame, GraftUnionLoopExec, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Native `WITH RECURSIVE` on the engine's driver path (`GraftUnionLoopExec`
  * over `Fixpoint.unionAll`) against Spark's own `UnionLoopExec`: every
  * query runs once as the session plans it and once with the broadcast
  * threshold off, which hands the whole loop to Spark's exec. The two must
  * return the same row multiset under the same schema, nullability
  * included, and raise the same error classes. The EXPLAIN line of the
  * exec says which path ran. */
class NativeRecursionSpec extends AnyFunSuite {
  import SparkTestSession._

  Tables.registerAll(spark, sfDir)

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The executed plan, with the exec's path line. */
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def counts(rows: Seq[Row]): Map[Row, Int] =
    rows.groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** `query`'s rows on both paths, after asserting that they agree; and
    * the plan the session's own path executed. */
  private def differential(query: => DataFrame): (Seq[Row], String) = {
    val df = query
    val rows = df.collect().toSeq
    val (sparkRows, sparkSchema, sparkPlan) = withConf(threshold, "-1") {
      val d = query
      (d.collect().toSeq, d.schema, plan(d))
    }
    assert(sparkPlan.contains("path=delegated: "), sparkPlan)
    assert(df.schema == sparkSchema)
    assert(counts(rows) == counts(sparkRows))
    (rows, plan(df))
  }

  private def sql(text: String): DataFrame = spark.sql(text)

  private def onDriver(p: String): Unit = assert(p.contains("path=driver"), p)

  test("the registry twins return Spark's rows on the driver path") {
    for (name <- Seq("recursive_series_native", "recursive_closure_native")) {
      val (rows, p) = differential(SparkEntry.queries(name)(spark, sfDir))
      onDriver(p)
      assert(rows.nonEmpty, name)
    }
  }

  /** Jobs `f` started. */
  private def jobsDuring(f: => Unit): Long = {
    val jobs = new Bench.JobCounter(spark)
    try { f; jobs.count } finally jobs.close()
  }

  private def write(name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

  test("recursive_series_native runs one job (its write), recursive_closure_native at most two") {
    write("recursive_series_native") // a first run compiles the write's classes
    assert(jobsDuring(write("recursive_series_native")) == 1)
    // the anchor reads nation: one bounded collect, then the write
    assert(jobsDuring(write("recursive_closure_native")) <= 2)
  }

  /** The loop exec's metrics after `df` ran, and its formatted EXPLAIN. */
  private def loopMetrics(df: DataFrame): (Map[String, Long], String) = {
    val exec = df.queryExecution.executedPlan.collectFirst { case e: GraftUnionLoopExec => e }
      .getOrElse(fail(plan(df)))
    (exec.metrics.map { case (k, m) => k -> m.value },
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
  }

  test("both paths post UnionLoopExec's metrics, and EXPLAIN names the path") {
    val query = "WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 100) " +
      "SELECT n FROM r"
    val expected = Map("numOutputRows" -> 100L, "numIterations" -> 100L, "numAnchorOutputRows" -> 1L)
    val df = sql(query)
    df.collect()
    val (driver, explained) = loopMetrics(df)
    assert(driver == expected)
    assert(explained.contains("Path: driver"), explained)
    val (delegated, sparkExplained) = withConf(threshold, "-1") {
      val d = sql(query)
      d.collect()
      loopMetrics(d)
    }
    assert(delegated == expected)
    assert(sparkExplained.contains("Path: delegated: broadcast threshold off"), sparkExplained)
  }

  test("a recursion joining a table collects the table once and stays on the driver") {
    val (rows, p) = differential(sql(
      """WITH RECURSIVE chain(region, nkey, depth) AS (
        |  SELECT n_regionkey, n_nationkey, 0 FROM nation WHERE n_nationkey < 5
        |  UNION ALL
        |  SELECT c.region, n.n_nationkey, c.depth + 1
        |  FROM chain c JOIN nation n ON n.n_nationkey = c.nkey + 5
        |)
        |SELECT * FROM chain""".stripMargin))
    onDriver(p)
    assert(rows.size == 25)
  }

  test("an unbounded recursion under an outer LIMIT stops at the limit") {
    val (rows, p) = differential(sql(
      """WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r)
        |SELECT n FROM r LIMIT 10""".stripMargin))
    onDriver(p)
    assert(rows.map(_.getInt(0)).sorted == (1 to 10))
  }

  test("an empty anchor yields no rows") {
    val (rows, p) = differential(sql(
      """WITH RECURSIVE r(n) AS (
        |  SELECT n_nationkey FROM nation WHERE n_nationkey < 0
        |  UNION ALL
        |  SELECT n + 1 FROM r WHERE n < 10
        |)
        |SELECT n FROM r""".stripMargin))
    onDriver(p)
    assert(rows.isEmpty)
  }

  test("NULLs a recursion produces survive, with the loop's nullability") {
    val (rows, p) = differential(sql(
      """WITH RECURSIVE r(n, label) AS (
        |  SELECT 1, CAST(NULL AS STRING)
        |  UNION ALL
        |  SELECT n + 1, CASE WHEN n % 2 = 0 THEN NULL ELSE CAST(n AS STRING) END
        |  FROM r WHERE n < 6
        |)
        |SELECT n, label FROM r""".stripMargin))
    onDriver(p)
    assert(rows.count(_.isNullAt(1)) == 3)
  }

  test("a result past the broadcast threshold hands the loop to Spark from scratch") {
    // 100 INT rows at 4 bytes each pass a 200-byte threshold at the 51st
    val (rows, p) = withConf(threshold, "200") {
      val df = sql("WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 100) " +
        "SELECT n FROM r")
      (df.collect().toSeq, plan(df))
    }
    assert(p.contains("path=delegated: result over the broadcast threshold"), p)
    assert(rows.map(_.getInt(0)).sorted == (1 to 100))
  }

  test("rand() in the recursion delegates to Spark's exec") {
    val (rows, p) = differential(sql(
      """WITH RECURSIVE r(n, x) AS (
        |  SELECT 1, 0.0D
        |  UNION ALL
        |  SELECT n + 1, rand(7) FROM r WHERE n < 5
        |)
        |SELECT n, x >= 0 AND x < 1 AS in_range FROM r""".stripMargin))
    assert(p.contains("path=delegated: nondeterministic"), p)
    assert(rows.map(_.getInt(0)).sorted == (1 to 5) && rows.forall(_.getBoolean(1)))
  }

  /** The error `query` raises on both paths; the driver path's plan line. */
  private def failsOnBoth(query: String, condition: String): String = {
    val df = sql(query)
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains(condition), e.getMessage)
    val spark = withConf(threshold, "-1")(intercept[Exception](sql(query).collect()))
    assert(spark.getMessage.contains(condition), spark.getMessage)
    plan(df)
  }

  test("the level limit raises RECURSION_LEVEL_LIMIT_EXCEEDED on both paths") {
    val p = failsOnBoth("WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r) " +
      "SELECT n FROM r", "RECURSION_LEVEL_LIMIT_EXCEEDED")
    assert(p.contains("path=delegated: level limit"), p)
  }

  test("the row limit raises RECURSION_ROW_LIMIT_EXCEEDED on both paths") {
    val p = withConf("spark.sql.cteRecursionRowLimit", "50") {
      failsOnBoth("WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 80) " +
        "SELECT n FROM r", "RECURSION_ROW_LIMIT_EXCEEDED")
    }
    assert(p.contains("path=delegated: row limit"), p)
  }
}
