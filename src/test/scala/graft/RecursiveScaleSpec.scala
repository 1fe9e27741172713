package graft

import graft.tools.RecursiveScale
import org.scalatest.funsuite.AnyFunSuite

/** The RecursiveScale calibration workload (r14 VERDICT #7) computes the
  * right fixpoint: the repeatUnion orders key-chain closure must equal
  * Spark's native WITH RECURSIVE over the same edge set. The loop runs
  * once with the session's settings (this fixture's closure fits on the
  * driver) and once with the broadcast threshold off, which forces its
  * checkpoint + `except` path — the one data-dominant fixpoints take.
  * Closure size has a closed form on the contiguous fixture keys —
  * Σ(k%10+1) — pinned as an independent check.
  */
class RecursiveScaleSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val native: Array[String] = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """WITH RECURSIVE reach(start_k, node) AS (
        |  SELECT o_orderkey AS start_k, o_orderkey AS node FROM orders
        |  UNION ALL
        |  -- chains descend strictly, so UNION ALL (Spark's native
        |  -- recursion requires it) yields the same set as UNION here
        |  SELECT r.start_k, r.node - 1 AS node
        |  FROM reach r WHERE r.node % 10 <> 0
        |)
        |SELECT start_k, node FROM reach""".stripMargin)
      .collect().map(_.toString).sorted
  }

  test("closed form: closure size is sum of (key mod 10 + 1)") {
    import org.apache.spark.sql.functions._
    val expected = Tables.t(spark, sfDir, "orders")
      .agg(sum(pmod(col("o_orderkey"), lit(10)) + 1)).head().getLong(0)
    assert(native.length.toLong == expected)
  }

  private def assertNative(): Unit = {
    val got = RecursiveScale.closure(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(got.length == native.length,
      s"row count ${got.length} != ${native.length}")
    assert(got.sameElements(native))
    Checkpoints.releaseAll(spark)
  }

  // "mode=wide" names the mode RecursiveScale took while a bucketed loop
  // existed; the name is kept so the test keeps its identity across runs
  test("repeatUnion closure (mode=wide) equals native WITH RECURSIVE") {
    assertNative()
  }

  test("repeatUnion closure on the checkpoint path equals native WITH RECURSIVE") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try assertNative()
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
