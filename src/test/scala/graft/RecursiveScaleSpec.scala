package graft

import graft.tools.RecursiveScale
import org.scalatest.funsuite.AnyFunSuite

/** The RecursiveScale calibration workload (r14 VERDICT #7) computes the
  * right fixpoint: the repeatUnion orders key-chain closure must equal
  * Spark's native WITH RECURSIVE over the same edge set, on the default
  * loop and the bucketed accumulator. The default loop runs once with the
  * session's settings (this fixture's closure fits on the driver) and
  * once with the broadcast threshold off, which forces its checkpoint +
  * `except` path — the one data-dominant fixpoints take. Closure size has
  * a closed form on the contiguous fixture keys — Σ(k%10+1) — pinned as
  * an independent check.
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

  private def assertNative(mode: String): Unit = {
    val got = RecursiveScale.closure(spark, sfDir, mode)
      .collect().map(_.toString).sorted
    assert(got.length == native.length,
      s"row count ${got.length} != ${native.length}")
    assert(got.sameElements(native))
    Checkpoints.releaseAll(spark)
  }

  for (mode <- Seq("wide", "bucketed"))
    test(s"repeatUnion closure (mode=$mode) equals native WITH RECURSIVE") {
      assertNative(mode)
    }

  test("repeatUnion closure on the checkpoint path equals native WITH RECURSIVE") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try assertNative("wide")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("bucketAcc rejects seed columns carrying the reserved __acc suffix") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val seed = Seq(1L).toDF("n").withColumn("x__acc", lit(1))
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Recursive.repeatUnion(seed, d => d.where(lit(false)),
        maxIter = 1, bucketAcc = true)
    }
    assert(ex.getMessage.contains("__acc"), ex.getMessage)
  }

  test("bucketed anti-join chain is exchange-free on the accumulator side") {
    // the physical plan of one bucketed round must not re-shuffle piece
    // relations: every Exchange below the anti joins belongs to the
    // candidate side (one repartition) — count exchanges in a 2-piece
    // chain and pin the bound
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // same conditions as inside repeatUnionBucketed: AQE off (see
    // CheckpointPartitioningSpec — under AQE the checkpoint loses its
    // partitioning and this very pin fails)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = spark.sparkContext.defaultParallelism
      val a = Seq(1L, 2L, 3L).toDF("n").repartition(p, col("n"))
        .localCheckpoint(eager = true)
      val b = Seq(4L, 5L).toDF("n").repartition(p, col("n"))
        .localCheckpoint(eager = true)
      val cand = Seq(3L, 4L, 6L).toDF("n").repartition(p, col("n"))
      val chained = cand
        .join(a.toDF("n__acc").hint("shuffle_hash"),
          col("n") === col("n__acc"), "left_anti")
        .join(b.toDF("n__acc").hint("shuffle_hash"),
          col("n") === col("n__acc"), "left_anti")
      val plan = chained.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange (candidate side only):\n$plan")
      assert(plan.contains("ShuffledHashJoin"), s"expected SHJ, got:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"piece side must not sort:\n$plan")
      assert(chained.collect().map(_.getLong(0)).sorted.sameElements(Array(6L)))
      Checkpoints.release(a); Checkpoints.release(b)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
