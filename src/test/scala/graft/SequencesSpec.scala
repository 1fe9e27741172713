package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sequences (reference sequence.iq + server SqlCreateSequence):
  * NEXT VALUE FOR hands out consecutive values in row order, CURRENT
  * VALUE FOR reads without advancing, unknown sequences are "Table not
  * found" errors — plus the distributed properties the reference never
  * needed to state: the driver path and block reservation (a broadcast
  * threshold of -1) hand out the same values, unique and gap-free across
  * partitions, and ordered assignment is deterministic.
  */
class SequencesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("sequence.iq: NEXT VALUE FOR yields 1,2 then CURRENT VALUE holds (sequence.iq:22-38)") {
    spark.sql("DROP SEQUENCE IF EXISTS my_seq")
    spark.sql("CREATE SEQUENCE my_seq")
    val next = spark.sql(
      "SELECT NEXT VALUE FOR my_seq AS c FROM (VALUES 1, 2)")
      .collect().map(_.getLong(0)).sorted
    assert(next.toSeq == Seq(1L, 2L))
    val cur = spark.sql(
      "SELECT CURRENT VALUE FOR my_seq AS c FROM (VALUES 1, 2)")
      .collect().map(_.getLong(0))
    assert(cur.toSeq == Seq(2L, 2L))
    // a second NEXT VALUE batch continues where the first stopped
    val again = spark.sql(
      "SELECT NEXT VALUE FOR my_seq AS c FROM (VALUES 1, 2)")
      .collect().map(_.getLong(0)).sorted
    assert(again.toSeq == Seq(3L, 4L))
  }

  test("sequence.iq: unknown sequence is a Table-not-found error (sequence.iq:49-55)") {
    val e = intercept[IllegalArgumentException] {
      spark.sql("SELECT NEXT VALUE FOR unknown_seq AS c FROM (VALUES 1, 2)")
    }
    assert(e.getMessage.contains("Table 'unknown_seq' not found"))
  }

  test("START WITH / INCREMENT BY drive the generated arithmetic") {
    spark.sql("DROP SEQUENCE IF EXISTS step_seq")
    spark.sql("CREATE SEQUENCE step_seq START WITH 100 INCREMENT BY 10")
    val got = spark.sql(
      "SELECT NEXT VALUE FOR step_seq AS c FROM (VALUES 1, 2, 3)")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(100L, 110L, 120L))
  }

  test("DDL: IF NOT EXISTS is idempotent; DROP of unknown errors without IF EXISTS") {
    spark.sql("DROP SEQUENCE IF EXISTS ddl_seq")
    spark.sql("CREATE SEQUENCE ddl_seq START WITH 7")
    spark.sql("CREATE SEQUENCE IF NOT EXISTS ddl_seq START WITH 99")
    val got = spark.sql(
      "SELECT NEXT VALUE FOR ddl_seq AS c FROM (VALUES 1)")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(7L), "IF NOT EXISTS must not replace")
    spark.sql("DROP SEQUENCE ddl_seq")
    val e = intercept[IllegalArgumentException] {
      spark.sql("DROP SEQUENCE ddl_seq")
    }
    assert(e.getMessage.contains("not found"))
    spark.sql("DROP SEQUENCE IF EXISTS ddl_seq") // no error
  }

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `f` with the broadcast threshold at -1, which turns the driver path
    * off; the session's setting is restored afterwards. */
  private def inBlocks[T](f: => T): T = {
    val prev = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    try f finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  /** `(k, v)` for each row of NEXT VALUE FOR over `df`'s `k` on a fresh
    * sequence, the Spark jobs the invocation ran, and whether it took the
    * driver path (a result the driver holds). */
  private def stamp(df: DataFrame, order: Seq[Column], start: Long,
      inc: Long): (Seq[(Long, Long)], Long, Boolean) = {
    operators.Sequences.create(spark, "diff_seq", startWith = start, incrementBy = inc,
      replace = true)
    val jobs = new Bench.JobCounter(spark)
    val out = try operators.Sequences.nextValueFor(df.select(col("k")), "diff_seq", "v", order)
      finally jobs.close()
    val n = jobs.count
    val onDriver = LocalEval.driverLocal(out.queryExecution.analyzed)
    (out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq, n, onDriver)
  }

  /** Both paths' `(k, v)` rows, after asserting which path each took.
    * Every "distributed" case below runs on both. */
  private def bothPaths(df: => DataFrame, order: Seq[Column], start: Long = 1L,
      inc: Long = 1L): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val (driver, _, local) = stamp(df, order, start, inc)
    assert(local, "the default threshold did not take the driver path")
    val (blocks, _, blockLocal) = inBlocks(stamp(df, order, start, inc))
    assert(!blockLocal, "a threshold of -1 took the driver path")
    (driver, blocks)
  }

  /** 500 distinct keys, `id * 37 % 501` (a permutation), over `partitions`. */
  private def shuffledKeys(partitions: Int): DataFrame =
    spark.range(0, 500).select((col("id") * 37 % 501).as("k")).repartition(partitions)

  test("distributed: ordered assignment equals rank arithmetic deterministically") {
    val (driver, blocks) = bothPaths(shuffledKeys(8), Seq(col("k")), start = 1000L, inc = 5L)
    val expected = driver.map(_._1).sorted.zipWithIndex.map { case (k, i) => (k, 1000L + i * 5L) }
    assert(driver.sortBy(_._1) == expected)
    assert(blocks.sortBy(_._1) == expected)
    assert(operators.Sequences.currentValue(spark, "diff_seq") == 1000L + 499 * 5L)
  }

  test("distributed: unordered assignment is unique and gap-free across 8 partitions") {
    val (driver, blocks) = bothPaths(spark.range(0, 1000).select(col("id").as("k"))
      .repartition(8), Nil)
    for (vals <- Seq(driver, blocks).map(_.map(_._2)))
      assert(vals.sorted == (1L to 1000L), "values must be unique and gap-free")
    assert(driver.map(_._1).sorted == blocks.map(_._1).sorted)
    assert(operators.Sequences.currentValue(spark, "diff_seq") == 1000L)
  }

  test("distributed: a descending order with ties and INCREMENT BY") {
    val keys = spark.range(0, 300).select((col("id") % 7).as("k"), col("id"))
      .repartition(3)
    val (driver, blocks) = bothPaths(keys, Seq(col("k").desc), start = -10L, inc = -3L)
    // ties take any order among themselves, so compare each key's values
    def byKey(rows: Seq[(Long, Long)]) = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(byKey(driver) == byKey(blocks))
    val ks = driver.sortBy(-_._2).map(_._1)
    assert(ks == ks.sorted.reverse, "values must follow k descending")
    assert(driver.map(_._2).sorted == (0 until 300).map(i => -10L - 3L * i).sorted)
  }

  test("distributed: an empty input reserves nothing") {
    val (driver, blocks) = bothPaths(shuffledKeys(4).where(col("k") < 0), Seq(col("k")))
    assert(driver.isEmpty && blocks.isEmpty)
    assert(!operators.Sequences.started(spark, "diff_seq"))
  }

  test("the driver path collects its input with one job and stamps it with none") {
    val (rows, jobs, local) = stamp(spark.range(0, 100, 1, 4).select((col("id") * 7 % 101).as("k")),
      Seq(col("k")), 1L, 1L)
    assert(local)
    assert(jobs == 1)
    assert(rows.sortBy(_._2).map(_._1) == rows.map(_._1).sorted)
  }

  test("the counter advances once per invocation, by the row count") {
    for (path <- Seq("driver", "blocks")) {
      def run[T](f: => T): T = if (path == "blocks") inBlocks(f) else f
      operators.Sequences.create(spark, "once_seq", startWith = 10L, incrementBy = 2L,
        replace = true)
      val df = shuffledKeys(4)
      val first = run(operators.Sequences.nextValueFor(df, "once_seq", "v", Seq(col("k"))))
      assert(operators.Sequences.currentValue(spark, "once_seq") == 10L + 499 * 2L, path)
      val second = run(operators.Sequences.nextValueFor(df, "once_seq", "v"))
      assert(operators.Sequences.currentValue(spark, "once_seq") == 10L + 999 * 2L, path)
      // reading the results again reserves nothing more
      val vals = (first.collect() ++ second.collect()).map(_.getLong(1)).sorted.toSeq
      assert(vals == (0 until 1000).map(10L + 2L * _), path)
      assert(operators.Sequences.currentValue(spark, "once_seq") == 10L + 999 * 2L, path)
    }
  }

  test("blocks: a result read after later invocations keeps its values, until releaseAll") {
    inBlocks {
      operators.Sequences.create(spark, "held_seq", startWith = 1L, incrementBy = 1L,
        replace = true)
      def pinned = spark.sparkContext.getPersistentRDDs.keySet
      val before = pinned
      // 2,003 is prime, so id * 7919 % 2003 is a permutation of 0 until 2000
      val keys = spark.range(0, 2000, 1, 16).select((col("id") * 7919 % 2003).as("k"))
      val first = operators.Sequences.nextValueFor(keys.repartition(16), "held_seq", "v",
        Seq(col("k")))
      // later invocations over new range partitionings, before the first is read
      val later = (1 to 2).map(_ => operators.Sequences.nextValueFor(keys.repartition(16),
        "held_seq", "v", Seq(col("k"))))
      for ((df, i) <- (first +: later).zipWithIndex) {
        val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        assert(got.map(_._2) == (1L to 2000L).map(_ + 2000L * i), s"invocation $i")
      }
      val held = pinned -- before
      assert(held.size == 3, "each result holds one pin")
      Checkpoints.releaseAll(spark)
      assert((pinned intersect held).isEmpty, "releaseAll left a result's pin")
    }
  }

  test("reservation is execution-time: parse and EXPLAIN never advance (r6 ADVICE)") {
    spark.sql("DROP SEQUENCE IF EXISTS lazy_seq")
    spark.sql("CREATE SEQUENCE lazy_seq")
    // parse alone (no action) must not reserve
    val held = spark.sql("SELECT NEXT VALUE FOR lazy_seq AS c FROM (VALUES 1, 2)")
    assert(!operators.Sequences.started(spark, "lazy_seq"),
      "parsePlan must not advance the sequence")
    // EXPLAIN renders the deferred plan without reserving
    held.explain()
    assert(!operators.Sequences.started(spark, "lazy_seq"),
      "EXPLAIN must not advance the sequence")
    // the first executed action reserves the block
    assert(held.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(operators.Sequences.currentValue(spark, "lazy_seq") == 2L)
    // re-collecting the SAME DataFrame replays its reserved block (Spark
    // memoizes the executed RDD) — values are stable under re-reads ...
    assert(held.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(operators.Sequences.currentValue(spark, "lazy_seq") == 2L)
    // ... while re-issuing the statement reserves a fresh block
    val again = spark.sql("SELECT NEXT VALUE FOR lazy_seq AS c FROM (VALUES 1, 2)")
    assert(again.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
  }

  test("each session has its own sequences: same name, independent counters") {
    val a = spark.newSession()
    val b = spark.newSession()
    a.sql("CREATE SEQUENCE shared_name START WITH 10")
    b.sql("CREATE SEQUENCE shared_name START WITH 500 INCREMENT BY 5")
    def next(s: org.apache.spark.sql.SparkSession): Seq[Long] =
      s.sql("SELECT NEXT VALUE FOR shared_name AS c FROM range(2)")
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(next(a) == Seq(10L, 11L))
    assert(next(b) == Seq(500L, 505L))
    assert(next(a) == Seq(12L, 13L))
    assert(operators.Sequences.currentValue(b, "shared_name") == 505L)
    // the shared session sees neither
    assert(!operators.Sequences.exists(spark, "shared_name"))
    a.sql("DROP SEQUENCE shared_name")
    assert(next(b) == Seq(510L, 515L))
  }
}
