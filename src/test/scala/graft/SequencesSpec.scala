package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sequences (reference sequence.iq + server SqlCreateSequence):
  * NEXT VALUE FOR hands out consecutive values in row order, CURRENT
  * VALUE FOR reads without advancing, unknown sequences are "Table not
  * found" errors — plus the distributed properties the reference never
  * needed to state: block reservation keeps values unique and gap-free
  * across partitions, and ordered assignment is deterministic.
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

  test("distributed: unordered assignment is unique and gap-free across 8 partitions") {
    operators.Sequences.create(spark, "bulk_seq", startWith = 1L, incrementBy = 1L,
      replace = true)
    val df = spark.range(0, 1000).toDF("id").repartition(8)
    val vals = operators.Sequences.nextValueFor(df, "bulk_seq", "v")
      .select("v").collect().map(_.getLong(0))
    assert(vals.length == 1000)
    assert(vals.distinct.length == 1000, "values must be unique")
    assert(vals.min == 1L && vals.max == 1000L, "block must be gap-free")
    assert(operators.Sequences.currentValue(spark, "bulk_seq") == 1000L)
  }

  test("distributed: ordered assignment equals rank arithmetic deterministically") {
    operators.Sequences.create(spark, "ord_seq", startWith = 1000L, incrementBy = 5L,
      replace = true)
    val df = spark.range(0, 500).toDF("id")
      .withColumn("k", col("id") * 37 % 501) // a permutation, shuffled order
      .repartition(8)
    val got = operators.Sequences
      .nextValueFor(df.select(col("k")), "ord_seq", "v", Seq(col("k")))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap
    // k values are distinct, so ordered assignment is v = 1000 + rank(k)*5
    val ks = got.keySet.toSeq.sorted
    ks.zipWithIndex.foreach { case (k, i) =>
      assert(got(k) == 1000L + i * 5L, s"k=$k")
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
