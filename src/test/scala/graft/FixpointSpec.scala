package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The fixpoint module's contract: UNION-distinct semantics with
  * `except`'s row equality, the iteration limit, identical results on the
  * driver-local and the checkpoint path, a step's plan built once on the
  * driver path (and once per round where it cannot be), dedup_clusters'
  * union-find equal to its checkpoint rounds, and a session left as it
  * was found — same conf, no pinned blocks — after success and after a
  * throwing step. */
class FixpointSpec extends AnyFunSuite {
  import SparkTestSession._

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Runs `f` with the broadcast threshold off, which turns the local
    * path off; restores the session's setting afterwards. */
  private def onCheckpointPath[T](f: => T): T = {
    val prev = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    try f finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  private def rows(df: DataFrame): Seq[String] = {
    val out = df.collect().map(_.toString).sorted.toSeq
    Checkpoints.release(df)
    out
  }

  /** Both paths' results, after asserting they agree. */
  private def bothPaths(seed: => DataFrame, step: DataFrame => DataFrame,
      maxIter: Int = 50): Seq[String] = {
    val local = rows(Fixpoint.unionDistinct(seed, step, maxIter))
    val ckpt = onCheckpointPath(rows(Fixpoint.unionDistinct(seed, step, maxIter)))
    assert(local == ckpt, "local and checkpoint paths disagree")
    local
  }

  private def edges: DataFrame = {
    val s = spark
    import s.implicits._
    // 1 → 2 → 3 → 1 is a cycle; 3 → 4 leaves it
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
  }

  private def reachStep(e: DataFrame)(d: DataFrame): DataFrame =
    d.alias("r").join(e.alias("e"), col("r.node") === col("e.src"))
      .select(col("r.start_k").as("start_k"), col("e.dst").as("node"))

  test("UNION fixpoint over a cyclic edge set terminates (native recursion rejects it)") {
    val s = spark
    import s.implicits._
    edges.createOrReplaceTempView("fixpoint_edges")
    val ex = intercept[Exception] {
      spark.sql(
        """WITH RECURSIVE reach(start_k, node) AS (
          |  SELECT src, src FROM fixpoint_edges
          |  UNION
          |  SELECT r.start_k, e.dst FROM reach r JOIN fixpoint_edges e ON r.node = e.src
          |)
          |SELECT * FROM reach""".stripMargin).collect()
    }
    assert(ex.getMessage.contains("UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"), ex.getMessage)
    val seed = Seq(1L, 2L, 3L).toDF("k").select(col("k").as("start_k"), col("k").as("node"))
    val got = bothPaths(seed, reachStep(edges), maxIter = -1)
    val expected = for (a <- Seq(1L, 2L, 3L); b <- Seq(1L, 2L, 3L, 4L)) yield Row(a, b).toString
    assert(got == expected.sorted)
  }

  /** `f`'s result and the Spark jobs it launched. */
  private def jobsDuring[T](f: => T): (T, Long) = {
    val jobs = new Bench.JobCounter(spark)
    try {
      val out = f
      (out, jobs.count)
    } finally jobs.close()
  }

  /** `step`, and the number of times the loop has called it. */
  private final class Counted(step: DataFrame => DataFrame) extends (DataFrame => DataFrame) {
    var calls = 0
    def apply(d: DataFrame): DataFrame = { calls += 1; step(d) }
  }

  test("driver-local rounds launch no Spark job") {
    val s = spark
    import s.implicits._
    // a 25-level closure over the chain 24 → 23 → … → 0
    val chain = (1L to 24L).map(n => (n, n - 1)).toDF("src", "dst")
    val seed = (0L to 24L).toDF("k").select(col("k").as("start_k"), col("k").as("node"))
    val closureStep = new Counted(reachStep(chain))
    val (closure, closureJobs) = jobsDuring(Fixpoint.unionDistinct(seed, closureStep, -1))
    assert(closureJobs == 0)
    assert(closureStep.calls == 1)
    assert(rows(closure).size == 25 * 26 / 2)
    // a 100-level series
    val seriesStep = new Counted(d => d.where(col("n") < 100).select((col("n") + 1).as("n")))
    val (series, seriesJobs) = jobsDuring(Fixpoint.unionDistinct(Seq(1L).toDF("n"),
      seriesStep, -1))
    assert(seriesJobs == 0)
    assert(seriesStep.calls == 1)
    assert(rows(series).size == 100)
  }

  test("a round that widens nullability builds the step's plan again, once") {
    val s = spark
    import s.implicits._
    // n is non-null in the seed; the step's output is nullable
    val step = new Counted(d => d.select(when(col("n") < 3, col("n") + 1).as("n")))
    val (result, jobs) = jobsDuring(Fixpoint.unionDistinct(Seq(1L).toDF("n"), step, -1))
    assert(rows(result) == Seq("[1]", "[2]", "[3]", "[null]"))
    assert(step.calls == 2)
    assert(jobs == 0)
  }

  test("a step that runs an action on its input, or that LocalEval declines, " +
      "runs one plan per round") {
    val s = spark
    import s.implicits._
    val expected = (0 to 10).map(i => Row(i.toLong).toString).sorted
    // the action cannot run on the transient input, so the plan-once
    // build throws and every round builds its own plan
    val acting = new Counted({ d =>
      val top = d.agg(max("n")).head().getLong(0)
      d.where(lit(top) < 10).select((col("n") + 1).as("n"))
    })
    assert(bothPaths(Seq(0L).toDF("n"), acting) == expected)
    assert(acting.calls > 2)
    // a window: LocalEval declines it, and each round runs as one job
    val windowed = new Counted(d => d
      .withColumn("rn", row_number().over(Window.orderBy("n")))
      .where(col("rn") === 1 && col("n") < 10).select((col("n") + 1).as("n")))
    val (result, jobs) = jobsDuring(Fixpoint.unionDistinct(Seq(0L).toDF("n"), windowed, 50))
    assert(rows(result) == expected)
    assert(windowed.calls > 2)
    assert(jobs > 0)
  }

  test("dedup matches except on NaN, -0.0/0.0 and NULL") {
    val schema = StructType(Seq(
      StructField("x", DoubleType), StructField("s", StringType)))
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    def seed = spark.createDataFrame(java.util.Arrays.asList(
      Row(-0.0, null), Row(Double.NaN, "a"), Row(otherNaN, "a"), Row(1.0, "b"),
      Row(null, null)), schema)
    // negation: -0.0 → 0.0 and NaN → NaN are the same rows under except
    // (which outputs 0.0); only 1.0 → -1.0 is new, and -1.0 → 1.0 closes
    // the loop
    val step = (d: DataFrame) => d.select((-col("x")).as("x"), col("s"))
    val expected = {
      val s0 = seed
      rows(s0.union(step(s0)).union(step(step(s0))).distinct())
    }
    assert(expected.size == 5)
    // a dedup without except's equality never converges on NaN and
    // returns extra rows at the iteration limit
    assert(bothPaths(seed, step) == expected)
  }

  test("maxIter is respected on both paths") {
    val s = spark
    import s.implicits._
    val inc = (d: DataFrame) => d.select((col("n") + 1).as("n"))
    for (n <- Seq(0, 1, 3))
      assert(bothPaths(Seq(0L).toDF("n"), inc, maxIter = n) ==
        (0 to n).map(i => Row(i.toLong).toString).sorted)
  }

  test("iterate: label propagation agrees on both paths") {
    val s = spark
    import s.implicits._
    /** The union-find's labels, after asserting that it runs no job and
      * that the checkpoint rounds give the same rows. */
    def labels(pairs: DataFrame): Seq[String] = {
      val (local, jobs) = jobsDuring(rows(pipeline.Dedup.clusters(pairs)))
      val ckpt = onCheckpointPath(rows(pipeline.Dedup.clusters(pairs)))
      assert(local == ckpt, "union-find and checkpoint rounds disagree")
      assert(jobs == 0)
      local
    }
    def expect(labelled: (Long, Long)*): Seq[String] =
      labelled.map { case (a, b) => Row(a, b).toString }.sorted
    def longs(ps: (Long, Long)*): DataFrame = ps.toDF("id_a", "id_b")
    assert(labels(longs((1L, 2L), (2L, 3L), (5L, 4L), (7L, 7L), (9L, 3L))) ==
      expect((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (7L, 7L), (9L, 1L)))
    // a chain listed from its far end: 20 → 19 → … → 1
    assert(labels(longs((20L to 2L by -1L).map(n => (n, n - 1)): _*)) ==
      expect((1L to 20L).map(n => (n, 1L)): _*))
    // a star whose hub is its largest id
    assert(labels(longs((1L to 9L).map(n => (10L, n)): _*)) ==
      expect((1L to 10L).map(n => (n, 1L)): _*))
    // a cycle, entered away from its smallest id
    assert(labels(longs((6L, 7L), (7L, 8L), (8L, 5L), (5L, 6L))) ==
      expect((5L to 8L).map(n => (n, 5L)): _*))
    // a self-pair beside two disjoint components
    assert(labels(longs((4L, 4L), (3L, 2L), (9L, 8L), (8L, 7L))) ==
      expect((2L, 2L), (3L, 2L), (4L, 4L), (7L, 7L), (8L, 7L), (9L, 7L)))
    // STRING ids compare as strings: "10" < "9"
    assert(labels(Seq(("9", "b"), ("b", "10"), ("x", "y")).toDF("id_a", "id_b")) ==
      Seq(("10", "10"), ("9", "10"), ("b", "10"), ("x", "x"), ("y", "x"))
        .map { case (a, b) => Row(a, b).toString }.sorted)
    // a NULL id links nothing: it takes its neighbours' smallest label
    val nullable = Seq[(Option[Long], Option[Long])](
      (None, Some(5L)), (Some(8L), None), (Some(5L), Some(3L)), (Some(8L), Some(9L)))
      .toDF("id_a", "id_b")
    assert(labels(nullable) == (expect((3L, 3L), (5L, 3L), (8L, 8L), (9L, 8L)) :+
      Row(null, 3L).toString).sorted)
    // a pair of NULLs alone: one NULL id, with no label
    assert(labels(Seq[(Option[Long], Option[Long])]((None, None)).toDF("id_a", "id_b")) ==
      Seq(Row(null, null).toString))
  }

  /** Asserts that `f` leaves the session conf as it found it and adds no
    * persistent RDD. Spark tracks persisted RDDs weakly, so a leaked
    * checkpoint can vanish from the census once it is garbage; `f` gets
    * `keep`, which holds every step input strongly until the census is
    * read. (RDDs other suites leave behind may be collected meanwhile, so
    * the census is compared by id.) */
  private def leavesSessionClean(f: (DataFrame => DataFrame) => Unit): Unit = {
    Checkpoints.releaseAll(spark)
    val conf = spark.conf.getAll
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val inputs = scala.collection.mutable.Buffer.empty[DataFrame]
    f { d => inputs += d; d }
    assert(spark.conf.getAll == conf)
    val added = spark.sparkContext.getPersistentRDDs -- pinned
    assert(added.isEmpty, added.values.mkString("\n"))
    java.lang.ref.Reference.reachabilityFence(inputs)
  }

  for (path <- Seq("local", "checkpoint")) {
    def onPath(f: => Unit): Unit = if (path == "local") f else onCheckpointPath(f)

    test(s"session is left clean after a successful run ($path path)") {
      val s = spark
      import s.implicits._
      onPath {
        leavesSessionClean { keep =>
          val seed = Seq(1L, 2L, 3L).toDF("k").select(col("k").as("start_k"), col("k").as("node"))
          // enough rounds to compact the checkpoint accumulator twice
          val series = Fixpoint.unionDistinct(Seq(0L).toDF("n"),
            d => keep(d).where(col("n") < 20).select((col("n") + 1).as("n")), -1)
          assert(series.count() == 21)
          Checkpoints.release(series)
          rows(Fixpoint.unionDistinct(seed, d => reachStep(edges)(keep(d)), -1))
          val state = Fixpoint.iterate(Seq(10L).toDF("n"))(
            d => keep(d).select((col("n") - 1).as("n")))(_.head().getLong(0) == 0L)
          assert(state.head().getLong(0) == 0L)
          Checkpoints.release(state)
        }
      }
    }

    test(s"session is left clean after a throwing step ($path path)") {
      val s = spark
      import s.implicits._
      onPath {
        // fails while a plan is built: the local path builds the step's
        // plan once, so there on the first call (the per-round fallback
        // calls it again, and that call throws); the checkpoint path
        // builds one per round, so there on the 11th, after a compaction
        leavesSessionClean { keep =>
          var calls = 0
          val failAt = if (path == "local") 1 else 11
          intercept[IllegalStateException] {
            Fixpoint.unionDistinct(Seq(0L).toDF("n"), { d =>
              calls += 1
              if (calls >= failAt) throw new IllegalStateException("boom")
              keep(d).select((col("n") + 1).as("n"))
            }, -1)
          }
          intercept[IllegalStateException] {
            Fixpoint.iterate(Seq(0L).toDF("n"))({ d =>
              if (d.head().getLong(0) > 3) throw new IllegalStateException("boom")
              keep(d).select((col("n") + 1).as("n"))
            })(_ => false)
          }
        }
        // fails while a round executes
        leavesSessionClean { keep =>
          val failing = (d: DataFrame) => keep(d).select(
            when(col("n") > 10, raise_error(lit("boom"))).otherwise(col("n") + 1).as("n"))
          intercept[Exception](Fixpoint.unionDistinct(Seq(0L).toDF("n"), failing, -1))
          intercept[Exception] {
            Fixpoint.iterate(Seq(0L).toDF("n"))(failing)(_ => false)
          }
        }
      }
    }
  }

  test("the bounded collect runs one job: over cap, empty and exactly cap rows") {
    // four partitions of a file-like leaf, which LocalEval declines
    val ten = spark.range(0, 10, 1, 4).toDF("v")
    def values(rows: Option[Array[Row]]): Option[Seq[Long]] = rows.map(_.map(_.getLong(0)).toSeq)
    val (exact, exactJobs) = jobsDuring(Fixpoint.boundedCollect(ten, 10))
    assert(values(exact) == Some(0L until 10) && exactJobs == 1)
    val (over, overJobs) = jobsDuring(Fixpoint.boundedCollect(ten, 9))
    assert(over.isEmpty && overJobs == 1)
    val (empty, emptyJobs) = jobsDuring(Fixpoint.boundedCollect(ten.where(col("v") < 0), 10))
    assert(values(empty) == Some(Nil) && emptyJobs == 1)
    // through materialize: a long row is 8 bytes, so an 80-byte threshold caps a round at 10
    val prev = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "80")
    try {
      val local = Fixpoint.materialize(ten)
      assert(local.rows.map(_.map(_.getLong(0))) == Some(0L until 10))
      val large = Fixpoint.materialize(spark.range(0, 11, 1, 4).toDF("v"))
      assert(!large.local && large.df.count() == 11)
      Fixpoint.release(large)
    } finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }
}
