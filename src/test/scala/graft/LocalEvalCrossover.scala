package graft

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Where driver evaluation stops paying off: times [[LocalEval]] against
  * Spark's own `limit(cap + 1).collect()` (the job a declined round runs)
  * on fixpoint rounds of growing size, and against the same plan built for
  * one single-task job. Each side is timed as `Fixpoint` runs it: LocalEval
  * evaluates the step's plan compiled once over a round input, with the
  * round's rows bound per call; the job side builds a fresh plan over a
  * `LocalRelation` of the rows per call, as a declined round does, and
  * pays its own analysis and optimization. Prints one line per shape and
  * size: LocalEval's work units (see [[LocalEval.MaxWork]]) and the median
  * milliseconds of each side.
  *
  * {{{
  * sbt "Test/runMain graft.LocalEvalCrossover [cpus] [reps]"
  * }}}
  */
object LocalEvalCrossover {

  def main(args: Array[String]): Unit = {
    val cpus = args.lift(0).map(_.toInt).getOrElse(4)
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = Engine.session("local-eval-crossover", s"local[$cpus]")
    import spark.implicits._

    // A round step, `single`: as the steps built it for one single-task
    // job before driver evaluation (both sides coalesced to one partition,
    // the build side hinted shuffle_hash).
    def one(df: DataFrame, single: Boolean) = if (single) df.coalesce(1) else df
    def build(df: DataFrame, single: Boolean) =
      if (single) df.coalesce(1).hint("shuffle_hash") else df

    /** A round: its input rows, and the step over them. */
    final case class Round(input: DataFrame, step: (DataFrame, Boolean) => DataFrame)

    /** A recursive_closure level: n (start, node) rows joined to an n-edge chain. */
    def closure(n: Int): Round = {
      val delta = (0 until n).map(i => (i.toLong, i.toLong)).toDF("start_k", "node")
      val edges = (1 until n + 1).map(i => (i.toLong, i.toLong - 1)).toDF("src", "dst")
      Round(delta, (d, single) => one(d, single).alias("r")
        .join(build(edges, single).alias("e"), col("r.node") === col("e.src"))
        .select(col("r.start_k").as("start_k"), col("e.dst").as("node")))
    }

    /** A dedup_clusters round: n labels over cliques of 30 nodes (29n
      * directed edges, the degree of the sf0.1 fixture's clusters), edge
      * propagation, a pointer jump and a min. */
    def clusters(n: Int): Round = {
      val labels = (0 until n).map(i => (i.toLong, (i - i % 30).toLong)).toDF("id", "lbl")
      val edges = (0 until n).flatMap { i =>
        val base = i - i % 30
        (base until math.min(base + 30, n)).filter(_ != i).map(j => (i.toLong, j.toLong))
      }.toDF("src", "dst")
      Round(labels, { (in, single) =>
        val l = one(in, single)
        val jump = l.join(build(in.select(col("id").as("jid"), col("lbl").as("jlbl")), single),
          col("lbl") === col("jid")).select(col("id"), col("jlbl").as("lbl"))
        one(l.alias("l").join(build(edges, single).alias("e"), col("l.id") === col("e.src"))
          .select(col("e.dst").as("id"), col("l.lbl").as("lbl"))
          .unionByName(l).unionByName(jump), single)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
      })
    }

    /** A theta join with a selective condition: n² pairs, about n rows out. */
    def theta(n: Int): Round = {
      val a = (0 until n).map(_.toLong).toDF("x")
      val b = (0 until n).map(_.toLong).toDF("y")
      Round(a, (in, single) => one(in, single).join(one(b, single),
        col("x") + 1 === col("y") || col("x") > col("y") + (n - 2)))
    }

    def millis(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    val cases = Seq(
      "closure" -> Seq(100, 1000, 3000, 10000, 30000, 100000),
      "clusters" -> Seq(30, 100, 300, 1000, 3000, 10000),
      "theta" -> Seq(30, 100, 300, 500, 700, 1000))
    println("shape n work local_ms spark_ms single_task_ms")
    for ((shape, sizes) <- cases; n <- sizes) {
      val round = shape match {
        case "closure" => closure(n)
        case "clusters" => clusters(n)
        case "theta" => theta(n)
      }
      val schema = round.input.schema
      val rows = round.input.collect().toIndexedSeq
      val cap = Fixpoint.localRowCap(round.step(round.input, false))
      val (in, id) = GraftBridge.roundInput(spark, schema)
      val plan = LocalEval.compile(round.step(in, false)).get
      var work = 0L
      def local(): Unit = {
        val (outcome, w) = LocalEval.evaluate(plan, Map(id -> rows), cap, Long.MaxValue)
        require(outcome.isInstanceOf[LocalEval.Rows], s"$shape $n: $outcome")
        work = w
      }
      def job(single: Boolean): Unit =
        round.step(spark.createDataFrame(rows.asJava, schema), single)
          .limit(cap.toInt + 1).collect()
      // two warm-up calls a side: JIT and Spark's codegen cache
      (1 to 2).foreach { _ => local(); job(false); job(true) }
      val ms = (1 to reps).map(_ => Seq(millis(local()), millis(job(false)), millis(job(true))))
      println(s"$shape $n $work " + ms.transpose.map(t => f"${median(t)}%.1f").mkString(" "))
    }
    spark.stop()
  }
}
