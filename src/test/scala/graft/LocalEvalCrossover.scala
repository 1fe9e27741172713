package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Where driver evaluation stops paying off: times [[LocalEval]] against
  * Spark's own `limit(cap + 1).collect()` (the job a declined round runs)
  * on fixpoint-round plans over driver `LocalRelation`s of growing size,
  * and against the same plan built for one single-task job. Every timed
  * call builds a fresh plan, as a fixpoint round does, so each side pays
  * its own analysis and optimization. Prints one line per shape and size:
  * LocalEval's work units (see [[LocalEval.MaxWork]]) and the median
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
    val spark = Engine.session("local-eval-crossover", s"local[$cpus]", cpus)
    import spark.implicits._

    // A round plan, `single`: as the steps built it for one single-task
    // job before driver evaluation (both sides coalesced to one partition,
    // the build side hinted shuffle_hash).
    def one(df: DataFrame, single: Boolean) = if (single) df.coalesce(1) else df
    def build(df: DataFrame, single: Boolean) =
      if (single) df.coalesce(1).hint("shuffle_hash") else df

    /** A recursive_closure level: n (start, node) rows joined to an n-edge chain. */
    def closure(n: Int): Boolean => DataFrame = {
      val delta = (0 until n).map(i => (i.toLong, i.toLong)).toDF("start_k", "node")
      val edges = (1 until n + 1).map(i => (i.toLong, i.toLong - 1)).toDF("src", "dst")
      single => one(delta, single).alias("r")
        .join(build(edges, single).alias("e"), col("r.node") === col("e.src"))
        .select(col("r.start_k").as("start_k"), col("e.dst").as("node"))
    }

    /** A dedup_clusters round: n labels over cliques of 30 nodes (29n
      * directed edges, the degree of the sf0.1 fixture's clusters), edge
      * propagation, a pointer jump and a min. */
    def clusters(n: Int): Boolean => DataFrame = {
      val labels = (0 until n).map(i => (i.toLong, (i - i % 30).toLong)).toDF("id", "lbl")
      val edges = (0 until n).flatMap { i =>
        val base = i - i % 30
        (base until math.min(base + 30, n)).filter(_ != i).map(j => (i.toLong, j.toLong))
      }.toDF("src", "dst")
      single => {
        val l = one(labels, single)
        val jump = l.join(build(labels.select(col("id").as("jid"), col("lbl").as("jlbl")), single),
          col("lbl") === col("jid")).select(col("id"), col("jlbl").as("lbl"))
        one(l.alias("l").join(build(edges, single).alias("e"), col("l.id") === col("e.src"))
          .select(col("e.dst").as("id"), col("l.lbl").as("lbl"))
          .unionByName(l).unionByName(jump), single)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
      }
    }

    /** A theta join with a selective condition: n² pairs, about n rows out. */
    def theta(n: Int): Boolean => DataFrame = {
      val a = (0 until n).map(_.toLong).toDF("x")
      val b = (0 until n).map(_.toLong).toDF("y")
      single => one(a, single).join(one(b, single),
        col("x") + 1 === col("y") || col("x") > col("y") + (n - 2))
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
      val plan = shape match {
        case "closure" => closure(n)
        case "clusters" => clusters(n)
        case "theta" => theta(n)
      }
      val cap = Fixpoint.localRowCap(plan(false))
      var work = 0L
      def local(): Unit = {
        val (outcome, w) = LocalEval.evaluate(plan(false), cap, Long.MaxValue)
        require(outcome.isInstanceOf[LocalEval.Rows], s"$shape $n: $outcome")
        work = w
      }
      def job(single: Boolean): Unit = plan(single).limit(cap.toInt + 1).collect()
      // two warm-up calls a side: JIT and Spark's codegen cache
      (1 to 2).foreach { _ => local(); job(false); job(true) }
      val ms = (1 to reps).map(_ => Seq(millis(local()), millis(job(false)), millis(job(true))))
      println(s"$shape $n $work " + ms.transpose.map(t => f"${median(t)}%.1f").mkString(" "))
    }
    spark.stop()
  }
}
