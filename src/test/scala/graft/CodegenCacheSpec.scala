package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Engine.session sizes Spark's JVM-wide codegen cache to the engine's
  * working set and trims the status stores nobody reads. A TPC-H pass
  * generates more classes than Spark's default cache (100) holds, so with
  * the default every pass recompiles them all; with the engine's setting a
  * second pass compiles nothing. The first pass counts only classes the
  * cache does not already hold, so it assumes no suite ran these plans
  * within the cache's last 1000 compiles. */
class CodegenCacheSpec extends AnyFunSuite with Eventually {
  import SparkTestSession._

  private val tpch = ("agg_tpch_q1" +: (2 to 22).map(i => s"tpch_q$i")).map { n =>
    SparkEntry.allDefs.find(_.name == n).getOrElse(fail(s"$n not in the registry"))
  }

  /** Janino compiles during one noop-sink pass over the TPC-H queries. */
  private def compilesInPass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    tpch.foreach { d =>
      d.fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      Checkpoints.releaseAll(spark)
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second TPC-H pass compiles no class") {
    val first = compilesInPass()
    val second = compilesInPass()
    assert(first > 100, s"first pass compiled $first classes; the working set must exceed Spark's default cache of 100")
    assert(second == 0, s"second pass recompiled $second of the first pass's $first classes")
  }

  test("the SQL status store keeps only the configured executions") {
    val retained = 10
    assert(spark.conf.get("spark.sql.ui.retainedExecutions") == retained.toString)
    (1 to 3 * retained).foreach(i => spark.range(i).write.mode("overwrite").format("noop").save())
    eventually(timeout(Span(30, Seconds))) {
      val kept = org.apache.spark.sql.GraftBridge.sqlExecutionsRetained(spark)
      assert(kept <= retained, s"status store holds $kept SQL executions, configured $retained")
    }
  }
}
