package graft.tools

import graft.{Engine, Tables}
import graft.operators.Recursive
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-calibration harness for the iterate-to-fixpoint driver loop
  * (r14 VERDICT ask #7): the registry's recursive queries are
  * fixture-BOUNDED (a 100-level series, a 25-nation closure — they measure
  * the per-round scheduler floor, not data growth), so this runs
  * [[Recursive.repeatUnion]] over a DATA-DOMINANT workload whose input
  * scales with the fixture: the transitive closure of the key-chain edge
  * set of `orders` (src = o_orderkey with key%10 != 0, dst = key-1 —
  * chains of length ≤ 10, so the ROUND COUNT stays fixed while the delta
  * width scales linearly with the table; ScaleUp's power-of-ten key
  * stride preserves the mod-10 chain structure in every copy).
  *
  * Closure size = Σ chain positions ≈ 5.5 × |orders| — linear in the
  * fixture factor. Semi-naive evaluation makes each round's work
  * (step-join + except-against-acc) linear in |orders| too, so the
  * measured exponent should be ~1; the measured points live in SCALING.md
  * next to the minhash calibration.
  *
  * Usage: runMain graft.tools.RecursiveScale [sfDir]
  */
object RecursiveScale {

  /** (start_k, node) pairs of the orders key-chain closure, computed by
    * the engine's one fixpoint loop, [[graft.Fixpoint.unionDistinct]]. */
  def closure(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.t(spark, dir, "orders").select(col("o_orderkey").as("k"))
    val edges = orders.where(pmod(col("k"), lit(10)) =!= 0)
      .select(col("k").as("src"), (col("k") - 1).as("dst"))
      .localCheckpoint(eager = true)
    val seed = orders.select(col("k").as("start_k"), col("k").as("node"))
    val res = Recursive.repeatUnion(seed, d =>
      d.alias("r").join(edges.alias("e"), col("r.node") === col("e.src"))
        .select(col("r.start_k").as("start_k"), col("e.dst").as("node")),
      maxIter = 12, tag = "recursive_scale")
    graft.Checkpoints.release(edges)
    res
  }

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = Engine.session("graft-recursive-scale")
    val t0 = System.nanoTime()
    val n = closure(spark, dir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    // no release: stop frees every block, and a non-blocking release just
    // before it races the shutdown
    println(f"""{"recursive_scale":"$dir","rows":$n,"wall_s":$wall%.1f}""")
    spark.stop()
  }
}
