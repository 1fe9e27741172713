package graft.operators

import graft.{QDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recursive queries — the reference's RepeatUnion/TableSpool machinery
  * (reference: core/src/main/java/org/apache/calcite/rel/core/RepeatUnion.java:53,
  * Spool.java:37, TableSpool.java:35; physical
  * adapter/enumerable/EnumerableRepeatUnion.java:39; RelBuilder surface
  * tools/RelBuilder.java:1867 `repeatUnion` / :1822 `transientScan`).
  *
  * Spark's native recursion (`UnionLoop`) accepts only UNION ALL
  * (`UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE`), so the UNION-DISTINCT form is
  * a driver loop: [[graft.Fixpoint.unionDistinct]], one level per round.
  * While a level's rows fit Spark's broadcast size they live on the
  * driver, and the step (filters, projections, joins against other
  * driver-local inputs) is planned once over a transient input, the
  * reference's TransientTable scan; each level binds its rows into that
  * plan and is evaluated on the driver with no job. A larger level is
  * checkpointed and deduplicated with `except` at the session's own
  * parallelism. The loop changes no session conf.
  *
  * The native UNION ALL form runs the same way: the engine plans Spark's
  * `UnionLoop` as `GraftUnionLoopExec`, which compiles the recursion once
  * and evaluates each level on the driver ([[graft.Fixpoint.unionAll]]),
  * and hands a loop it cannot finish that way to Spark's `UnionLoopExec`.
  */
object Recursive {

  /** UNION-DISTINCT repeat-union: seed ∪ step(seed) ∪ step²(seed) ∪ ...
    * Stops when the step yields no new rows or after maxIter iterations
    * (maxIter < 0 ⇒ unbounded, like RepeatUnion.iterationLimit).
    * `step` builds a plan from its input and is called once per plan, not
    * once per round: on the driver path once in all (again only when a
    * round widens a column's nullability), on the checkpoint path once a
    * round. A step the driver cannot compile (an unsupported operator, a
    * file or checkpoint leaf, a changed row type, or one that throws when
    * built over the transient input, such as an action on it) falls back
    * to one plan per round; see [[graft.Fixpoint.unionDistinct]].
    * The result's checkpoints, if any, are released by the next call with
    * the same `tag` (or `Checkpoints.releaseAll`). */
  def repeatUnion(
      seed: DataFrame,
      step: DataFrame => DataFrame,
      maxIter: Int = 100,
      tag: String = "anon"): DataFrame =
    graft.Checkpoints.superseding(s"repeat_union/$tag",
      graft.Fixpoint.unionDistinct(seed, step, maxIter))

  val defs: Seq[QDef] = Seq(

    // ---- Recursive series: WITH RECURSIVE n -> n+1 -------------------------
    // The canonical EnumerableRepeatUnionTest shape (reference:
    // core/src/test/java/org/apache/calcite/test/enumerable/EnumerableRepeatUnionTest.java).
    QDef.sql("recursive_series",
      """WITH RECURSIVE r(n) AS (
        |  SELECT 1 AS n
        |  UNION
        |  SELECT n + 1 FROM r WHERE n < 100
        |)
        |SELECT n, n * n AS n_sq FROM r""") { (s, dir) =>
      import s.implicits._
      val seed = Seq(1).toDF("n")
      // every level is one row on the driver: the step is compiled once and
      // each level's row is bound into it, so the 100 rounds launch no job
      repeatUnion(seed, d => d.where(col("n") < 100).select((col("n") + 1).as("n")),
        tag = "recursive_series")
        .select(col("n"), (col("n") * col("n")).as("n_sq"))
    },

    // ---- Recursive closure over an edge relation ---------------------------
    // Transitive closure of the chain n -> n-1 within each nation's
    // region: every (start, reachable) pair. The step is a JOIN against a
    // derived edge table — the TransientTable/TableSpool pattern.
    QDef.sql("recursive_closure",
      """WITH RECURSIVE edges AS (
        |  SELECT n_nationkey AS src, n_nationkey - 1 AS dst
        |  FROM nation WHERE n_nationkey > 0
        |), reach(start_k, node) AS (
        |  SELECT n_nationkey AS start_k, n_nationkey AS node FROM nation
        |  UNION
        |  SELECT r.start_k, e.dst AS node
        |  FROM reach r JOIN edges e ON r.node = e.src
        |)
        |SELECT start_k, node FROM reach""") { (s, dir) =>
      val nation = Tables.t(s, dir, "nation")
      val edges = graft.Fixpoint.materialize(nation.where(col("n_nationkey") > 0)
        .select(col("n_nationkey").as("src"), (col("n_nationkey") - 1).as("dst")))
      val seed = nation.select(col("n_nationkey").as("start_k"), col("n_nationkey").as("node"))
      // 25 nations: delta and edges are driver-local, so each level's join
      // is evaluated on the driver and launches no job
      try repeatUnion(seed, d =>
        // alias both sides: the delta's `node` descends from edges' `dst`,
        // so an unaliased self-join is ambiguous to the analyzer
        d.alias("r").join(edges.df.alias("e"), col("r.node") === col("e.src"))
          .select(col("r.start_k").as("start_k"), col("e.dst").as("node")),
        maxIter = 50, tag = "recursive_closure")
      // the result is materialized round by round; its plan no longer
      // reads the edge relation
      finally graft.Fixpoint.release(edges)
    },

    // ---- NATIVE recursion: the same fixpoints as ONE dual-engine SQL ------
    // Spark 4.1 parses WITH RECURSIVE into a UnionLoop (its RepeatUnion
    // analogue), so the reference's recursive surface also runs as plain SQL
    // text shared verbatim with the oracle. The engine plans the UnionLoop as
    // GraftUnionLoopExec: the recursion is compiled once and every level is
    // evaluated on the driver (Fixpoint.unionAll), with Spark's UnionLoopExec
    // as the fallback. The driver-loop repeatUnion above remains the LIBRARY
    // path: UNION (distinct) semantics, which native recursion rejects, and
    // programmatic step functions.
    QDef.common("recursive_series_native",
      """WITH RECURSIVE r(n) AS (
        |  SELECT 1 AS n
        |  UNION ALL
        |  SELECT n + 1 FROM r WHERE n < 100
        |)
        |SELECT n, n * n AS n_sq FROM r"""),

    QDef.common("recursive_closure_native",
      """WITH RECURSIVE reach(start_k, node) AS (
        |  SELECT n_nationkey AS start_k, n_nationkey AS node FROM nation
        |  UNION ALL
        |  SELECT r.start_k, r.node - 1 AS node
        |  FROM reach r WHERE r.node > 0
        |)
        |SELECT start_k, node FROM reach""")
  )
}
