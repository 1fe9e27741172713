package graft.operators

import graft.{QDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recursive queries — the reference's RepeatUnion/TableSpool machinery
  * (reference: core/src/main/java/org/apache/calcite/rel/core/RepeatUnion.java:53,
  * Spool.java:37, TableSpool.java:35; physical
  * adapter/enumerable/EnumerableRepeatUnion.java:39; RelBuilder surface
  * tools/RelBuilder.java:1867 `repeatUnion` / :1822 `transientScan`).
  *
  * Spark's native recursion (`UnionLoop`) accepts only UNION ALL
  * (`UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE`), so the UNION-DISTINCT form is
  * a driver loop: [[graft.Fixpoint.unionDistinct]], one level per round,
  * modelled on `UnionLoopExec`. While a level's rows fit Spark's broadcast
  * size they live on the driver, and the step (filters, projections,
  * joins against other driver-local inputs) is planned once over a
  * transient input, the reference's TransientTable scan; each level binds
  * its rows into that plan and is evaluated on the driver with no job. A
  * larger level is checkpointed and deduplicated with `except` at the
  * session's own parallelism. The loop changes no session conf.
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
    * `bucketAcc` selects the bucketed-accumulator loop below. The result's
    * checkpoints, if any, are released by the next call with the same
    * `tag` (or `Checkpoints.releaseAll`). */
  def repeatUnion(
      seed: DataFrame,
      step: DataFrame => DataFrame,
      maxIter: Int = 100,
      tag: String = "anon",
      bucketAcc: Boolean = false): DataFrame =
    graft.Checkpoints.superseding(s"repeat_union/$tag",
      if (bucketAcc) repeatUnionBucketed(seed, step, maxIter)
      else graft.Fixpoint.unionDistinct(seed, step, maxIter))

  /** Bucketed-accumulator semi-naive loop — the r16 SCALING.md mitigation
    * for the one measured super-linear edge (the ×100 wide closure's
    * except-against-accumulator re-shuffled the whole 82.5 M-pair
    * accumulator every round and spilled).
    *
    * The accumulator lives as DISJOINT pieces, each hash-partitioned on
    * the full row and `localCheckpoint`ed (LogicalRDD preserves the
    * physical outputPartitioning, so the planner still sees the hash
    * clustering). Each round's "except acc" becomes a chain of
    * CO-PARTITIONED shuffled-hash LEFT ANTI joins against the pieces:
    * the candidate set shuffles once (it must anyway), the accumulator
    * side shuffles and sorts ZERO times. Each round expands
    * `BucketedLevels` levels at once (the batching the ×50 calibration
    * ran with). Pieces older than the current delta merge into one (a
    * single acc-wide shuffle) every `BucketedMergeEvery` rounds —
    * amortizing what the except paid per round — and the merged-out
    * checkpoints release immediately.
    *
    * Row equality is === (null-UNSAFE), not <=>: Spark extracts
    * null-safe join keys as coalesce-wrapped expressions, which no
    * longer match the pieces' hash partitioning and would re-insert the
    * very exchanges this path exists to remove. Consequence: a row
    * containing a NULL never matches the accumulator, so it re-enters
    * the delta every round — results stay set-correct (the terminal
    * distinct dedupes), but fixpoint DETECTION degrades to maxIter.
    * Closure keys are null-free by construction; pass null-producing
    * steps through the default path instead. */
  private val BucketedLevels = 5
  private val BucketedMergeEvery = 8

  private def repeatUnionBucketed(
      seed: DataFrame,
      step: DataFrame => DataFrame,
      maxIter: Int): DataFrame = {
    val spark = seed.sparkSession
    val names = seed.columns.toSeq
    // the anti-join chain renames piece columns with this suffix; a seed
    // column already carrying it would make the join condition ambiguous
    require(!names.exists(_.endsWith("__acc")),
      s"bucketAcc reserves the __acc column-name suffix; rename: " +
        names.filter(_.endsWith("__acc")).mkString(", "))
    val keys = names.map(col)
    val p = spark.sparkContext.defaultParallelism
    // AQE must be OFF inside the loop: under AdaptiveSparkPlanExec,
    // Dataset.localCheckpoint captures UnknownPartitioning (pinned in
    // CheckpointPartitioningSpec), so every piece would re-shuffle
    // in the anti joins and the whole point of this path evaporates.
    // The loop's topology is hand-planned; AQE has nothing to add here.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // left side streams; the piece side builds a per-partition hash map —
      // no sort of either side, and EnsureRequirements sees matching
      // HashPartitioning(p) on both, so no exchange either
      def anti(l: DataFrame, piece: DataFrame): DataFrame = {
        val r = piece.toDF(names.map(_ + "__acc"): _*).hint("shuffle_hash")
        l.join(r, names.map(n => col(n) === col(n + "__acc")).reduce(_ && _),
          "left_anti")
      }
      val acc0 = seed.repartition(p, keys: _*).dropDuplicates()
        .localCheckpoint(eager = true)
      // pieces: head = newest delta (next round's step input), disjoint by
      // construction — every piece was anti-joined against all older ones
      var pieces = List(acc0)
      var delta = acc0
      var i = 0
      var round = 0
      var done = false
      while (!done && (maxIter < 0 || i < maxIter)) {
        val levels =
          if (maxIter < 0) BucketedLevels else math.min(BucketedLevels, maxIter - i)
        var d = delta
        val parts = Seq.newBuilder[DataFrame]
        var j = 0
        while (j < levels) { d = step(d); parts += d; j += 1 }
        // ONE shuffle of the round's candidate volume; the dropDuplicates
        // aggregate and every anti join below reuse that partitioning
        val cand = parts.result().reduce(_ union _)
          .repartition(p, keys: _*).dropDuplicates()
        val next = pieces.foldLeft(cand)(anti).localCheckpoint(eager = true)
        delta = next
        done = delta.isEmpty
        if (done) {
          graft.Checkpoints.release(delta)
        } else {
          pieces = delta :: pieces
          // merge everything EXCEPT the newest delta (still live as the
          // next round's step input); the merged-out checkpoints are gone
          // from the live list, so releasing them is safe
          if (round % BucketedMergeEvery == BucketedMergeEvery - 1 && pieces.tail.size > 1) {
            val older = pieces.tail
            val compacted = older.reduce(_ union _)
              .repartition(p, keys: _*).localCheckpoint(eager = true)
            older.foreach(graft.Checkpoints.release)
            pieces = List(delta, compacted)
          }
          i += levels
          round += 1
        }
      }
      // pieces are disjoint, but keep the terminal distinct for exact parity
      // with the default path's set semantics (and the === null caveat)
      pieces.reduce(_ union _).distinct()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

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
      // every level is one row on the driver: the step folds into the next
      // LocalRelation in the optimizer, so the 100 rounds launch no job
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
    // Spark 4.1 executes WITH RECURSIVE natively (UnionLoop — the engine's
    // own RepeatUnion analogue), so the reference's recursive surface also
    // runs as plain SQL text shared verbatim with the oracle. The
    // driver-loop repeatUnion above remains the LIBRARY path: UNION
    // (distinct) semantics, which native recursion rejects, and
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
