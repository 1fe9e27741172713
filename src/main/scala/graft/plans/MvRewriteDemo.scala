package graft.plans

import graft.{QDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Registry queries driving the MV unifier's r13 capabilities end-to-end
  * (reference behaviors: core/src/test/java/org/apache/calcite/test/
  * MaterializationTest.java — testJoinMaterialization's compensating join,
  * testJoinAggregateMaterializationAggregateFuncs2's equivalence-class
  * rollup; census in MaterializationParitySpec).
  *
  * Each query CREATEs a tile, runs a query the rewriter must answer from
  * it, and HARD-ASSERTS the executed plan scans the tile — so the driver's
  * correctness gate fails loudly if the rewrite regresses — then compares
  * values against DuckDB computing the same answer from the BASE tables
  * (the strongest form of "the tile answers the query exactly").
  *
  * Scale note: at 100 TB the two shapes here are the classic warehouse
  * wins — a filtered-projection tile turning a fact-table scan into a
  * kilobyte scan plus a broadcast-sized compensating join, and a
  * (orderkey, orderdate)-grain aggregate tile answering every coarser
  * date rollup below it. The registry clears before returning so later
  * registry queries in the same session see a clean optimizer.
  */
object MvRewriteDemo {

  // The tile parquet is REBUILT ON EVERY INVOCATION. In a deployment the
  // build is a once-per-lifecycle step and only the rewritten query
  // recurs, so the honest per-deployment split would be build-once /
  // query-many — but a benchmark rep that reuses a predecessor rep's tile
  // is timing precomputed work, so each invocation pays the full
  // lifecycle (build + rewrite + tile-scan query) from the base parquet.
  // The two phases' individual costs are recorded in OPTIMIZATION_r17.md.

  private def withTile(spark: SparkSession, name: String, dir: String,
      definition: DataFrame, query: => DataFrame): DataFrame = {
    MaterializedViews.clear()
    MaterializedViews.install(spark)
    val path = s"/tmp/graft_mv_demo/$name"
    MaterializedViews.create(spark, name, definition, path)
    try {
      val df = query
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("graft_mv_demo"),
        s"MV rewrite did not fire for $name:\n$plan")
      df
    } finally MaterializedViews.clear()
  }

  /** SPJ unification with a compensating join: the tile stores a filtered
    * projection of lineitem; the query joins lineitem (stronger filter) to
    * part — the rewriter answers the lineitem side from the tile and joins
    * part back on top (testJoinMaterialization's shape on TPC-H). */
  private def spjJoin(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.t(spark, dir, "lineitem")
    val part = Tables.t(spark, dir, "part")
    def tileDef = lineitem
      .where(col("l_quantity") < 10)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    withTile(spark, "mv_lineitem_smallqty", dir, tileDef, {
      lineitem.where(col("l_quantity") < 5)
        .join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          sum(col("l_extendedprice").cast(DecimalType(18, 4))).cast("double")
            .as("revenue"),
          count(lit(1)).as("n"))
    })
  }

  /** Aggregate rollup through join equivalence classes: the tile
    * aggregates lineitem⋈orders at (l_orderkey, o_orderdate) grain; the
    * query groups by o_orderdate alone — o_orderdate is a tile grouping
    * column and the join key equality makes l_orderkey/o_orderkey
    * interchangeable, so the tile re-aggregates (SUM→SUM, COUNT→SUM). */
  private def aggRollup(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.t(spark, dir, "lineitem")
    val orders = Tables.t(spark, dir, "orders")
    def joined = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
    def tileDef = joined
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 4))).as("qty_raw"),
        count(lit(1)).as("cnt"))
    withTile(spark, "mv_order_date_grain", dir, tileDef, {
      joined
        .groupBy(col("o_orderdate"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double")
            .as("sum_qty"),
          count(lit(1)).as("n"))
        .where(col("o_orderdate") < lit("1995-03-01").cast("date"))
    })
  }

  /** FK-UK join elimination (r14): the tile is lineitem ⋈ orders, but the
    * declared FK l_orderkey → o_orderkey makes that join row-preserving —
    * so the REDUCED tile form (lineitem alone) answers a pure-lineitem
    * query the unreduced tile could never match
    * (testJoinMaterializationUKFK1-9's capability on TPC-H). The plan
    * hard-asserts BOTH base tables are gone: at 100 TB this answers
    * fact-only queries from a fact⋈dim tile without re-scanning either. */
  private def ukfk(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.t(spark, dir, "lineitem")
    val orders = Tables.t(spark, dir, "orders")
    MaterializedViews.declareForeignKey(spark,
      s"$dir/lineitem.parquet", Seq("l_orderkey"),
      s"$dir/orders.parquet", Seq("o_orderkey"))
    try {
      def tileDef = lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .where(col("l_quantity") < 10)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      withTile(spark, "mv_ukfk_tile", dir, tileDef, {
        val df = lineitem.where(col("l_quantity") < 5)
          .groupBy(col("l_partkey"))
          .agg(
            sum(col("l_extendedprice").cast(DecimalType(18, 4))).cast("double")
              .as("revenue"),
            count(lit(1)).as("n"))
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("orders.parquet") && !plan.contains("lineitem.parquet"),
          s"FK-UK elimination did not fully drop the base scans:\n$plan")
        df
      })
    } finally MaterializedViews.clearConstraints()
  }

  /** Grouping-sets rollup (r14): a CUBE query re-aggregates a plain
    * (returnflag, linestatus)-grain tile — the Expand multiplies tile
    * rows, not fact rows (testAggregateGroupSetsRollUp's capability,
    * MaterializationTest.java:777). */
  private def cubeRollup(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.t(spark, dir, "lineitem")
    def tileDef = lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 4))).as("qty_raw"),
        count(lit(1)).as("cnt"))
    withTile(spark, "mv_cube_tile", dir, tileDef, {
      val df = lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double").as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
      val plan = df.queryExecution.executedPlan.toString
      require(!plan.contains("lineitem.parquet"),
        s"grouping-sets rollup did not drop the fact scan:\n$plan")
      df
    })
  }

  def defs: Seq[QDef] = Seq(
    QDef.sql("mv_cube_rollup_rewrite",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n,
        |       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""")(cubeRollup),
    QDef.sql("mv_ukfk_rewrite",
      """SELECT l_partkey,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n
        |FROM lineitem
        |WHERE l_quantity < 5
        |GROUP BY l_partkey""")(ukfk),
    QDef.sql("mv_spj_join_rewrite",
      """SELECT p_brand,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity < 5
        |GROUP BY p_brand""")(spjJoin),
    QDef.sql("mv_agg_rollup_rewrite",
      """SELECT o_orderdate,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderdate
        |HAVING o_orderdate < DATE '1995-03-01'""")(aggRollup))
}
