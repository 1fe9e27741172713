package graft.tools

import graft.Engine
import org.apache.spark.sql.DataFrame

/** Micro-measurement behind the GeoSql.staticKind specialization: a
  * point-distance filter over N synthetic rows, (a) through the
  * specialized codegen path (both ST_Point constructors statically
  * points) vs (b) through the generic multi-part dispatch (the geometry
  * round-trips through a materialized column, so its kind is opaque at
  * plan time — the pre-specialization shape of ANY spatial filter).
  * `runMain graft.tools.GeoCodegenBench [rows]`; prints one JSON line.
  * Feeds the SCALING.md r12 row. */
object GeoCodegenBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = Engine.session("graft-geo-bench")
    // coprime moduli so the (lon, lat) grid is dense (no CRT correlation)
    spark.range(rows)
      .selectExpr("cast(id % 3601 as double) / 10 - 180 as lon",
        "cast((id div 3601) % 1801 as double) / 10 - 90 as lat")
      .createOrReplaceTempView("pts")
    // opaque twin: same values, but the geometry arrives as a column the
    // filter cannot see through (kind unknown at function-build time ->
    // generic dispatch with lambdas -> no whole-stage codegen)
    spark.sql("SELECT lon, lat, ST_Point(lon, lat) AS g FROM pts")
      .createOrReplaceTempView("geoms")

    def run(q: String): (Double, Long, Boolean) = {
      val df: DataFrame = spark.sql(q)
      val lambdas = df.queryExecution.executedPlan.toString.contains("lambdafunction")
      df.count() // warm: codegen compile, JIT
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.count()
        (System.nanoTime() - t0) / 1e9
      }
      (times.sorted.apply(1), df.count(), lambdas)
    }
    val (tSpec, nSpec, lSpec) = run(
      "SELECT * FROM pts WHERE ST_DWithin(ST_Point(lon, lat), ST_Point(0.0D, 0.0D), 30.0D)")
    val (tGen, nGen, lGen) = run(
      "SELECT lon, lat FROM geoms WHERE ST_DWithin(g, ST_Point(0.0D, 0.0D), 30.0D)")
    require(nSpec == nGen, s"row mismatch: $nSpec vs $nGen")
    require(!lSpec && lGen, s"plan shapes wrong: specialized lambdas=$lSpec, generic lambdas=$lGen")
    println(s"""{"rows":$rows,"matched":$nSpec,"specialized_sec":${"%.3f".format(tSpec)},""" +
      s""""generic_sec":${"%.3f".format(tGen)},"speedup":${"%.2f".format(tGen / tSpec)}}""")
    spark.stop()
  }
}
