package graft

import graft.functions.DotProduct
import graft.pipeline.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom codegen'd Catalyst expression: correctness (eval == codegen ==
  * interpreted fold), null handling, SQL registration, and confirmation it
  * stays inside WholeStageCodegen. */
class ExpressionSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("dot_product equals the interpreted fold bit-for-bit on real vectors") {
    val e = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val both = e.select(
      DotProduct.dot_product(col("v"), col("v")).as("cg"),
      Similarity.dSum(zip_with(col("v"), col("v"), (x, y) => x * y)).as("fold"))
      .collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1)),
      "codegen dot product diverges from the sequential fold")
  }

  test("dot_product handles nulls and empty arrays") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),
      (None, Some(Seq(1.0))),
      (Some(Seq.empty[Double]), Some(Seq.empty[Double])))
      .toDF("a", "b")
    val out = df.select(DotProduct.dot_product(col("a"), col("b"))).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0))
    assert(out(2).getDouble(0) == 0.0)
  }

  test("dot_product registered for SQL via GraftExtensions") {
    val v = spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(v == 11.0)
  }

  test("long_dot equals the interpreted integer fold, handles nulls, codegen'd") {
    import graft.functions.LongDotProduct.long_dot
    val e = Tables.t(spark, sfDir, "embeddings")
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * 100).cast("long")).as("q"))
    val both = e.select(
      long_dot(col("q"), col("q")).as("cg"),
      aggregate(zip_with(col("q"), col("q"), _ * _), lit(0L), _ + _).as("fold"))
      .collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getLong(0) == r.getLong(1)),
      "codegen long dot diverges from the interpreted fold")
    val s2 = spark
    import s2.implicits._
    val nulls = Seq(
      (Some(Seq(2L, 3L)), Some(Seq(5L, 7L))),
      (None, Some(Seq(1L))),
      (Some(Seq.empty[Long]), Some(Seq.empty[Long])))
      .toDF("a", "b")
      .select(long_dot(col("a"), col("b"))).collect()
    assert(nulls(0).getLong(0) == 31L)
    assert(nulls(1).isNullAt(0))
    assert(nulls(2).getLong(0) == 0L)
    val plan = e.select(long_dot(col("q"), col("q")).as("d"))
      .queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("long_dot")).getOrElse("")
    assert(line.trim.startsWith("*"), s"long_dot not codegen'd:\n$plan")
  }

  test("squared_l2 equals the interpreted (x-y)^2 fold bit-for-bit, codegen'd") {
    import graft.functions.SquaredL2.squared_l2
    val e = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val pairs = e.as("a").join(
      broadcast(e.where(col("vec_id") < 4)
        .select(col("v").as("w"), col("vec_id").as("wid"))),
      col("vec_id") =!= col("wid"))
    val both = pairs.select(
      squared_l2(col("v"), col("w")).as("cg"),
      aggregate(zip_with(col("v"), col("w"), (x, y) => (x - y) * (x - y)),
        lit(0.0), _ + _).as("fold"))
      .collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1)),
      "codegen squared L2 diverges from the sequential fold")
    val plan = e.select(squared_l2(col("v"), col("v")).as("d"))
      .queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("squared_l2")).getOrElse("")
    assert(line.trim.startsWith("*"), s"squared_l2 not codegen'd:\n$plan")
  }

  test("long_dot and squared_l2 registered for SQL via GraftExtensions") {
    assert(spark.sql("SELECT long_dot(array(2L, 3L), array(5L, 7L)) AS d")
      .head().getLong(0) == 31L)
    assert(spark.sql("SELECT squared_l2(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS d")
      .head().getDouble(0) == 25.0)
  }

  test("dot_product projection runs inside WholeStageCodegen") {
    val e = Tables.t(spark, sfDir, "embeddings")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .select(DotProduct.dot_product(col("v"), col("v")).as("d"))
    val plan = e.queryExecution.executedPlan.toString
    // the '*(n)' prefix marks operators inside a WholeStageCodegen span
    val dpLine = plan.linesIterator.find(_.contains("dot_product")).getOrElse("")
    assert(dpLine.trim.startsWith("*"), s"dot_product not codegen'd:\n$plan")
    assert(e.collect().nonEmpty)
  }

  test("segments_intersect: proper/any cases, codegen == interpreted") {
    import graft.functions.SegmentsIntersect._
    val cases = Seq(
      // (l1, l2, any, proper)
      ((Seq(1.0, 5.0), Seq(3.0, 3.0)),
        (Seq(1.0, 5.0, 2.0), Seq(1.0, 2.0, 5.0)), true, true),   // transversal
      ((Seq(1.0, 5.0), Seq(3.0, 3.0)),
        (Seq(3.0, 3.0), Seq(1.0, 3.0)), true, false),            // endpoint touch
      ((Seq(0.0, 1.0), Seq(0.0, 0.0)),
        (Seq(2.0, 3.0), Seq(0.0, 0.0)), false, false),           // collinear apart
      ((Seq(0.0, 2.0), Seq(0.0, 0.0)),
        (Seq(1.0, 3.0), Seq(0.0, 0.0)), true, false))            // collinear overlap
    for (((xs1, ys1), (xs2, ys2), wantAny, wantProper) <- cases) {
      val df = Seq((xs1, ys1, xs2, ys2)).toDF("x1", "y1", "x2", "y2")
      val got = df.select(
        segments_intersect(col("x1"), col("y1"), col("x2"), col("y2")).as("a"),
        segments_cross_proper(col("x1"), col("y1"), col("x2"), col("y2")).as("p"))
        .head()
      assert(got.getBoolean(0) == wantAny, s"any($xs1/$ys1 vs $xs2/$ys2)")
      assert(got.getBoolean(1) == wantProper, s"proper($xs1/$ys1 vs $xs2/$ys2)")
      // interpreted path agrees with codegen
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val got2 = df.select(
        segments_intersect(col("x1"), col("y1"), col("x2"), col("y2")),
        segments_cross_proper(col("x1"), col("y1"), col("x2"), col("y2"))).head()
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      assert(got2.getBoolean(0) == wantAny && got2.getBoolean(1) == wantProper)
    }
  }

  test("hyperplane_bits equals the interpreted per-bit fold on real vectors") {
    val e = Tables.t(spark, sfDir, "embeddings")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
    val both = e.select(
      graft.functions.HyperplaneBits.hyperplane_bits(col("v")).as("cg"),
      Similarity.hyperplaneBucketInterpreted(col("v")).as("fold"))
      .collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getLong(0) == r.getLong(1)),
      "codegen hyperplane bucket diverges from the interpreted per-bit fold")
  }

  test("hyperplane_bits: codegen == interpreted eval, null and empty inputs") {
    val s = spark
    import s.implicits._
    val df = Seq(
      Some(Seq(0.5, -1.25, 2.0, 0.0, 3.5)),
      Some(Seq.empty[Double]),
      Option.empty[Seq[Double]]).toDF("v")
    def run(): Array[org.apache.spark.sql.Row] =
      df.select(graft.functions.HyperplaneBits.hyperplane_bits(col("v"))).collect()
    val cg = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(cg.toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))) ==
      interp.toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))))
    // empty vector: every plane folds to 0.0, every bit set
    assert(cg(1).getLong(0) == 0xFFL)
    assert(cg(2).isNullAt(0))
  }

  test("shingle_hashes: cardinality equals the exact trigram set, all docs") {
    // the packed-fmix64 hash is a bijection on <=4-char windows, so the
    // hash-set size must EQUAL the string-set size — zero collisions, not
    // just "unlikely" ones
    val rows = Tables.t(spark, sfDir, "documents")
      .where(length(col("text")) >= 3)
      .select(col("text"),
        size(graft.functions.ShingleHashes.shingle_hashes(col("text"))).as("n"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = r.getString(0).sliding(3).toSet.size
      assert(r.getInt(1) == want, s"shingle count mismatch: got ${r.getInt(1)}, want $want")
    }
  }

  test("shingle_hashes: codegen == interpreted, sorted distinct, edge cases") {
    val s = spark
    import s.implicits._
    val df = Seq("abcabc", "ab", "aaa", "", "xyzw").toDF("t")
    def run(): Seq[Seq[Long]] =
      df.select(graft.functions.ShingleHashes.shingle_hashes(col("t")))
        .collect().map(_.getSeq[Long](0).toSeq).toSeq
    val cg = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(cg == interp)
    assert(cg(0).size == 3)            // abc, bca, cab, abc -> 3 distinct
    assert(cg(1).isEmpty && cg(3).isEmpty) // shorter than the window
    assert(cg(2).size == 1)            // aaa -> one distinct trigram
    assert(cg(4) == cg(4).sorted && cg(4).distinct == cg(4))
  }

  test("hyperplane_bits projection runs inside WholeStageCodegen") {
    // v is referenced twice, so CollapseProject keeps the interpreted
    // transform() in its own projection below — the hyperplane_bits
    // projection itself must land inside a WholeStageCodegen span
    val e = Tables.t(spark, sfDir, "embeddings")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .select(graft.functions.HyperplaneBits.hyperplane_bits(col("v")).as("hb"),
        size(col("v")).as("n"))
    val plan = e.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("hyperplane_bits")).getOrElse("")
    assert(line.trim.startsWith("*"), s"hyperplane_bits not codegen'd:\n$plan")
    assert(e.collect().nonEmpty)
  }
}
