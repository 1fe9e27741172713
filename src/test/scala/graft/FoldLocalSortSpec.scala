package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** [[FoldLocalSort]] against Spark's own sort, which a broadcast
  * threshold of -1 leaves in place: the same keys in the same order and
  * the same rows, for every direction and NULL placement, over NaN, -0.0,
  * ties and a LIMIT. A non-deterministic ordering and a partition-local
  * sort are not folded. */
class FoldLocalSortSpec extends AnyFunSuite {
  import SparkTestSession._

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def sparkSort[T](f: => T): T = {
    val prev = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    try f finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  private val values =
    """VALUES (1, 2.0D, 'a'), (2, CAST('NaN' AS DOUBLE), 'b'), (3, -0.0D, 'c'),
      |  (4, 0.0D, 'd'), (5, NULL, 'e'), (6, 2.0D, 'f'), (7, -1.5D, NULL),
      |  (8, CAST('NaN' AS DOUBLE), 'h'), (9, NULL, 'a'), (10, CAST('Infinity' AS DOUBLE), 'j'),
      |  (11, 0.0D, NULL), (12, -0.0D, 'c')
      |AS t(id, x, s)""".stripMargin

  private def sorts(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case s: Sort => s }.size

  /** A sort key as Spark's ordering compares it: -0.0 ties with 0.0, and
    * NaN with NaN (which `==` on doubles does not see). */
  private def key(v: Any): Any = v match {
    case d: Double if d == 0.0d => 0.0d
    case d: Double if d.isNaN => "NaN"
    case other => other
  }

  for ((order, keys) <- Seq(
      "x ASC NULLS FIRST" -> Seq("x"),
      "x ASC NULLS LAST" -> Seq("x"),
      "x DESC NULLS FIRST" -> Seq("x"),
      "x DESC" -> Seq("x"),
      "s DESC NULLS LAST, x ASC" -> Seq("s", "x"),
      "x + 1 DESC, id" -> Seq("x", "id"),
      "x, id LIMIT 4" -> Seq("x", "id"),
      "x DESC LIMIT 3" -> Seq("x"))) {
    test(s"ORDER BY $order: folded, and ordered as Spark's sort") {
      val q = s"SELECT id, x, s FROM $values ORDER BY $order"
      val folded = spark.sql(q)
      assert(sorts(folded) == 0, folded.queryExecution.optimizedPlan)
      val got = folded.collect().toSeq
      val (expected, sparkSorts) = sparkSort {
        val df = spark.sql(q)
        (df.collect().toSeq, sorts(df))
      }
      assert(sparkSorts == 1)
      def keysOf(rows: Seq[org.apache.spark.sql.Row]) = rows.map(r => keys.map(k => key(r.getAs[Any](k))))
      assert(keysOf(got) == keysOf(expected))
      // ties may leave Spark's sort in another order, and a LIMIT may cut
      // a tie group differently; the LIMIT cases cut none
      assert(got.map(_.toString).sorted == expected.map(_.toString).sorted)
    }
  }

  test("a non-deterministic or partition-local sort is not folded") {
    val a = AttributeReference("a", LongType)()
    val rel = LocalRelation(Seq(a), (1L to 5L).map(v =>
      org.apache.spark.sql.catalyst.InternalRow(v)))
    def fold(p: LogicalPlan): LogicalPlan =
      SQLConf.withExistingConf(spark.sessionState.conf)(FoldLocalSort(p))
    val byRand = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), global = true, rel)
    assert(fold(byRand) == byRand)
    val local = Sort(Seq(SortOrder(a, Ascending)), global = false, rel)
    assert(fold(local) == local)
    val global = Sort(Seq(SortOrder(a, Ascending)), global = true, rel)
    assert(fold(global).isInstanceOf[LocalRelation])
    // ORDER BY rand() through SQL still returns every row once
    val shuffled = spark.sql(s"SELECT id FROM $values ORDER BY rand()").collect().map(_.getInt(0))
    assert(shuffled.sorted.toSeq == (1 to 12))
  }
}
