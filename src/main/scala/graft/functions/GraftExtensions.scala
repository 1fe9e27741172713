package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension pack — the analogue of the reference's model-file
  * function registration (reference: core/src/main/java/org/apache/calcite/
  * model/ModelHandler.java addFunctions; operator table plugging via
  * SqlOperatorTable). `Engine.session` injects it into every session it
  * builds; a session built elsewhere can take it with
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    e.injectFunction((
      FunctionIdentifier("long_dot"),
      new ExpressionInfo(classOf[LongDotProduct].getName, "long_dot"),
      (exprs: Seq[Expression]) => LongDotProduct(exprs.head, exprs(1))))
    e.injectFunction((
      FunctionIdentifier("squared_l2"),
      new ExpressionInfo(classOf[SquaredL2].getName, "squared_l2"),
      (exprs: Seq[Expression]) => SquaredL2(exprs.head, exprs(1))))
    e.injectFunction((
      FunctionIdentifier("intersect_size_sorted"),
      new ExpressionInfo(classOf[IntersectSizeSorted].getName, "intersect_size_sorted"),
      (exprs: Seq[Expression]) => IntersectSizeSorted(exprs.head, exprs(1))))
    e.injectFunction((
      FunctionIdentifier("equal_byte_count"),
      new ExpressionInfo(classOf[EqualByteCount].getName, "equal_byte_count"),
      (exprs: Seq[Expression]) => EqualByteCount(exprs.head, exprs(1))))
    e.injectFunction((
      FunctionIdentifier("weighted_avg"),
      new ExpressionInfo(classOf[WeightedAvg].getName, "weighted_avg"),
      (exprs: Seq[Expression]) => WeightedAvg(exprs.head, exprs(1))))
    e.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (exprs: Seq[Expression]) => ShingleHashes(exprs.head,
        exprs(1).eval(null) match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"shingle_hashes(text, n): n must be an integer literal, got $other")
        })))
    e.injectFunction((
      FunctionIdentifier("hyperplane_bits"),
      new ExpressionInfo(classOf[HyperplaneBits].getName, "hyperplane_bits"),
      (exprs: Seq[Expression]) => HyperplaneBits(exprs.head,
        exprs(1).eval(null) match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"hyperplane_bits(v, bits): bits must be an integer literal, got $other")
        })))
    // SQL spatial surface (reference: SqlGeoFunctions registering
    // runtime/GeoFunctions.java) — Column combinators bridged into the
    // registry, codegen'd like any built-in.
    for ((name, fn) <- graft.operators.GeoSql.registry)
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.operators.GeoSql", name),
        ColumnBridge.builder(fn)))
    // SQL-syntax MATCH_RECOGNIZE front end (restricted grammar) — every
    // other statement passes through to Spark's parser untouched.
    e.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    // deferred NEXT VALUE FOR: SequenceAssignPlan → SequenceAssignExec
    e.injectPlannerStrategy(session =>
      new graft.plans.SequenceStrategy(session))
    // native WITH RECURSIVE: UnionLoop → GraftUnionLoopExec, its recursion
    // planned once and each level evaluated on the driver
    e.injectPlannerStrategy(_ => new org.apache.spark.sql.GraftUnionLoopStrategy)
  }
}
