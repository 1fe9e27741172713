package graft.plans

import graft.operators.Sequences
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Sequence DDL + the NEXT VALUE FOR / CURRENT VALUE FOR query forms
  * through the SQL front end (reference: server/.../sql/ddl/
  * SqlCreateSequence executed by ServerDdlExecutor; SqlStdOperatorTable
  * NEXT_VALUE/CURRENT_VALUE:2206; behavior per core/src/test/resources/
  * sql/sequence.iq). Grammar:
  *
  *   CREATE SEQUENCE [IF NOT EXISTS] <name>
  *       [START WITH <n>] [INCREMENT BY <n>]
  *   DROP SEQUENCE [IF EXISTS] <name>
  *   SELECT NEXT VALUE FOR <name> AS <alias> FROM <source...>
  *   SELECT CURRENT VALUE FOR <name> AS <alias> FROM <source...>
  *
  * Like the restricted MATCH_RECOGNIZE form, the SELECT shapes cover the
  * reference's own test surface (sequence.iq queries have exactly this
  * shape) rather than arbitrary expression nesting. NEXT VALUE lowers
  * onto [[SequenceAssignPlan]], a custom LogicalPlan planned by
  * [[SequenceStrategy]] into [[SequenceAssignExec]], whose doExecute
  * runs [[Sequences.nextValueFor]] — driver stamping for a source the
  * driver can hold, block reservation past it — in the source's row
  * order like the reference's row-at-a-time evaluation. Reservation is an EXECUTION-time effect: parsing
  * (and EXPLAIN, and any tool replaying the statement text) is pure and
  * advances nothing; each executed action reserves a fresh block —
  * the same contract as re-issuing the statement. Within one execution
  * the block is reserved once on the driver, so task retries and
  * partition recomputes replay the same values.
  * Sequences belong to the session that parses the statement: two
  * sessions may each create their own sequence of the same name.
  * Sequence EXISTENCE is still checked at parse time (a catalog error,
  * mirroring the reference validator's "Table not found").
  * CURRENT VALUE is a parse-time constant by semantics
  * (reads without advancing), so it lowers to a literal projection.
  * DDL executes eagerly like the reference's DdlExecutor and returns a
  * one-row status result.
  */
object SequenceSql {

  private val CreateRe =
    """(?is)^\s*CREATE\s+SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][A-Za-z_0-9]*)\s*(?:START\s+WITH\s+(-?\d+)\s*)?(?:INCREMENT\s+BY\s+(-?\d+)\s*)?;?\s*$""".r
  private val DropRe =
    """(?is)^\s*DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z_0-9]*)\s*;?\s*$""".r
  private val NextRe =
    """(?is)^\s*SELECT\s+NEXT\s+VALUE\s+FOR\s+"?([A-Za-z_][A-Za-z_0-9]*)"?\s+AS\s+([A-Za-z_][A-Za-z_0-9]*)\s+FROM\s+(.+?);?\s*$""".r
  private val CurrentRe =
    """(?is)^\s*SELECT\s+CURRENT\s+VALUE\s+FOR\s+"?([A-Za-z_][A-Za-z_0-9]*)"?\s+AS\s+([A-Za-z_][A-Za-z_0-9]*)\s+FROM\s+(.+?);?\s*$""".r

  def tryParse(spark: SparkSession, delegate: ParserInterface,
      sqlText: String): Option[LogicalPlan] = sqlText match {
    case CreateRe(ifNotExists, name, start, inc) =>
      val startWith = Option(start).map(_.toLong).getOrElse(1L)
      val incBy = Option(inc).map(_.toLong).getOrElse(1L)
      if (ifNotExists == null) Sequences.create(spark, name, startWith, incBy)
      else Sequences.createIfNotExists(spark, name, startWith, incBy)
      Some(delegate.parsePlan(
        s"SELECT 'created' AS status, '$name' AS sequence"))
    case DropRe(ifExists, name) =>
      val dropped = Sequences.drop(spark, name)
      if (!dropped && ifExists == null)
        throw new IllegalArgumentException(s"Table '$name' not found")
      Some(delegate.parsePlan(
        s"SELECT 'dropped' AS status, '$name' AS sequence"))
    case NextRe(name, alias, source) =>
      // existence is a parse-time (catalog) error, like the reference's
      // validator; the RESERVATION is deferred — the plan carries an
      // unexecuted assignment and the counter advances only when an
      // action executes it (SequenceAssignPlan/-Exec)
      if (!Sequences.exists(spark, name))
        throw new IllegalArgumentException(s"Table '$name' not found")
      val src = spark.sql(s"SELECT * FROM $source")
      val node = SequenceAssignPlan(src.queryExecution.analyzed, name, alias,
        () => Sequences.nextValueFor(src, name, alias))
      Some(org.apache.spark.sql.catalyst.plans.logical.Project(
        Seq(node.outAttr), node))
    case CurrentRe(name, alias, source) =>
      val cur = Sequences.currentValue(spark, name)
      Some(delegate.parsePlan(
        s"SELECT CAST($cur AS BIGINT) AS $alias FROM $source"))
    case _ => None
  }
}
