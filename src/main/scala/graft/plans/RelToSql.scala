package graft.plans

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Relational-plan → SQL-text converter with a pluggable dialect — the
  * Spark-side analogue of the reference's JDBC pushback machinery
  * (reference: core/src/main/java/org/apache/calcite/rel/rel2sql/RelToSqlConverter.java:103,
  * SqlImplementor.java:102, per-database dialects under sql/dialect/, wired
  * into the JDBC adapter by adapter/jdbc/JdbcRules.java — an entire RelNode
  * tree is re-rendered as SQL text and shipped to the foreign database).
  *
  * Our engine's "foreign database" integration point is the same: convert
  * an analyzed Catalyst LogicalPlan back to portable SQL. The converter is
  * deliberately partial — exactly like the reference, where a JdbcRule that
  * cannot express a node leaves it on the local engine, an unsupported
  * node/expression here throws and the caller keeps the plan in Spark.
  *
  * Scale note: pushing a whole plan to the system that stores the data is
  * the ultimate shuffle eliminator — the query ships, not the 100 TB. The
  * correctness gate exercises this for real: `rel2sql_roundtrip` executes
  * the generated ANSI text on BOTH engines (Spark re-parses it; the DuckDB
  * oracle runs the identical string) and the results must hash-match.
  */
object RelToSql {

  /** Rendering knobs that differ across target databases — the tiny core
    * of the reference's ~20 dialect classes under `sql/dialect/`. */
  trait Dialect {
    def name: String
    /** Identifier quoting. */
    def quote(id: String): String
    /** SQL type name for CAST targets. */
    def typeName(dt: DataType): String = dt match {
      case BooleanType => "BOOLEAN"
      case ByteType => "TINYINT"
      case ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "REAL"
      case DoubleType => "DOUBLE"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case StringType => "VARCHAR"
      case DateType => "DATE"
      case TimestampNTZType => "TIMESTAMP"
      // with the engine pinned to UTC sessions, LTZ renders as plain
      // TIMESTAMP — identical instants on both execution paths
      case TimestampType => "TIMESTAMP"
      case other => throw unsupported(s"cast target ${other.simpleString}")
    }
    /** LIMIT/OFFSET clause (dialects disagree here more than anywhere). */
    def limitClause(limit: Option[Long], offset: Option[Long]): String =
      (limit, offset) match {
        case (Some(l), Some(o)) => s" LIMIT $l OFFSET $o"
        case (Some(l), None) => s" LIMIT $l"
        case (None, Some(o)) => s" OFFSET $o"
        case _ => ""
      }
    /** ORDER BY + LIMIT/OFFSET tail rendered as one unit — some targets
      * (MSSQL) can only express OFFSET/FETCH attached to an ORDER BY. */
    def orderLimit(orderBy: Option[String],
        limit: Option[Long], offset: Option[Long]): String =
      orderBy.map(" ORDER BY " + _).getOrElse("") + limitClause(limit, offset)
    /** Full limited-block surface: (SELECT-list prefix, tail clause).
      * Dialects whose row limit lives in the SELECT list (Sybase `SELECT
      * TOP (n) START AT m`, reference SybaseSqlDialect.unparseTopN)
      * override the prefix; everyone else keeps the tail-clause form. */
    def limitSurface(orderBy: Option[String],
        limit: Option[Long], offset: Option[Long]): (String, String) =
      ("", orderLimit(orderBy, limit, offset))
    /** Set-operation keyword with its quantifier (BigQuery requires the
      * DISTINCT spelled out). */
    def setOpKeyword(op: String, isAll: Boolean): String =
      if (isAll) s"$op ALL" else op
    /** String concatenation of two rendered operands. */
    def concat(a: String, b: String): String = s"($a || $b)"
    /** Arithmetic right shift. */
    def shiftRight(a: String, b: String): String = s"($a >> $b)"
    /** Integer division. */
    def intDivide(a: String, b: String): String = s"($a // $b)"
    /** Epoch-microseconds to timestamp. */
    def microsToTimestamp(us: String): String = s"MAKE_TIMESTAMP($us)"
    /** Timestamp to epoch-microseconds — the inverse accessor. Spark 4's
      * analyzer lowers RANGE frames ordered by a timestamp (and interval
      * arithmetic on order keys) into UnixMicros(ts), so any window query
      * over event time hits this on re-render. Only dialects whose target
      * has an exact-microsecond accessor override; the rest throw, keeping
      * the converter's partial-by-design contract (the caller leaves the
      * plan on the local engine rather than shipping silently lossy SQL —
      * MySQL/Hive/Oracle only expose seconds-resolution epoch accessors). */
    def unixMicros(ts: String): String =
      throw unsupported(s"expression UnixMicros in dialect $name")
  }

  /** ANSI/portable rendering — also valid DuckDB and PostgreSQL. */
  object Ansi extends Dialect {
    val name = "ansi"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
    // DuckDB executes this dialect's text in the round-trip oracle;
    // epoch_us is its exact-micros accessor (BIGINT)
    override def unixMicros(ts: String): String = s"EPOCH_US($ts)"
  }

  /** Spark SQL rendering — backtick identifiers (Spark treats double
    * quotes as string literals unless ANSI double-quoted identifiers are
    * enabled) and Spark's own type keywords. This is the dialect that makes
    * the converter round-trippable through `spark.sql` itself (reference:
    * the Spark adapter sql/dialect/SparkSqlDialect.java plays this role). */
  object Spark extends Dialect {
    val name = "spark"
    def quote(id: String): String = "`" + id.replace("`", "``") + "`"
    override def shiftRight(a: String, b: String): String = s"SHIFTRIGHT($a, $b)"
    override def intDivide(a: String, b: String): String = s"($a DIV $b)"
    override def microsToTimestamp(us: String): String = s"TIMESTAMP_MICROS($us)"
    override def unixMicros(ts: String): String = s"UNIX_MICROS($ts)"
    override def typeName(dt: DataType): String = dt match {
      case StringType => "STRING"
      case TimestampNTZType => "TIMESTAMP_NTZ"
      case other => super.typeName(other)
    }
  }

  /** PostgreSQL rendering (reference: sql/dialect/PostgresqlSqlDialect.java
    * — the most-hit real-world JDBC target). Double-quoted identifiers like
    * Ansi; type renames: no TINYINT (SMALLINT), DOUBLE is spelled DOUBLE
    * PRECISION, unbounded VARCHAR is TEXT; integer '/' already divides
    * integrally in PostgreSQL; epoch conversion via TO_TIMESTAMP. DuckDB
    * executes this dialect's text for everything demoPlan-shaped
    * (`rel2sql_roundtrip_pg`), EXCEPT integer '/' — DuckDB made int '/'
    * float division, so intDivide renderings are pinned text-only. */
  object Postgres extends Dialect {
    val name = "postgres"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
    override def typeName(dt: DataType): String = dt match {
      case ByteType => "SMALLINT"
      case DoubleType => "DOUBLE PRECISION"
      case StringType => "TEXT"
      case other => super.typeName(other)
    }
    override def intDivide(a: String, b: String): String = s"($a / $b)"
    override def microsToTimestamp(us: String): String =
      s"TO_TIMESTAMP(($us) / 1000000.0)"
    override def unixMicros(ts: String): String =
      s"CAST(EXTRACT(EPOCH FROM $ts) * 1000000 AS BIGINT)"
  }

  /** MySQL-flavored rendering (reference: sql/dialect/MysqlSqlDialect.java —
    * backtick quoting, CONCAT function, no "double-quote = identifier"). */
  object MySql extends Dialect {
    val name = "mysql"
    def quote(id: String): String = "`" + id.replace("`", "``") + "`"
    override def concat(a: String, b: String): String = s"CONCAT($a, $b)"
    override def typeName(dt: DataType): String = dt match {
      case StringType => "CHAR"
      case LongType => "SIGNED"
      case IntegerType => "SIGNED"
      case other => super.typeName(other)
    }
  }

  /** Oracle rendering (reference: sql/dialect/OracleSqlDialect.java —
    * NUMBER(p) integer cast specs, DOUBLE PRECISION, VARCHAR2 capped at
    * 4000 bytes, no BOOLEAN SQL type [supportsDataType returns false], no
    * LIMIT keyword: ANSI OFFSET … ROWS / FETCH NEXT … ROWS ONLY. Table
    * aliases render without AS [allowsAs=false] — this converter already
    * renders bare table aliases in every dialect). */
  object Oracle extends Dialect {
    val name = "oracle"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
    override def typeName(dt: DataType): String = dt match {
      case BooleanType =>
        throw unsupported("cast target BOOLEAN (Oracle has no boolean column type)")
      case ByteType => "NUMBER(3)"
      case ShortType => "NUMBER(5)"
      case IntegerType => "NUMBER(10)"
      case LongType => "NUMBER(19)"
      case DoubleType => "DOUBLE PRECISION"
      case StringType => "VARCHAR2(4000)"
      case other => super.typeName(other)
    }
    override def limitClause(limit: Option[Long], offset: Option[Long]): String =
      offset.map(n => s" OFFSET $n ROWS").getOrElse("") +
        limit.map(n => s" FETCH NEXT $n ROWS ONLY").getOrElse("")
    // exact micros via day-time interval decomposition: timestamp
    // subtraction yields INTERVAL DAY(9) TO SECOND(6), and SECOND carries
    // the fractional part — so the fold is exact to the microsecond
    // (closing the r7 partial: Oracle has no epoch accessor, but the
    // arithmetic IS expressible)
    override def unixMicros(ts: String): String = {
      val d = s"($ts - TIMESTAMP '1970-01-01 00:00:00')"
      s"CAST(EXTRACT(DAY FROM $d) * 86400000000 + " +
        s"EXTRACT(HOUR FROM $d) * 3600000000 + " +
        s"EXTRACT(MINUTE FROM $d) * 60000000 + " +
        s"EXTRACT(SECOND FROM $d) * 1000000 AS NUMBER(19))"
    }
    override def microsToTimestamp(us: String): String =
      s"(TIMESTAMP '1970-01-01 00:00:00' + NUMTODSINTERVAL(($us) / 1000000, 'SECOND'))"
  }

  /** SQL Server rendering (reference: sql/dialect/MssqlSqlDialect.java —
    * bracket-quoted identifiers, '+' string concatenation, OFFSET/FETCH
    * only legal attached to an ORDER BY [unparseOffsetFetch suppresses a
    * bare one], so an unordered limit gets the ORDER BY (SELECT NULL)
    * carrier instead of select-list TOP surgery). */
  object Mssql extends Dialect {
    val name = "mssql"
    def quote(id: String): String = "[" + id.replace("]", "]]") + "]"
    override def concat(a: String, b: String): String = s"($a + $b)"
    override def typeName(dt: DataType): String = dt match {
      case StringType => "NVARCHAR(MAX)"
      case DoubleType => "FLOAT"
      case TimestampNTZType | TimestampType => "DATETIME2"
      case other => super.typeName(other)
    }
    override def unixMicros(ts: String): String =
      s"DATEDIFF_BIG(MICROSECOND, '1970-01-01', $ts)"
    // exact inverse: whole seconds through DATEADD(SECOND) (int-ranged
    // until 2038 — T-SQL DATEADD takes an INT count), micros remainder
    // through DATEADD(MICROSECOND); '/' and '%' on T-SQL ints are already
    // integral
    override def microsToTimestamp(us: String): String =
      s"DATEADD(MICROSECOND, ($us) % 1000000, " +
        s"DATEADD(SECOND, ($us) / 1000000, CAST('1970-01-01' AS DATETIME2(6))))"
    override def orderLimit(orderBy: Option[String],
        limit: Option[Long], offset: Option[Long]): String =
      if (limit.isEmpty && offset.isEmpty)
        orderBy.map(" ORDER BY " + _).getOrElse("")
      else {
        val carrier = orderBy.getOrElse("(SELECT NULL)")
        s" ORDER BY $carrier OFFSET ${offset.getOrElse(0L)} ROWS" +
          limit.map(n => s" FETCH NEXT $n ROWS ONLY").getOrElse("")
      }
  }

  /** BigQuery standard-SQL rendering (reference:
    * sql/dialect/BigQuerySqlDialect.java — backtick identifiers, INT64/
    * FLOAT64/NUMERIC/BOOL/STRING cast specs, CONCAT function, and set
    * operations must spell their quantifier: UNION/INTERSECT/EXCEPT
    * DISTINCT [unparseCall rewrites the bare operators]). */
  object BigQuery extends Dialect {
    val name = "bigquery"
    def quote(id: String): String = "`" + id.replace("`", "\\`") + "`"
    override def concat(a: String, b: String): String = s"CONCAT($a, $b)"
    override def setOpKeyword(op: String, isAll: Boolean): String =
      if (isAll) s"$op ALL" else s"$op DISTINCT"
    override def typeName(dt: DataType): String = dt match {
      case ByteType | ShortType | IntegerType | LongType => "INT64"
      case FloatType | DoubleType => "FLOAT64"
      case _: DecimalType => "NUMERIC"
      case BooleanType => "BOOL"
      case StringType => "STRING"
      case other => super.typeName(other)
    }
    override def intDivide(a: String, b: String): String = s"DIV($a, $b)"
    override def microsToTimestamp(us: String): String = s"TIMESTAMP_MICROS($us)"
    override def unixMicros(ts: String): String = s"UNIX_MICROS($ts)"
  }

  /** Hive rendering (reference: sql/dialect/HiveSqlDialect.java — backtick
    * identifiers, INT cast spec instead of INTEGER, LIMIT/OFFSET via
    * unparseFetchUsingLimit, table aliases without AS [allowsAs=false —
    * this converter renders bare aliases everywhere]. STRING for
    * unbounded VARCHAR and CONCAT() are Hive-language requirements this
    * renderer adds on top of the reference's minimal remap). */
  object Hive extends Dialect {
    val name = "hive"
    def quote(id: String): String = "`" + id.replace("`", "``") + "`"
    override def concat(a: String, b: String): String = s"CONCAT($a, $b)"
    override def typeName(dt: DataType): String = dt match {
      case IntegerType => "INT"
      case StringType => "STRING"
      case other => super.typeName(other)
    }
    override def shiftRight(a: String, b: String): String = s"SHIFTRIGHT($a, $b)"
    override def intDivide(a: String, b: String): String = s"($a DIV $b)"
  }

  /** Presto/Trino rendering (reference: sql/dialect/PrestoSqlDialect.java —
    * double-quoted identifiers, ANSI cast specs, and OFFSET BEFORE LIMIT:
    * unparseUsingLimit emits "OFFSET o LIMIT l", the reverse of the
    * ANSI-dialect order). */
  object Presto extends Dialect {
    val name = "presto"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
    override def limitClause(limit: Option[Long], offset: Option[Long]): String =
      offset.map(n => s" OFFSET $n").getOrElse("") +
        limit.map(n => s" LIMIT $n").getOrElse("")
    // to_unixtime returns DOUBLE; epoch-micros magnitudes (~2^51) stay
    // inside the 53-bit exact-integer range
    override def unixMicros(ts: String): String =
      s"CAST(TO_UNIXTIME($ts) * 1000000 AS BIGINT)"
  }

  /** ClickHouse rendering (reference: sql/dialect/ClickHouseSqlDialect.java
    * — backtick identifiers and CASE-SENSITIVE type names emitted as
    * identifiers: String, Int8/16/32/64, Float32/64, Date, DateTime). */
  object ClickHouse extends Dialect {
    val name = "clickhouse"
    def quote(id: String): String = "`" + id.replace("`", "``") + "`"
    override def typeName(dt: DataType): String = dt match {
      case StringType => "String"
      case ByteType => "Int8"
      case ShortType => "Int16"
      case IntegerType => "Int32"
      case LongType => "Int64"
      case FloatType => "Float32"
      case DoubleType => "Float64"
      case DateType => "Date"
      case TimestampNTZType | TimestampType => "DateTime"
      case other => super.typeName(other)
    }
    override def unixMicros(ts: String): String =
      s"toUnixTimestamp64Micro(toDateTime64($ts, 6))"
  }

  /** Redshift rendering (reference: sql/dialect/RedshiftSqlDialect.java —
    * double-quoted identifiers, LIMIT-style fetch [unparseOffsetFetch →
    * unparseFetchUsingLimit]). Redshift is ParAccel-Postgres: Postgres
    * type renames and integral '/', unbounded VARCHAR as VARCHAR(MAX),
    * exact epoch micros via DATEDIFF(MICROSECOND) from the epoch. */
  object Redshift extends Dialect {
    val name = "redshift"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
    override def typeName(dt: DataType): String = dt match {
      case ByteType => "SMALLINT"
      case DoubleType => "DOUBLE PRECISION"
      case StringType => "VARCHAR(MAX)"
      case other => super.typeName(other)
    }
    override def intDivide(a: String, b: String): String = s"($a / $b)"
    override def microsToTimestamp(us: String): String =
      s"DATEADD(MICROSECOND, ($us) % 1000000, " +
        s"DATEADD(SECOND, ($us) / 1000000, TIMESTAMP '1970-01-01 00:00:00'))"
    override def unixMicros(ts: String): String =
      s"DATEDIFF(MICROSECOND, TIMESTAMP '1970-01-01 00:00:00', $ts)"
  }

  /** Teradata rendering (reference: sql/dialect/TeradataSqlDialect.java —
    * double-quoted identifiers, ANSI OFFSET/FETCH kept from the base
    * unparser). Teradata-language requirements on top: BYTEINT (no
    * TINYINT), FLOAT for doubles, '**'-free arithmetic, integral '/' on
    * integers, and no sub-second epoch accessor — unixMicros stays a
    * documented partial like MySQL/Hive. */
  object Teradata extends Dialect {
    val name = "teradata"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
    override def typeName(dt: DataType): String = dt match {
      case ByteType => "BYTEINT"
      case FloatType | DoubleType => "FLOAT"
      case other => super.typeName(other)
    }
    override def limitClause(limit: Option[Long], offset: Option[Long]): String =
      offset.map(n => s" OFFSET $n ROWS").getOrElse("") +
        limit.map(n => s" FETCH NEXT $n ROWS ONLY").getOrElse("")
    override def intDivide(a: String, b: String): String = s"($a / $b)"
  }

  /** Snowflake rendering (reference: sql/dialect/SnowflakeSqlDialect.java
    * — double-quoted identifiers, upper-casing unquoted; base unparser
    * otherwise). Snowflake-language type spellings (NUMBER(38,0) family
    * collapses integer widths; STRING; TIMESTAMP_NTZ) and its exact
    * epoch accessors: DATE_PART(EPOCH_MICROSECOND) both ways. */
  object Snowflake extends Dialect {
    val name = "snowflake"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
    override def typeName(dt: DataType): String = dt match {
      case StringType => "STRING"
      case TimestampNTZType => "TIMESTAMP_NTZ"
      case other => super.typeName(other)
    }
    override def microsToTimestamp(us: String): String =
      s"TO_TIMESTAMP_NTZ($us, 6)"
    override def unixMicros(ts: String): String =
      s"DATE_PART(EPOCH_MICROSECOND, $ts)"
  }

  /** DB2 rendering (reference: sql/dialect/Db2SqlDialect.java —
    * hasImplicitTableAlias=false [this converter aliases every subquery
    * anyway], supportsCharSet=false, singular interval qualifiers [ours
    * are singular already]). DB2-language requirements: SMALLINT for
    * TINYINT, ANSI OFFSET/FETCH from the base unparser. */
  object Db2 extends Dialect {
    val name = "db2"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
    override def typeName(dt: DataType): String = dt match {
      case ByteType => "SMALLINT"
      case other => super.typeName(other)
    }
    override def limitClause(limit: Option[Long], offset: Option[Long]): String =
      offset.map(n => s" OFFSET $n ROWS").getOrElse("") +
        limit.map(n => s" FETCH FIRST $n ROWS ONLY").getOrElse("")
  }

  /** Vertica rendering (reference: sql/dialect/VerticaSqlDialect.java —
    * double-quoted identifiers, unchanged casing). Vertica-language type
    * collapse: every integer width is INT (64-bit), both float widths are
    * FLOAT; '//' is its integer division. */
  object Vertica extends Dialect {
    val name = "vertica"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
    override def typeName(dt: DataType): String = dt match {
      case ByteType | ShortType | IntegerType | LongType => "INT"
      case FloatType | DoubleType => "FLOAT"
      case other => super.typeName(other)
    }
  }

  /** Phoenix rendering (reference: sql/dialect/PhoenixSqlDialect.java —
    * double-quoted identifiers, base unparser otherwise; Phoenix speaks
    * ANSI types and LIMIT/OFFSET). */
  object Phoenix extends Dialect {
    val name = "phoenix"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
  }

  /** Netezza rendering (reference: sql/dialect/NetezzaSqlDialect.java —
    * double-quoted identifiers). Netezza is Postgres-derived: BYTEINT,
    * DOUBLE PRECISION, integral '/' on integers, LIMIT/OFFSET. */
  object Netezza extends Dialect {
    val name = "netezza"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
    override def typeName(dt: DataType): String = dt match {
      case ByteType => "BYTEINT"
      case DoubleType => "DOUBLE PRECISION"
      case other => super.typeName(other)
    }
    override def intDivide(a: String, b: String): String = s"($a / $b)"
  }

  /** H2 rendering (reference: sql/dialect/H2SqlDialect.java —
    * double-quoted identifiers, base unparser; H2 is ANSI throughout). */
  object H2 extends Dialect {
    val name = "h2"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
  }

  /** Derby rendering (reference: sql/dialect/DerbySqlDialect.java — base
    * unparser). Derby has no LIMIT keyword: ANSI OFFSET … ROWS / FETCH
    * NEXT … ROWS ONLY, and no '||'-free concat quirks. */
  object Derby extends Dialect {
    val name = "derby"
    def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
    override def limitClause(limit: Option[Long], offset: Option[Long]): String =
      offset.map(n => s" OFFSET $n ROWS").getOrElse("") +
        limit.map(n => s" FETCH NEXT $n ROWS ONLY").getOrElse("")
  }

  /** Sybase ASE rendering (reference: sql/dialect/SybaseSqlDialect.java —
    * unparseOffsetFetch is a NO-OP and unparseTopN emits `TOP (n) START
    * AT m` into the SELECT list; there is no tail-clause row limit).
    * START AT is 1-based, so OFFSET o becomes START AT o+1; an OFFSET
    * with no LIMIT has no TOP form and rejects partial-by-design. */
  object Sybase extends Dialect {
    val name = "sybase"
    def quote(id: String): String = "[" + id.replace("]", "]]") + "]"
    override def concat(a: String, b: String): String = s"($a + $b)"
    override def limitSurface(orderBy: Option[String],
        limit: Option[Long], offset: Option[Long]): (String, String) =
      limit match {
        case Some(l) =>
          val top = s"TOP ($l)" +
            offset.map(o => s" START AT ${o + 1}").getOrElse("")
          (top + " ", orderBy.map(" ORDER BY " + _).getOrElse(""))
        case None if offset.isDefined =>
          throw unsupported("OFFSET without LIMIT in Sybase (no TOP form)")
        case None => ("", orderBy.map(" ORDER BY " + _).getOrElse(""))
      }
  }

  /** Informix rendering (reference: sql/dialect/InformixSqlDialect.java —
    * EMPTY_CONTEXT with NO identifier quote string: plain identifiers
    * render BARE; only names that are not plain lowercase identifiers
    * (e.g. an unaliased expression column) fall back to ANSI quoting,
    * which Informix accepts in DELIMIDENT mode). */
  object Informix extends Dialect {
    val name = "informix"
    def quote(id: String): String =
      if (id.matches("[a-z_][a-z0-9_]*")) id
      else "\"" + id.replace("\"", "\"\"") + "\""
  }

  private def unsupported(what: String) =
    new UnsupportedOperationException(s"rel2sql: unsupported $what")

  /** Convert a DataFrame's analyzed plan to SQL text in the dialect. */
  def convert(df: DataFrame, dialect: Dialect = Ansi): String =
    new Conversion(dialect).top(df.queryExecution.analyzed)

  /** Convert an arbitrary logical plan (e.g. an OPTIMIZED plan, whose
    * Expand nodes may sit directly on a relation after alias collapse). */
  def convertPlan(plan: LogicalPlan, dialect: Dialect = Ansi): String =
    new Conversion(dialect).top(plan)

  /** One conversion = one global attribute-name scope: every ExprId gets a
    * unique SQL alias (first claimant keeps the bare name; later same-named
    * attributes get a `_<exprId>` suffix), so join sides never collide and
    * no reference needs qualification. */
  private final class Conversion(d: Dialect) {
    private val names = mutable.Map.empty[ExprId, String]
    private val taken = mutable.Set.empty[String]
    private var subquery = 0

    private def alias(): String = { subquery += 1; s"t$subquery" }

    private def nameOf(a: Attribute): String =
      names.getOrElseUpdate(a.exprId, {
        // collision suffixes count up per base name (_2, _3, ...) so the
        // rendered text is deterministic across sessions — ExprId values
        // are session-global counters and must never leak into output
        val base =
          if (!taken.contains(a.name)) a.name
          else Iterator.from(2).map(k => s"${a.name}_$k")
            .find(n => !taken.contains(n)).get
        taken += base
        base
      })

    /** Top level: render the plan, then restore the user-visible output
      * column names (the internal scope may have suffixed duplicates). */
    def top(plan: LogicalPlan): String = {
      val body = query(plan)
      val out = plan.output
      val needsRename = out.exists(a => nameOf(a) != a.name)
      if (!needsRename) body
      else {
        val cols = out.map(a => s"${d.quote(nameOf(a))} AS ${d.quote(a.name)}")
          .mkString(", ")
        s"SELECT $cols FROM ($body) ${alias()}"
      }
    }

    private def from(child: LogicalPlan): String = s"(${query(child)}) ${alias()}"

    private def selectAll(child: LogicalPlan, suffix: String): String =
      s"SELECT * FROM ${from(child)}$suffix"

    /** A sorted/limited block through the dialect's limit surface. */
    private def limited(child: LogicalPlan, orderBy: Option[String],
        limit: Option[Long], offset: Option[Long]): String = {
      val (prefix, tail) = d.limitSurface(orderBy, limit, offset)
      s"SELECT $prefix* FROM ${from(child)}$tail"
    }

    private val cteDefs = mutable.Map.empty[Long, LogicalPlan]

    /** Render a plan as a complete SELECT query. */
    def query(plan: LogicalPlan): String = plan.getTagValue(MatchRecognizeSql.RenderTag) match {
      // MATCH_RECOGNIZE: the lowered operator is opaque (closures inside
      // MapGroups), so — like the reference, whose Match RelNode keeps its
      // clause declaratively (rel/rel2sql/RelToSqlConverter.java:103 visit
      // Match) — the parser pins the canonical clause text on the plan and
      // rel2sql re-emits it. Only the Spark dialect can execute it (our own
      // injected grammar); Ansi renderings reject it like any dialect
      // without row-pattern support.
      case Some(text) =>
        if (d eq Spark) {
          // the canonical text exports the clause's own output names; when
          // the global scope renamed any of them (a same-named alias above
          // the match claimed the bare name first), bridge with a renaming
          // projection so outer references resolve
          if (plan.output.forall(a => nameOf(a) == a.name)) text
          else {
            val cols = plan.output.map { a =>
              if (nameOf(a) == a.name) d.quote(a.name)
              else s"${d.quote(a.name)} AS ${d.quote(nameOf(a))}"
            }.mkString(", ")
            s"SELECT $cols FROM ($text) __mr_scope"
          }
        } else throw unsupported("MATCH_RECOGNIZE outside the Spark dialect")
      case None => queryNode(plan)
    }

    private def queryNode(plan: LogicalPlan): String = plan match {
      case SubqueryAlias(_, child) => query(child)

      // hints change physical strategy, not semantics — SQL text cannot
      // carry them portably, so they pass through (the reference drops
      // planner hints in rel2sql the same way)
      case ResolvedHint(child, _) => query(child)

      // CTEs are INLINED: each reference re-renders the definition inside
      // its own subquery with fresh outer aliases, so self-joins of one
      // CTE expose disjoint column sets
      case WithCTE(child, defs) =>
        defs.foreach(d => cteDefs(d.id) = d.child)
        query(child)
      case r: CTERelationRef =>
        val defChild = cteDefs.getOrElse(r.cteId,
          throw unsupported(s"dangling CTE reference ${r.cteId}"))
        val inner = query(defChild)
        val cols = defChild.output.zip(r.output)
          .map { case (in, out) => s"${d.quote(nameOf(in))} AS ${d.quote(nameOf(out))}" }
          .mkString(", ")
        s"SELECT $cols FROM ($inner) ${alias()}"
      // temp-view references (spark.table / FROM <view>) resolve to a View
      // wrapper whose output exprIds alias the child's — map them through
      // so view-based plans convert like direct reads
      case v: View =>
        v.output.zip(v.child.output).foreach { case (outer, inner) =>
          names.getOrElseUpdate(outer.exprId, nameOf(inner))
        }
        query(v.child)

      // inline literal rows (reference: rel2sql/RelToSqlConverter.java:461
      // visit(Values) — rendered as VALUES row-constructors with a column
      // alias list). Catalyst's analogue is LocalRelation (produced by
      // Seq(...).toDF and by constant-folding); an EMPTY LocalRelation
      // (optimizer fold of a false predicate) renders as one row of typed
      // NULLs filtered by WHERE FALSE so the FROM clause — and the column
      // types — survive on engines that require one.
      case lr: LocalRelation => valuesRelation(lr.output, lr.data)
      // rows the engine holds on the driver (a TableDdlSql table, a
      // sequence's output) render as the same VALUES
      case r @ GraftBridge.DriverRowsScan(rows) => valuesRelation(r.output, rows)

      // literal-only SELECT with no table (Spark's OneRowRelation; the
      // reference models it as a single-row Values)
      case _: OneRowRelation => "SELECT 1"

      case lr: LogicalRelation =>
        val table = lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val path = fs.location.rootPaths.headOption
              .getOrElse(throw unsupported("pathless relation")).getName
            val base = path.stripSuffix(".parquet").stripSuffix(".orc").stripSuffix(".csv")
            // the catalog name `events` is a TRANSFORMED view over the raw
            // file (Tables.t renames ts -> ts_ns and recomputes ts); a scan
            // of the raw relation must reference the raw table name or the
            // regenerated SQL would re-apply the view transform twice
            val named = if (base == "events") "events_raw" else base
            // only fixture-catalog relations have a name BOTH engines can
            // resolve; a scratch path (CoW TableModify working copies, MV
            // tiles) renders to text neither re-parse could bind — reject
            // like a JdbcRule over a table outside its convention
            if (named != "events_raw" && !graft.Tables.names.contains(named))
              throw unsupported(s"relation outside the fixture catalog: $named")
            named
          case other => throw unsupported(s"relation ${other.getClass.getSimpleName}")
        }
        val cols = lr.output
          .map(a => s"${d.quote(a.name)} AS ${d.quote(nameOf(a))}").mkString(", ")
        s"SELECT $cols FROM ${d.quote(table)}"

      case Project(list, child) =>
        val seen = mutable.Set.empty[ExprId]
        val deduped = list.filter(ne => seen.add(ne.toAttribute.exprId))
        val cols = deduped.map(ne => namedExpr(ne)).mkString(", ")
        s"SELECT $cols FROM ${from(child)}"

      // HAVING: a Filter over an Aggregate whose condition carries
      // aggregate calls — either directly or through references to the
      // aggregate's non-grouping outputs (Spark resolves HAVING by adding
      // the needed aggregate to the child's output and referencing it) —
      // must stay in the aggregate's own query block. References to
      // aggregate outputs are substituted by their defining expressions
      // so the HAVING text is self-contained.
      case Filter(cond, agg: Aggregate) if {
        val aggDefined = agg.aggregateExpressions.collect {
          case al @ Alias(c, _) if c.exists(_.isInstanceOf[AggregateExpression]) =>
            al.toAttribute.exprId
        }.toSet
        cond.exists(_.isInstanceOf[AggregateExpression]) ||
          cond.references.exists(r => aggDefined.contains(r.exprId))
      } =>
        val defining: Map[ExprId, Expression] = agg.aggregateExpressions.collect {
          case al @ Alias(c, _) if c.exists(_.isInstanceOf[AggregateExpression]) =>
            al.toAttribute.exprId -> c
        }.toMap
        val inlined = cond.transformUp {
          case a: AttributeReference if defining.contains(a.exprId) => defining(a.exprId)
        }
        s"${query(agg)} HAVING ${expr(inlined)}"

      case Filter(cond, child) =>
        s"SELECT * FROM ${from(child)} WHERE ${expr(cond)}"

      // GROUPING SETS / ROLLUP / CUBE: Spark analyzes these into
      // Aggregate over Expand — reconstruct the GROUPING SETS text from
      // the Expand's projections (the reference keeps groupSets on its
      // Aggregate node and renders them directly; we invert Spark's
      // expansion instead). Aggregate-side references to the replicated
      // grouping attributes substitute back to their source expressions,
      // and the shiftright(spark_grouping_id)&1 pattern substitutes back
      // to GROUPING(expr).
      case agg @ Aggregate(_, _, expand: Expand, _)
          if expand.output.nonEmpty &&
            expand.output.last.name == "spark_grouping_id" =>
        groupingSets(agg, expand)

      case Aggregate(grouping, aggs, child, _) =>
        val cols = aggs.map(ne => namedExpr(ne)).mkString(", ")
        val g = if (grouping.isEmpty) ""
                else " GROUP BY " + grouping.map(expr).mkString(", ")
        s"SELECT $cols FROM ${from(child)}$g"

      case Sort(order, true, child, _) =>
        val o = order.map(sortOrder).mkString(", ")
        limited(child, Some(o), None, None)

      case GlobalLimit(IntegerLiteral(n), LocalLimit(IntegerLiteral(_), child)) =>
        child match {
          // ORDER BY + LIMIT must stay in ONE query block (a subquery
          // would let the outer block drop the inner ordering)
          case Sort(order, true, grand, _) =>
            val o = order.map(sortOrder).mkString(", ")
            limited(grand, Some(o), Some(n.toLong), None)
          case Offset(IntegerLiteral(off), Sort(order, true, grand, _)) =>
            val o = order.map(sortOrder).mkString(", ")
            limited(grand, Some(o), Some(n.toLong), Some(off.toLong))
          case _ => limited(child, None, Some(n.toLong), None)
        }

      case Offset(IntegerLiteral(n), child) =>
        child match {
          case Sort(order, true, grand, _) =>
            val o = order.map(sortOrder).mkString(", ")
            limited(grand, Some(o), None, Some(n.toLong))
          case _ => limited(child, None, None, Some(n.toLong))
        }

      case Distinct(child) =>
        s"SELECT DISTINCT * FROM ${from(child)}"

      // df.distinct() analyzes to Deduplicate over the full output
      case Deduplicate(keys, child) if keys.map(_.exprId).toSet ==
          child.output.map(_.exprId).toSet =>
        s"SELECT DISTINCT * FROM ${from(child)}"

      case u: Union =>
        setOp(u.children, u.output, d.setOpKeyword("UNION", isAll = true))

      case Intersect(l, r, isAll) =>
        setOp(Seq(l, r), plan.output, d.setOpKeyword("INTERSECT", isAll))

      case Except(l, r, isAll) =>
        setOp(Seq(l, r), plan.output, d.setOpKeyword("EXCEPT", isAll))

      // window functions: child's columns pass through, each window
      // expression becomes an OVER clause in the same SELECT block
      case w: Window =>
        val childCols = w.child.output.map(a => d.quote(nameOf(a)))
        val winCols = w.windowExpressions.map(ne => namedExpr(ne))
        s"SELECT ${(childCols ++ winCols).mkString(", ")} FROM ${from(w.child)}"

      case Join(left, right, LeftSemi, cond, _) =>
        existsJoin(left, right, cond, negated = false)
      case Join(left, right, LeftAnti, cond, _) =>
        existsJoin(left, right, cond, negated = true)

      case Join(left, right, jt, cond, _) =>
        val kw = jt match {
          case Inner => if (cond.isEmpty) "CROSS JOIN" else "INNER JOIN"
          case LeftOuter => "LEFT JOIN"
          case RightOuter => "RIGHT JOIN"
          case FullOuter => "FULL JOIN"
          case Cross => "CROSS JOIN"
          case other => throw unsupported(s"join type $other")
        }
        val cols = plan.output.map(a => d.quote(nameOf(a))).mkString(", ")
        val on = cond.map(c => s" ON ${expr(c)}").getOrElse(
          if (kw == "CROSS JOIN") "" else " ON TRUE")
        s"SELECT $cols FROM ${from(left)} $kw ${from(right)}$on"

      // Correlate/Uncollect (reference rel/core/Uncollect.java — rendered
      // as UNNEST by its converter): Spark's Generate over explode /
      // posexplode renders as LATERAL VIEW, the Spark-dialect UNNEST
      // [WITH ORDINALITY] form. Other dialects lack the syntax → rejected
      // like any non-firing JdbcRule.
      case g: Generate =>
        if (!(d eq Spark)) throw unsupported("LATERAL VIEW outside the Spark dialect")
        val (fn, arg) = g.generator match {
          case PosExplode(child) => ("posexplode", expr(child))
          case Explode(child) => ("explode", expr(child))
          case other => throw unsupported(s"generator ${other.prettyName}")
        }
        val outer = if (g.outer) " OUTER" else ""
        val cols = (g.requiredChildOutput ++ g.generatorOutput)
          .map(a => d.quote(nameOf(a))).mkString(", ")
        val genCols = g.generatorOutput.map(a => d.quote(nameOf(a))).mkString(", ")
        s"SELECT $cols FROM ${from(g.child)} LATERAL VIEW$outer $fn($arg) ${alias()} AS $genCols"

      case other => throw unsupported(s"plan node ${other.nodeName}")
    }

    private def groupingSets(agg: Aggregate, expand: Expand): String = {
      // Two child shapes: the analyzer's Project (base cols ++ aliased
      // grouping sources, ResolveGroupingAnalytics — grouping slots are
      // the CONTIGUOUS aliased tail), or — after alias collapse / column
      // pruning — Expand directly over a non-Project child, where the
      // passthrough columns may be pruned away entirely. The shape-proof
      // identification: a grouping SLOT is an Expand output position the
      // Aggregate's grouping expressions reference (minus the gid, always
      // last); its SOURCE expression is recovered from the first
      // projection that keeps the slot non-null.
      val gid = expand.output.last
      val (baseChild: LogicalPlan, slotPos: Seq[Int], srcExpr: Seq[Expression]) =
        expand.child match {
          case Project(list, pchild) if list.exists(_.isInstanceOf[Alias]) =>
            val kk = list.count(_.isInstanceOf[Alias])
            val nb = list.size - kk
            (pchild, (nb until nb + kk): Seq[Int],
              list.drop(nb).map(_.asInstanceOf[Alias].child))
          case other =>
            val groupIds = agg.groupingExpressions
              .collect { case a: AttributeReference => a.exprId }.toSet - gid.exprId
            val pos: Seq[Int] = expand.output.zipWithIndex.init.collect {
              case (a, j) if groupIds.contains(a.exprId) => j
            }
            val src = pos.map { j =>
              expand.projections.iterator.map(_(j))
                .find(e => !e.semanticEquals(Literal(null, e.dataType)))
                .getOrElse(throw unsupported("all-null grouping slot"))
            }
            (other, pos, src)
        }
      val k = slotPos.size
      val gAttrIdx: Map[ExprId, Int] = slotPos.zipWithIndex
        .map { case (j, i) => expand.output(j).exprId -> i }.toMap
      val sets: Seq[Seq[Expression]] = expand.projections.map { proj =>
        (0 until k).collect {
          case i if !proj(slotPos(i)).semanticEquals(Literal(null, proj(slotPos(i)).dataType)) =>
            srcExpr(i)
        }
      }
      val substituted: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
        ne.transformDown {
          case BitwiseAnd(ShiftRight(g: AttributeReference, Literal(j: Integer, _)), Literal(one, _))
              if g.exprId == gid.exprId && one == 1 =>
            Grouping(srcExpr(k - 1 - j.intValue()))
          case a: AttributeReference if gAttrIdx.contains(a.exprId) =>
            srcExpr(gAttrIdx(a.exprId))
          case a: AttributeReference if a.exprId == gid.exprId =>
            throw unsupported("raw spark_grouping_id reference")
        } match {
          case n: NamedExpression if n.exprId == ne.toAttribute.exprId => n
          // a substituted grouping attribute must still expose the
          // ORIGINAL output id/name — alias the source back onto it
          case e => Alias(e, ne.name)(exprId = ne.toAttribute.exprId)
        }
      }
      val fromSql = from(baseChild)
      val cols = substituted.map(ne => namedExpr(ne)).mkString(", ")
      val setsSql = sets
        .map(set => "(" + set.map(expr).mkString(", ") + ")").mkString(", ")
      s"SELECT $cols FROM $fromSql GROUP BY GROUPING SETS ($setsSql)"
    }

    /** VALUES rendering for driver-held rows — `(VALUES (…),(…)) tN(c1,…)`,
      * the aliased-subquery form both Spark and DuckDB/ANSI parse. */
    private def valuesRelation(out: Seq[Attribute],
        data: Seq[org.apache.spark.sql.catalyst.InternalRow]): String = {
      val colNames = out.map(a => d.quote(nameOf(a))).mkString(", ")
      if (data.isEmpty) {
        val nulls = out
          .map(a => s"CAST(NULL AS ${d.typeName(a.dataType)})")
          .mkString("(", ", ", ")")
        s"SELECT * FROM (VALUES $nulls) ${alias()}($colNames) WHERE FALSE"
      } else {
        val rows = data.map { row =>
          out.zipWithIndex.map { case (a, i) =>
            if (row.isNullAt(i)) s"CAST(NULL AS ${d.typeName(a.dataType)})"
            else literal(row.get(i, a.dataType), a.dataType)
          }.mkString("(", ", ", ")")
        }.mkString(", ")
        s"SELECT * FROM (VALUES $rows) ${alias()}($colNames)"
      }
    }

    /** Semi/anti join → EXISTS / NOT EXISTS (the reference renders semi
      * joins the same way for dialects without semi-join syntax). */
    private def existsJoin(left: LogicalPlan, right: LogicalPlan,
        cond: Option[Expression], negated: Boolean): String = {
      val cols = left.output.map(a => d.quote(nameOf(a))).mkString(", ")
      val where = cond.map(c => s" WHERE ${expr(c)}").getOrElse("")
      val not = if (negated) "NOT " else ""
      s"SELECT $cols FROM ${from(left)} WHERE ${not}EXISTS " +
        s"(SELECT 1 FROM ${from(right)}$where)"
    }

    /** Set ops rename each side's outputs to the op's output names by
      * position, so the combined block exposes one stable column set. */
    private def setOp(children: Seq[LogicalPlan], out: Seq[Attribute],
        op: String): String = {
      val outNames = out.map(nameOf)
      children.map { c =>
        val cols = c.output.zip(outNames)
          .map { case (a, n) => s"${d.quote(nameOf(a))} AS ${d.quote(n)}" }
          .mkString(", ")
        s"SELECT $cols FROM ${from(c)}"
      }.mkString(s" $op ")
    }

    private def namedExpr(ne: NamedExpression): String = ne match {
      case a: Attribute => d.quote(nameOf(a))
      case Alias(child, _) =>
        // claim the alias's global name through its own exprId
        val n = nameOf(ne.toAttribute)
        s"${expr(child)} AS ${d.quote(n)}"
      case other => throw unsupported(s"named expression ${other.nodeName}")
    }

    private def sortOrder(o: SortOrder): String = {
      val dir = o.direction match {
        case Ascending => "ASC"; case Descending => "DESC"
      }
      val nulls = o.nullOrdering match {
        case NullsFirst => " NULLS FIRST"; case NullsLast => " NULLS LAST"
      }
      s"${expr(o.child)} $dir$nulls"
    }

    private def literal(v: Any, dt: DataType): String = (v, dt) match {
      case (null, _) => "NULL"
      case (b: Boolean, BooleanType) => if (b) "TRUE" else "FALSE"
      case (n, ByteType | ShortType | IntegerType | LongType) => n.toString
      case (x: Double, DoubleType) =>
        // E-notation keeps the literal DOUBLE-typed in every dialect
        // (a bare decimal point parses as DECIMAL in DuckDB)
        val s = x.toString
        if (s.contains("E") || s.contains("e")) s else s + "E0"
      case (x: Float, FloatType) => s"CAST(${x.toDouble} AS REAL)"
      case (x: Decimal, t: DecimalType) =>
        s"CAST(${x.toJavaBigDecimal.toPlainString} AS ${d.typeName(t)})"
      case (s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        "'" + s.toString.replace("'", "''") + "'"
      case (days: Integer, DateType) =>
        s"DATE '${DateTimeUtils.daysToLocalDate(days)}'"
      case (micros: java.lang.Long, TimestampNTZType) =>
        s"TIMESTAMP '${DateTimeUtils.microsToLocalDateTime(micros)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss"))}'"
      case (micros: java.lang.Long, TimestampType) =>
        // UTC-session rendering of an LTZ instant
        s"TIMESTAMP '${java.time.LocalDateTime.ofInstant(
          DateTimeUtils.microsToInstant(micros), java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss"))}'"
      case (months: Integer, _: YearMonthIntervalType) =>
        if (months % 12 == 0) s"INTERVAL '${months / 12}' YEAR"
        else s"INTERVAL '$months' MONTH"
      case (micros: java.lang.Long, _: DayTimeIntervalType) =>
        val usPerDay = 86400L * 1000000L
        if (micros % usPerDay == 0) s"INTERVAL '${micros / usPerDay}' DAY"
        else if (micros % 1000000L == 0) s"INTERVAL '${micros / 1000000L}' SECOND"
        else throw unsupported(s"sub-second interval literal $micros")
      case (other, t) => throw unsupported(s"literal $other: ${t.simpleString}")
    }

    def expr(e: Expression): String = e match {
      case a: Attribute => d.quote(nameOf(a))
      case Literal(v, dt) => literal(v, dt)
      case Cast(child, dt, _, _) => s"CAST(${expr(child)} AS ${d.typeName(dt)})"

      case Add(l, r, _) => s"(${expr(l)} + ${expr(r)})"
      case Subtract(l, r, _) => s"(${expr(l)} - ${expr(r)})"
      case Multiply(l, r, _) => s"(${expr(l)} * ${expr(r)})"
      case Divide(l, r, _) => s"(${expr(l)} / ${expr(r)})"
      case Remainder(l, r, _) => s"(${expr(l)} % ${expr(r)})"
      case UnaryMinus(c, _) => s"(- ${expr(c)})"
      case TimestampAddInterval(ts, iv, _) =>
        s"(${expr(ts)} + ${expr(iv)})"
      case DateAddYMInterval(d2, iv) => s"(${expr(d2)} + ${expr(iv)})"

      case EqualTo(l, r) => s"(${expr(l)} = ${expr(r)})"
      case LessThan(l, r) => s"(${expr(l)} < ${expr(r)})"
      case LessThanOrEqual(l, r) => s"(${expr(l)} <= ${expr(r)})"
      case GreaterThan(l, r) => s"(${expr(l)} > ${expr(r)})"
      case GreaterThanOrEqual(l, r) => s"(${expr(l)} >= ${expr(r)})"
      case Not(EqualTo(l, r)) => s"(${expr(l)} <> ${expr(r)})"
      case And(l, r) => s"(${expr(l)} AND ${expr(r)})"
      case Or(l, r) => s"(${expr(l)} OR ${expr(r)})"
      case Not(c) => s"(NOT ${expr(c)})"
      case IsNull(c) => s"(${expr(c)} IS NULL)"
      case IsNotNull(c) => s"(${expr(c)} IS NOT NULL)"
      case In(v, list) =>
        s"(${expr(v)} IN (${list.map(expr).mkString(", ")}))"
      case b: Between =>
        // render the REPLACEMENT, not the sugar: after a self-join
        // DeduplicateRelations rewrites only the executed replacement
        // tree, so the sugar's input/lower/upper can carry STALE
        // pre-dedup exprIds that alias the OUTER relation — rendering
        // them silently flips an inner reference to a correlated one
        // (caught by the tpcds_s_existsbands cycle gate, r13)
        expr(b.replacement)
      // common-subexpression scaffolding (Spark 4 wraps e.g. BETWEEN's
      // input in With/CommonExpressionRef) — inline the definitions
      case w: With =>
        val defs = w.defs.map(de => de.id -> de.child).toMap
        expr(w.child.transformUp {
          case r: CommonExpressionRef => defs(r.id)
        })
      case l: Like => s"(${expr(l.left)} LIKE ${expr(l.right)})"

      case CaseWhen(branches, elseValue) =>
        val whens = branches
          .map { case (c, v) => s"WHEN ${expr(c)} THEN ${expr(v)}" }
          .mkString(" ")
        val els = elseValue.map(v => s" ELSE ${expr(v)}").getOrElse("")
        s"(CASE $whens$els END)"
      case If(p, t, f) =>
        s"(CASE WHEN ${expr(p)} THEN ${expr(t)} ELSE ${expr(f)} END)"
      case Coalesce(children) =>
        s"COALESCE(${children.map(expr).mkString(", ")})"

      case Year(c) => s"YEAR(${expr(c)})"
      case Quarter(c) => s"QUARTER(${expr(c)})"
      case WeekOfYear(c) => s"WEEKOFYEAR(${expr(c)})"
      case Month(c) => s"MONTH(${expr(c)})"
      case DayOfMonth(c) => s"DAY(${expr(c)})"
      case Hour(c, _) => s"HOUR(${expr(c)})"
      case Minute(c, _) => s"MINUTE(${expr(c)})"
      case Second(c, _) => s"SECOND(${expr(c)})"

      case ShiftRight(l, r) => d.shiftRight(expr(l), expr(r))
      case MicrosToTimestamp(c) => d.microsToTimestamp(expr(c))
      case UnixMicros(c) => d.unixMicros(expr(c))
      case IntegralDivide(l, r, _) => d.intDivide(expr(l), expr(r))

      case BitwiseAnd(l, r) => s"(${expr(l)} & ${expr(r)})"
      case BitwiseOr(l, r) => s"(${expr(l)} | ${expr(r)})"
      case BitwiseXor(l, r) => s"(${expr(l)} ^ ${expr(r)})"

      case Upper(c) => s"UPPER(${expr(c)})"
      case Lower(c) => s"LOWER(${expr(c)})"
      case Length(c) => s"LENGTH(${expr(c)})"
      case Substring(s, p, l) =>
        s"SUBSTRING(${expr(s)}, ${expr(p)}, ${expr(l)})"
      case Concat(children) if children.size == 2 =>
        d.concat(expr(children.head), expr(children(1)))
      case Abs(c, _) => s"ABS(${expr(c)})"
      case Sqrt(c) => s"SQRT(${expr(c)})"
      case Greatest(cs) => s"GREATEST(${cs.map(expr).mkString(", ")})"
      case Least(cs) => s"LEAST(${cs.map(expr).mkString(", ")})"
      case Round(c, n, _) => s"ROUND(${expr(c)}, ${expr(n)})"
      // Spark-only (feeds LATERAL VIEW / UNNEST shapes); the Ansi dialect
      // has no portable split
      case StringSplit(str, regex, _) if d eq Spark =>
        s"SPLIT(${expr(str)}, ${expr(regex)})"

      case g: Grouping => s"GROUPING(${expr(g.child)})"
      case ae: AggregateExpression => aggExpr(ae)

      case WindowExpression(fn, spec) => windowExpr(fn, spec)

      // subquery expressions (the reference's RexSubQuery rendering).
      // Correlated references surface as OuterReference(attr); the global
      // name scope makes the bare outer name valid inside the subquery.
      case e: Exists => s"EXISTS (${query(e.plan)})"
      case InSubquery(values, lq) =>
        val v = values match {
          case Seq(one) => expr(one)
          case many => many.map(expr).mkString("(", ", ", ")")
        }
        s"($v IN (${query(lq.plan)}))"
      case s: ScalarSubquery => s"(${query(s.plan)})"
      case OuterReference(a: Attribute) => d.quote(nameOf(a))

      // last resort before rejecting: a RuntimeReplaceable sugar we have
      // no pretty spelling for renders through its executed replacement
      // (which is also the tree whose exprIds the analyzer keeps correct)
      case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
        expr(r.replacement)

      case other => throw unsupported(s"expression ${other.nodeName}")
    }

    /** OVER-clause rendering. Ranking and offset functions must NOT carry
      * an explicit frame (both engines reject or ignore it); aggregate
      * window functions render their analyzed frame verbatim. */
    private def windowExpr(fn: Expression, spec: WindowSpecDefinition): String = {
      val (fnSql, withFrame) = fn match {
        case ae: AggregateExpression => (aggExpr(ae), true)
        case _: RowNumber => ("ROW_NUMBER()", false)
        case _: Rank => ("RANK()", false)
        case _: DenseRank => ("DENSE_RANK()", false)
        case _: PercentRank => ("PERCENT_RANK()", false)
        case _: CumeDist => ("CUME_DIST()", false)
        case NTile(n) => (s"NTILE(${expr(n)})", false)
        case Lead(in, off, dflt, ignoreNulls) =>
          (s"LEAD(${expr(in)}, ${expr(off)}, ${expr(dflt)})${ign(ignoreNulls)}", false)
        case Lag(in, off, dflt, ignoreNulls) =>
          (s"LAG(${expr(in)}, ${expr(off)}, ${expr(dflt)})${ign(ignoreNulls)}", false)
        case NthValue(in, off, ignoreNulls) =>
          (s"NTH_VALUE(${expr(in)}, ${expr(off)})${ign(ignoreNulls)}", true)
        case other => throw unsupported(s"window function ${other.nodeName}")
      }
      val part =
        if (spec.partitionSpec.isEmpty) Nil
        else Seq("PARTITION BY " + spec.partitionSpec.map(expr).mkString(", "))
      val ord =
        if (spec.orderSpec.isEmpty) Nil
        else Seq("ORDER BY " + spec.orderSpec.map(sortOrder).mkString(", "))
      val frame = spec.frameSpecification match {
        case SpecifiedWindowFrame(ft, lower, upper) if withFrame =>
          val kw = ft match { case RowFrame => "ROWS"; case RangeFrame => "RANGE" }
          Seq(s"$kw BETWEEN ${frameBound(lower, isLower = true)} " +
            s"AND ${frameBound(upper, isLower = false)}")
        case _ => Nil
      }
      s"$fnSql OVER (${(part ++ ord ++ frame).mkString(" ")})"
    }

    private def frameBound(b: Expression, isLower: Boolean): String = b match {
      case UnboundedPreceding => "UNBOUNDED PRECEDING"
      case UnboundedFollowing => "UNBOUNDED FOLLOWING"
      case CurrentRow => "CURRENT ROW"
      case Literal(n: Integer, _) if n < 0 => s"${-n.intValue()} PRECEDING"
      case Literal(n: Integer, _) if n > 0 => s"$n FOLLOWING"
      case Literal(n: java.lang.Long, _) if n < 0 => s"${-n.longValue()} PRECEDING"
      case Literal(n: java.lang.Long, _) if n > 0 => s"$n FOLLOWING"
      case other => throw unsupported(s"frame bound $other")
    }

    private def ign(ignoreNulls: Boolean): String =
      if (ignoreNulls) " IGNORE NULLS" else ""

    private def aggExpr(ae: AggregateExpression): String = {
      val distinct = if (ae.isDistinct) "DISTINCT " else ""
      val filter = ae.filter.map(f => s" FILTER (WHERE ${expr(f)})").getOrElse("")
      fnOnly(ae, distinct) + filter
    }

    private def fnOnly(ae: AggregateExpression, distinct: String): String = {
      ae.aggregateFunction match {
        case Count(Seq(Literal(1, _))) if !ae.isDistinct => "COUNT(*)"
        case First(c, ignoreNulls) => s"FIRST_VALUE(${expr(c)})${ign(ignoreNulls)}"
        case Last(c, ignoreNulls) => s"LAST_VALUE(${expr(c)})${ign(ignoreNulls)}"
        case Count(children) =>
          s"COUNT($distinct${children.map(expr).mkString(", ")})"
        case Sum(c, _) => s"SUM($distinct${expr(c)})"
        case Min(c) => s"MIN(${expr(c)})"
        case Max(c) => s"MAX(${expr(c)})"
        case Average(c, _) => s"AVG($distinct${expr(c)})"
        case other => throw unsupported(s"aggregate ${other.prettyName}")
      }
    }
  }
}
