package graft.plans

import graft.Fixpoint
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** CREATE TABLE with DEFAULT-expression and VIRTUAL generated columns —
  * the server module's table DDL surface
  * (reference: server/src/main/java/org/apache/calcite/sql/ddl/
  * SqlCreateTable.java — its InitializerExpressionFactory lowers DEFAULT
  * and VIRTUAL column strategies; behavior pinned by
  * server/src/test/resources/sql/table.iq: expression DEFAULTs may
  * reference other inserted columns (`j int default i + 2`), VIRTUAL
  * columns are computed at read time and REJECT inserts
  * ("Cannot INSERT into generated column 'J'"), IF NOT EXISTS is a no-op
  * that keeps the original column set).
  *
  * Spark's own DEFAULT support requires constant-foldable expressions and
  * has no VIRTUAL columns outside Delta, so the gap is filled the same
  * way as the other server DDL: the injected parser intercepts ONLY the
  * forms Spark cannot express (a column list containing VIRTUAL or any
  * DEFAULT) plus INSERT/DROP on tables it created; everything else —
  * including plain CREATE TABLE — falls through to Spark untouched.
  *
  * Storage is session-scoped and holds rows, as the reference's
  * `MutableArrayTable` holds an `ArrayList` of them. Each CREATE TABLE,
  * CTAS and INSERT materializes its rows once, when the statement runs
  * ([[graft.Fixpoint.materialize]]), so a read neither scans the source
  * again nor re-evaluates it: an INSERT of `current_timestamp()` reads
  * back the same instant every time (snapshot semantics), and
  * `rows_modified` is the count of the materialized rows. A table of at
  * most [[graft.Fixpoint.localRowCap]] rows is held on the driver as one
  * `GraftBridge.DriverRows` frame (CREATE builds it empty straight from
  * the declared types): its rows are packed once, a read ships them to
  * its tasks with no Catalyst cost per row, and a table Spark would scan
  * as one split is one partition, so an ORDER BY over it sorts in one
  * task with no exchange. Not a `LocalRelation`: Catalyst maps over a
  * `LocalRelation`'s rows in every rule that rewrites expressions, which
  * made reads of a 600,000-row table four to ten times slower than
  * re-scanning its parquet source (SCALING.md). Past the cap,
  * each further INSERT adds a part the table owns as a local checkpoint,
  * and DROP TABLE releases them. The table is exposed as a temp view
  * PROJECTING the virtual columns, so every read path (SQL, DataFrame,
  * rel2sql) sees them computed — the same shape as the reference's
  * EnumerableCalc over the scan in table.iq's !plan: generated columns
  * cost no storage and one expression per read.
  */
object TableDdlSql {

  final case class ColDef(name: String, dataType: String, notNull: Boolean,
      default: Option[String], virtual: Option[String])

  /** A table's stored columns, as `parts` materialized when the statement
    * that wrote them ran. `schema` is the stored columns', every field
    * nullable. */
  final case class TableDef(name: String, cols: Seq[ColDef], schema: StructType,
      var parts: Vector[Fixpoint.Round]) {
    def data: DataFrame = parts.map(_.df).reduceLeft(_ unionByName _)
  }

  /** (session, lowercased name) → definition; session-keyed like
    * Engine.Tables so suites never see each other's tables, swept on
    * access when a session has stopped. */
  private val tables = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), TableDef]()

  private def sweep(): Unit = {
    val it = tables.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getKey._1.sparkContext.isStopped) it.remove()
    }
    // CREATE TYPE entries are session-keyed too: sweep them with the same
    // discipline or stopped sessions stay pinned forever
    val ti = types.entrySet().iterator()
    while (ti.hasNext) {
      if (ti.next().getKey._1.sparkContext.isStopped) ti.remove()
    }
  }

  private val CreateRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][A-Za-z_0-9]*)\s*\((.+)\)\s*;?\s*$""".r
  /** CREATE TABLE <name> (<aliases-or-typed-decls>) AS <query> — the
    * server module's CTAS column list (reference: server/src/main/java/
    * org/apache/calcite/sql/ddl/SqlCreateTable.java; behavior pinned by
    * server/src/test/resources/sql/table_as.iq:190-249 — bare aliases
    * rename positionally, typed entries also CAST, and the degree must
    * match the query ("Number of columns must match number of query
    * columns")). Spark's CTAS grammar has no column list, so this form is
    * intercepted; list-less CTAS falls through to Spark untouched. */
  private val CtasRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][A-Za-z_0-9]*)\s*\((.*?)\)\s+AS\s+(.+?);?\s*$""".r
  // the type spelling admits multi-word ANSI names (`double precision`,
  // `timestamp with time zone`) plus an optional precision suffix;
  // resolveType normalizes the multi-word spellings to Spark DDL
  private val CtasColRe =
    """(?is)^\s*([A-Za-z_][A-Za-z_0-9]*)(?:\s+([A-Za-z_][A-Za-z_0-9]*(?:\s+[A-Za-z_][A-Za-z_0-9]*)*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?))?\s*$""".r
  /** CREATE TYPE <name> AS <type> | AS (<field> <type> [NOT NULL], ...) —
    * the server module's user-defined types (reference: server/src/main/
    * java/org/apache/calcite/sql/ddl/SqlCreateType.java; behavior pinned
    * by server/src/test/resources/sql/type.iq: a named scalar type is an
    * alias, a named row type lowers to a struct). */
  private val CreateTypeRe =
    """(?is)^\s*CREATE\s+TYPE\s+([A-Za-z_][A-Za-z_0-9]*)\s+AS\s+(.+?);?\s*$""".r
  private val DropTypeRe =
    """(?is)^\s*DROP\s+TYPE\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z_0-9]*)\s*;?\s*$""".r
  private val TypeFieldRe =
    """(?is)^\s*([A-Za-z_][A-Za-z_0-9]*)\s+([A-Za-z_][A-Za-z_0-9]*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*(?:NOT\s+NULL\s*)?$""".r

  /** (session, lowercased name) → Spark DDL type string. */
  private val types = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Multi-word ANSI spellings → the Spark DDL type they denote. */
  private val AnsiTypeMap = Map(
    "double precision" -> "double",
    "character varying" -> "varchar",
    "char varying" -> "varchar",
    "national character varying" -> "varchar",
    "national char varying" -> "varchar",
    "national character" -> "char",
    "national char" -> "char",
    "timestamp with time zone" -> "timestamp",
    "timestamp with local time zone" -> "timestamp",
    "timestamp without time zone" -> "timestamp_ntz")

  /** Expand a declared column type through the CREATE TYPE registry, then
    * normalize multi-word ANSI spellings (identity for built-in Spark
    * spellings). A precision suffix survives normalization:
    * `character varying(20)` → `varchar(20)`. */
  private def resolveType(spark: SparkSession, tpe: String): String = {
    val norm = tpe.trim.replaceAll("\\s+", " ")
    Option(types.get((spark, norm.toLowerCase))).getOrElse {
      val (base, suffix) = norm.indexOf('(') match {
        case -1 => (norm, "")
        case i => (norm.substring(0, i).trim, norm.substring(i).trim)
      }
      AnsiTypeMap.get(base.toLowerCase) match {
        case Some(mapped) => mapped + suffix
        case None => norm
      }
    }
  }

  private def usesCustomType(spark: SparkSession, cols: Seq[ColDef]): Boolean =
    cols.exists(c => types.containsKey((spark, c.dataType.trim.toLowerCase)))
  private val DropRe =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z_0-9]*)\s*;?\s*$""".r
  private val InsertRe =
    """(?is)^\s*INSERT\s+INTO\s+([A-Za-z_][A-Za-z_0-9]*)\s*(?:\(([^)]*)\)\s*)?VALUES\s*(.+?);?\s*$""".r
  private val InsertSelRe =
    """(?is)^\s*INSERT\s+INTO\s+([A-Za-z_][A-Za-z_0-9]*)\s*(?:\(([^)]*)\)\s*)?(SELECT\b.+?);?\s*$""".r

  /** One column definition:
    *   name type [NOT NULL] [DEFAULT expr | AS (expr) VIRTUAL] */
  private val ColRe =
    """(?is)^\s*([A-Za-z_][A-Za-z_0-9]*)\s+([A-Za-z_][A-Za-z_0-9]*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*(NOT\s+NULL\s*)?(?:DEFAULT\s+(.+?)\s*|AS\s*\((.+)\)\s*VIRTUAL\s*)?$""".r

  /** Split a column list on commas at paren depth 0. */
  private def splitCols(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0
    for (i <- s.indices) s(i) match {
      case '(' => depth += 1
      case ')' => depth -= 1
      case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
      case _ => ()
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def parseCols(colsText: String): Option[Seq[ColDef]] = {
    val parsed = splitCols(colsText).map {
      case ColRe(name, tpe, notNull, default, virtual) =>
        Some(ColDef(name, tpe, notNull != null,
          Option(default).map(_.trim), Option(virtual).map(_.trim)))
      case _ => None
    }
    if (parsed.forall(_.isDefined)) Some(parsed.flatten) else None
  }

  def lookup(spark: SparkSession, name: String): Option[TableDef] = {
    sweep()
    Option(tables.get((spark, name.toLowerCase)))
  }

  def tryParse(spark: SparkSession, delegate: ParserInterface,
      sqlText: String): Option[LogicalPlan] = sqlText match {

    case CreateTypeRe(name, body0) =>
      val b = body0.trim
      val sparkType =
        if (b.startsWith("(")) {
          val fields = splitCols(b.stripPrefix("(").stripSuffix(")")).map {
            case TypeFieldRe(fn, ft) => s"$fn: ${resolveType(spark, ft)}"
            case bad => throw new IllegalArgumentException(
              s"Invalid field '$bad' in CREATE TYPE")
          }
          fields.mkString("STRUCT<", ", ", ">")
        } else resolveType(spark, b)
      // reject unknown spellings now, not at first use
      DataType.fromDDL(sparkType)
      types.put((spark, name.toLowerCase), sparkType)
      Some(delegate.parsePlan(s"SELECT 'created' AS status, '$name' AS type_name"))

    case DropTypeRe(ifExists, name) =>
      val removed = types.remove((spark, name.toLowerCase))
      if (removed == null && ifExists == null)
        throw new IllegalArgumentException(s"Type '$name' not found")
      Some(delegate.parsePlan(s"SELECT 'dropped' AS status, '$name' AS type_name"))

    case CtasRe(ifNotExists, name, colsText, query)
        // claim the statement only when every entry is alias-shaped or a
        // typed decl — a DEFAULT expression containing " AS " inside a
        // plain CREATE TABLE column list must fall through to CreateRe
        if splitCols(colsText).forall(CtasColRe.pattern.matcher(_).matches()) =>
      sweep()
      val entries: Seq[(String, Option[String])] = splitCols(colsText).map {
        case CtasColRe(n, t) => (n, Option(t))
      }
      val key = (spark, name.toLowerCase)
      if (tables.containsKey(key) || spark.catalog.tableExists(name)) {
        if (ifNotExists == null)
          throw new IllegalArgumentException(s"Table '$name' already exists")
        Some(delegate.parsePlan(
          s"SELECT 'exists' AS status, '$name' AS table_name"))
      } else {
        val df0 = spark.sql(query)
        if (entries.length != df0.columns.length)
          throw new IllegalArgumentException(
            "Number of columns must match number of query columns")
        val cols = entries.zip(df0.schema.fields).map { case ((n, t), f) =>
          ColDef(n, t.map(resolveType(spark, _)).getOrElse(f.dataType.sql),
            notNull = false, None, None)
        }
        val data = Fixpoint.materialize(df0.toDF(cols.map(_.name): _*).selectExpr(cols.map(c =>
          s"CAST(${c.name} AS ${c.dataType}) AS ${c.name}"): _*))
        val td = TableDef(name, cols, nullable(data.schema), Vector(data))
        tables.put(key, td)
        registerView(spark, td)
        Some(delegate.parsePlan(
          s"SELECT 'created' AS status, '$name' AS table_name"))
      }

    case CreateRe(ifNotExists, name, colsText) =>
      parseCols(colsText) match {
        // intercept only what Spark cannot express: VIRTUAL, DEFAULT, or
        // a column typed with a CREATE TYPE name
        case Some(cols0) if cols0.exists(c =>
            c.default.isDefined || c.virtual.isDefined) ||
            usesCustomType(spark, cols0) =>
          val cols = cols0.map(c => c.copy(dataType = resolveType(spark, c.dataType)))
          sweep()
          val key = (spark, name.toLowerCase)
          // check the Spark catalog too (matching the CTAS branch) so a
          // custom-typed CREATE TABLE cannot silently shadow a native
          // table or fixture view — the reference raises 'already exists'
          if (tables.containsKey(key) || spark.catalog.tableExists(name)) {
            if (ifNotExists == null)
              throw new IllegalArgumentException(s"Table '$name' already exists")
            // IF NOT EXISTS: keep the ORIGINAL definition (table.iq: no K)
          } else {
            // each declared type as a CAST to it types the result: CHAR
            // and VARCHAR read as STRING
            val schema = StructType(cols.filter(_.virtual.isEmpty).map(c => StructField(c.name,
              CharVarcharUtils.replaceCharVarcharWithString(DataType.fromDDL(c.dataType)))))
            val td = TableDef(name, cols, schema,
              Vector(Fixpoint.local(spark, schema, IndexedSeq.empty)))
            tables.put(key, td)
            registerView(spark, td)
          }
          Some(delegate.parsePlan(s"SELECT 'created' AS status, '$name' AS table_name"))
        case _ => None // plain CREATE TABLE — Spark's own DDL handles it
      }

    case DropRe(ifExists, name) =>
      sweep()
      val removed = tables.remove((spark, name.toLowerCase))
      if (removed != null) {
        spark.catalog.dropTempView(name)
        removed.parts.foreach(Fixpoint.release)
        SqlAdvisor.invalidate(spark)
        Some(delegate.parsePlan(s"SELECT 'dropped' AS status, '$name' AS table_name"))
      } else None // not ours — Spark's DROP TABLE (its IF EXISTS no-op, its error)

    case InsertRe(name, colList, valuesText) if lookup(spark, name).isDefined =>
      // evaluate the VALUES rows with the provided names in scope
      Some(insertFrom(spark, delegate, lookup(spark, name).get, colList,
        provided => spark.sql(
          s"SELECT * FROM (VALUES $valuesText) AS v(${provided.mkString(", ")})")))

    case InsertSelRe(name, colList, selectText) if lookup(spark, name).isDefined =>
      // INSERT ... SELECT: the query's output binds POSITIONALLY to the
      // target list (ANSI), then completes through the same default/
      // virtual machinery as VALUES
      Some(insertFrom(spark, delegate, lookup(spark, name).get, colList,
        provided => spark.sql(selectText).toDF(provided: _*)))

    // CAST(x AS <registered type>) in an otherwise-plain statement:
    // rewrite the alias to its Spark type and delegate (reference:
    // SqlValidatorTest testCastRegisteredType — cast(123 as
    // sales.customBigInt) resolves through the catalog's type registry)
    case _ => resolveCastTypes(spark, sqlText).map(delegate.parsePlan)
  }

  /** Rewrite CREATE TYPE aliases appearing in `CAST(... AS <name>)`
    * positions to their registered Spark types. Matched ONLY between
    * CAST's parens (no nested parens in the cast argument), so column
    * aliases named like a type are untouched — and ONLY outside
    * single-quoted string literals (doubled '' escapes included), so a
    * literal that happens to CONTAIN cast-like text is never corrupted.
    * None when nothing matched (the delegate sees the original text). */
  private def resolveCastTypes(spark: SparkSession, sql: String): Option[String] = {
    // match against a copy with every single-quoted literal MASKED to
    // same-length sentinel chars (doubled '' escapes included), then
    // splice the type replacements into the ORIGINAL by position — so a
    // literal containing cast-like text is never rewritten, while
    // CAST('abc' AS name) (a literal INSIDE the cast argument) still is
    val literalRe = "'(?:[^']|'')*'".r
    def masked(s: String): String =
      literalRe.replaceAllIn(s, m => "\u0001" * m.matched.length)
    var out = sql
    var changed = false
    val it = types.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) {
        val re = ("(?is)\\bCAST\\s*\\([^()]*?\\s+AS\\s+(" +
          java.util.regex.Pattern.quote(e.getKey._2) + ")\\s*\\)").r
        val ms = re.findAllMatchIn(masked(out)).toList
        if (ms.nonEmpty) {
          val sb = new StringBuilder
          var pos = 0
          for (m <- ms) {
            sb.append(out.substring(pos, m.start(1))).append(e.getValue)
            pos = m.end(1)
          }
          sb.append(out.substring(pos))
          out = sb.toString
          changed = true
        }
      }
    }
    if (changed) Some(out) else None
  }

  /** Shared INSERT path: validate the target list (generated columns
    * reject, unknown columns reject), bind the source rows to it, then
    * complete each stored column — provided → itself, DEFAULT expr →
    * evaluated WITH the provided columns visible (table.iq: i + 2),
    * otherwise typed NULL. */
  private def insertFrom(spark: SparkSession, delegate: ParserInterface,
      td: TableDef, colList: String,
      source: Seq[String] => DataFrame): LogicalPlan = {
    val provided: Seq[String] = Option(colList) match {
      case Some(cl) => splitCols(cl).map(_.trim)
      // positional INSERT targets the FULL declared column list —
      // virtual columns included, which is exactly what table.iq rejects
      case None => td.cols.map(_.name)
    }
    provided.find(p => td.cols.exists(c =>
        c.name.equalsIgnoreCase(p) && c.virtual.isDefined)).foreach { p =>
      throw new IllegalArgumentException(
        s"Cannot INSERT into generated column '${p.toUpperCase}'")
    }
    provided.find(p => !td.cols.exists(_.name.equalsIgnoreCase(p))).foreach { p =>
      throw new IllegalArgumentException(s"Unknown target column '$p'")
    }
    val src = source(provided)
    val stored = td.cols.filter(_.virtual.isEmpty)
    val completed = src.selectExpr(stored.map { c =>
      if (provided.exists(_.equalsIgnoreCase(c.name)))
        s"CAST(${c.name} AS ${c.dataType}) AS ${c.name}"
      else c.default match {
        case Some(d) => s"CAST(($d) AS ${c.dataType}) AS ${c.name}"
        case None => s"CAST(NULL AS ${c.dataType}) AS ${c.name}"
      }
    }: _*)
    val added = Fixpoint.materialize(completed)
    append(spark, td, added)
    registerView(spark, td)
    delegate.parsePlan(s"SELECT CAST(${added.count} AS BIGINT) AS rows_modified")
  }

  /** Adds `added` to the table: into its last part when both are held on
    * the driver, have the same types and together fit
    * [[Fixpoint.localRowCap]], so a table under the cap stays one frame of
    * driver rows; as a part of its own otherwise. */
  private def append(spark: SparkSession, td: TableDef, added: Fixpoint.Round): Unit = {
    val last = td.parts.last
    val merged = for {
      held <- last.internal
      rows <- added.internal
      if added.schema.map(_.dataType) == td.schema.map(_.dataType) &&
        held.size + rows.size <= Fixpoint.localRowCap(spark.sessionState.conf, td.schema)
    } yield Fixpoint.local(spark, td.schema, held ++ rows)
    td.parts = merged.fold(td.parts :+ added)(td.parts.init :+ _)
  }

  private def nullable(schema: StructType): StructType =
    StructType(schema.map(_.copy(nullable = true)))

  /** Expose the table as a temp view projecting virtual columns in
    * declared order — the reference's Calc-over-scan read shape. */
  private def registerView(spark: SparkSession, td: TableDef): Unit = {
    val projected = td.data.selectExpr(td.cols.map { c =>
      c.virtual match {
        case Some(v) => s"CAST(($v) AS ${c.dataType}) AS ${c.name}"
        case None => c.name
      }
    }: _*)
    projected.createOrReplaceTempView(td.name)
    SqlAdvisor.invalidate(spark)
  }
}
