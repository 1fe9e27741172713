package graft.iq

import graft.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared fixture datasets for the quidem suites (reference:
  * test/CalciteAssert.java POST schema at :812-872, the hsqldb scott
  * database — NOTE its JONES/BLAKE hiredates differ from the classic
  * Oracle script (1981-02-04 / 1981-01-05, day/month swapped), recovered
  * from full-row goldens in the reference's .iq files — and StreamTest's
  * ORDERS history for orinoco). */
object IqFixtures {

  private def view(spark: SparkSession, name: String, sql: String): Unit =
    spark.sql(sql).createOrReplaceTempView(name)

  def registerPost(spark: SparkSession): Unit = {
    view(spark, "emp",
      """SELECT * FROM VALUES
        |  ('Jane', 10, 'F'), ('Bob', 10, 'M'), ('Eric', 20, 'M'),
        |  ('Susan', 30, 'F'), ('Alice', 30, 'F'), ('Adam', 50, 'M'),
        |  ('Eve', 50, 'F'), ('Grace', 60, 'F'),
        |  ('Wilma', CAST(NULL AS INT), 'F')
        |AS t(ename, deptno, gender)""".stripMargin)
    view(spark, "dept",
      """SELECT * FROM VALUES (10, 'Sales'), (20, 'Marketing'),
        |  (30, 'Engineering'), (40, 'Empty') AS t(deptno, dname)""".stripMargin)
    view(spark, "dept30", "SELECT * FROM dept WHERE deptno = 30")
    view(spark, "emps",
      """SELECT * FROM VALUES
        |  (100, 'Fred',  10, CAST(NULL AS STRING), CAST(NULL AS STRING), 40, 25, TRUE, FALSE, DATE '1996-08-03'),
        |  (110, 'Eric',  20, 'M', 'San Francisco', 3, 80, CAST(NULL AS BOOLEAN), FALSE, DATE '2001-01-01'),
        |  (110, 'John',  40, 'M', 'Vancouver', 2, CAST(NULL AS INT), FALSE, TRUE, DATE '2002-05-03'),
        |  (120, 'Wilma', 20, 'F', CAST(NULL AS STRING), 1, 5, CAST(NULL AS BOOLEAN), TRUE, DATE '2005-09-07'),
        |  (130, 'Alice', 40, 'F', 'Vancouver', 2, CAST(NULL AS INT), FALSE, TRUE, DATE '2007-01-01')
        |AS t(empno, name, deptno, gender, city, empid, age, slacker, manager, joinedat)""".stripMargin)
    // the HR schema (reference: test/schemas/HrClusteredSchema.java:66-69 /
    // JdbcTest.HrSchema) — winagg.iq references it as "hr"."emps"
    view(spark, "hr_emps",
      """SELECT * FROM VALUES
        |  (100, 10, 'Bill',     CAST(10000 AS DOUBLE), 1000),
        |  (110, 10, 'Theodore', CAST(11500 AS DOUBLE),  250),
        |  (150, 10, 'Sebastian', CAST(7000 AS DOUBLE), CAST(NULL AS INT)),
        |  (200, 20, 'Eric',      CAST(8000 AS DOUBLE),  500)
        |AS t(empid, deptno, name, salary, commission)""".stripMargin)
    // match.iq's MATCH_RECOGNIZE fixture: the same HR emps with an
    // EXPLICIT position column pinning the reference's INPUT order —
    // its EnumerableMatch matches over input order (the clause's ORDER
    // BY "empid" DESC is not applied; see GoldenSpec's match.iq DSL
    // tests pinning the same behavior), so the port orders by `pos`.
    // `part` is the constant partition key the restricted SQL grammar
    // requires (the whole table is one partition, as in the reference).
    view(spark, "hr_mr",
      """SELECT * FROM VALUES
        |  (0, 0, 100, 1000), (0, 1, 200, 500),
        |  (0, 2, 150, CAST(NULL AS INT)), (0, 3, 110, 250)
        |AS t(part, pos, empid, commission)""".stripMargin)
  }

  def registerScott(spark: SparkSession): Unit = {
    view(spark, "emp",
      """SELECT empno, ename, job, mgr, hiredate,
        |  CAST(sal AS DECIMAL(7,2)) AS sal, CAST(comm AS DECIMAL(7,2)) AS comm,
        |  deptno
        |FROM VALUES
        |  (7369, 'SMITH',  'CLERK',     7902, DATE '1980-12-17',  800.00, CAST(NULL AS DECIMAL(7,2)), 20),
        |  (7499, 'ALLEN',  'SALESMAN',  7698, DATE '1981-02-20', 1600.00,  300.00, 30),
        |  (7521, 'WARD',   'SALESMAN',  7698, DATE '1981-02-22', 1250.00,  500.00, 30),
        |  (7566, 'JONES',  'MANAGER',   7839, DATE '1981-02-04', 2975.00, CAST(NULL AS DECIMAL(7,2)), 20),
        |  (7654, 'MARTIN', 'SALESMAN',  7698, DATE '1981-09-28', 1250.00, 1400.00, 30),
        |  (7698, 'BLAKE',  'MANAGER',   7839, DATE '1981-01-05', 2850.00, CAST(NULL AS DECIMAL(7,2)), 30),
        |  (7782, 'CLARK',  'MANAGER',   7839, DATE '1981-06-09', 2450.00, CAST(NULL AS DECIMAL(7,2)), 10),
        |  (7788, 'SCOTT',  'ANALYST',   7566, DATE '1987-04-19', 3000.00, CAST(NULL AS DECIMAL(7,2)), 20),
        |  (7839, 'KING',   'PRESIDENT', CAST(NULL AS INT), DATE '1981-11-17', 5000.00, CAST(NULL AS DECIMAL(7,2)), 10),
        |  (7844, 'TURNER', 'SALESMAN',  7698, DATE '1981-09-08', 1500.00,    0.00, 30),
        |  (7876, 'ADAMS',  'CLERK',     7788, DATE '1987-05-23', 1100.00, CAST(NULL AS DECIMAL(7,2)), 20),
        |  (7900, 'JAMES',  'CLERK',     7698, DATE '1981-12-03',  950.00, CAST(NULL AS DECIMAL(7,2)), 30),
        |  (7902, 'FORD',   'ANALYST',   7566, DATE '1981-12-03', 3000.00, CAST(NULL AS DECIMAL(7,2)), 20),
        |  (7934, 'MILLER', 'CLERK',     7782, DATE '1982-01-23', 1300.00, CAST(NULL AS DECIMAL(7,2)), 10)
        |AS t(empno, ename, job, mgr, hiredate, sal, comm, deptno)""".stripMargin)
    view(spark, "dept",
      """SELECT * FROM VALUES
        |  (10, 'ACCOUNTING', 'NEW YORK'), (20, 'RESEARCH', 'DALLAS'),
        |  (30, 'SALES', 'CHICAGO'), (40, 'OPERATIONS', 'BOSTON')
        |AS t(deptno, dname, loc)""".stripMargin)
    view(spark, "salgrade",
      """SELECT * FROM VALUES (1, 700, 1200), (2, 1201, 1400), (3, 1401, 2000),
        |  (4, 2001, 3000), (5, 3001, 9999) AS t(grade, losal, hisal)""".stripMargin)
  }

  /** blank.iq's session tables — the script CREATEs then INSERTs them
    * via `!update` blocks (a directive this harness ignores); we register
    * the post-INSERT state the `!ok` blocks read (reference:
    * core/src/test/resources/sql/blank.iq:21-67). */
  def registerBlank(spark: SparkSession): Unit = {
    view(spark, "foo", "SELECT * FROM VALUES (1, 0), (0, 2) AS t(i, j)")
    view(spark, "table1", "SELECT * FROM VALUES (1, 2), (1, 3) AS t(i, j)")
    view(spark, "table2",
      "SELECT * FROM VALUES (CAST(NULL AS INT), 1), (2, 1) AS t(i, j)")
  }

  /** sort.iq's foodmart slice — the two tables its blocks read. `days`
    * is the complete 7-row calendar dimension; `store` carries the three
    * store_id < 3 rows the goldens pin (ids 0-2 with grocery_sqft
    * NULL/17475/22271 — the hsqldb foodmart values, recovered from the
    * goldens themselves) plus the `florist` flag the file uses only as a
    * leading sort key (output order is outside the harness compare, so
    * only the column's existence matters; values follow the dataset's
    * HQ=false convention). */
  def registerFoodmartMini(spark: SparkSession): Unit = {
    view(spark, "days",
      """SELECT * FROM VALUES (1, 'Sunday'), (2, 'Monday'), (3, 'Tuesday'),
        |  (4, 'Wednesday'), (5, 'Thursday'), (6, 'Friday'), (7, 'Saturday')
        |AS t(day, week_day)""".stripMargin)
    view(spark, "store",
      """SELECT * FROM VALUES
        |  (0, CAST(NULL AS INT), false),
        |  (1, 17475, false),
        |  (2, 22271, false)
        |AS t(store_id, grocery_sqft, florist)""".stripMargin)
  }

  /** spatial.iq's GEO schema — the 245-row countries table. The
    * authoritative fixture is the reference's CountriesTableFunction
    * (core/src/test/java/org/apache/calcite/test/CountriesTableFunction
    * .java — "has same content as file/src/test/resources/geo/countries
    * .csv", except the CSV's UM row is comma-broken while the Java array
    * carries the real NULL coordinates); parsed at test time like the .iq
    * goldens themselves. */
  def registerGeo(spark: SparkSession): Unit = {
    val path = "/root/reference/core/src/test/java/org/apache/calcite/" +
      "test/CountriesTableFunction.java"
    val RowRe = """\s*\{"([A-Z]{2})", (null|-?[0-9.]+), (null|-?[0-9.]+), "(.+)"\},?""".r
    // explicit UTF-8 (the JVM default charset is ASCII here and some
    // country names are accented)
    val src = scala.io.Source.fromFile(path)(scala.io.Codec.UTF8)
    val rows = try src.getLines().collect {
      case RowRe(c, la, lo, n) =>
        (c, if (la == "null") None else Some(la.toDouble),
          if (lo == "null") None else Some(lo.toDouble), n)
    }.toVector finally src.close()
    require(rows.size == 245, s"countries fixture parsed ${rows.size} rows")
    import spark.implicits._
    rows.toDF("country", "latitude", "longitude", "name")
      .createOrReplaceTempView("countries")
  }

  /** conditions.iq's catchall schema — only `nullables` is referenced
    * (reference: test/ReflectiveSchemaTest.java:988 CatchallSchema). */
  def registerCatchall(spark: SparkSession): Unit =
    view(spark, "nullables",
      """SELECT * FROM VALUES (1, 'A'), (2, 'B'), (2, 'C'),
        |  (3, CAST(NULL AS STRING)) AS t(id, value)""".stripMargin)

  /** sequence.iq's seq schema: one sequence `my_seq` (reference:
    * test/CalciteAssert SPARK→… the "seq" fixture schema). `replace`
    * resets the counter so the suite's stateful NEXT/CURRENT VALUE
    * block pair sees a fresh sequence on every run. */
  def registerSeq(spark: SparkSession): Unit =
    graft.operators.Sequences.create(spark, "my_seq", replace = true)

  /** Registered as `iq_orders`, NOT `orders`: the bare name is a TPC-H
    * fixture view (Tables.registerAll is memoized, so shadowing it would
    * poison every later suite in the shared session). Orinoco blocks are
    * rewritten to the prefixed name. */
  def registerOrinoco(spark: SparkSession): Unit =
    view(spark, "iq_orders",
      """SELECT * FROM VALUES
        |  (TIMESTAMP '2015-02-15 10:15:00', 1, 'paint', 10),
        |  (TIMESTAMP '2015-02-15 10:24:15', 2, 'paper', 5),
        |  (TIMESTAMP '2015-02-15 10:24:45', 3, 'brush', 12),
        |  (TIMESTAMP '2015-02-15 10:58:00', 4, 'paint', 3),
        |  (TIMESTAMP '2015-02-15 11:10:00', 5, 'paint', 3)
        |AS t(rowtime, id, product, units)""".stripMargin)
}

/** Base for exhaustive quidem-script ports: subclasses name the file and
  * the expected `!ok` count, supply per-block rewrites (dialect
  * adaptation, semantics unchanged) and documented skips; every other
  * enabled block runs verbatim (after [[dialect]]) and must reproduce the
  * committed golden. The census test pins ported + skipped + disabled =
  * total, so a silently-dropped block cannot happen. */
abstract class IqSuite extends AnyFunSuite {

  protected def spark: SparkSession = SparkTestSession.spark

  /** Short name, e.g. "agg.iq" — also the path under the reference's
    * core/src/test/resources/sql. */
  def iqFile: String

  /** Pinned `!ok` block count (census breaks if the reference changes). */
  def expectedTotal: Int

  def rewrites: Map[Int, String => String]
  def skips: Map[Int, String]

  protected lazy val blocks: Seq[Iq.Block] =
    Iq.parse(s"/root/reference/core/src/test/resources/sql/$iqFile")
  protected lazy val okBlocks: Seq[Iq.Block] = blocks.filter(_.directive == "ok")

  private var lastDataset = ""
  protected def register(dataset: String): Unit = {
    if (dataset == lastDataset) return
    dataset match {
      case "post" => IqFixtures.registerPost(spark)
      case "scott" | "jdbc_scott" => IqFixtures.registerScott(spark)
      case "orinoco" => IqFixtures.registerOrinoco(spark)
      case "blank" => IqFixtures.registerBlank(spark)
      case "catchall" => IqFixtures.registerCatchall(spark)
      case "foodmart" => IqFixtures.registerFoodmartMini(spark)
      case "geo" => IqFixtures.registerGeo(spark)
      case "seq" => IqFixtures.registerSeq(spark)
      case other => fail(s"unknown dataset $other — add a skip or fixture")
    }
    lastDataset = dataset
  }

  /** Dialect-level rewrites applied to every block (these spellings are
    * parse errors in Spark, so they cannot change a block that already
    * runs verbatim): schema-qualifier strip, double-quoted identifiers →
    * backticks, COLLECT → collect_list/collect_set (WITHIN GROUP ordering
    * drops — array cells compare order-insensitively), FUSION →
    * flatten(collect_list(...)). */
  protected def dialect(sql: String): String = sql
    .replace("\"scott\".", "").replace("jdbc_scott.", "")
    .replace("\"hr\".\"emps\"", "hr_emps")
    .replaceAll("\"([^\"]+)\"", "`$1`")
    .replaceAll("(?is)\\bcollect\\(([^)]*)\\)\\s*within\\s+group\\s*\\([^)]*\\)",
      "collect_list($1)")
    .replaceAll("(?i)\\bcollect\\(\\s*distinct\\s+", "collect_set(")
    .replaceAll("(?i)\\bcollect\\(", "collect_list(")
    .replaceAll("(?i)\\bfusion\\(([^)]+)\\)", "flatten(collect_list($1))")
    // IS [NOT] UNKNOWN over booleans ≡ IS [NOT] NULL (Spark has no
    // UNKNOWN spelling; parse error, so passing blocks are unaffected)
    .replaceAll("(?i)\\bis\\s+not\\s+unknown\\b", "is not null")
    .replaceAll("(?i)\\bis\\s+unknown\\b", "is null")
    // JDBC escape literals {ts '...'} / {d '...'}
    .replaceAll("(?i)\\{ts '([^']*)'\\}", "TIMESTAMP '$1'")
    .replaceAll("(?i)\\{d '([^']*)'\\}", "DATE '$1'")
    // bracket collection constructors: ARRAY[..] / MAP[..] / MULTISET[..]
    // (a MULTISET compares as its sorted element list — the harness
    // compares array cells order-insensitively anyway)
    .replaceAll("(?i)\\barray\\[([^\\]]*)\\]", "array($1)")
    .replaceAll("(?i)\\bmultiset\\[([^\\]]*)\\]", "array($1)")
    .replaceAll("(?i)\\bmap\\[([^\\]]*)\\]", "map($1)")
    // explicit ROW constructor
    .replaceAll("(?i)\\brow\\s*\\(", "struct(")
    // GROUP BY () — a parse error in Spark's grammar. The standard (and
    // the reference: scalar.iq:85 vs :98 pin identical results) defines it
    // as the ungrouped global aggregate — ONE group even over empty input
    // — so it simply drops. (Spark's GROUPING SETS (()) spelling is NOT
    // equivalent: it keeps grouped-aggregate semantics and yields zero
    // rows on empty input.)
    .replaceAll("(?i)\\bgroup\\s+by\\s+\\(\\)", "")

  protected def runBlock(b: Iq.Block): Unit = {
    register(b.dataset)
    val sql = rewrites.get(b.line).fold(dialect(b.sql))(f => f(dialect(b.sql)))
    val df = spark.sql(sql)
    Iq.assertMatches(s"$iqFile:${b.line}", df, b.expected)
  }

  protected def generateTests(): Unit = {
    for (b <- okBlocks if !b.disabled && !skips.contains(b.line))
      test(s"$iqFile:${b.line}") { runBlock(b) }

    test(s"census: every !ok block of $iqFile is ported or documented-skipped") {
      val total = okBlocks.size
      val disabled = okBlocks.count(_.disabled)
      val skipped = okBlocks.count(b => !b.disabled && skips.contains(b.line))
      val ported = okBlocks.count(b => !b.disabled && !skips.contains(b.line))
      assert(ported + skipped + disabled == total)
      assert(total == expectedTotal,
        s"$iqFile !ok block count changed: $total")
      val lines = okBlocks.filterNot(_.disabled).map(_.line).toSet
      val stale = skips.keySet.diff(lines)
      assert(stale.isEmpty, s"stale skip entries: $stale")
      info(s"$iqFile census: $total !ok blocks = $ported ported + " +
        s"$skipped skipped + $disabled !if-disabled")
    }
  }
}
