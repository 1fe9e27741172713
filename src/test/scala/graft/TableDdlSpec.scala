package graft

import org.scalatest.funsuite.AnyFunSuite

/** Ports server/src/test/resources/sql/table.iq (the server module's
  * table DDL golden): DEFAULT columns whose expressions reference other
  * inserted columns, VIRTUAL generated columns computed at read time and
  * rejecting inserts, IF NOT EXISTS keeping the original column set, and
  * the drop/error lifecycle. Expected values are the .iq file's own
  * result tables (1,2 / 3,5; 1,6,3 / 2,9,5; 'abcde',5,'de '). */
class TableDdlSpec extends AnyFunSuite {
  import SparkTestSession._

  private def sql(q: String) = spark.sql(q)
  private def rows(q: String): Seq[Seq[Any]] =
    sql(q).collect().toSeq.map(_.toSeq)

  test("DEFAULT expression referencing another inserted column (table.iq:57-83)") {
    sql("create table tdef (i int, j int default i + 2)")
    // IF NOT EXISTS keeps the ORIGINAL definition — no K column appears
    sql("create table if not exists tdef (i int, j int default i + 2, k date)")
    assert(sql("select * from tdef").columns.toSeq == Seq("i", "j"))
    sql("insert into tdef values (1, 2)")
    sql("insert into tdef (i) values (3)")
    assert(rows("select * from tdef order by i") == Seq(Seq(1, 2), Seq(3, 5)))
    sql("drop table tdef")
    intercept[Exception](sql("select * from tdef").collect())
  }

  test("VIRTUAL column computed at read, rejected on insert (table.iq:88-134)") {
    sql("create table tv (i int, j int as (i + k + 2) virtual, k int)")
    val all = intercept[IllegalArgumentException](
      sql("insert into tv values (1, 2, 3)"))
    assert(all.getMessage == "Cannot INSERT into generated column 'J'")
    val explicit = intercept[IllegalArgumentException](
      sql("insert into tv (i, j) values (1, 2)"))
    assert(explicit.getMessage == "Cannot INSERT into generated column 'J'")
    sql("insert into tv (i, k) values (1, 3)")
    // reordered target list rewrites to declared order (table.iq !plan)
    sql("insert into tv (k, i) values (5, 2)")
    assert(rows("select * from tv order by i") ==
      Seq(Seq(1, 6, 3), Seq(2, 9, 5)))
    sql("drop table if exists tv")
    intercept[Exception](sql("select * from tv").collect())
    // not ours any more — Spark's own DROP TABLE error surfaces
    intercept[Exception](sql("drop table tv"))
    sql("drop table if exists tv") // Spark's no-op
  }

  test("VIRTUAL column over a builtin function (table.iq:155-205)") {
    sql("create table tf (i varchar(5), j int as (char_length(i)) virtual, k varchar(3))")
    val e = intercept[IllegalArgumentException](
      sql("insert into tf values ('abcde', 5, 'de ')"))
    assert(e.getMessage == "Cannot INSERT into generated column 'J'")
    sql("insert into tf (i, k) values ('abcde', 'de ')")
    sql("insert into tf (k, i) values ('de ', 'abcde')")
    assert(rows("select i, j, k from tf") ==
      Seq(Seq("abcde", 5, "de "), Seq("abcde", 5, "de ")))
    sql("drop table tf")
  }

  test("typed NULL fill when a column has no default; unknown target rejected") {
    sql("create table tn (i int, j int default 7, k int)")
    sql("insert into tn (i) values (1)")
    assert(rows("select * from tn") == Seq(Seq(1, 7, null)))
    val e = intercept[IllegalArgumentException](
      sql("insert into tn (zz) values (1)"))
    assert(e.getMessage.contains("Unknown target column"))
    sql("drop table tn")
  }

  test("duplicate CREATE without IF NOT EXISTS fails; plain CREATE TABLE is untouched") {
    sql("create table tdup (i int, j int default 1)")
    val e = intercept[IllegalArgumentException](
      sql("create table tdup (i int, j int default 1)"))
    assert(e.getMessage.contains("already exists"))
    sql("drop table tdup")
    // no DEFAULT/VIRTUAL → must reach Spark's own DDL path (temp-view-less
    // catalog table); CREATE + DROP round-trip through the delegate
    sql("create table tplain (i int, j int) using parquet")
    assert(spark.catalog.tableExists("tplain"))
    sql("drop table tplain")
  }

  test("INSERT ... SELECT binds positionally and fills defaults") {
    Tables.registerAll(spark, sfDir)
    sql("create table tsel (rk int, rname string, tag int default rk * 2)")
    val n = sql(
      "insert into tsel (rk, rname) select r_regionkey, r_name from region order by r_regionkey")
      .collect().head.getLong(0)
    assert(n == Tables.t(spark, sfDir, "region").count())
    val rows2 = rows("select rk, tag from tsel order by rk")
    assert(rows2.forall { case Seq(rk: Int, tag: Int) => tag == rk * 2 })
    // generated-column targets reject for SELECT sources too
    sql("drop table tsel")
    sql("create table tselv (i int, j int as (i + 1) virtual)")
    val e = intercept[IllegalArgumentException](
      sql("insert into tselv select r_regionkey, r_regionkey from region"))
    assert(e.getMessage == "Cannot INSERT into generated column 'J'")
    sql("drop table tselv")
  }

  test("multi-row VALUES insert reports the modified-row count") {
    sql("create table tm (i int, j int default i * 10)")
    val n = sql("insert into tm (i) values (1), (2), (3)").collect()
    assert(n.head.getLong(0) == 3L)
    assert(rows("select * from tm order by i") ==
      Seq(Seq(1, 10), Seq(2, 20), Seq(3, 30)))
    sql("drop table tm")
  }

  /** `f`'s result and the Spark jobs it started. */
  private def jobsDuring[T](f: => T): (T, Long) = {
    val jobs = new Bench.JobCounter(spark)
    try {
      val out = f
      (out, jobs.count)
    } finally jobs.close()
  }

  test("INSERT stores a snapshot: current_timestamp() reads back the same instant") {
    sql("create table tsnap (k int, ts timestamp, d int default 0)")
    sql("insert into tsnap (k, ts) select 1, current_timestamp()")
    val first = rows("select ts from tsnap")
    Thread.sleep(100)
    assert(rows("select ts from tsnap") == first)
    sql("drop table tsnap")
  }

  test("rows_modified counts the rows each INSERT materialized") {
    sql("create table tcount (i bigint, j bigint default i * 2)")
    def insert(q: String): Long = sql(q).collect().head.getLong(0)
    assert(insert("insert into tcount (i) select id from range(37)") == 37L)
    assert(insert("insert into tcount (i) select id from range(5) where id > 10") == 0L)
    assert(insert("insert into tcount (i) values (100), (101)") == 2L)
    assert(rows("select count(*) from tcount") == Seq(Seq(39L)))
    sql("drop table tcount")
  }

  test("CTAS and INSERT ... VALUES read back what Spark's own query returns") {
    Tables.registerAll(spark, sfDir)
    val query = "select n_nationkey, n_name, n_regionkey from nation where n_regionkey < 3"
    sql(s"create table tctas (k int, nm varchar(25), r bigint) as $query")
    val expected = rows(s"select cast(n_nationkey as int), n_name, n_regionkey from ($query) " +
      "order by n_nationkey")
    assert(rows("select * from tctas order by k") == expected)
    sql("create table tvals (i int, s varchar(5), d decimal(10, 2), e int default i + 1)")
    sql("insert into tvals (i, s, d) values (2, 'bb', 2.5), (1, 'a', null), (null, null, 7)")
    assert(rows("select * from tvals order by i nulls last") == rows(
      """select cast(i as int), cast(s as string), cast(d as decimal(10, 2)), cast(i + 1 as int)
        |from values (2, 'bb', 2.5), (1, 'a', null), (null, null, 7) as v(i, s, d)
        |order by i nulls last""".stripMargin))
    sql("drop table tctas")
    sql("drop table tvals")
  }

  test("a table under the cap is one partition: an ordered read runs one job, no exchange") {
    sql("create table tlocal (i int, j int default i * 10)")
    sql("insert into tlocal (i) values (3), (1), (2)")
    val read = sql("select i, j from tlocal order by i desc")
    val (got, jobs) = jobsDuring(read.collect().map(_.toSeq).toSeq)
    assert(got == Seq(Seq(3, 30), Seq(2, 20), Seq(1, 10)))
    assert(jobs == 1)
    val plan = read.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    sql("drop table tlocal")
  }

  test("a table past the cap holds local checkpoints, and DROP TABLE releases them") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(threshold)
    // 16-byte rows: a cap of 8 (and 16 for the one-column CTAS)
    spark.conf.set(threshold, "128")
    try {
      def pinned = spark.sparkContext.getPersistentRDDs.size
      val before = pinned
      sql("create table tbig (i bigint, j bigint default i + 1)")
      sql("insert into tbig (i) select id from range(100)")
      sql("insert into tbig (i) values (1000)")
      sql("insert into tbig (i) select id from range(200, 250)")
      assert(pinned > before, "no checkpoint held past the cap")
      assert(rows("select count(*), sum(i), sum(j) from tbig") ==
        Seq(Seq(151L, 4950L + 1000L + 11225L, 4950L + 1000L + 11225L + 151L)))
      sql("create table tbigctas (i bigint) as select id from range(40)")
      assert(rows("select count(*) from tbigctas") == Seq(Seq(40L)))
      sql("drop table tbig")
      sql("drop table tbigctas")
      assert(pinned == before, "DROP TABLE left blocks pinned")
    } finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }
}
