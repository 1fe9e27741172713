package graft.operators

import graft.{QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function and aggregate-function surface (SURVEY.md §2.4).
  *
  * Covers the reference's declared operator table
  * (reference: core/src/main/java/org/apache/calcite/sql/fun/SqlStdOperatorTable.java,
  * 291 operators; runtime bodies runtime/SqlFunctions.java) plus the
  * ORACLE/MYSQL/POSTGRESQL library extras
  * (sql/fun/SqlLibraryOperators.java) that Spark ships natively.
  *
  * All functions here are Spark built-ins (`org.apache.spark.sql.functions`),
  * i.e. codegen'd Catalyst expressions — no UDFs, so every projection stays
  * inside WholeStageCodegen and runs at columnar-scan speed at any scale.
  *
  * Oracle-parity notes:
  *  - transcendentals (ln/exp/trig/...) are rounded to 9 decimals: JVM Math
  *    vs C libm may differ in the last ulp;
  *  - DuckDB lacks INITCAP/OVERLAY/SHA1/SOUNDEX → oracle emulates the first
  *    two, the latter pair are exercised without oracle support;
  *  - statistical aggregates are decomposed into DECIMAL power sums exactly
  *    as the reference's AggregateReduceFunctionsRule does
  *    (reference: rel/rules/AggregateReduceFunctionsRule.java — AVG/STDDEV/
  *    VAR/COVAR → SUM/COUNT arithmetic), making them order-independent and
  *    bit-reproducible under any parallelism.
  */
object Functions {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.t(s, dir, n)

  val defs: Seq[QDef] = Seq(

    // ---- Core string functions (SqlStdOperatorTable :1443-1517) -----------
    QDef.sql("fn_string_core",
      """SELECT p_partkey,
        |  upper(p_name) AS up, lower(p_brand) AS lo,
        |  length(p_name) AS len,
        |  substr(p_name, 3, 5) AS sub,
        |  strpos(p_name, 'a') AS pos_a,
        |  replace(p_type, 'ECONOMY', 'ECO') AS repl,
        |  translate(p_brand, '#', 'N') AS transl,
        |  trim(p_name) AS trm,
        |  ltrim(p_name, 'a') AS ltr,
        |  rtrim(p_name, 's') AS rtr,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
        |  left(p_type, 3) AS l3, right(p_type, 3) AS r3,
        |  repeat(p_brand, 2) AS rep2,
        |  reverse(p_name) AS rev,
        |  ascii(p_name) AS asc_first,
        |  chr(65 + (p_size % 26)) AS chr_c,
        |  p_name || '/' || p_brand AS cat,
        |  concat_ws('-', p_brand, p_type) AS catws,
        |  split_part(p_type, ' ', 1) AS first_word
        |FROM part""") { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("up"), lower(col("p_brand")).as("lo"),
        length(col("p_name")).as("len"),
        substring(col("p_name"), 3, 5).as("sub"),
        instr(col("p_name"), "a").as("pos_a"),
        regexp_replace(col("p_type"), lit("ECONOMY"), lit("ECO")).as("repl"),
        translate(col("p_brand"), "#", "N").as("transl"),
        trim(col("p_name")).as("trm"),
        ltrim(col("p_name"), "a").as("ltr"),
        rtrim(col("p_name"), "s").as("rtr"),
        lpad(col("p_size").cast("string"), 4, "0").as("padded"),
        expr("left(p_type, 3)").as("l3"), expr("right(p_type, 3)").as("r3"),
        repeat(col("p_brand"), 2).as("rep2"),
        reverse(col("p_name")).as("rev"),
        ascii(col("p_name")).as("asc_first"),
        expr("chr(65 + (p_size % 26))").as("chr_c"),
        concat(col("p_name"), lit("/"), col("p_brand")).as("cat"),
        concat_ws("-", col("p_brand"), col("p_type")).as("catws"),
        expr("split_part(p_type, ' ', 1)").as("first_word"))
    },

    // ---- Dialect-library string extras (SqlLibraryOperators) --------------
    // INITCAP and OVERLAY exist in Spark but not DuckDB — the oracle carries
    // the reference semantics (runtime/SqlFunctions.java initcap/overlay)
    // spelled out in portable SQL.
    QDef.sql("fn_string_dialect",
      """SELECT c_custkey,
        |  array_to_string(
        |    list_transform(string_split(lower(c_name), ' '),
        |                   w -> upper(w[1]) || w[2:]), ' ') AS cap,
        |  substr(c_name, 1, 2) || 'XX' || substr(c_name, 5) AS ovl,
        |  levenshtein(c_mktsegment, 'BUILDING') AS lev,
        |  md5(c_name) AS h_md5,
        |  sha256(c_name) AS h_sha256,
        |  base64(CAST(c_name AS BLOB)) AS b64,
        |  CAST(from_base64(base64(CAST(c_name AS BLOB))) AS VARCHAR) AS b64rt
        |FROM customer""") { (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        initcap(lower(col("c_name"))).as("cap"),
        expr("overlay(c_name PLACING 'XX' FROM 3 FOR 2)").as("ovl"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("lev"),
        md5(col("c_name")).as("h_md5"),
        sha2(col("c_name"), 256).as("h_sha256"),
        base64(col("c_name").cast("binary")).as("b64"),
        unbase64(base64(col("c_name").cast("binary"))).cast("string").as("b64rt"))
    },

    // ---- Regex / LIKE family ----------------------------------------------
    // reference: SqlLikeOperator, SqlPosixRegexOperator, runtime/Like.java.
    QDef.sql("fn_regex_like",
      """SELECT p_partkey, p_type,
        |  p_type LIKE '%BRASS%' AS like_brass,
        |  p_type LIKE 'PROMO%' AS like_promo,
        |  regexp_matches(p_type, '^[A-Z]+ [A-Z]+') AS re_two_words,
        |  regexp_replace(p_type, '[AEIOU]', '_', 'g') AS re_novowel,
        |  regexp_extract(p_type, '([A-Z]+)$', 1) AS re_last
        |FROM part""") { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"), col("p_type"),
        col("p_type").like("%BRASS%").as("like_brass"),
        col("p_type").like("PROMO%").as("like_promo"),
        col("p_type").rlike("^[A-Z]+ [A-Z]+").as("re_two_words"),
        regexp_replace(col("p_type"), "[AEIOU]", "_").as("re_novowel"),
        regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("re_last"))
    },

    // ---- Math (SqlStdOperatorTable :1532-1720) ----------------------------
    QDef.sql("fn_math",
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_quantity - 25.0) AS abs_v,
        |  CAST(sign(l_quantity - 25.0) AS INT) AS sign_v,
        |  mod(CAST(l_quantity AS BIGINT), 7) AS mod_v,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_v,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_v,
        |  round(l_extendedprice, 3) AS round_v,
        |  sqrt(l_quantity) AS sqrt_v,
        |  round(exp(l_discount), 9) AS exp_v,
        |  round(ln(l_quantity + 1.0), 9) AS ln_v,
        |  round(log10(l_extendedprice), 9) AS log10_v,
        |  round(log2(l_quantity + 1.0), 9) AS log2_v,
        |  round(power(l_quantity, 2.0), 6) AS pow_v,
        |  CAST(factorial(CAST(l_linenumber % 6 AS INTEGER)) AS BIGINT) AS fact_v,
        |  pi() AS pi_v
        |FROM lineitem WHERE l_orderkey % 10 = 0""") { (s, dir) =>
      t(s, dir, "lineitem").where(col("l_orderkey") % 10 === 0).select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_quantity") - 25.0).as("abs_v"),
        signum(col("l_quantity") - 25.0).cast("int").as("sign_v"),
        (col("l_quantity").cast("long") % 7).as("mod_v"),
        floor(col("l_extendedprice")).as("floor_v"),
        ceil(col("l_extendedprice")).as("ceil_v"),
        round(col("l_extendedprice"), 3).as("round_v"),
        sqrt(col("l_quantity")).as("sqrt_v"),
        round(exp(col("l_discount")), 9).as("exp_v"),
        round(log(col("l_quantity") + 1.0), 9).as("ln_v"),
        round(log(10.0, col("l_extendedprice")), 9).as("log10_v"),
        round(log(2.0, col("l_quantity") + 1.0), 9).as("log2_v"),
        round(pow(col("l_quantity"), 2.0), 6).as("pow_v"),
        factorial(col("l_linenumber").cast("long") % 6).as("fact_v"),
        lit(math.Pi).as("pi_v"))
    },

    // ---- Trigonometry ------------------------------------------------------
    QDef.sql("fn_trig",
      """SELECT s_suppkey,
        |  round(sin(s_acctbal / 1000.0), 9) AS sin_v,
        |  round(cos(s_acctbal / 1000.0), 9) AS cos_v,
        |  round(tan(s_acctbal / 5000.0), 9) AS tan_v,
        |  round(atan(s_acctbal / 1000.0), 9) AS atan_v,
        |  round(atan2(s_acctbal, 1000.0), 9) AS atan2_v,
        |  round(asin(s_acctbal / 10000.0), 9) AS asin_v,
        |  round(acos(s_acctbal / 10000.0), 9) AS acos_v,
        |  round(degrees(s_acctbal / 1000.0), 9) AS deg_v,
        |  round(radians(s_acctbal / 100.0), 9) AS rad_v,
        |  round(cot(s_acctbal / 1000.0 + 2.0), 9) AS cot_v
        |FROM supplier""") { (s, dir) =>
      t(s, dir, "supplier").select(
        col("s_suppkey"),
        round(sin(col("s_acctbal") / 1000.0), 9).as("sin_v"),
        round(cos(col("s_acctbal") / 1000.0), 9).as("cos_v"),
        round(tan(col("s_acctbal") / 5000.0), 9).as("tan_v"),
        round(atan(col("s_acctbal") / 1000.0), 9).as("atan_v"),
        round(atan2(col("s_acctbal"), lit(1000.0)), 9).as("atan2_v"),
        round(asin(col("s_acctbal") / 10000.0), 9).as("asin_v"),
        round(acos(col("s_acctbal") / 10000.0), 9).as("acos_v"),
        round(degrees(col("s_acctbal") / 1000.0), 9).as("deg_v"),
        round(radians(col("s_acctbal") / 100.0), 9).as("rad_v"),
        round(expr("cot(s_acctbal / 1000.0 + 2.0)"), 9).as("cot_v"))
    },

    // ---- Datetime (SqlStdOperatorTable :1773-2013) ------------------------
    // dayofweek offset: Spark 1=Sunday..7 vs DuckDB 0=Sunday..6.
    QDef.sql("fn_datetime",
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |  month(o_orderdate) AS m, day(o_orderdate) AS d,
        |  dayofweek(o_orderdate) + 1 AS dow,
        |  dayofyear(o_orderdate) AS doy,
        |  weekofyear(o_orderdate) AS woy,
        |  CAST(last_day(o_orderdate) AS DATE) AS eom,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS t_month,
        |  CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS t_day,
        |  datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since,
        |  o_orderdate + INTERVAL 90 DAY AS due,
        |  (1998 - year(o_orderdate)) * 12 + (12 - month(o_orderdate)) AS months_to_98,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  make_date(year(o_orderdate), month(o_orderdate), 1) AS month_start
        |FROM orders WHERE o_orderkey % 7 = 0""") { (s, dir) =>
      t(s, dir, "orders").where(col("o_orderkey") % 7 === 0).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"), quarter(col("o_orderdate")).cast("long").as("q"),
        month(col("o_orderdate")).cast("long").as("m"), dayofmonth(col("o_orderdate")).cast("long").as("d"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"),
        weekofyear(col("o_orderdate")).cast("long").as("woy"),
        last_day(col("o_orderdate")).as("eom"),
        date_trunc("month", col("o_orderdate")).as("t_month"),
        date_trunc("day", col("o_orderdate")).as("t_day"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
        (col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("due"),
        ((lit(1998) - year(col("o_orderdate"))) * 12 + (lit(12) - month(col("o_orderdate")))).cast("long").as("months_to_98"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("month_start"))
    },

    // ---- EXTRACT + time-of-day fields on the event stream -----------------
    QDef.sql("fn_extract_time",
      """SELECT event_id,
        |  extract(year FROM ts) AS y, extract(month FROM ts) AS mo,
        |  extract(day FROM ts) AS d, extract(hour FROM ts) AS h,
        |  extract(minute FROM ts) AS mi,
        |  CAST(floor(extract(second FROM ts)) AS BIGINT) AS sec
        |FROM events WHERE event_id % 5 = 0""") { (s, dir) =>
      t(s, dir, "events").where(col("event_id") % 5 === 0).select(
        col("event_id"),
        year(col("ts")).cast("long").as("y"), month(col("ts")).cast("long").as("mo"),
        dayofmonth(col("ts")).cast("long").as("d"), hour(col("ts")).cast("long").as("h"),
        minute(col("ts")).cast("long").as("mi"),
        second(col("ts")).cast("long").as("sec"))
    },

    // ---- TIME as a first-class column type --------------------------------
    // SURVEY §1.2 decision point; reference sql/type/SqlTypeName.java:64
    // (TIME). Spark 4.1 ships a native TimeType behind
    // spark.sql.timeType.enabled (Engine.session turns it on) —
    // micros-of-day internally, i.e. the
    // INT-millis-of-day representation SURVEY §1.2 proposed, but engine-
    // native: literals, make_time, EXTRACT, comparison, +INTERVAL and
    // BIGINT/STRING casts all work (TimeTypeSpec pins the parquet
    // round-trip). Output columns are primitives so the oracle hash is
    // engine-neutral; the TIME column itself lives in the mid-plan.
    // Spark TIME+INTERVAL overflows past midnight (DATETIME_OVERFLOW)
    // while DuckDB wraps, so the shift is guarded to t <= 22:29:59 —
    // identical values on both engines.
    QDef.sql("fn_time_type",
      """WITH b AS (
        |  SELECT event_id,
        |    CAST(extract(hour FROM ts) AS INT) AS hr,
        |    CAST(extract(minute FROM ts) AS INT) AS mi,
        |    CAST(floor(extract(second FROM ts)) AS INT) AS se
        |  FROM events WHERE event_id % 3 = 0
        |), c AS (
        |  SELECT *, hr * 3600 + mi * 60 + se AS secs FROM b
        |)
        |SELECT event_id,
        |  lpad(CAST(hr AS VARCHAR), 2, '0') || ':' || lpad(CAST(mi AS VARCHAR), 2, '0')
        |    || ':' || lpad(CAST(se AS VARCHAR), 2, '0') AS t_str,
        |  CAST(secs AS BIGINT) AS secs_of_day,
        |  CAST(hr AS BIGINT) AS hr, CAST(mi AS BIGINT) AS mi, CAST(se AS BIGINT) AS se,
        |  hr < 12 AS before_noon,
        |  CASE WHEN secs + 5400 < 86400 THEN
        |    lpad(CAST((secs + 5400) // 3600 AS VARCHAR), 2, '0') || ':'
        |    || lpad(CAST(((secs + 5400) % 3600) // 60 AS VARCHAR), 2, '0') || ':'
        |    || lpad(CAST((secs + 5400) % 60 AS VARCHAR), 2, '0')
        |  END AS shifted
        |FROM c""") { (s, dir) =>
      t(s, dir, "events").where(col("event_id") % 3 === 0)
        .selectExpr("event_id",
          "make_time(hour(ts), minute(ts), second(ts)) AS t")
        .selectExpr(
          "event_id",
          "CAST(t AS STRING) AS t_str",
          "CAST(t AS BIGINT) AS secs_of_day",
          "CAST(EXTRACT(HOUR FROM t) AS BIGINT) AS hr",
          "CAST(EXTRACT(MINUTE FROM t) AS BIGINT) AS mi",
          "CAST(second(t) AS BIGINT) AS se",
          "t < TIME '12:00:00' AS before_noon",
          "CASE WHEN t <= TIME '22:29:59' THEN CAST(t + INTERVAL 90 MINUTE AS STRING) END AS shifted")
    },

    // ---- Oracle-compat library (fun/OracleSqlOperatorTable.java:39-60:
    // NVL, TRANSLATE3; SqlLibraryOperators TO_DATE/TO_TIMESTAMP) ------------
    // Spark has nvl/nvl2 natively; TO_DATE/TO_TIMESTAMP take a format
    // pattern (Spark SimpleDateFormat-style vs DuckDB strptime %-codes —
    // same round-trip, different spelling, so split SQL texts).
    QDef.sql("fn_oracle_compat",
      """SELECT o_orderkey,
        |  coalesce(CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END, 'none') AS st_nvl,
        |  CASE WHEN (CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END) IS NOT NULL
        |       THEN 'has' ELSE 'absent' END AS st_nvl2,
        |  CAST(strptime(strftime(o_orderdate, '%d.%m.%Y'), '%d.%m.%Y') AS DATE) AS rt_date,
        |  strptime(strftime(o_orderdate, '%Y/%m/%d %H:%M:%S'), '%Y/%m/%d %H:%M:%S') AS rt_ts,
        |  translate(o_orderpriority, '-LOWHIGH', '_lowhigh') AS prio_tr
        |FROM orders WHERE o_orderkey % 11 = 0""") { (s, dir) =>
      t(s, dir, "orders").where(col("o_orderkey") % 11 === 0).select(
        col("o_orderkey"),
        expr("nvl(CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END, 'none')").as("st_nvl"),
        expr("nvl2(CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END, 'has', 'absent')").as("st_nvl2"),
        to_date(date_format(col("o_orderdate"), "dd.MM.yyyy"), "dd.MM.yyyy").as("rt_date"),
        to_timestamp(date_format(col("o_orderdate"), "yyyy/MM/dd HH:mm:ss"), "yyyy/MM/dd HH:mm:ss").as("rt_ts"),
        translate(col("o_orderpriority"), "-LOWHIGH", "_lowhigh").as("prio_tr"))
    },

    // ---- Conditional: CASE / NULLIF / COALESCE / GREATEST / LEAST ---------
    QDef.sql("fn_conditional",
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'neg'
        |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULTED') AS seg_coal,
        |  ifnull(nullif(c_nationkey, 3), -1) AS nk_nvl,
        |  greatest(c_acctbal, 0.0) AS bal_floor0,
        |  least(c_acctbal, 1000.0) AS bal_cap1k,
        |  CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 1 WHEN 'MACHINERY' THEN 2 ELSE 0 END AS seg_code
        |FROM customer""") { (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 5000, "mid").otherwise("high").as("band"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("DEFAULTED")).as("seg_coal"),
        coalesce(nullif(col("c_nationkey"), lit(3)), lit(-1)).as("nk_nvl"),
        greatest(col("c_acctbal"), lit(0.0)).as("bal_floor0"),
        least(col("c_acctbal"), lit(1000.0)).as("bal_cap1k"),
        when(col("c_mktsegment") === "AUTOMOBILE", 1)
          .when(col("c_mktsegment") === "MACHINERY", 2).otherwise(0).as("seg_code"))
    },

    // ---- Bitwise scalar operators -----------------------------------------
    QDef.sql("fn_bitwise",
      """SELECT p_partkey,
        |  p_size & 12 AS b_and, p_size | 5 AS b_or,
        |  xor(p_size, 21) AS b_xor,
        |  p_size << 2 AS b_shl, p_size >> 1 AS b_shr
        |FROM part""") { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        col("p_size").bitwiseAND(12).as("b_and"),
        col("p_size").bitwiseOR(5).as("b_or"),
        col("p_size").bitwiseXOR(21).as("b_xor"),
        shiftleft(col("p_size"), 2).as("b_shl"),
        shiftright(col("p_size"), 1).as("b_shr"))
    },

    // ---- JSON surface (SQL:2016, SqlStdOperatorTable :1298-1337) ----------
    // reference runtime: runtime/JsonFunctions.java. Spark's
    // get_json_object == JSON_VALUE (lax), json path extraction.
    QDef.sql("fn_json",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |  json_extract_string(props, '$.missing') IS NULL AS miss_is_null,
        |  CAST(json_extract_string('{"a":{"b":[10,20,30]}}', '$.a.b[1]') AS INT) AS nested,
        |  CASE WHEN json_valid(props) THEN 1 ELSE 0 END AS valid
        |FROM events WHERE event_id % 9 = 0""") { (s, dir) =>
      t(s, dir, "events").where(col("event_id") % 9 === 0).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"),
        get_json_object(col("props"), "$.missing").isNull.as("miss_is_null"),
        get_json_object(lit("""{"a":{"b":[10,20,30]}}"""), "$.a.b[1]").cast("int").as("nested"),
        when(get_json_object(col("props"), "$").isNotNull, 1).otherwise(0).as("valid"))
    },

    // ---- Array / collection functions (SqlStdOperatorTable :2033-2206) ----
    // ITEM/ELEMENT/CARDINALITY/MEMBER OF + higher-order transforms; arrays
    // built from scalars to stay float-exact, plus one float-array fold.
    // Array-valued results are serialized via array_to_string/array_join so
    // the driver's hash comparator (pandas sort) can handle them.
    QDef.sql("fn_array",
      """SELECT vec_id,
        |  len(embedding) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
        |  round(CAST(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |        (a, b) -> a + b) AS DOUBLE), 4) AS vec_sum,
        |  list_contains([1, 2, 3], label) AS label_in_123,
        |  array_to_string(list_sort([label, CAST(vec_id % 7 AS INT), 5]), ',') AS sorted3,
        |  array_to_string(list_concat([label], [CAST(vec_id % 3 AS INT)]), ',') AS cat2,
        |  array_to_string(list_transform([1, 2, 3], x -> x * label), ',') AS scaled,
        |  array_to_string(list_filter([1, 2, 3, 4], x -> x % 2 = 0), ',') AS evens,
        |  array_to_string(flatten([[label], [1, 2]]), ',') AS flat,
        |  array_to_string(range(1, 4), ',') AS seq123
        |FROM embeddings WHERE vec_id % 4 = 0""") { (s, dir) =>
      def js(c: Column): Column = array_join(c.cast("array<string>"), ",")
      t(s, dir, "embeddings").where(col("vec_id") % 4 === 0).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_elem"),
        round(aggregate(transform(col("embedding"), x => x.cast("double")),
          lit(0.0), (acc, x) => acc + x).cast("double"), 4).as("vec_sum"),
        array_contains(array(lit(1), lit(2), lit(3)), col("label")).as("label_in_123"),
        js(array_sort(array(col("label"), (col("vec_id") % 7).cast("int"), lit(5)))).as("sorted3"),
        js(concat(array(col("label")), array((col("vec_id") % 3).cast("int")))).as("cat2"),
        js(transform(array(lit(1), lit(2), lit(3)), x => x * col("label"))).as("scaled"),
        js(filter(array(lit(1), lit(2), lit(3), lit(4)), x => x % 2 === 0)).as("evens"),
        js(flatten(array(array(col("label")), array(lit(1), lit(2))))).as("flat"),
        js(sequence(lit(1), lit(3))).as("seq123"))
    },

    // ---- Statistical aggregates, decomposed exactly like the reference ----
    // reference: rel/rules/AggregateReduceFunctionsRule.java rewrites AVG,
    // STDDEV_POP/SAMP, VAR_POP/SAMP, COVAR_POP/SAMP into SUM/COUNT
    // arithmetic; we do the same over DECIMAL power sums so Spark and DuckDB
    // agree bit-for-bit (both evaluate the identical double formula on
    // identical exact sums). The SQL text runs verbatim on both engines.
    QDef.common("fn_agg_stats",
      """SELECT l_returnflag,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
        |  round(sqrt((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE)
        |        - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |          * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
        |       / (COUNT(*) - 1)), 9) AS stddev_samp_qty,
        |  round((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE)
        |        - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |          * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
        |       / COUNT(*), 9) AS var_pop_qty,
        |  round((CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
        |        - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |          * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
        |       / COUNT(*), 6) AS covar_pop_qp,
        |  COUNT(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |             THEN 1 END) AS regr_cnt,
        |  round(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE)
        |        - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |          * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6)
        |    AS regr_sxx_qty
        |FROM lineitem
        |GROUP BY l_returnflag""")
  ,

    // ---- Ordered-set / positional aggregates ------------------------------
    // min_by/max_by/any_value/bool/bit aggs + deterministic LISTAGG
    // (reference: RexImpTable.java:595-615 — ANY_VALUE, BIT_AND, BIT_OR,
    // LISTAGG, COLLECT...).
    QDef.sql("fn_agg_extra",
      """SELECT s_nationkey,
        |  min_by(s_name, s_suppkey) AS first_supp,
        |  max_by(s_name, s_suppkey) AS last_supp,
        |  any_value(s_nationkey) AS nk_any,
        |  bool_and(s_acctbal > -1000.0) AS all_above,
        |  bool_or(s_acctbal > 5000.0) AS any_rich,
        |  bit_and(CAST(s_suppkey AS BIGINT)) AS keys_and,
        |  bit_or(CAST(s_suppkey AS BIGINT)) AS keys_or,
        |  bit_xor(CAST(s_suppkey AS BIGINT)) AS keys_xor,
        |  string_agg(s_name, ',' ORDER BY s_name) AS names_csv
        |FROM supplier GROUP BY s_nationkey""") { (s, dir) =>
      t(s, dir, "supplier").groupBy(col("s_nationkey")).agg(
        min_by(col("s_name"), col("s_suppkey")).as("first_supp"),
        max_by(col("s_name"), col("s_suppkey")).as("last_supp"),
        any_value(col("s_nationkey")).as("nk_any"),
        bool_and(col("s_acctbal") > -1000.0).as("all_above"),
        bool_or(col("s_acctbal") > 5000.0).as("any_rich"),
        bit_and(col("s_suppkey").cast("long")).as("keys_and"),
        bit_or(col("s_suppkey").cast("long")).as("keys_or"),
        bit_xor(col("s_suppkey").cast("long")).as("keys_xor"),
        array_join(array_sort(collect_list(col("s_name"))), ",").as("names_csv"))
    },

    // ---- Percentiles / median ---------------------------------------------
    QDef.sql("fn_agg_percentile",
      """SELECT o_orderstatus,
        |  round(CAST(median(o_totalprice) AS DOUBLE), 6) AS med,
        |  round(CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE), 6) AS p25,
        |  round(CAST(quantile_cont(o_totalprice, 0.90) AS DOUBLE), 6) AS p90,
        |  CAST(min(o_totalprice) AS DOUBLE) AS mn,
        |  CAST(max(o_totalprice) AS DOUBLE) AS mx
        |FROM orders GROUP BY o_orderstatus""") { (s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("med"),
        round(expr("percentile(o_totalprice, 0.25)"), 6).as("p25"),
        round(expr("percentile(o_totalprice, 0.90)"), 6).as("p90"),
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
    },

    // ---- Approximate distinct (HLL) — sketch values differ per engine,
    // but the ACCURACY CONTRACT is cross-engine: each engine's estimate
    // must land within 15% of the exact NDV. Spark's default rsd is 0.05,
    // so 15% = 3 sigma (ADVICE r3: a 5% bound was ~1 sigma — brittle
    // against fixture regeneration). The oracle therefore compares
    // (group, exact ndv, within-tolerance flag) — hash-exact while still
    // executing the sketch on both engines.
    // reference: SqlStdOperatorTable APPROX_COUNT_DISTINCT :927; Spark's
    // HLL++ is the scale path the reference never had.
    QDef.sql("fn_agg_approx",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  COUNT(DISTINCT l_suppkey) AS exact_supps,
        |  abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
        |      - COUNT(DISTINCT l_partkey)) <= 0.15 * COUNT(DISTINCT l_partkey)
        |    AS parts_within_tol,
        |  abs(CAST(approx_count_distinct(l_suppkey) AS DOUBLE)
        |      - COUNT(DISTINCT l_suppkey)) <= 0.15 * COUNT(DISTINCT l_suppkey)
        |    AS supps_within_tol
        |FROM lineitem GROUP BY l_returnflag""") { (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"),
        (abs(approx_count_distinct(col("l_partkey")).cast("double")
          - countDistinct(col("l_partkey")))
          <= lit(0.15) * countDistinct(col("l_partkey"))).as("parts_within_tol"),
        (abs(approx_count_distinct(col("l_suppkey")).cast("double")
          - countDistinct(col("l_suppkey")))
          <= lit(0.15) * countDistinct(col("l_suppkey"))).as("supps_within_tol"))
    }
  )
}
