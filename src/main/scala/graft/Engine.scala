package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the graft engine.
  *
  * The reference (Apache Calcite 1.21.0-drill-r9) mounts schemas of tables
  * and exposes `Enumerable<Object[]>` scans
  * (reference: core/src/main/java/org/apache/calcite/schema/ScannableTable.java:29).
  * Our equivalent: a SparkSession tuned for the target scale plus a catalog
  * that registers the parquet fixture tables as temp views, so both the
  * DataFrame API and `spark.sql` entry points (Calcite's RelBuilder / JDBC
  * prepare, reference: core/src/main/java/org/apache/calcite/tools/RelBuilder.java,
  * prepare/CalcitePrepareImpl.java:138) resolve the same tables.
  *
  * Scale posture: this is the only session factory. Bench, Verify, the
  * tools and the test suites' shared session all build here, so they run
  * with the same fixed settings, each for a measured reason:
  *  - AQE on (runtime re-plan, skew-join splitting), broadcast threshold
  *    left to Spark's default, shuffle partitions equal to the context's
  *    `defaultParallelism` (its cores): a fixed 32 ran seq_next_value in
  *    33-task stages on `local[4]`, where 5 tasks do the same work;
  *  - a codegen cache of 1000 classes: one tpch_sql pass generates 311
  *    distinct classes, one iterative_build pass 144 (local[4], sf0.01).
  *    Spark's default of 100 evicted each before it repeated, so every pass
  *    recompiled 324–331 classes at 11–18 ms each, 4–5 s of a 10 s pass.
  *    Spark reads the size once per JVM, from the session active when
  *    `CodeGenerator` first loads: a session built elsewhere could fix it
  *    at the default for the whole JVM;
  *  - status retention of 10 SQL executions, jobs and stages and 100 tasks:
  *    the UI is off and nothing reads Spark's status stores. The trim pays
  *    for the cache's heap (tpch_sql retained heap +8.7% with the cache
  *    alone, +1–3% with both);
  *  - Spark's TIME type on: fn_time_type needs it, and turning it on inside
  *    one query's build changed the session for every later query;
  *  - parquet TIMESTAMP(NANOS) read as a nano long: events' `ts` reads no
  *    other way, and setting it on the first read of `events` left every
  *    later query's conf depending on which query ran first;
  *  - the ContextCleaner's periodic GC every 5 min: finished queries'
  *    broadcast/shuffle state is freed only by a GC, which a large driver
  *    heap rarely runs.
  */
object Engine {
  def session(
      appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions())
      .master(master)
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Shuffle codec knob (SCALING.md r12): zstd roughly halves shuffle
      // scratch — the sf1-eq minhash run COMPLETES under zstd where lz4
      // exhausts the disk — at ~1.4x wall on small shuffle-heavy queries.
      // Default stays lz4 (latency); scratch-bound deployments flip it.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_CODEC", "lz4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Codegen working set (local[4], sf0.01): 311 distinct classes per
      // tpch_sql pass, plus the variants other query orders generate. A
      // cached class retains about 25 KB of heap, so 1000 cost ~25 MB.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // The cache is keyed by source text, and by default a class's name
      // carries its codegen stage id. Under AQE that id depends on which
      // concurrent stages finished first, so a rerun of the same query
      // could name its classes differently and compile them again.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Status stores nothing reads (UI off); their defaults keep 1000 SQL
      // executions, 1000 jobs, 1000 stages and 100,000 tasks.
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      // ContextCleaner is GC-triggered: on an oversized driver heap a
      // 333-query run never GCs, thousands of finished queries' broadcast/
      // shuffle state accumulate, and late-registry queries degrade 5-15×
      // (measured r17: text_chunks 0.28 s at -Xmx8g vs 3.3 s at -Xmx48g,
      // clean CPU probes both). Forcing the cleaner's periodic GC every
      // 5 min bounds that accumulation at ANY heap size. (Default 30 min
      // — longer than a whole registry run.)
      .config("spark.cleaner.periodicGC.interval", "5min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the core count is known only once the context exists
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toString)
    spark
  }

  /** SQL entry point over the fixture catalog — the analogue of the
    * reference's JDBC prepare chain (parse → validate → optimize → execute,
    * reference: prepare/CalcitePrepareImpl.java:467). Spark's ANTLR parser,
    * Analyzer, Catalyst and codegen play the roles of JavaCC, SqlValidatorImpl,
    * Volcano/Hep and Janino linq4j codegen respectively (SURVEY.md §3).
    */
  def sql(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    if (streaming.StreamSql.isStreamQuery(query))
      return streaming.StreamSql.sql(spark, sfDir, query)
    Tables.registerAll(spark, sfDir)
    spark.sql(query)
  }

  /** Streaming SQL entry point: `SELECT STREAM ...` (the reference's
    * STREAM keyword, rel/stream/Delta.java) → unbounded DataFrame. */
  def sqlStream(spark: SparkSession, sfDir: String, query: String): DataFrame =
    streaming.StreamSql.sql(spark, sfDir, query)
}

/** Catalog of the driver-generated parquet fixture tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scan one table. Parquet → columnar read with predicate pushdown and
    * column pruning for free; this is the moral equivalent of the reference's
    * ProjectableFilterableTable (schema/ProjectableFilterableTable.java:36)
    * done by the format, not the engine.
    *
    * `events` exposes `ts` as a µs TimestampType plus a `ts_ns` nano-long
    * tiebreaker, whichever of the two fixture generations is on disk
    * (TIMESTAMP(NANOS) in early rounds, TIMESTAMP(MICROS) later) — see
    * `build`. Either way the values match what DuckDB reads from the same
    * file, so oracle comparisons stay value-identical.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cacheOf(spark).tables.computeIfAbsent((sfDir, name),
      _ => build(spark, sfDir, name))

  /** Unexecuted scan plans are immutable and the fixture dir never
    * changes, so the per-session (dir, table) → DataFrame mapping is
    * safely memoizable — it removes a driver-side parquet-footer read per
    * table per query (hundreds across a bench/verify sweep).
    *
    * Stopped sessions are EVICTED ON ACCESS: a weak-keyed map cannot
    * reclaim these entries (each cached DataFrame strongly references its
    * SparkSession through QueryExecution, so value→key cycles keep every
    * entry reachable), so instead each lookup sweeps entries whose
    * context has stopped — suites build one session per spec, and the
    * sweep unpins each stopped session's plans the first time any later
    * suite touches the cache. */
  private final class SessionCache(val session: SparkSession) {
    val tables = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
    val rawEvents = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    @volatile var registeredDir: String = null
  }
  private val sessionCaches =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SessionCache]()
  private def cacheOf(spark: SparkSession): SessionCache = {
    val it = sessionCaches.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getValue.session.sparkContext.isStopped) it.remove()
    }
    sessionCaches.computeIfAbsent(spark, s => new SessionCache(s))
  }

  /** Raw read of the events parquet, tolerant of BOTH fixture generations:
    * TIMESTAMP(NANOS) `ts` (read as a nano long via the legacy flag that
    * [[Engine.session]] sets) and TIMESTAMP(MICROS) `ts` (read as a
    * timestamp directly). Parquet schema
    * inference consults SQLConf.get — the THREAD-ACTIVE session's conf,
    * not necessarily `spark`'s — so `spark` is pinned active for the read
    * (a caller thread with a different session active would otherwise
    * ignore the nanosAsLong flag on the nano fixture). Memoized like `t`:
    * streaming schema probes call this once per batch otherwise. */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    cacheOf(spark).rawEvents.computeIfAbsent(sfDir, { _ =>
      val prevActive = SparkSession.getActiveSession
      SparkSession.setActiveSession(spark)
      try spark.read.parquet(s"$sfDir/events.parquet")
      finally prevActive match {
        case Some(s) => SparkSession.setActiveSession(s)
        case None => SparkSession.clearActiveSession()
      }
    })

  private def build(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      val raw = eventsRaw(spark, sfDir)
      val shaped = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // nano fixture: truncate to µs for `ts` (exactly what DuckDB does
          // reading the same file), keep the full nanos as `ts_ns`
          raw.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts",
              org.apache.spark.sql.functions.timestamp_micros(expr("ts_ns div 1000")))
        case _ =>
          // micro fixture: `ts` is already the value DuckDB sees; session TZ
          // is UTC so the NTZ→instant cast is numerically identity. `ts_ns`
          // stays available as the unique nano-resolution tiebreaker.
          raw.withColumn("ts", col("ts").cast("timestamp"))
            .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
      }
      shaped.select("event_id", "ts", "user_id", "event_type", "value", "props", "ts_ns")
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Registration memo (on the weak per-session cache). Registration
    * re-reads 11 parquet footers driver-side; memoizing it turns the
    * per-query entry (`Engine.sql`) into a no-op after the first call —
    * material when a bench/verify run issues hundreds of queries against
    * one session. Safe because the fixture dir is immutable and every
    * path that shadows or drops a fixture-named view either restores it
    * in a `finally` (StreamSql's streaming twins) or calls
    * [[invalidateRegistration]] (MaterializedViewSql's DROP of an
    * API-created MV that reused a fixture name). Keyed by session
    * identity: a fresh session (or a dir switch, e.g. sf0.001→sf0.01 in
    * specs) re-registers. */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    val c = cacheOf(spark)
    if (sfDir == c.registeredDir) return
    names.foreach(n => t(spark, sfDir, n).createOrReplaceTempView(n))
    // the RAW events file (nanos-as-long ts) under its own name: the
    // `events` view above is a transformed projection of this relation,
    // so SQL regenerated from a plan (plans.RelToSql) must reference the
    // raw table its scan actually reads, not the view
    eventsRaw(spark, sfDir).createOrReplaceTempView("events_raw")
    c.registeredDir = sfDir
    plans.SqlAdvisor.invalidate(spark)
  }

  /** Force the next [[registerAll]] to re-register: call after dropping
    * or replacing a temp view whose name collides with a fixture table. */
  def invalidateRegistration(spark: SparkSession): Unit =
    cacheOf(spark).registeredDir = null
}
