package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Checkpoints, Engine, QDef, SparkEntry}

/** JVM half of the layer benchmark (perfbench/run.py is the other half).
  *
  * Runs one workload's queries through the engine's public entry points
  * (`SparkEntry.allDefs` / `QDef.fn`, `Engine.session`,
  * `Checkpoints.releaseAll`) in a closed loop on one client thread, and
  * writes one raw JSON record; run.py turns it into metrics.
  *
  * Per query it keeps `graft.Bench`'s hygiene: the result is materialized
  * through the `noop` sink and `Checkpoints.releaseAll` runs after it.
  *
  * Phases of a run:
  *   1. set-up: session + one warm-up pass. The warm-up pass is also the
  *      check pass: each query's first execution in the process is
  *      fingerprinted (row count + order-insensitive hash) instead of sent
  *      to `noop`, so the check costs no timed execution and sees every
  *      stateful query (sequences, DDL) in its fresh state;
  *   2. untraced passes for `--seconds` (half of it with `--trace 1`),
  *      each in its own seeded order;
  *   3. with `--trace 1`, traced passes for the other half: spans at every
  *      layer boundary plus listener counters, keyed per query.
  *
  * Modes: `run` (the above), `resolve` (check every name resolves, print
  * its module), `dump` (one fingerprint pass that also writes each result
  * as parquet, for the DuckDB cross-check in perfbench/oracle.py).
  */
object PerfBench {

  final case class Opts(mode: String, fixture: String, queries: Seq[String],
      seed: Long, seconds: Double, trace: Boolean, out: String, cpus: Int,
      dumpDir: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m.getOrElse("mode", "run"), m.getOrElse("fixture", ""),
      m.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty),
      m.getOrElse("seed", "0").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("out", "raw.json"),
      m.getOrElse("cpus", "4").toInt, m.getOrElse("dump", ""))
  }

  /** The layer a query's `fn` belongs to: the package that defines the
    * lambda. SQL-text queries (`QDef.common`) run `Engine.sql` and land
    * in `engine`. */
  def moduleOf(d: QDef): String = {
    val cls = d.fn.getClass.getName.takeWhile(_ != '$')
    cls.split('.').toSeq match {
      case Seq("graft", _) => "engine"
      case Seq("graft", pkg, _*) => pkg
      case _ => "engine"
    }
  }

  def resolve(names: Seq[String]): Seq[QDef] = {
    val byName = SparkEntry.allDefs.map(d => d.name -> d).toMap
    val missing = names.filterNot(byName.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException("unknown queries: " + missing.mkString(","))
    names.map(byName)
  }

  // ---- result fingerprint --------------------------------------------------

  /** Canonical, engine-order-free form of a column: floating values are
    * rendered at ten significant digits so partition-order rounding noise
    * in the last bits never changes the hash; maps are sorted entries. */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.9e", c)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) if fs.nonEmpty =>
      struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c),
        e => struct(canon(e.getField("key"), kt), canon(e.getField("value"), vt))))
    case _: VariantType => c.cast("string")
    case _ => c
  }

  /** (rows, hash): hash is the sum of per-row xxhash64 values over the
    * canonical row, as a decimal, so it ignores row order and keeps
    * duplicate rows. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = pos.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val hashed = if (cols.isEmpty) pos.select(lit(0L).as("h"))
      else pos.select(xxhash64(cols: _*).as("h"))
    val r = hashed.agg(count(lit(1)), sum(col("h").cast("decimal(20,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  // ---- tracing ---------------------------------------------------------------

  final case class Span(id: String, name: String, start: Double, end: Double, parent: String, qid: String)

  /** Counters the Spark listener buckets by (query id, phase). */
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var runS = 0.0; var cpuS = 0.0; var gcS = 0.0
    var inBytes = 0L; var outBytes = 0L; var shufR = 0L; var shufW = 0L
    var spill = 0L; var peakMem = 0L
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"failed_tasks":$failedTasks,""" +
      s""""task_run_s":$runS,"task_cpu_s":$cpuS,"task_gc_s":$gcS,"input_bytes":$inBytes,""" +
      s""""output_bytes":$outBytes,"shuffle_read_bytes":$shufR,"shuffle_write_bytes":$shufW,""" +
      s""""spill_bytes":$spill,"peak_mem_bytes":$peakMem}"""
  }

  val QidKey = "perfbench.qid"
  val PhaseKey = "perfbench.phase"

  /** Buckets jobs, stages and tasks by the local properties the runner
    * sets around each query phase. Events arrive on Spark's listener bus
    * thread; the runner drains the bus before reading. */
  final class LayerListener extends SparkListener {
    val counters = new java.util.concurrent.ConcurrentHashMap[(String, String), Counters]()
    private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()
    private val sqlStartMs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    /** Epoch ms at which each finished SQL execution started and ended, by
      * its QueryExecution (identity): Spark's own clock of the execution,
      * from its start event to its end event. A write's optimization and
      * planning run inside it. */
    val sqlSpanMs = new java.util.concurrent.ConcurrentHashMap[QueryExecution, (Long, Long)]()
    @volatile var unattributedJobs = 0L
    private def key(p: java.util.Properties): Option[(String, String)] =
      Option(p).flatMap(pp => Option(pp.getProperty(QidKey)).map(_ -> pp.getProperty(PhaseKey)))
    private def c(k: (String, String)): Counters = counters.computeIfAbsent(k, _ => new Counters)
    override def onJobStart(e: SparkListenerJobStart): Unit = key(e.properties) match {
      case Some(k) => c(k).synchronized { c(k).jobs += 1 }
      case None => unattributedJobs += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStartMs.put(s.executionId, java.lang.Long.valueOf(s.time))
      case x: SparkListenerSQLExecutionEnd =>
        val st = sqlStartMs.remove(x.executionId)
        org.apache.spark.sql.perfbenchshim.SqlEvents.queryExecution(x)
          .foreach(qe => if (st != null) sqlSpanMs.put(qe, (st.longValue, x.time)))
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      key(e.properties).foreach { k =>
        stageKey.put(e.stageInfo.stageId, k)
        c(k).synchronized { c(k).stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageKey.get(e.stageId)).foreach { k =>
        val x = c(k)
        x.synchronized {
          x.tasks += 1
          if (!e.taskInfo.successful) x.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            x.runS += m.executorRunTime / 1e3
            x.cpuS += m.executorCpuTime / 1e9
            x.gcS += m.jvmGCTime / 1e3
            x.inBytes += m.inputMetrics.bytesRead
            x.outBytes += m.outputMetrics.bytesWritten
            x.shufR += m.shuffleReadMetrics.totalBytesRead
            x.shufW += m.shuffleWriteMetrics.bytesWritten
            x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            x.peakMem = math.max(x.peakMem, m.peakExecutionMemory)
          }
        }
      }
  }

  /** Every successful SQL execution's QueryExecution, in arrival order. */
  final class QeListener extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- the runner -------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val defs = resolve(o.queries)
    if (o.mode == "resolve") {
      defs.foreach(d => println(s"${d.name} ${moduleOf(d)}"))
      return
    }
    val spark = Engine.session(appName = "perfbench", master = s"local[${o.cpus}]")
    try {
      if (o.mode == "dump") dump(spark, o, defs) else run(spark, o, defs)
    } finally spark.stop()
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  private def dump(spark: SparkSession, o: Opts, defs: Seq[QDef]): Unit = {
    val lines = defs.map { d =>
      val entry = try {
        // cached, so the fingerprint and the parquet dump read one execution
        val df = d.fn(spark, o.fixture).persist()
        val (rows, hash) = fingerprint(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"${o.dumpDir}/${d.name}")
        df.unpersist()
        s"""{"rows":$rows,"hash":${q(hash)},"oracle":${d.oracle.map(q).getOrElse("null")}}"""
      } catch { case e: Throwable => s"""{"error":${q(errText(e))}}""" }
      Checkpoints.releaseAll(spark)
      s"${q(d.name)}:$entry"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), lines.mkString("{", ",", "}"))
  }

  /** Timed passes a run makes at least, whatever its window. */
  val MinPasses = 2

  /** Heap in use after a full GC: the least of three readings 300 ms
    * apart. Spark's ContextCleaner frees the blocks of collected
    * broadcasts and shuffles only after a GC has found them dead, so the
    * first reading still holds them. */
  private def retainedHeapMb(): Seq[Double] = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def run(spark: SparkSession, o: Opts, defs: Seq[QDef]): Unit = {
    val t0 = System.nanoTime()
    val epoch0 = System.currentTimeMillis()
    def now(): Double = (System.nanoTime() - t0) / 1e9
    def fromEpochMs(ms: Long): Double = (ms - epoch0) / 1e3
    val rng = new scala.util.Random(o.seed)
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = ManagementFactory.getCompilationMXBean
    val threads = ManagementFactory.getThreadMXBean
    /** CPU seconds of the process's Java threads: the Spark driver, task
      * and scheduler threads. JIT compiler and GC threads are not Java
      * threads; their work is JVM warm-up and memory management, which
      * `jit_s` and `gc_s` record. A thread that ends within a pass loses
      * that pass's share. */
    def javaThreadCpu(): Map[Long, Long] =
      threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
    def gcSeconds(): Double =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val sc = spark.sparkContext

    // 1. warm-up + check pass
    val checks = rng.shuffle(defs).map { d =>
      val r = try {
        val (rows, hash) = fingerprint(d.fn(spark, o.fixture))
        s"""{"rows":$rows,"hash":${q(hash)}}"""
      } catch { case e: Throwable => s"""{"error":${q(errText(e))}}""" }
      Checkpoints.releaseAll(spark)
      s"${q(d.name)}:$r"
    }
    val setupEndEpoch = java.time.Instant.now()
    val setupEpochS = setupEndEpoch.getEpochSecond + setupEndEpoch.getNano / 1e9

    // calibration probe: a fixed pure-CPU aggregate, read before and after
    // the measured passes so a noisy window shows in the artifact
    def probe(): Double = {
      val p0 = System.nanoTime()
      spark.range(0, 8000000).selectExpr("id % 1024 AS k", "id AS v")
        .groupBy("k").agg(expr("sum(v)"), expr("count(1)"))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - p0) / 1e9
    }
    val probeBefore = Seq(probe(), probe())

    val passes = ArrayBuffer[String]()
    val spans = ArrayBuffer[Span]()
    val queryRecs = ArrayBuffer[String]()
    val layer = new LayerListener
    val qes = new QeListener

    def onePass(idx: Int, traced: Boolean): Unit = {
      val order = rng.shuffle(defs)
      val cpu0 = osBean.getProcessCpuTime
      val threadCpu0 = javaThreadCpu()
      val jit0 = jit.getTotalCompilationTime
      val gc0 = gcSeconds()
      val p0 = now()
      val lat = ArrayBuffer[String]()
      var failed = 0
      order.foreach { d =>
        val qid = s"$idx:${d.name}"
        if (traced) { sc.setLocalProperty(QidKey, qid); sc.setLocalProperty(PhaseKey, "build"); qes.seen.clear(); layer.sqlSpanMs.clear() }
        val q0 = now()
        var q1 = q0; var q2 = q0
        var df: DataFrame = null
        val ok = try {
          df = d.fn(spark, o.fixture)
          q1 = now()
          if (traced) sc.setLocalProperty(PhaseKey, "execution")
          df.write.mode("overwrite").format("noop").save()
          q2 = now()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] ${d.name} failed: ${errText(e)}")
          false
        }
        if (!ok) failed += 1
        val cached =
          if (traced) sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum else 0L
        if (traced) sc.setLocalProperty(PhaseKey, "checkpoints")
        val r0 = now()
        Checkpoints.releaseAll(spark)
        val q3 = now()
        if (ok) lat += f"${q(d.name)}:${q2 - q0}%.6f"
        if (traced) {
          sc.setLocalProperty(QidKey, null); sc.setLocalProperty(PhaseKey, null)
          // listener events are asynchronous: drain before reading them
          org.apache.spark.perfbenchshim.Bus.drain(sc)
          if (ok) traceQuery(d, qid, df, q0, q1, q2, r0, q3, cached)
        }
      }
      val wall = now() - p0
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val threadCpu = javaThreadCpu().map { case (id, t) => t - threadCpu0.getOrElse(id, 0L) }.sum / 1e9
      val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
      passes += s"""{"index":$idx,"traced":$traced,"wall_s":$wall,"process_cpu_s":$cpu,""" +
        s""""java_threads_cpu_s":$threadCpu,"jit_s":$jitS,""" +
        s""""gc_s":${gcSeconds() - gc0},"failed":$failed,"latency_s":${lat.mkString("{", ",", "}")}}"""
    }

    def traceQuery(d: QDef, qid: String, df: DataFrame, q0: Double, q1: Double,
        q2: Double, r0: Double, q3: Double, cached: Long): Unit = {
      val module = moduleOf(d)
      def clamp(x: Double, lo: Double, hi: Double) = math.max(lo, math.min(hi, x))
      def span(name: String, a: Double, b: Double, parent: String): String = {
        val id = (if (parent.isEmpty) qid else parent) + "/" + name
        spans += Span(id, name, a, b, parent, qid)
        id
      }
      val root = span("query", q0, q3, "")
      val build = span(s"build.$module", q0, q1, root)
      // Catalyst work of the returned frame: its own parse + analysis,
      // done eagerly inside fn
      val built = df.queryExecution.tracker.phases
      Seq("parsing" -> "catalyst.parse", "analysis" -> "catalyst.analysis").foreach { case (ph, nm) =>
        built.get(ph).foreach { s =>
          span(nm, clamp(fromEpochMs(s.startTimeMs), q0, q1), clamp(fromEpochMs(s.endTimeMs), q0, q1), build)
        }
      }
      val write = span("write", q1, q2, root)
      // the write's own QueryExecution: the last one that started after fn
      // returned (eager commands inside fn report earlier ones)
      val writeQe = qes.seen.asScala.toSeq.filter { x =>
        x.tracker.phases.get("analysis").orElse(x.tracker.phases.get("planning"))
          .exists(s => fromEpochMs(s.startTimeMs) >= q1 - 0.002)
      }.lastOption
      // execution: the write's SQL execution as Spark's listener events
      // time it, start to end (adaptive re-planning and every job
      // included). Catalyst phases that Spark runs inside the execution
      // are its children; write time outside Catalyst's phases and this
      // execution stays the write's own, unattributed, self time.
      val writeExec = writeQe.flatMap(w => Option(layer.sqlSpanMs.get(w)))
        .map { case (a, b) => (clamp(fromEpochMs(a), q1, q2), clamp(fromEpochMs(b), q1, q2)) }
      val execSpan = writeExec.map { case (a, b) => (span("execution", a, b, write), a, b) }
      writeQe.foreach { w =>
        val ph = w.tracker.phases
        Seq("analysis" -> "catalyst.analysis", "optimization" -> "catalyst.optimization",
            "planning" -> "catalyst.planning").foreach { case (p, nm) =>
          ph.get(p).foreach { s =>
            val a = clamp(fromEpochMs(s.startTimeMs), q1, q2)
            val b = clamp(fromEpochMs(s.endTimeMs), q1, q2)
            execSpan match {
              case Some((id, ea, eb)) if (a + b) / 2 >= ea && (a + b) / 2 <= eb =>
                span(nm, math.max(a, ea), math.min(b, eb), id)
              case _ => span(nm, a, b, write)
            }
          }
        }
      }
      // the storage census that reads checkpoints.cached_bytes is tracing
      // work, not engine work: it gets its own span
      span("trace.census", q2, r0, root)
      span("checkpoints.release", r0, q3, root)
      def cnt(phase: String) =
        Option(layer.counters.get((qid, phase))).getOrElse(new Counters).json
      queryRecs += s"""{"qid":${q(qid)},"query":${q(d.name)},"module":${q(module)},""" +
        s""""write_qe_found":${writeQe.nonEmpty},"write_exec_found":${writeExec.nonEmpty},""" +
        s""""cached_bytes":$cached,""" +
        s""""build":${cnt("build")},"execution":${cnt("execution")},"checkpoints":${cnt("checkpoints")}}"""
    }

    // 2. untraced passes; a traced run gives them half its window (they are
    // the baseline of trace.overhead_ratio) and its traced passes the other
    // half. Passes are whole: at least MinPasses, and no pass is started
    // that, at the last pass's pace, would end past the window, so a run
    // makes the same number of passes on a fast and on a slow host.
    // Retained heap is read after the untraced passes, before any traced
    // one, so tracing state never shows in it.
    val window = if (o.trace) o.seconds / 2 else o.seconds
    var idx = 0
    def timedPasses(traced: Boolean): Unit = {
      val w0 = now()
      var n = 0
      var last = 0.0
      while (n < MinPasses || now() - w0 + last <= window) {
        val p0 = now()
        onePass(idx, traced)
        last = now() - p0
        idx += 1
        n += 1
      }
    }
    timedPasses(traced = false)
    val heapMb = retainedHeapMb()
    // 3. traced passes
    if (o.trace) {
      sc.addSparkListener(layer)
      spark.listenerManager.register(qes)
      timedPasses(traced = true)
      spark.listenerManager.unregister(qes)
      sc.removeSparkListener(layer)
    }
    val probeAfter = Seq(probe(), probe())

    val spanJson = spans.map(s =>
      s"""{"id":${q(s.id)},"name":${q(s.name)},"start":${s.start},"end":${s.end},""" +
      s""""parent":${if (s.parent.isEmpty) "null" else q(s.parent)},"qid":${q(s.qid)}}""")
    val host = Seq(
      s""""cpus":${o.cpus}""",
      s""""available_processors":${Runtime.getRuntime.availableProcessors}""",
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576.0}""",
      s""""jvm":${q(System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version"))}""",
      s""""spark":${q(spark.version)}""",
      s""""scala":${q(scala.util.Properties.versionNumberString)}""",
      s""""seed":${o.seed}""",
      s""""probe_before_s":${probeBefore.mkString("[", ",", "]")}""",
      s""""probe_after_s":${probeAfter.mkString("[", ",", "]")}""").mkString("{", ",", "}")
    val out =
      s"""{"setup_end_epoch_s":$setupEpochS,"host":$host,"checks":${checks.mkString("{", ",", "}")},""" +
      s""""passes":${passes.mkString("[", ",", "]")},"heap_after_gc_mb":${heapMb.mkString("[", ",", "]")},""" +
      s""""unattributed_jobs":${layer.unattributedJobs},""" +
      s""""queries":${queryRecs.mkString("[", ",", "]")},"spans":${spanJson.mkString("[", ",", "]")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), out)
  }
}
