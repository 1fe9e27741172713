package graft.streaming

import graft.{QDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming semantics — the reference's STREAM/Delta surface mapped onto
  * Structured Streaming.
  *
  * In the reference, `SELECT STREAM` wraps the table in a Delta node and
  * eight planner rules push it to a StreamableTable source
  * (reference: core/src/main/java/org/apache/calcite/rel/stream/Delta.java:38,
  * StreamRules.java:70-292; grouped-window functions TUMBLE/HOP/SESSION at
  * sql/SqlGroupedWindowFunction.java:48; watermark semantics are described
  * but never implemented — site/_docs/stream.md:230). Structured Streaming
  * is a strict superset: `readStream` IS the Delta operator (same table,
  * delta semantics), `window`/`session_window` are the grouped-window
  * functions, and `withWatermark` supplies the late-data policy the
  * reference only documents.
  *
  * The batch QDefs below pin the window semantics against DuckDB
  * (time_bucket / gaps-and-islands); StreamingSpec replays the same table
  * through readStream and asserts stream==batch — the unified-table
  * guarantee the reference's Delta design promises.
  */
object StreamOps {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.t(s, dir, n)

  /** events as an unbounded stream: same columns as Tables.t("events"),
    * driven from the same parquet (file-source replay). The file source
    * needs a directory, so the single fixture file is exposed through a
    * per-sf symlink directory under java.io.tmpdir. */
  def readEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val streamDir = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_stream_" + math.abs(sfDir.hashCode).toString)
    if (!Files.exists(streamDir)) {
      Files.createDirectories(streamDir)
      Files.createSymbolicLink(
        streamDir.resolve("events.parquet"), Paths.get(sfDir, "events.parquet"))
    }
    // The stream must declare the on-disk `ts` type up front; probe the
    // batch-side raw schema (cached) so both fixture generations work —
    // TIMESTAMP(NANOS) read as nano long, TIMESTAMP(MICROS) read natively.
    val tsIsNanoLong =
      graft.Tables.eventsRaw(spark, sfDir).schema("ts").dataType == LongType
    val tsField =
      if (tsIsNanoLong) StructField("ts", LongType)
      else StructField("ts", org.apache.spark.sql.types.TimestampNTZType)
    val raw = StructType(Seq(
      StructField("event_id", LongType), tsField,
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val stream = spark.readStream.schema(raw).parquet(streamDir.toString)
    val shaped =
      if (tsIsNanoLong)
        stream.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      else
        stream.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    shaped.select("event_id", "ts", "user_id", "event_type", "value", "props", "ts_ns")
  }

  /** documents as an unbounded stream — the curation-ingest shape: new
    * corpus shards arrive continuously and the screening pipeline
    * (quality, PII, quota, stateful dedup) runs as they land. Same
    * file-source replay mechanism as [[readEventsStream]]. */
  def readDocumentsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val streamDir = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_docstream_" + math.abs(sfDir.hashCode).toString)
    if (!Files.exists(streamDir)) {
      Files.createDirectories(streamDir)
      Files.createSymbolicLink(
        streamDir.resolve("documents.parquet"), Paths.get(sfDir, "documents.parquet"))
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.readStream.schema(schema).parquet(streamDir.toString)
  }

  /** Tumbling-window aggregation (streaming shape; also used in batch). */
  def tumblingAgg(events: DataFrame, width: String): DataFrame =
    events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  val defs: Seq[QDef] = Seq(

    // ---- TUMBLE: fixed windows (reference SqlGroupedWindowFunction TUMBLE) -
    QDef.sql("stream_tumble_batch",
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""") { (s, dir) =>
      tumblingAgg(t(s, dir, "events"), "1 hour")
    },

    // ---- HOP: sliding windows (width 1h, slide 30m) ------------------------
    QDef.sql("stream_hop_batch",
      """SELECT s AS w_start, count(*) AS n
        |FROM events,
        |  LATERAL (SELECT unnest(generate_series(0, 1)) AS k) g,
        |  LATERAL (SELECT time_bucket(INTERVAL '30 minutes', ts)
        |                  - k * INTERVAL '30 minutes' AS s) h
        |WHERE ts >= s AND ts < s + INTERVAL '1 hour'
        |GROUP BY 1""") { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("n"))
    },

    // ---- SESSION: gap-based windows per user (gap = 30 minutes) -----------
    // Oracle: classic gaps-and-islands. Spark batch: session_window.
    QDef.sql("stream_session_batch",
      """WITH marked AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= INTERVAL '30 minutes'
        |           OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM marked
        |)
        |SELECT user_id, min(ts) AS sess_start, max(ts) AS sess_end, count(*) AS n
        |FROM sess GROUP BY user_id, sess_id""") { (s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), min(col("ts")).as("sess_start"),
          max(col("ts")).as("sess_end"))
        .select("user_id", "sess_start", "sess_end", "n")
    },

    // ---- Stream-table join shape (batch-verified) --------------------------
    // The reference's stream-to-table join (stream.md: orders ⋈ products);
    // in Structured Streaming this is the stream-static join, identical
    // plan shape in batch.
    QDef.sql("stream_table_join_batch",
      """SELECT e.event_type, c.c_mktsegment, count(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""") { (s, dir) =>
      t(s, dir, "events").alias("e")
        .join(broadcast(t(s, dir, "customer")).alias("c"),
          col("e.user_id") === col("c.c_custkey"))
        .groupBy(col("e.event_type"), col("c.c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("e.value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
    },

    // ---- Streaming dedup shape (batch-verified) ---------------------------
    // dropDuplicates on the stream key — the stateful dedup the reference's
    // stream.md sketches; batch equivalent is argmin per key.
    QDef.sql("stream_dedup_batch",
      """SELECT user_id, count(DISTINCT event_type) AS n_types,
        |  min(event_id) AS first_event
        |FROM events GROUP BY user_id""") { (s, dir) =>
      t(s, dir, "events").groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("n_types"),
          min(col("event_id")).as("first_event"))
    },

    // ---- Stream-STREAM interval join (batch-verified) ---------------------
    // The reference documents stream-to-stream joins as requiring a
    // monotonic bound on both sides (site/_docs/stream.md "Joining streams"
    // — "window of one hour"); Structured Streaming realizes exactly that
    // contract: two watermarked streams, an equi-key plus a time-interval
    // condition bounding retained state. Here: each click attributed to
    // the SAME user's purchases within the following hour. The batch twin
    // is the identical interval join; StreamingSpec replays both sides
    // through readStream with watermarks and asserts stream==batch.
    // Scale shape: one shuffle on user_id for both sides; state per key is
    // bounded by the watermark horizon (1h), not the stream length —
    // the property that lets this run forever on a real cluster.
    QDef.sql("stream_stream_join_batch",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
        |  CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT) AS gap_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL '1 hour'""") { (s, dir) =>
      streamStreamJoin(
        t(s, dir, "events").where(col("event_type") === "click"),
        t(s, dir, "events").where(col("event_type") === "purchase"))
    }
  )

  /** The join body shared by the batch twin and StreamingSpec's two-stream
    * replay: equi-key on user_id + one-hour interval bound. */
  def streamStreamJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("c_ts"))
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id"), col("ts").as("p_ts"))
    c.join(p, Seq("user_id"))
      .where(col("p_ts") >= col("c_ts")
        && col("p_ts") < col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }
}
