package graft.pipeline

import graft.functions.{EqualByteCount, IntersectSizeSorted, MinHash}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer

/** The small-corpus path of [[Dedup]]'s two pair generators: when a
  * corpus's ids and gram arrays fit Spark's broadcast threshold, they are
  * collected once, broadcast, and the pairs are built by ONE job of
  * `defaultParallelism` tasks over the broadcast — no self-join, no
  * shuffle, no distinct, no verify joins. The pairs come back to the
  * driver when they fit it (a checkpoint holds them otherwise) and the
  * broadcast is destroyed before the caller sees them.
  *
  * Each path yields exactly the pair set of the shuffled plan it stands
  * in for (MinhashBroadcastSpec pins it), with `doc_id` as the corpus key.
  */
private[graft] object BroadcastGrams {

  /** A corpus on the driver: each document's id (`hasId` false for a
    * NULL id, which never pairs), its block (the `source` index; 0 when
    * unblocked) and its sorted, distinct gram hashes. */
  final case class Corpus(ids: Array[Long], hasId: Array[Boolean], blocks: Array[Int],
      grams: Array[Array[Long]]) {
    def size: Int = ids.length
  }

  /** Bytes `docs` documents holding `grams` grams in all add to the
    * broadcast: 8 for each id and each gram. */
  def corpusBytes(docs: Long, grams: Long): Long = 8L * (docs + grams)

  /** Whether `bytes` fit the session's broadcast threshold (-1 fits nothing). */
  def fits(spark: SparkSession, bytes: Long): Boolean = {
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    limit >= 0 && bytes <= limit
  }

  /** `(doc_id[, source], grams)` of every document of at least 3
    * characters, when their ids and grams weigh at most the broadcast
    * threshold: one job, which stops collecting past the threshold (see
    * `GraftBridge.collectWithin`). `None` past it, or at -1. Documents
    * with a NULL `source` never pair when `bySource`, so they are dropped. */
  def gather(docs: DataFrame, grams: Column, bySource: Boolean): Option[Corpus] = {
    val limit = docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (limit < 0) return None
    val keys = if (bySource) Seq(col("doc_id"), col("source")) else Seq(col("doc_id"))
    val gi = keys.length
    val df = docs.where(length(col("text")) >= 3).select(keys :+ grams.as("gs"): _*)
    org.apache.spark.sql.GraftBridge.collectWithin(df, limit) { r =>
      corpusBytes(1, if (r.isNullAt(gi)) 0 else r.getArray(gi).numElements())
    }.map { rows =>
      val kept = if (bySource) rows.filter(r => !r.isNullAt(1)) else rows
      val sources = new java.util.HashMap[String, Integer]()
      def block(r: InternalRow): Int =
        if (!bySource) 0
        else sources.computeIfAbsent(r.getUTF8String(1).toString, _ => sources.size)
      Corpus(
        kept.map(r => if (r.isNullAt(0)) 0L else r.getLong(0)),
        kept.map(r => !r.isNullAt(0)),
        kept.map(block),
        kept.map(r => if (r.isNullAt(gi)) Array.emptyLongArray else r.getArray(gi).toLongArray()))
    }
  }

  /** `(id_a, id_b, jac)` as the shuffled plans type it. */
  def pairSchema(idNullable: Boolean): StructType = StructType(Seq(
    StructField("id_a", LongType, idNullable), StructField("id_b", LongType, idNullable),
    StructField("jac", DoubleType)))

  /** `task(corpus, t, tasks)` for t in 0 until `defaultParallelism`, as
    * ONE job over the broadcast corpus ([[graft.Fixpoint.materialize]]).
    * At most [[graft.Fixpoint.localRowCap]] pairs come back to the driver
    * from that job and are returned as `GraftBridge.DriverRows`, which
    * `Dedup.clusters` reads with no further job; more stay in the job's
    * local checkpoint, registered under `key` and released by the next
    * invocation. The broadcast is destroyed before the caller sees the
    * result. */
  def run(spark: SparkSession, key: String, corpus: Corpus, schema: StructType)(
      task: (Corpus, Int, Int) => Iterator[Row]): DataFrame = {
    val sc = spark.sparkContext
    val tasks = sc.defaultParallelism
    val bc = sc.broadcast(corpus)
    try {
      val rows = sc.parallelize(0 until tasks, tasks)
        .mapPartitions(_.flatMap(t => task(bc.value, t, tasks)))
      graft.Checkpoints.superseding(key,
        graft.Fixpoint.materialize(spark.createDataFrame(rows, schema)).df)
    } finally bc.destroy()
  }

  private def unsafe(c: Corpus): Array[UnsafeArrayData] =
    c.grams.map(UnsafeArrayData.fromPrimitiveArray)

  /** Task `task` of `tasks` of the MinHash+LSH pair generator, the same
    * pairs as the shuffled plan's bucket self-join + `distinct`:
    *  - every task computes each document's band hashes and each band's
    *    buckets (12 bytes per document and band);
    *  - it enumerates the pairs of the buckets it owns (owner = a hash of
    *    band and bucket hash) that hold 2..100 documents;
    *  - a pair is kept at the FIRST band where both documents share a
    *    bucket within that cap, so each pair is emitted once, by one task;
    *  - then `id_a < id_b`, the size-ratio bound, the signature prefilter
    *    (`minEq` equal bytes; none when negative) and the exact verify. */
  def minhashTask(c: Corpus, task: Int, tasks: Int, numHashes: Int, bands: Int,
      portable: Boolean, threshold: Double, minEq: Int): Iterator[Row] = {
    val n = c.size
    val nb = bands
    val rowsPerBand = numHashes / bands
    val grams = unsafe(c)
    val bandHash = new Array[Long](n * nb)
    var i = 0
    while (i < n) {
      val mins = MinHash.binMins(grams(i), numHashes)
      var b = 0
      while (b < nb) { bandHash(i * nb + b) = MinHash.bandHash(mins, b, rowsPerBand, portable); b += 1 }
      i += 1
    }
    // buckets: one id per distinct (band, hash), by open addressing per band
    val bucket = new Array[Int](n * nb)
    val size = new Array[Int](n * nb)
    val mine = new Array[Boolean](n * nb)
    var buckets = 0
    val capacity = Integer.highestOneBit(math.max(1, n) * 2) * 2
    val keys = new Array[Long](capacity)
    val slot = new Array[Int](capacity)
    var b = 0
    while (b < nb) {
      java.util.Arrays.fill(slot, -1)
      i = 0
      while (i < n) {
        val h = bandHash(i * nb + b)
        var p = (mix(h) & (capacity - 1)).toInt
        while (slot(p) >= 0 && keys(p) != h) p = (p + 1) & (capacity - 1)
        if (slot(p) < 0) {
          slot(p) = buckets; keys(p) = h
          mine(buckets) = java.lang.Math.floorMod(mix(h ^ (b * 0x9E3779B97F4A7C15L)), tasks) == task
          buckets += 1
        }
        bucket(i * nb + b) = slot(p)
        size(slot(p)) += 1
        i += 1
      }
      b += 1
    }
    def capped(g: Int): Boolean = size(g) >= 2 && size(g) <= 100
    val sigs = new Array[Array[Byte]](n)
    def sig(d: Int): Array[Byte] = {
      if (sigs(d) == null) sigs(d) = MinHash.signature(grams(d))
      sigs(d)
    }
    val out = ArrayBuffer.empty[Row]
    def consider(x: Int, y: Int, band: Int): Unit =
      if (c.hasId(x) && c.hasId(y) && c.ids(x) != c.ids(y)) {
        val (l, r) = if (c.ids(x) < c.ids(y)) (x, y) else (y, x)
        val nl = grams(l).numElements(); val nr = grams(r).numElements()
        if (math.min(nl, nr).toDouble >= threshold * math.max(nl, nr)) {
          var first = true
          var k = 0
          while (first && k < band) {
            val g = bucket(l * nb + k)
            if (g == bucket(r * nb + k) && capped(g)) first = false
            k += 1
          }
          if (first && (minEq < 0 || EqualByteCount.equalBytes(sig(l), sig(r)) >= minEq)) {
            val ni = IntersectSizeSorted.intersectSize(grams(l), grams(r))
            val jac = ni.toDouble / (nl + nr - ni)
            if (jac >= threshold) out += Row(c.ids(l), c.ids(r), jac)
          }
        }
      }
    // each owned bucket's members as a chain: head per bucket, next per doc
    val head = Array.fill(buckets)(-1)
    val next = new Array[Int](n)
    b = 0
    while (b < nb) {
      i = 0
      while (i < n) {
        val g = bucket(i * nb + b)
        if (mine(g) && capped(g)) {
          var j = head(g)
          while (j >= 0) { consider(j, i, b); j = next(j) }
          next(i) = head(g)
          head(g) = i
        }
        i += 1
      }
      b += 1
    }
    out.iterator
  }

  /** Task `task` of `tasks` of the source-blocked n-gram Jaccard pairs:
    * within each block it takes every `tasks`-th left row and pairs it with
    * each row of a larger id, keeping `3/5` size-ratio, `jac >= threshold`
    * pairs — the shuffled plan's salted self-join, row for row. */
  def ngramTask(c: Corpus, task: Int, tasks: Int, threshold: Double): Iterator[Row] = {
    val grams = unsafe(c)
    val out = ArrayBuffer.empty[Row]
    val blocks = (0 until c.size).filter(c.hasId).groupBy(c.blocks).values.map(_.toArray)
    for (members <- blocks) {
      var k = task
      while (k < members.length) {
        val l = members(k)
        val nl = grams(l).numElements()
        for (r <- members if c.ids(l) < c.ids(r)) {
          val nr = grams(r).numElements()
          if (math.min(nl, nr) * 5 >= math.max(nl, nr) * 3) {
            val ni = IntersectSizeSorted.intersectSize(grams(l), grams(r))
            val jac = ni.toDouble / (nl + nr - ni)
            if (jac >= threshold) out += Row(c.ids(l), c.ids(r), jac)
          }
        }
        k += tasks
      }
    }
    out.iterator
  }

  private def mix(h: Long): Long = {
    val x = h * 0x9E3779B97F4A7C15L
    x ^ (x >>> 29)
  }
}
