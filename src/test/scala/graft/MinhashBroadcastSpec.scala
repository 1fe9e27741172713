package graft

import graft.pipeline.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The broadcast-gram path of Dedup's pair generators against the
  * shuffled plan (a broadcast threshold of -1 forces it): the same pairs,
  * `jac` bit for bit, and the same schema, nullability included — on the
  * fixture at several LSH settings and on a synthetic corpus built to sit
  * on the bucket cap's edges. The broadcast path runs at most two jobs:
  * the gram gather and the pair job. */
class MinhashBroadcastSpec extends AnyFunSuite {
  import SparkTestSession._

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def shuffled[T](f: => T): T = {
    val prev = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    try f finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  /** The result's rows (read before the next invocation releases them),
    * its schema, and the Spark jobs the invocation ran. */
  private def run(f: => DataFrame): (Set[(Long, Long, Double)], StructType, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = f
      GraftBridge.drainListenerBus(spark)
      val n = jobs.get()
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.length == rows.toSet.size, "a pair was emitted twice")
      (rows.toSet, df.schema, n)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Asserts both paths agree and returns the pairs. */
  private def bothPaths(f: => DataFrame): Set[(Long, Long, Double)] = {
    val (broadcast, bSchema, bJobs) = run(f)
    val (shuffle, sSchema, _) = shuffled(run(f))
    assert(bSchema == sSchema)
    assert(broadcast == shuffle,
      s"extra: ${(broadcast diff shuffle).take(3)}, missing: ${(shuffle diff broadcast).take(3)}")
    assert(bJobs <= 2, s"the broadcast path ran $bJobs jobs")
    broadcast
  }

  /** Read before any test measures jobs: a first read infers the schema. */
  private lazy val docs: DataFrame = {
    val d = Tables.t(spark, sfDir, "documents")
    d.schema
    d
  }

  test("minhashPairs at the defaults: broadcast path equals shuffled path") {
    docs
    assert(bothPaths(Dedup.minhashPairs(docs, threshold = 0.6)).nonEmpty)
  }

  test("minhashPairs at 64x8: broadcast path equals shuffled path") {
    assert(bothPaths(Dedup.minhashPairs(docs, threshold = 0.6, numHashes = 64, bands = 8))
      .nonEmpty)
  }

  test("minhashPairs in portable mode: broadcast path equals shuffled path") {
    assert(bothPaths(Dedup.minhashPairs(docs, threshold = 0.6, portable = true)).nonEmpty)
  }

  test("minhashPairs without the signature prefilter: broadcast path equals shuffled path") {
    assert(bothPaths(Dedup.minhashPairs(docs, threshold = 0.6, sigPrefilter = false))
      .nonEmpty)
  }

  test("ngramJaccardPairs: broadcast path equals shuffled path") {
    assert(bothPaths(Dedup.ngramJaccardPairs(spark, sfDir)).nonEmpty)
  }

  /** A documents table in a temporary fixture directory. */
  private def withCorpus[T](rows: Seq[(Long, String, String)])(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("broadcast-grams").toFile
    try {
      val s = spark
      import s.implicits._
      rows.toDF("doc_id", "source", "text").coalesce(2)
        .write.parquet(s"$dir/documents.parquet")
      f(dir.toString)
    } finally {
      Checkpoints.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("a corpus at the bucket cap's edges, with short texts: both paths agree") {
    val rnd = new scala.util.Random(17)
    def text(n: Int): String = rnd.alphanumeric.take(n).mkString
    val a = text(200) // 100 copies: every bucket of theirs holds exactly the cap
    val b = text(200) // 101 copies: every bucket of theirs is one over it
    val base = Seq.fill(30)(text(150))
    // five changed characters: the variant shares some bands with its base
    val near = base.zipWithIndex.map { case (t, i) => t.patch(i * 4, "#####", 5) }
    val texts = Seq.fill(100)(a) ++ Seq.fill(101)(b) ++ base ++ near ++
      Seq("", "ab", "x", "abc")
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong * 7 % 1009, s"s${i % 3}", t) }
    withCorpus(rows) { dir =>
      val corpus = Tables.t(spark, dir, "documents")
      val lsh = bothPaths(Dedup.minhashPairs(corpus, threshold = 0.6))
      val ids = rows.map(_._1)
      val copiesOfA = ids.take(100).toSet
      val copiesOfB = ids.slice(100, 201).toSet
      assert(lsh.count { case (x, y, _) => copiesOfA(x) && copiesOfA(y) } == 100 * 99 / 2)
      assert(!lsh.exists { case (x, y, _) => copiesOfB(x) && copiesOfB(y) })
      bothPaths(Dedup.minhashPairs(corpus, threshold = 0.6, numHashes = 64, bands = 8))
      val ngram = bothPaths(Dedup.ngramJaccardPairs(spark, dir))
      assert(ngram.exists { case (x, y, _) => copiesOfB(x) && copiesOfB(y) })
    }
  }

  test("an empty corpus: both paths return no pairs, with one schema") {
    withCorpus(Seq((1L, "s", "abc")).filter(_ => false)) { dir =>
      val corpus = Tables.t(spark, dir, "documents")
      assert(bothPaths(Dedup.minhashPairs(corpus, threshold = 0.6)).isEmpty)
      assert(bothPaths(Dedup.ngramJaccardPairs(spark, dir)).isEmpty)
    }
  }
}
