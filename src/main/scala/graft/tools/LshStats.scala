package graft.tools

import graft.{Engine, Tables}
import graft.pipeline.BroadcastGrams
import org.apache.spark.sql.functions._

/** Scale diagnostic for the minhash-LSH pipeline: survivor count,
  * gram-array mass, and the pair-generation path the corpus takes —
  * `runMain graft.tools.LshStats [sfDir]`. The path is `broadcast` when the
  * corpus's ids and grams (`gram_bytes`, 8 bytes each) fit Spark's
  * `autoBroadcastJoinThreshold` (`broadcast_threshold`), else `shuffled`
  * (see `Dedup.minhashPairs`). The shuffled plan's numbers decide its
  * verify-join topology (what may be sorted/shuffled at 100 TB). */
object LshStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Engine.session("graft-lsh-stats")
    val docs = Tables.t(spark, sfDir, "documents")
    val pairs = graft.pipeline.Dedup.minhashPairs(docs, threshold = 0.8)
    val t0 = System.nanoTime()
    val nSurvivors = pairs.count()
    System.err.println(f"[lsh-stats] full pipeline count: ${(System.nanoTime-t0)/1e9}%.1f s")
    val g = docs.where(length(col("text")) >= 3)
      .select(graft.functions.ShingleHashes.shingle_hashes(col("text")).as("gs"))
    val stats = g.agg(count(lit(1)), coalesce(sum(size(col("gs"))), lit(0L))).head()
    val gramMass = stats.getLong(1)
    val gramBytes = BroadcastGrams.corpusBytes(stats.getLong(0), gramMass)
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    val path = if (BroadcastGrams.fits(spark, gramBytes)) "broadcast" else "shuffled"
    println(s"""{"sfDir":"$sfDir","survivors":$nSurvivors,"gram_mass":$gramMass,""" +
      s""""gram_bytes":$gramBytes,"broadcast_threshold":$limit,"path":"$path"}""")
    spark.stop()
  }
}
