package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The MinHash kernels of the near-dup pipeline (pipeline/Dedup), as
  * plain functions over a document's sorted gram hashes: the shuffled
  * plan's `mapPartitions` passes and the broadcast-gram tasks call the
  * same code.
  *
  * One-Permutation Hashing (Li/Owen/Zhang 2012) with rotation
  * densification (Shrivastava/Li DOPH): ONE hash per shingle lands in bin
  * h mod k keeping the bin-min; an empty bin borrows the next filled bin
  * clockwise, offset by the hop distance so runs of empties don't produce
  * identical coordinates. Cost per document is O(|shingles| + k). The
  * signature is a pure function of the shingle SET (min is commutative,
  * densification deterministic), so any partitioning and any row order
  * produce identical bins.
  */
object MinHash {

  /** Band-fold seed of the production kernel (a wrap-around long fold). */
  final val FoldSeed = 1125899906842597L

  /** Modulus of the portable fold, which DuckDB replays exactly. */
  final val PortableMod = 1000003L

  /** The `k` densified OPH bin-mins of one gram set. */
  def binMins(grams: ArrayData, k: Int): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = grams.numElements()
    var j = 0
    while (j < n) {
      val h = grams.getLong(j)
      val b = java.lang.Math.floorMod(h, k)
      if (h < mins(b)) mins(b) = h
      j += 1
    }
    var i = 0
    while (i < k) {
      if (mins(i) == Long.MaxValue) {
        var hop = 1
        while (mins((i + hop) % k) == Long.MaxValue) hop += 1
        mins(i) = mins((i + hop) % k) + hop
      }
      i += 1
    }
    mins
  }

  /** Band `band`'s hash: the fold of its `rowsPerBand` bin-mins.
    * `portable` folds mod [[PortableMod]] from 0, else wraps from
    * [[FoldSeed]]. */
  def bandHash(mins: Array[Long], band: Int, rowsPerBand: Int, portable: Boolean): Long = {
    var h = if (portable) 0L else FoldSeed
    var k = band * rowsPerBand
    while (k < (band + 1) * rowsPerBand) {
      h = if (portable) (h * 31 + mins(k)) % PortableMod else h * 31 + mins(k)
      k += 1
    }
    h
  }

  /** Width of the prefilter signature, one byte a bin. */
  final val SignatureBins = 64

  /** The prefilter's signature: an independent 64-bin OPH sketch, each
    * bin-min truncated to its low byte. */
  def signature(grams: ArrayData): Array[Byte] = {
    val mins = binMins(grams, SignatureBins)
    val bytes = new Array[Byte](SignatureBins)
    var i = 0
    while (i < SignatureBins) { bytes(i) = mins(i).toByte; i += 1 }
    bytes
  }
}
