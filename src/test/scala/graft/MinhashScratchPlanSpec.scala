package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** The minhash verify phase's scratch planner (r13, VERDICT #2): the
  * in-bucket pair mass, computed by `planStats`, drives the verify
  * topology automatically. This spec pins the decision boundary of
  * [[Dedup.verifyPasses]] and, the part that
  * matters, that a multi-pass verify returns EXACTLY the single-pass
  * pairs (band-partitioning only changes when candidates hit the disk,
  * never which candidates exist). */
class MinhashScratchPlanSpec extends AnyFunSuite {
  import SparkTestSession._

  test("verifyPasses decision boundary") {
    val bpp = Dedup.MinhashBytesPerPair
    val safety = Dedup.MinhashScratchSafety
    // no pairs / no budget → the single-pass plan
    assert(Dedup.verifyPasses(0.0, 1L << 40, 96) == 1)
    assert(Dedup.verifyPasses(1e9, 0L, 96) == 1)
    // exactly at the budget → still one pass
    val budget = 100L * 1000 * 1000 * 1000 // 100 GB
    val fitMass = budget * safety / bpp
    assert(Dedup.verifyPasses(fitMass, budget, 96) == 1)
    // 1% above → two passes
    assert(Dedup.verifyPasses(fitMass * 1.01, budget, 96) == 2)
    // 10× the budget → ten passes
    assert(Dedup.verifyPasses(fitMass * 10, budget, 96) == 10)
    // absurd mass → capped at the band count (can't slice finer)
    assert(Dedup.verifyPasses(fitMass * 1e6, budget, 96) == 96)
    // the r12 anchor: 1.65×10⁸ pairs vs the 78 GB envelope that died on
    // lz4 → the planner now splits instead of hitting ENOSPC
    assert(Dedup.verifyPasses(1.65e8, 78L * 1000 * 1000 * 1000, 96) == 3)
  }

  test("MinhashBytesPerPair brackets both measured scale points (r14, VERDICT #8)") {
    // measured on this machine (SCALING.md r13/r14 sections), lz4, no
    // env vars: (in-bucket pair mass, planner passes K, observed peak
    // scratch bytes). In-flight pairs per pass = mass / K; the constant
    // must bound the observed bytes-per-in-flight-pair from ABOVE (or
    // the planner under-slices into ENOSPC) while staying within 2× of
    // the largest observed ratio (or it wastefully over-slices).
    val measured = Seq(
      ("x50 r14", 8.75e7, 2, 26.6e9),
      ("x100 r13", 1.65e8, 3, 39.0e9))
    val ratios = measured.map { case (name, mass, k, peak) =>
      val perPair = peak / (mass / k)
      assert(perPair <= Dedup.MinhashBytesPerPair,
        f"$name: observed $perPair%.0f B/pair exceeds the calibration constant " +
          s"${Dedup.MinhashBytesPerPair} — the planner would under-slice")
      perPair
    }
    assert(Dedup.MinhashBytesPerPair <= 2 * ratios.max,
      s"calibration constant ${Dedup.MinhashBytesPerPair} is more than 2x the " +
        f"largest measured ratio ${ratios.max}%.0f — wastefully over-slicing")
  }

  private def collect(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("multi-pass verify returns exactly the single-pass pairs") {
    // the scratch planner is on the shuffled path only: threshold -1 forces it
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try multiPassEqualsSinglePass()
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def multiPassEqualsSinglePass(): Unit = {
    val docs = Tables.t(spark, sfDir, "documents")
    // 64×8 banding keeps the default r=8 selectivity with an 8-pass cap,
    // so the forced maximum split stays cheap at fixture scale
    val single = collect(Dedup.minhashPairs(docs, threshold = 0.6,
      numHashes = 64, bands = 8))
    // a 1-byte budget forces the maximum split (8 passes, one band each)
    val sliced = collect(Dedup.minhashPairs(docs, threshold = 0.6,
      numHashes = 64, bands = 8, scratchBudgetBytes = Some(1L)))
    assert(sliced == single,
      s"band-partitioned verify diverged: ${(sliced diff single).take(3)} extra, " +
        s"${(single diff sliced).take(3)} missing")
    assert(single.nonEmpty || docs.limit(1).count() == 0)
  }
}
