package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench consumer keeps only the last ~2000 chars of stdout; the
  * stdout JSON line must always fit inside that window completely (plus
  * room for the build tool's trailing status lines). These are static
  * worst-case guarantees, no SparkSession needed.
  */
class BenchFormatSpec extends AnyFunSuite {

  test("committed BENCH_FULL.json is the FULL registry bench (r13 VERDICT #2)") {
    val text = scala.io.Source.fromFile("BENCH_FULL.json", "UTF-8").mkString
    val n = """"n":(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toInt)
      .getOrElse(fail("BENCH_FULL.json lost its \"n\" field"))
    assert(n == SparkEntry.allDefs.size,
      s"BENCH_FULL.json has n=$n but the registry has ${SparkEntry.allDefs.size} queries — " +
        "a partial/scale run writes SCALE_BENCH*.json; the full sf0.1 bench must be " +
        "regenerated whenever the registry changes (r13 shipped an n=1 scale run as the round bench)")
  }

  test("every headline name exists in the registry, exactly once") {
    val names = SparkEntry.allDefs.map(_.name)
    assert(names.distinct.size == names.size)
    val missing = Bench.headline.filterNot(names.contains)
    assert(missing.isEmpty, s"headline names not in registry: $missing")
    assert(Bench.headline.distinct.size == Bench.headline.size)
  }

  test("stdout line stays under 1880 chars at worst-case timings") {
    // Worst case: every registry query present, every headline timing at
    // 9999.999 s (renders as 10000.0 — far beyond any plausible run), rep
    // evidence attached for the top-5 slowest (r14 VERDICT #6) at the
    // adaptive-re-measure maximum of reps + ExtraReps readings each.
    // Budget: the consumer's tail window is ~2000 chars and sbt's
    // "[success] Total time: ..." trailer that follows the line is ~80, so
    // the line itself must stay under ~1920; 1880 leaves extra slack.
    val worstReps = Seq.fill(3 + Bench.ExtraReps)(9999.999)
    val results = SparkEntry.allDefs.map(d => d.name -> Option(9999.999))
    val reps = SparkEntry.allDefs.map(d => d.name -> worstReps).toMap
    val line = Bench.renderLine(9999.999, results, "/root/testdata/sf0.1", reps)
    assert(line.length < 1880, s"stdout bench line too long: ${line.length}")
    assert(line.startsWith("""{"metric":"total""""))
    assert(line.endsWith("""}"""))
    assert(line.contains(""""failed":[]"""))
    // the contention-robust min total rides next to the median total
    assert(line.contains(""""value_min":"""))
    // the slowest block carries 5 entries, each with {med,min,reps}
    assert(line.contains(""""slowest":{"""))
    assert("""\{"med":10000\.00,"min":10000\.00,"reps":\[(10000\.00,?){5}\]\}""".r
      .findAllIn(line).size == 5, s"expected 5 med/min/rep entries in: $line")
  }

  test("adaptive re-measure trips only on contention-suspect spreads") {
    assert(!Bench.suspectSpread(Nil))
    assert(!Bench.suspectSpread(Seq(1.0)))
    assert(!Bench.suspectSpread(Seq(1.0, 2.0, 3.9)))       // within 4x
    assert(Bench.suspectSpread(Seq(1.0, 2.0, 4.1)))        // beyond 4x
    assert(Bench.suspectSpread(Seq(2.3, 32.9, 12.9)))      // r15 dedup_minhash_lsh shape
    assert(!Bench.suspectSpread(Seq(0.0, 0.0)))            // degenerate zero min
  }

  test("full render carries mins, raw reps, and the probe trace") {
    val results: Seq[(String, Option[Double])] =
      Seq("a" -> Some(2.0), "b" -> None)
    val reps = Map("a" -> Seq(3.0, 2.0, 1.5))
    val full = Bench.renderFull(2.0, results, "sf", reps, probe = Seq(0.1, 0.4),
      compiles = Map("a" -> 12L), jobs = Map("a" -> 3L))
    assert(full.contains(""""compiles":{"a":12,"b":null}"""))
    assert(full.contains(""""jobs":{"a":3,"b":null}"""))
    assert(full.contains(""""queries":{"a":2.000,"b":null}"""))
    assert(full.contains(""""mins":{"a":1.500,"b":null}"""))
    assert(full.contains(""""reps":{"a":[3.000,2.000,1.500],"b":[]}"""))
    assert(full.contains(""""probe":{"every":""" + Bench.ProbeEvery + ""","times":[0.100,0.400]}"""))
    assert(full.contains(""""value_min":1.500"""))
  }

  test("stdout line stays bounded when every query fails (capped failed list)") {
    val results: Seq[(String, Option[Double])] = SparkEntry.allDefs.map(d => d.name -> None)
    val line = Bench.renderLine(0.0, results, "/root/testdata/sf0.1")
    assert(line.length < 1800, s"stdout bench line too long: ${line.length}")
    assert(line.contains(""""failed":["""))
    assert(line.contains("more\""), "capped failed list should note the overflow count")
    // failed queries must surface as null, never a fabricated timing
    assert(line.contains(""""agg_tpch_q1":null"""))
    assert(line.contains(""""value_min":0.000"""))
    // full render carries the uncapped list
    val full = Bench.renderFull(0.0, results, "/root/testdata/sf0.1")
    assert(SparkEntry.allDefs.forall(d => full.contains("\"" + d.name + "\"")))
  }
}
