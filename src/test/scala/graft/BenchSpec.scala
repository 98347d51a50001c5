package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.Json

/** The bench artifact ship-gate: a graded BENCH_r{N} record that is
  * truncated, partially-run, or mis-escaped must fail at the PRODUCER
  * (Bench exits nonzero) — r02 shipped a `parsed: null` artifact and
  * this class of failure must never recur. Exercises the exact record
  * builder main uses, against the real contract keyset.
  */
class BenchSpec extends AnyFunSuite {

  private val allKeys = SparkEntry.queries.keySet
  private def runs(keys: Iterable[String], load: Double = 0.5) =
    keys.map(k => Bench.QRun(k, 0.123, load, 3.1)).toSeq
  private def fullRecord(keys: Iterable[String] = allKeys.toSeq.sorted) =
    Bench.record(runs(keys), Nil, "/root/testdata/sf0.1", 0.5, 7.8, 4)

  test("a full-battery record is valid JSON and covers the whole contract") {
    val rec = fullRecord()
    assert(Json.isValid(rec), rec.take(200))
    assert(Bench.artifactProblems(rec, allKeys).isEmpty)
  }

  test("record carries per-query load, cpu ratio, and a load_flagged list") {
    val quiet = fullRecord()
    assert(quiet.contains("\"query_load\":{"), quiet.take(200))
    assert(quiet.contains("\"query_cpu\":{"), quiet.take(200))
    assert(quiet.contains("\"load_flagged\":[]"), quiet.takeRight(200))
    assert(quiet.contains("\"env_flagged\":false"), quiet.takeRight(200))
    // a spiked query (start loadavg beyond the quiet own-load band) is
    // self-diagnosing even when the pre-warmup sample was quiet
    val spiked = Bench.record(
      runs(Seq("q01_a", "q03_c")) ++ runs(Seq("q02_b"), load = 9.7),
      Nil, "/root/testdata/sf0.1", 0.5, 7.8, 4)
    assert(Json.isValid(spiked), spiked)
    assert(spiked.contains("\"load_flagged\":[\"q02_b\"]"), spiked.takeRight(200))
  }

  test("loadFlagged thresholds on the measured quiet own-load band") {
    // calibration: the 156-query battery's own quiet start loads are
    // median 4.9 / max 6.4 at local[32] (bench_full.json, round 6),
    // so the band at 32 cores is 6.5, scaled linearly, floored at 1.5
    assert(Bench.ownLoadBand(32) == 6.5)
    assert(Bench.ownLoadBand(4) == 1.5) // floor, not 0.8
    val rs = Seq(Bench.QRun("q10_x", 1.0, 6.4, 3.0), // quiet max → not flagged
      Bench.QRun("q11_y", 1.0, 7.1, 3.0))            // r5-style → flagged
    assert(Bench.loadFlagged(rs, 32) == Seq("q11_y"))
    assert(Bench.loadFlagged(rs, 64).isEmpty)
  }

  test("the r5 graded artifact (pre-warmup load 7.36) would now be flagged") {
    // regression for the dead `cpus+1` threshold: at local[32] it
    // required load > 33, which no realistic contamination reaches.
    // The r5 driver run started at external loadavg 7.36 and sampled
    // ~7 at most query starts — both layers must fire.
    assert(Bench.envFlagged(7.36))
    assert(!Bench.envFlagged(0.33)) // the quiet committed bench_full.json
    val r5ish = runs(Seq("q01_a", "q02_b"), load = 7.1)
    assert(Bench.loadFlagged(r5ish, 32) == Seq("q01_a", "q02_b"))
    val rec = Bench.record(r5ish, Nil, "/root/testdata/sf0.1", 7.36, 7.8, 32)
    assert(rec.contains("\"env_flagged\":true"), rec.takeRight(200))
    assert(rec.contains("\"load_flagged\":[\"q01_a\",\"q02_b\"]"), rec.takeRight(250))
  }

  test("cpu trigger fires on collapse vs the quiet reference, not on inherently-low queries") {
    val ref = Map("q103_concat_packing" -> 3.273, // quiet reference ratios
      "q16_having" -> 4.41,                        // (committed artifacts)
      "q262_hapax_mass" -> 0.874, "q70_gap_fill" -> 0.902)
    // the r08 contaminated window: q103 ran at cpu 1.056 (45x wall)
    assert(Bench.cpuTriggered(Bench.QRun("q103_concat_packing", 75.9, 11.4, 1.056), ref))
    // quiet run of the same query: 3.27 ≈ reference — no trigger
    assert(!Bench.cpuTriggered(Bench.QRun("q103_concat_packing", 1.69, 1.0, 3.273), ref))
    // inherently-low reference (below cpuRefFloor): never triggered,
    // whatever the measured ratio
    assert(!Bench.cpuTriggered(Bench.QRun("q262_hapax_mass", 0.5, 1.0, 0.3), ref))
    assert(!Bench.cpuTriggered(Bench.QRun("q70_gap_fill", 0.5, 1.0, 0.1), ref))
    // cpuRatio unavailable (-1) is never a trigger
    assert(!Bench.cpuTriggered(Bench.QRun("q16_having", 0.28, 1.0, -1.0), ref))
    // unknown query (no reference): never triggered
    assert(!Bench.cpuTriggered(Bench.QRun("q999_new", 9.9, 1.0, 0.2), ref))
  }

  test("retry adjudication: contaminated cold confirmed, quiet false-trigger not") {
    // r08's q103: cold 75.9s, a quiet retry would run ~1.7s → flagged
    assert(Bench.cpuConfirmed(coldSec = 75.9, retrySec = 1.7))
    // quiet false-trigger (q16_having: cold 0.28, warm 0.19 — ratio
    // 0.67 ≥ 0.6): cold reproduced, NOT flagged. Same for every
    // trigger-prone query in the two committed quiet artifacts
    // (warm/cold 0.60-1.03 across all ten).
    assert(!Bench.cpuConfirmed(coldSec = 0.28, retrySec = 0.19))
    assert(!Bench.cpuConfirmed(coldSec = 0.50, retrySec = 0.30)) // exactly 0.6: not confirmed
  }

  test("record carries query_retry and cpu_flagged; artifact gate requires them") {
    val rec = Bench.record(runs(Seq("q01_a", "q02_b")), Nil, "/sf", 0.5, 1.0, 4,
      statsOn = false, retries = Map("q02_b" -> 0.4), cpuFlagged = Seq("q02_b"))
    assert(Json.isValid(rec), rec)
    assert(rec.contains("\"query_retry\":{\"q02_b\":0.4}"), rec.takeRight(200))
    assert(rec.contains("\"cpu_flagged\":[\"q02_b\"]"), rec.takeRight(200))
    // a record missing the self-defense fields must not ship
    val legacy = rec.replace(",\"query_retry\":{\"q02_b\":0.4}", "")
    assert(Bench.artifactProblems(legacy, Set("q01_a", "q02_b"))
      .exists(_.contains("query_retry")), legacy)
  }

  test("the committed bench_ref.json loads and covers the contract") {
    val ref = Bench.loadCpuRef("bench_ref.json", cpus = 32)
    assert(ref.size == SparkEntry.queries.size, s"ref has ${ref.size} entries")
    assert(SparkEntry.queries.keySet.subsetOf(ref.keySet))
    assert(ref.values.forall(v => v > 0 && v < 32))
    // ratios were measured at local[32] — any other parallelism
    // disables the triggers rather than comparing incomparables
    assert(Bench.loadCpuRef("bench_ref.json", cpus = 8).isEmpty)
    // a missing or junk path degrades to no-trigger, never throws
    assert(Bench.loadCpuRef("/nowhere/nothing.json", cpus = 32).isEmpty)
  }

  test("record carries its parallelism and reference engagement (r10 provenance fix)") {
    val rec = Bench.record(runs(Seq("q01_a")), Nil, "/sf", 0.5, 1.0, 32,
      refTriggerable = 137)
    assert(rec.contains("\"cpus\":32"), rec.takeRight(300))
    assert(rec.contains("\"cpu_ref_triggerable\":137"), rec.takeRight(300))
    // a record stripped of either provenance field must not ship
    val noCpus = rec.replace(",\"cpus\":32", "")
    assert(Bench.artifactProblems(noCpus, Set("q01_a"))
      .exists(_.contains("cpus")), noCpus)
    val noRef = rec.replace(",\"cpu_ref_triggerable\":137", "")
    assert(Bench.artifactProblems(noRef, Set("q01_a"))
      .exists(_.contains("cpu_ref_triggerable")), noRef)
  }

  test("scrapeObj is object-scoped: queries and query_cpu share keys, not values") {
    val art = """{"queries":{"q01_a":5.5,"q02_b":1.0},"query_cpu":{"q01_a":2.9,"q02_b":1.1}}"""
    assert(Bench.scrapeObj(art, "queries") == Map("q01_a" -> 5.5, "q02_b" -> 1.0))
    assert(Bench.scrapeObj(art, "query_cpu") == Map("q01_a" -> 2.9, "q02_b" -> 1.1))
    assert(Bench.scrapeObj(art, "nothing").isEmpty)
  }

  test("refresh gate replay: the r10 q207 window cannot lower the reference") {
    // the actual round-10 incident numbers: the cold being used as the
    // refresh source carried a transient host window — q207 ran 22.59 s
    // (prior quiet artifact: 4.96 s) at collapsed cpu-ratio 1.033. The
    // old verbatim refresh adopted 1.033, dropping q207 below the 1.3
    // trigger floor and disabling its self-defense.
    val oldRef = Map("q207_value_mad" -> 2.915, "q01_scan" -> 2.0)
    val newCpu = Map("q207_value_mad" -> 1.033, "q01_scan" -> 2.1)
    val newWall = Map("q207_value_mad" -> 22.59, "q01_scan" -> 1.4)
    val priorWall = Map("q207_value_mad" -> 4.96, "q01_scan" -> 1.5)
    val merged = Bench.refreshRef(oldRef, newCpu, newWall, priorWall)
    // q207 is collapse-suspect (22.59 > 2x 4.96): reference NEVER lowers
    assert(merged("q207_value_mad") == 2.915, merged)
    // q01 is quiet (1.4 < 2x 1.5): the new ratio is adopted
    assert(merged("q01_scan") == 2.1, merged)
    // the suspect query stays trigger-able: a re-run of the same
    // collapsed measurement against the merged ref fires the retry
    assert(Bench.cpuTriggered(
      Bench.QRun("q207_value_mad", 22.59, 1.0, 1.033), merged))
  }

  test("refresh gate: battery churn, unknown-prior and suspect-new-query shapes") {
    val merged = Bench.refreshRef(
      oldRef = Map("q90_gone" -> 2.0, "q91_stay" -> 1.8),
      newCpu = Map("q91_stay" -> 1.9, "q92_new" -> 2.4, "q93_newslow" -> 0.9),
      newWall = Map("q91_stay" -> 1.0, "q92_new" -> 1.0, "q93_newslow" -> 9.0),
      priorWall = Map("q91_stay" -> 1.1, "q93_newslow" -> 1.0))
    assert(!merged.contains("q90_gone"))          // left the battery
    assert(merged("q91_stay") == 1.9)             // quiet: adopted
    assert(merged("q92_new") == 2.4)              // no prior wall: adopted
    assert(merged("q93_newslow") == 0.9)          // suspect but no old ref:
    assert(merged.size == 3)                      //   nothing to protect
  }

  test("record survives hostile sfDir paths (quotes, backslashes)") {
    val rec = Bench.record(runs(Seq("q01_x")), Seq("q01_x"),
      "/tmp/we\"ird\\dir", 1.5, 2.0, 4)
    assert(Json.isValid(rec), rec)
  }

  test("a truncated record is rejected") {
    val rec = fullRecord()
    // cut INSIDE the queries map (it ends at "errors"), so both the
    // parse gate and the coverage gate must fire
    val cut = rec.substring(0, rec.indexOf("\"errors\"") / 2)
    val problems = Bench.artifactProblems(cut, allKeys)
    assert(problems.exists(_.contains("not parseable")), problems)
    assert(problems.exists(_.contains("missing from record")), problems)
  }

  test("a partial run shipped as the full battery is rejected") {
    val dropped = allKeys.toSeq.sorted.drop(3)
    val problems = Bench.artifactProblems(fullRecord(dropped), allKeys)
    assert(problems.exists(p => p.contains("missing from record") &&
      allKeys.toSeq.sorted.take(3).forall(p.contains)), problems)
  }

  test("a record with queries the contract doesn't declare is rejected") {
    val problems = Bench.artifactProblems(
      fullRecord(allKeys.toSeq :+ "q999_phantom"), allKeys)
    assert(problems.exists(_.contains("q999_phantom")), problems)
  }

  test("Json.isValid accepts the shapes we emit and rejects broken ones") {
    assert(Json.isValid("""{"a":1,"b":[1,2.5e-3,-4],"c":"x\"y","d":null}"""))
    assert(Json.isValid("""{"empty":{},"arr":[]}"""))
    assert(!Json.isValid("""{"a":1"""))      // unclosed object
    assert(!Json.isValid("""{"a":1} extra""")) // trailing garbage
    assert(!Json.isValid("""{"a":}"""))      // missing value
    assert(!Json.isValid("""{"a":"unterminated}"""))
    assert(!Json.isValid("""{'a':1}"""))     // single quotes
    assert(Json.isValid("""{"big":12345678901234567890}""")) // beyond Long
    assert(!Json.isValid("""{"a":"\q"}"""))  // unknown escape
  }

  test("every contract query also has an oracle entry (or is knowingly exempt)") {
    // the driver records a weaker rows-only check for queries without
    // oracle SQL — the repo's policy is that NONE are exempt
    assert(SparkEntry.oracleSql.keySet == allKeys,
      s"diff: ${(allKeys diff SparkEntry.oracleSql.keySet) ++
        (SparkEntry.oracleSql.keySet diff allKeys)}")
  }
}
