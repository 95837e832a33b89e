package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Bench baseline writer/reader pair (both through the one
  * Jackson codec, [[Json]]). Two directions matter:
  *   1. round trip: whatever the writer emits is valid JSON that the
  *      reader reads back verbatim, escaped strings included — the
  *      regression gate's prior is exactly the recorded medians;
  *   2. refusal: a prior that is not a flat string->number
  *      `queries_warm` object (a nested value, a garbage entry, a
  *      missing key, malformed text) must fail LOUDLY, never degrade to
  *      an empty/partial map — an empty prior silently disables the
  *      gate, which is how round 5's 35-query regression initially
  *      reported "regressions":[].
  * Beside the reader and writer it pins Bench's pure helpers. No
  * SparkSession needed — pure functions, runs in milliseconds.
  */
class BenchBaselineSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.1"

  test("round trip: serialize -> parse -> identical map") {
    val warm = Map(
      "q1_agg" -> 1.086, "stream_outer_join" -> 7.664,
      "dedup_minhash_lsh" -> 1.68, "q105_click_burst" -> 0.25,
      "tiny" -> 0.001)
    val txt = Bench.baselineJson(sf, warm)
    assert(Bench.parseBaseline(txt, sf) === warm)
  }

  test("round trip survives exponent-formatted and sub-ms values") {
    // r3 rounds to 3 decimals on write, so the parsed map equals the
    // ROUNDED input — assert against that, pinning the 3dp contract
    val warm = Map("a" -> 1.23456, "b" -> 12345.6789, "c" -> 0.0004)
    val parsed = Bench.parseBaseline(Bench.baselineJson(sf, warm), sf)
    assert(parsed === Map("a" -> 1.235, "b" -> 12345.679, "c" -> 0.0))
  }

  test("an sf holding a backslash, a quote and a tab is valid JSON and round-trips") {
    // SPARK_GRAFT_SF_DIR comes from outside the program: written raw, a
    // quote or backslash in it made a file no JSON reader accepts, and
    // the reader then took the sf up to the first quote, so the prior
    // came back silently empty
    val oddSf = "/data/sf\\0.1 \"x\"\tend"
    val warm = Map("q1_agg" -> 1.086, "tiny" -> 0.001)
    val txt = Bench.baselineJson(oddSf, warm)
    val root = Json.read(txt)
    assert(root.get("sf").asText === oddSf)
    assert(Bench.parseBaseline(txt, oddSf) === warm)
  }

  test("other-SF prior parses to empty (like is only compared with like)") {
    val txt = Bench.baselineJson("/root/testdata/sf0.01", Map("a" -> 1.0))
    assert(Bench.parseBaseline(txt, sf) === Map.empty[String, Double])
  }

  test("empty baseline map round-trips to empty, not an error") {
    assert(Bench.parseBaseline(Bench.baselineJson(sf, Map.empty), sf)
      === Map.empty[String, Double])
  }

  test("nested object in queries_warm fails loudly, never an empty map") {
    // the exact future failure mode the old parser hid: a nested value
    // would truncate at the first inner '}' and the gate went blind
    val nested =
      s"""{"sf":"$sf","queries_warm":{"q1_agg":{"median":1.0,"n":3}}}"""
    val e = intercept[RuntimeException](Bench.parseBaseline(nested, sf))
    assert(e.getMessage.contains("flat"), s"wrong refusal: ${e.getMessage}")
  }

  test("missing queries_warm key fails loudly") {
    val e = intercept[RuntimeException](
      Bench.parseBaseline(s"""{"sf":"$sf","warm":{"a":1.0}}""", sf))
    assert(e.getMessage.contains("queries_warm"))
  }

  test("unparseable entry fails loudly, never a partial prior") {
    // one good entry + one garbage entry: a PARTIAL map would silently
    // exempt the lost queries from the gate — must refuse instead
    val partial =
      s"""{"sf":"$sf","queries_warm":{"a":1.0,"b":oops}}"""
    val e = intercept[RuntimeException](Bench.parseBaseline(partial, sf))
    assert(e.getMessage.contains("malformed"))
  }

  test("a refusal names the file it read") {
    val e = intercept[RuntimeException](Bench.parseBaseline(
      s"""{"sf":"$sf","queries_warm":""", sf, "bench_baseline.sf0.1.json"))
    assert(e.getMessage.startsWith("bench_baseline.sf0.1.json: malformed"), e.getMessage)
  }

  test("baseline merge is per-query minima: a slower run never raises a prior") {
    // the round-7 failure mode: a machine-inflated run rewrote 195 of
    // 199 priors UPWARD under last-run-wins, silently loosening the
    // regression gate 26%. Minima semantics: prev survives when now is
    // slower, now wins when faster, new queries enter at their first
    // observation.
    val prev = Map("slow_now" -> 1.0, "fast_now" -> 2.0, "failed_now" -> 3.0)
    val warm = Map("slow_now" -> 2.5, "fast_now" -> 1.5, "brand_new" -> 0.7)
    val merged = Bench.mergeBaseline(prev, warm, _ => true)
    assert(merged === Map(
      "slow_now" -> 1.0,   // prev survives: this run was slower
      "fast_now" -> 1.5,   // genuine improvement recorded
      "failed_now" -> 3.0, // failed this run (absent from warm): prior kept
      "brand_new" -> 0.7)) // first observation
  }

  test("baseline merge accept-list takes the new value for named queries") {
    // the escape hatch for INTENTIONAL slowdowns (extra verification
    // work added by design): without it a deliberately re-priced query
    // would flag >1.5x forever under pure minima
    val prev = Map("repriced" -> 1.0, "other" -> 1.0)
    val warm = Map("repriced" -> 2.0, "other" -> 2.0)
    val merged = Bench.mergeBaseline(prev, warm, _ => true, _ == "repriced")
    assert(merged === Map("repriced" -> 2.0, "other" -> 1.0))
  }

  test("baseline merge drops entries for unregistered queries") {
    val prev = Map("kept" -> 1.0, "deleted_query" -> 2.0)
    val merged = Bench.mergeBaseline(prev, Map("kept" -> 1.2), Set("kept"))
    assert(merged === Map("kept" -> 1.0))
  }

  test("parser reads the full bench_out.json shape (fallback path)") {
    // prevWarm falls back to bench_out.json, which nests OTHER objects
    // (queries, regressions) around a still-flat queries_warm — the
    // parser must read exactly the flat object and ignore the rest
    val full =
      s"""{"metric":"total","value":10.0,"unit":"sec","queries":{"a":1.2},""" +
        s""""total_warm":9.0,"queries_warm":{"a":1.1,"b":2.5},""" +
        s""""regressions":[{"q":"x","prev":1.0,"now":2.0,"ratio":2.0,"failed":false}],""" +
        s""""sf":"$sf"}"""
    assert(Bench.parseBaseline(full, sf) === Map("a" -> 1.1, "b" -> 2.5))
  }

  test("warm order is ascending-prior with unknown lanes first") {
    // r14 harness invariant: if the budget stops the warm pass, the
    // stranded lanes must be the heaviest (stable priors), and a
    // brand-new lane (no prior to fall back on) must always price —
    // unknown prior sorts as 0, ties break by name for determinism
    val priors = Map("heavy" -> 6.5, "mid" -> 1.2, "cheap" -> 0.1)
    val order = Bench.warmOrder(
      Seq("mid", "heavy", "new_b", "cheap", "new_a"), priors)
    assert(order === Seq("new_a", "new_b", "cheap", "mid", "heavy"))
  }

  test("every headline lane is a registered query") {
    // the cold pass and the compact stdout map are built from this
    // list — a renamed/deleted lane would silently shrink both
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline lanes not in registry: $missing")
  }

  test("stealShare computes steal over busy = dTotal - dIdle") {
    // cumulative (total, idle, steal): busy delta = (200-100)-(60-20)
    // = 60 jiffies, steal delta = 9 -> 15% — the ADVICE-r13 fix (the
    // old user+steal denominator overstated steal on kernel-heavy load)
    val b = Some((100L, 20L, 1L)); val a = Some((200L, 60L, 10L))
    assert(Bench.stealShare(b, a) === 15.0)
    // zero busy time or a missing sample refuses with -1, not a NaN
    assert(Bench.stealShare(b, b) === -1.0)
    assert(Bench.stealShare(None, a) === -1.0)
    assert(Bench.stealShare(b, None) === -1.0)
  }

  test("retry candidates are the >1.5x-flagged lanes, ascending prior") {
    // the re-sample pass picks its suspects by the regression gate's flag
    // rule (prior > 0.05 s, ratio > 1.5) and re-runs them ascending by
    // prior so cheap lanes de-ghost first if the budget cuts it short
    val priors = Map(
      "ghost_cheap" -> 0.2, "ghost_heavy" -> 4.0, "clean" -> 1.0,
      "noise_floor" -> 0.04)
    val warm = Map(
      "ghost_cheap" -> 2.0,  // 10x: flagged
      "ghost_heavy" -> 7.0,  // 1.75x: flagged
      "clean" -> 1.2,        // 1.2x: not flagged
      "noise_floor" -> 1.0,  // prior under 50ms: never flagged
      "new_lane" -> 9.9)     // no prior: nothing to compare
    val asked = scala.collection.mutable.ListBuffer.empty[String]
    val r = Bench.resample(warm, Nil, priors, n => { asked += n; None })
    assert(asked.toSeq === Seq("ghost_cheap", "ghost_heavy"))
    assert(r.suspects.keys.toSeq === Seq("ghost_cheap", "ghost_heavy"))
    // no budget left: no re-run, the warm prices stand, nothing retried
    assert(r.warm === warm)
    assert(r.retried.isEmpty)
  }

  /** A scripted re-run callback: each call answers the next entry of
    * `runs` for that lane, and every call is recorded in `calls`.
    */
  private class Script(runs: Map[String, Seq[Bench.Run]]) {
    val calls = scala.collection.mutable.ListBuffer.empty[String]
    def apply(n: String): Option[Bench.Run] = {
      calls += n
      Some(runs(n)(calls.count(_ == n) - 1))
    }
  }

  test("re-sample: a ghost clears after one re-run and prices at the clean sample") {
    val script = new Script(Map("ghost" -> Seq(Bench.Took(1.05))))
    val r = Bench.resample(Map("ghost" -> 5.0, "clean" -> 1.1), Nil,
      Map("ghost" -> 1.0, "clean" -> 1.0), script(_))
    assert(script.calls.toSeq === Seq("ghost"))
    assert(r.warm === Map("ghost" -> 1.05, "clean" -> 1.1))
    assert(r.suspects("ghost") === Bench.Suspect(Seq(5.0, 1.05), 1, threw = false))
    assert(r.retried.keySet === Set("ghost"))
    assert(!Bench.flagged(1.0, r.warm("ghost")))
  }

  test("re-sample: a persistent flag stops after two re-runs and lists 3 samples") {
    val script = new Script(Map("slow" -> Seq(
      Bench.Took(2.8), Bench.Took(2.6), Bench.Took(0.5))))
    val r = Bench.resample(Map("slow" -> 3.0), Nil, Map("slow" -> 1.0), script(_))
    assert(script.calls.size === 2)
    assert(r.suspects("slow") === Bench.Suspect(Seq(3.0, 2.8, 2.6), 2, threw = false))
    // priced at the lowest sample, which still flags: a regression entry
    assert(r.warm("slow") === 2.6)
    assert(Bench.flagged(1.0, r.warm("slow")))
  }

  test("re-sample: a lane capped in warm and again in its re-run keeps its prior, capped_unresolved") {
    val script = new Script(Map("stuck" -> Seq(Bench.Capped, Bench.Took(1.0))))
    val priors = Map("stuck" -> 0.5, "q1_agg" -> 0.2)
    val r = Bench.resample(Map("q1_agg" -> 0.2), Seq("stuck"), priors, script(_))
    // one cap proves the next: the lane stops at its first capped re-run
    assert(script.calls.toSeq === Seq("stuck"))
    assert(r.suspects("stuck") === Bench.Suspect(Nil, 1, threw = false))
    assert(!r.warm.contains("stuck"))
    assert(r.cappedUnresolved === Seq("stuck"))
    assert(Bench.mergeBaseline(priors, r.warm, _ => true) === priors)
  }

  test("re-sample: a capped lane with no prior prices at its first re-run") {
    val script = new Script(Map("new_lane" -> Seq(Bench.Took(40.0), Bench.Took(1.0))))
    val r = Bench.resample(Map.empty, Seq("new_lane"), Map.empty, script(_))
    assert(script.calls.size === 1)
    assert(r.warm === Map("new_lane" -> 40.0))
    assert(r.cappedUnresolved.isEmpty)
  }

  test("re-sample: a re-run that throws goes to errors_retry") {
    val script = new Script(Map(
      "broken" -> Seq(Bench.Threw(new RuntimeException("boom")), Bench.Took(1.0))))
    val r = Bench.resample(Map("broken" -> 4.0), Nil, Map("broken" -> 1.0), script(_))
    assert(script.calls.size === 1)
    assert(r.errors === Seq("broken"))
    // no new sample: the warm price stands and still flags
    assert(r.warm("broken") === 4.0)
    assert(r.suspects("broken") === Bench.Suspect(Seq(4.0), 1, threw = true))
  }

  test("re-sample: a multi-pass median goes through the same rule") {
    // three warm passes: a median that flags is a suspect like any single
    // sample, and the median is its first sample
    val ghost = Bench.median(Seq(4.2, 1.0, 4.0))   // 4.0: flags
    val steady = Bench.median(Seq(1.0, 9.0, 0.9))  // 1.0: one pause, absorbed
    val script = new Script(Map("ghost" -> Seq(Bench.Took(1.2))))
    val r = Bench.resample(Map("ghost" -> ghost, "steady" -> steady), Nil,
      Map("ghost" -> 1.0, "steady" -> 1.0), script(_))
    assert(script.calls.toSeq === Seq("ghost"))
    assert(r.suspects("ghost").samples === Seq(4.0, 1.2))
    assert(r.warm === Map("ghost" -> 1.2, "steady" -> 1.0))
  }

  test("median: the middle sample, the mean of the middle two for an even count") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Bench.median(Seq(7.0)) === 7.0)
  }

  test("pricedPriorSum counts lanes with identical prior values") {
    // warm.keys is a SET; a naive keys.flatMap(priors.get).sum builds a
    // Set[Double] and collapses equal priors before summing — the first
    // sf0.1 run under-reported 201.3 -> 188.3 (ratio overstated 3.05 ->
    // 3.26) because many lanes share 3-decimal priors like 0.300
    val priors = Map("a" -> 0.3, "b" -> 0.3, "c" -> 1.0)
    assert(Bench.pricedPriorSum(Map("a" -> 9.9, "b" -> 9.9, "c" -> 9.9).keys,
      priors) === 1.6)
    // unpriced lanes (no prior) contribute nothing, not an error
    assert(Bench.pricedPriorSum(Seq("a", "unknown"), priors) === 0.3)
  }

  test("jiffiesOf excludes guest columns and counts iowait as idle-like") {
    // proc(5): guest/guest_nice (columns 9-10) are ALREADY included in
    // user/nice — summing them double-counts guest time and understates
    // the steal share, which could slip a >30%-steal epoch under the
    // warmup cold-skip threshold. iowait (column 5) is WAIT time, not
    // work (ADVICE r14): counting it busy diluted the steal denominator
    // on I/O-heavy stretches — it joins idle in the middle element so
    // stealShare's busy = dTotal - dIdleLike excludes it. Synthetic
    // line with nonzero guest AND iowait:
    //            user nice sys idle iowait irq softirq steal guest gn
    val line = "cpu  100  10   30  500  5      1   2       40    77   7"
    val (total, idleLike, steal) = Bench.jiffiesOf(line)
    assert(total === 688L)    // first 8 columns only — not 772
    assert(idleLike === 505L) // idle + iowait — not 500
    assert(steal === 40L)
  }

  test("laneCapS: 50x prior clamped to [5s, 30s]; no prior -> generous 120s") {
    // r15 watchdog: one host pause stranding one lane must not eat the
    // budget 50 other lanes needed (r14: 83.9s burned on a 0.505s
    // prior). 50x is far above any honest regression worth measuring to
    // completion; the 5s floor keeps sub-100ms scheduling noise from
    // tripping the cancel. A lane with NO prior gets 120s, NOT the 30s
    // ceiling: a legitimately-slow new lane under a 30s cap would be
    // capped in warm AND retry forever — never priced, never gaining
    // the prior that would size its cap honestly.
    assert(Bench.laneCapS(Some(0.2)) === 10.0)   // 50x in band
    assert(Bench.laneCapS(Some(0.05)) === 5.0)   // floor
    assert(Bench.laneCapS(Some(5.0)) === 30.0)   // ceiling
    assert(Bench.laneCapS(None) === 120.0)       // no prior
    assert(Bench.laneCapS(Some(0.0)) === 120.0)  // zero prior = unusable
  }

  test("isCancellation: watchdog/Spark cancel wording anywhere in the chain") {
    // the capped/failed classification must not trust the timer flag
    // alone — a slow lane can blow its cap AND then die of a genuine
    // error, which must reach errors/n_failed (review r15)
    assert(Bench.isCancellation(
      new RuntimeException("Job 7 cancelled: bench watchdog cap 30.0s")))
    assert(Bench.isCancellation(new RuntimeException("outer",
      new RuntimeException("Job 3 was cancelled"))))
    assert(!Bench.isCancellation(
      new RuntimeException("FileNotFoundException: shard-0007.parquet")))
    assert(!Bench.isCancellation(new RuntimeException()))  // null message
  }

  test("flagged predicate: >1.5x over a >50ms prior, shared by gate and retry") {
    assert(Bench.flagged(1.0, 1.6))
    assert(!Bench.flagged(1.0, 1.4))
    assert(!Bench.flagged(0.04, 10.0)) // sub-50ms prior never flags
    assert(!Bench.flagged(0.05, 10.0)) // boundary: prior must EXCEED 50ms
  }

  test("cpuJiffies reads /proc/stat with total >= idle + steal") {
    // Linux-only sanity: the triple is (total, idle, steal) and total
    // sums every column, so it must dominate the parts; None is the
    // documented non-Linux result (not exercised here)
    Bench.cpuJiffies().foreach { case (total, idle, steal) =>
      assert(total >= idle + steal)
      assert(idle >= 0 && steal >= 0)
    }
  }

  test("a lane whose external input is absent is skipped, not failed or regressed") {
    val missing = "/nonexistent/graft-bench-corpus"
    val lanes = Seq(
      QueryDef("wordcount_reference", (_, _) => fail("must not run"), "SELECT 1",
        Some(missing)),
      QueryDef("q1_agg", (_, _) => null, "SELECT 1"))
    val (skips, runnable) = Bench.splitRunnable(lanes)
    assert(skips === Map("wordcount_reference" -> s"external input absent: $missing"))
    assert(runnable.keySet === Set("q1_agg"))
    // the skipped lane never runs, so no pass can book it as an error or
    // a failed:true regression; the merge keeps its 0.106 s prior
    val priors = Map("wordcount_reference" -> 0.106, "q1_agg" -> 0.5)
    assert(Bench.mergeBaseline(priors, Map("q1_agg" -> 0.4),
      lanes.map(_.name).toSet) === Map("wordcount_reference" -> 0.106, "q1_agg" -> 0.4))
  }

  test("QueryDef rejects a null oracle (registry-before-oracle-val init bug)") {
    val e = intercept[IllegalArgumentException](
      QueryDef("some_query", (_, _) => null, null: String))
    assert(e.getMessage.contains("some_query"))
    // and every REGISTERED oracle made it through init non-null
    assert(SparkEntry.registry.forall(q => q.oracle.trim.nonEmpty))
    assert(SparkEntry.oracleSql.size === SparkEntry.queries.size,
      "every registered query must carry an oracle (round-8 invariant)")
  }
}
