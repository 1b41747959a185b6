package graft

import org.scalatest.funsuite.AnyFunSuite

/** The VERDICT-r9 #7 gate: the cross-run warm-regression flag must
  * catch a PLANTED regression the warm<cold `noisy` test is blind to
  * (r9's stream_enrich: 2× warm vs every other run, but still under
  * its own cold time). Pure-function tests — no Spark session. */
class BenchDriftSpec extends AnyFunSuite {

  // a committed bench_last.json line, shape-identical to the writer's
  private val priorLine =
    """{"metric":"total","value":10.0,"unit":"sec","warm_total":6.0,""" +
      """"n_queries":3,"n_failed":0,"sf":"x","failed":[],"noisy":[],""" +
      """"slope_flagged":[],"warm_regressed":{},""" +
      """"queries":{"stream_enrich":2.087,"q1_agg":1.0,"tiny_q":0.2},""" +
      """"queries_warm":{"stream_enrich":1.846,"q1_agg":0.9,"tiny_q":0.1},""" +
      """"queries_slope":{}}"""

  test("parseWarm reads the writer's own shape") {
    val warm = BenchDrift.parseWarm(priorLine)
    assert(warm == Map("stream_enrich" -> 1.846, "q1_agg" -> 0.9, "tiny_q" -> 0.1))
  }

  test("a planted stream_enrich-style regression is flagged; noise is not") {
    val prior = BenchDrift.parseWarm(priorLine)
    val now = Seq(
      "stream_enrich" -> 4.04, // the r9 blind spot: 2.2x warm, warm < cold
      "q1_agg" -> 1.2,         // 1.33x — under Ratio, not flagged
      "tiny_q" -> 0.25)        // 2.5x but sub-floor timer noise
    val got = BenchDrift.regressed(prior, now)
    assert(got == Seq(("stream_enrich", 1.846, 4.04)))
  }

  test("missing prior entries and empty prior flag nothing") {
    assert(BenchDrift.regressed(Map.empty, Seq("a" -> 9.0)).isEmpty)
    assert(BenchDrift.regressed(Map("b" -> 1.0), Seq("a" -> 9.0)).isEmpty)
  }

  test("calib: fingerprint is positive and parse round-trips") {
    val ms = BenchDrift.calibMs()
    assert(ms > 0)
    assert(BenchDrift.parseCalib(s"""{"x":1,"calib_ms":$ms,"y":2}""")
      .contains(ms))
    assert(BenchDrift.parseCalib("""{"no":"calib"}""").isEmpty)
  }

  test("calib_par: parallel fingerprint is positive, parses, and a " +
    "contended-run flag is discounted") {
    val ms = BenchDrift.calibParMs(threads = 4) // small N: spec speed
    assert(ms > 0)
    assert(BenchDrift.parseNum(s"""{"calib_par_ms":$ms,"y":2}""", "calib_par_ms")
      .contains(ms))
    // the r10 incident shape: single-thread calib says the box is
    // FINE (0.877x) while the 32-way spin says it is contended —
    // the planted stream_enrich-style flag must be stamped
    // contention-suspect on exactly that evidence
    assert(BenchDrift.regressed(BenchDrift.parseWarm(priorLine),
      Seq("stream_enrich" -> 4.04)).nonEmpty) // flag still EMITTED...
    assert(BenchDrift.discountDrift(Some(1.22)))  // ...but discounted
    assert(!BenchDrift.discountDrift(Some(1.05))) // idle jitter: trusted
    assert(!BenchDrift.discountDrift(Some(0.85))) // faster box: trusted
    assert(!BenchDrift.discountDrift(None)) // no prior: nothing to claim
  }

  test("calib_scan: stamp parses, and the r11-continuation incident " +
    "shape is discounted (live probe: PlanSpec)") {
    assert(BenchDrift.parseNum("""{"calib_scan_ms":12.5}""", "calib_scan_ms")
      .contains(12.5))
    // the r11-continuation shape: BOTH spins flat (core + 32-way
    // throughput fine) while the scan path runs 1.5-4x — the flags
    // must be stamped suspect on the scan evidence alone
    assert(BenchDrift.discountDrift(Some(0.98), Some(1.6)))
    // either stamp suffices; neither stamp → trusted
    assert(BenchDrift.discountDrift(Some(1.22), Some(1.0)))
    assert(!BenchDrift.discountDrift(Some(0.98), Some(1.05)))
    assert(!BenchDrift.discountDrift(None, None))
  }

  test("a planted mid-run contention band clears on re-measure → transient") {
    // the r11 driver incident shape: a contiguous band of the
    // alphabetical sweep (here c..e) runs 3-16x while a box episode
    // lasts, then the box recovers before end-of-run
    val prior = Map("a" -> 1.0, "c" -> 1.0, "d" -> 2.0, "e" -> 1.0, "z" -> 1.0)
    val now = Seq("a" -> 1.05, "c" -> 6.0, "d" -> 9.0, "e" -> 4.0, "z" -> 1.1)
    val flags = BenchDrift.regressed(prior, now)
    assert(flags.map(_._1) == Seq("d", "c", "e")) // sorted by growth
    // episode over by re-measure time: c and e are back at prior,
    // d's re-measure FAILED (-1) — no evidence of clearing, persists
    val re = Map("c" -> 1.1, "d" -> -1.0, "e" -> 1.4)
    val (persistent, transient) = BenchDrift.splitTransient(flags, re)
    assert(transient == Seq(("c", 1.0, 6.0, 1.1), ("e", 1.0, 4.0, 1.4)))
    assert(persistent == Seq(("d", 2.0, 9.0)))
    // a re-measure still past prior*Ratio does NOT clear
    val (p2, t2) = BenchDrift.splitTransient(flags, Map("d" -> 3.5))
    assert(p2.map(_._1) == Seq("d", "c", "e") && t2.isEmpty)
    // no re-measure data at all: everything persists (conservative)
    val (p3, t3) = BenchDrift.splitTransient(flags, Map.empty)
    assert(p3 == flags && t3.isEmpty)
  }

  test("calib_shuffle: the r13 exchange fingerprint discounts the " +
    "shuffle-bound-box incident shape the other three stamps missed") {
    assert(BenchDrift.parseNum("""{"calib_shuffle_ms":412.7}""",
      "calib_shuffle_ms").contains(412.7))
    // the r13 shape: both spins FASTER (0.47), scan flat (0.88),
    // exchange path 2x slower — flags must be stamped suspect on the
    // shuffle evidence alone
    assert(BenchDrift.discountDrift(Some(0.47), Some(0.88), Some(2.0)))
    // any single stamp suffices; none -> trusted; missing prior
    // field (pre-r13 line) -> falls back to the other stamps
    assert(BenchDrift.discountDrift(Some(1.22), Some(1.0), Some(1.0)))
    assert(BenchDrift.discountDrift(Some(1.0), Some(1.6), Some(1.0)))
    assert(!BenchDrift.discountDrift(Some(1.0), Some(1.0), Some(1.05)))
    assert(!BenchDrift.discountDrift(None, None, None))
    assert(!BenchDrift.discountDrift(Some(0.9), Some(0.9), None))
  }

  test("a planted noisy+regressed query lands in warm_transient, not " +
    "warm_regressed (the r12 driver phantom class)") {
    // the r12 shape: dedup_minhash_lsh flagged 1.87->20.4 warm while
    // ALSO noisy (warm > cold — impossible absent external load);
    // its re-measure ran inside the same contention window and did
    // not clear, so the flag survived. With the noisy discount it
    // cannot: contention evidence beats a non-clearing re-measure.
    val prior = Map("dedup_minhash_lsh" -> 1.87, "steady" -> 1.0)
    val now = Seq("dedup_minhash_lsh" -> 20.4, "steady" -> 5.0)
    val flags = BenchDrift.regressed(prior, now)
    assert(flags.map(_._1).toSet == Set("dedup_minhash_lsh", "steady"))
    val re = Map("dedup_minhash_lsh" -> 18.0, "steady" -> 4.8) // still hot
    val (persistent, transient) = BenchDrift.splitTransient(flags, re,
      noisy = Set("dedup_minhash_lsh"), remeasureContended = false)
    assert(transient.map(_._1) == Seq("dedup_minhash_lsh"))
    assert(persistent.map(_._1) == Seq("steady")) // non-noisy: still real
  }

  test("a contended re-measure window cannot confirm its own phantoms: " +
    "remeasureContended moves every flag to transient") {
    val prior = Map("a" -> 1.0, "b" -> 1.0)
    val flags = BenchDrift.regressed(prior, Seq("a" -> 6.0, "b" -> 4.0))
    assert(flags.size == 2)
    // neither re-measure clears — but the pre-re-measure calib
    // re-read said the box was still contended, so non-clearing is
    // no evidence; both flags land in transient with their
    // (non-clearing) re-measured values carried for diagnostics
    val (persistent, transient) = BenchDrift.splitTransient(flags,
      Map("a" -> 5.5), noisy = Set.empty, remeasureContended = true)
    assert(persistent.isEmpty)
    assert(transient.map(_._1).toSet == Set("a", "b"))
    assert(transient.find(_._1 == "b").get._4 == -1.0) // missing re-measure
  }

  test("a prior taken at a different SF is ignored for drift (a local " +
    "small-SF smoke cannot phantom-flag the next sf0.1 run)") {
    assert(BenchDrift.parseStr(priorLine, "sf").contains("x"))
    assert(BenchDrift.priorWarmFor(priorLine, "x").nonEmpty)
    assert(BenchDrift.priorWarmFor(priorLine, "/root/testdata/sf0.1").isEmpty)
    // no sf field at all (pre-r13 line): conservative — still used
    assert(BenchDrift.priorWarmFor(
      """{"queries_warm":{"a":1.0}}""", "anything") == Map("a" -> 1.0))
  }

  test("the in-tree committed bench_last.json parses non-empty") {
    val p = java.nio.file.Paths.get("bench_last.json")
    assume(java.nio.file.Files.exists(p))
    val warm = BenchDrift.parseWarm(java.nio.file.Files.readString(p))
    assert(warm.nonEmpty)
    assert(warm.values.forall(_ >= 0))
  }

  test("once reports a failing query's root cause, not the wrapper") {
    val planted: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = (_, _) =>
      throw new RuntimeException("job aborted",
        new IllegalStateException("planted: no such column"))
    assert(Bench.once(SharedSpark.spark, planted, SharedSpark.sf) ==
      Left("java.lang.IllegalStateException: planted: no such column"))
    val ok = Bench.once(SharedSpark.spark,
      (s, d) => Tables.nation(s, d), SharedSpark.sf)
    assert(ok.exists(_ >= 0))
  }
}
