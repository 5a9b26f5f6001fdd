package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[BenchGuard]]: the committed-baseline regression gate's thresholds
  * and its parse of the real committed artifacts. */
class BenchGuardSpec extends AnyFunSuite {
  private val base = Map("q01" -> 0.10, "g05" -> 4.0, "d09" -> 5.0)

  test("clean run passes") {
    assert(BenchGuard.check(100.0, base, base, 130.0).isEmpty)
  }

  test("per-query regression past max(2x, +0.5s) fails; jitter under the floor passes") {
    // 0.10 -> 0.55 is 5.5x but within the +0.5s jitter floor
    assert(BenchGuard.check(100.0, base + ("q01" -> 0.55), base, 130.0).isEmpty)
    // 0.10 -> 0.65 crosses both (>2x and >+0.5s)
    val v = BenchGuard.check(100.0, base + ("q01" -> 0.65), base, 130.0)
    assert(v.exists(_.contains("REGRESSED: q01")))
    // 4.0 -> 7.9 is under 2x -> passes; 4.0 -> 8.1 fails
    assert(BenchGuard.check(100.0, base + ("g05" -> 7.9), base, 130.0).isEmpty)
    assert(BenchGuard.check(100.0, base + ("g05" -> 8.1), base, 130.0)
      .exists(_.contains("REGRESSED: g05")))
  }

  test("a zero baseline entry gates on the +0.5s floor and reports n/a, not Infinityx") {
    val zb = base + ("q99" -> 0.0)
    assert(BenchGuard.check(100.0, zb + ("q99" -> 0.4), zb, 130.0).isEmpty)
    val v = BenchGuard.check(100.0, zb + ("q99" -> 0.6), zb, 130.0)
    assert(v.exists(l => l.contains("REGRESSED: q99") && l.contains("(n/a)")))
    assert(!v.exists(_.contains("Infinity")))
  }

  test("over-budget total fails even with no per-query regression") {
    val v = BenchGuard.check(131.0, base, base, 130.0)
    assert(v.size == 1 && v.head.startsWith("OVER BUDGET"))
  }

  test("a baseline query missing from the run fails; new queries do not") {
    assert(BenchGuard.check(100.0, base - "d09", base, 130.0)
      .exists(_.contains("MISSING from run: d09")))
    assert(BenchGuard.check(100.0, base + ("x99" -> 1.0), base, 130.0).isEmpty)
  }

  test("Bench.renderJson round-trips through BenchGuard's parser; filter stamp escapes and distinguishes subset runs") {
    val res = Seq("q01" -> 0.5, "d09" -> 2.25)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    // full-surface run: filter stamped as JSON null; load stamps default
    // to the degraded sentinel when not supplied
    val full = m.readTree(
      Bench.renderJson(res, "/sf", "32", None, "ts0", "h0"))
    assert(full.get("filter").isNull)
    assert(full.get("value").asDouble() == 2.75)
    assert(full.get("queries").get("d09").asDouble() == 2.25)
    assert(full.get("load_before").asText() == "unknown" &&
      full.get("load_after").asText() == "unknown")
    // load provenance: stamped verbatim (escaped — a hostile value must
    // not make the artifact unparseable), and the live reader yields the
    // three loadavg fields on this Linux host
    val ld = m.readTree(Bench.renderJson(res, "/sf", "32", None, "ts0", "h0",
      "0.12 0.34 0.56", "31.9 12.0\t1.1"))
    assert(ld.get("load_before").asText() == "0.12 0.34 0.56")
    assert(ld.get("load_after").asText() == "31.9 12.0\t1.1")
    // live-read probe: three loadavg fields where /proc/loadavg exists;
    // Bench.loadAvg deliberately degrades to the 'unknown' sentinel on
    // non-Linux hosts, which is a PASSING outcome here (the suite must
    // not fail on a host the production code explicitly handles)
    if (java.nio.file.Files.exists(java.nio.file.Paths.get("/proc/loadavg")))
      assert(Bench.loadAvg().matches("""[0-9.]+ [0-9.]+ [0-9.]+"""),
        s"live /proc/loadavg read drifted: ${Bench.loadAvg()}")
    else
      assert(Bench.loadAvg() == "unknown",
        s"off-Linux loadAvg must degrade to the sentinel: ${Bench.loadAvg()}")
    // subset run: regex with JSON-hostile chars survives escaping
    val sub = m.readTree(Bench.renderJson(res, "/sf", "32",
      Some("""^d\d+|say "hi""""), "ts0", "h0"))
    assert(sub.get("filter").asText() == """^d\d+|say "hi"""")
    // control chars (tab/newline pasted into an env var) must be
    // \u-escaped — Jackson rejects raw control chars, which would
    // discard the measurement; sfDir/host get the same treatment
    val ctl = m.readTree(Bench.renderJson(res, "/sf\"dir", "32",
      Some("a\tb\nc"), "ts0", "h"))
    assert(ctl.get("filter").asText() == "a\tb\nc")
    assert(ctl.get("sf").asText() == "/sf\"dir")
    assert(ctl.get("host").asText() == "h")
    // and the same bytes parse through the gate's own loader
    val p = java.nio.file.Files.createTempFile("bench_rt", ".json")
    java.nio.file.Files.writeString(p,
      Bench.renderJson(res, "/sf", "32", Some("d.*"), "ts0", "h0"))
    val (total, qs) = BenchGuard.load(p.toString)
    assert(total == 2.75 && qs == res.toMap)
    // a non-finite timing must not emit an unparseable artifact: NaN and
    // Infinity are not JSON number literals — they clamp to the -1
    // "measurement invalid" sentinel the error path already uses
    val nf = m.readTree(Bench.renderJson(
      Seq("q01" -> Double.NaN, "d09" -> Double.PositiveInfinity, "t01" -> 1.5),
      "/sf", "32", None, "ts0", "h0"))
    assert(nf.get("queries").get("q01").asDouble() == -1.0)
    assert(nf.get("queries").get("d09").asDouble() == -1.0)
    assert(nf.get("queries").get("t01").asDouble() == 1.5)
    assert(nf.get("value").asDouble() == -1.0) // NaN-poisoned sum clamps too
    // ...and the GATE rejects the sentinel rather than silently passing
    // it (a clamped -1 lowers the total, so without this arm a broken
    // measurement reads as a speedup); new-query sentinels flag too
    val base = Map("q01" -> 0.5, "d09" -> 2.0)
    val inv = BenchGuard.check(1.5, Map("q01" -> -1.0, "d09" -> 2.0, "x99" -> -1.0),
      base, 130.0)
    assert(inv.exists(_.contains("INVALID measurement (negative sentinel): q01")))
    assert(inv.exists(_.contains("INVALID measurement (negative sentinel): x99")))
    assert(BenchGuard.check(2.5, Map("q01" -> 0.5, "d09" -> 2.0), base, 130.0).isEmpty)
  }

  test("a throwing query is timed as the -1 sentinel, and the gate fails on it") {
    val t = Bench.timed(throw new RuntimeException("query failed"))
    assert(t == -1.0)
    assert(Bench.timed(()) >= 0.0)
    val base = Map("q01" -> 0.5, "d09" -> 2.0)
    val run = Map("q01" -> t, "d09" -> 2.0)
    assert(BenchGuard.check(run.values.sum, run, base, 130.0)
      .exists(_.contains("INVALID measurement (negative sentinel): q01")))
  }

  test("the committed baseline parses and covers the full query surface") {
    val (total, qs) = BenchGuard.load("bench_baseline.json")
    assert(total > 0 && total <= 130.0,
      s"committed baseline total $total must itself be inside the budget")
    assert(qs.size == SparkEntry.queries.size,
      s"baseline has ${qs.size} queries, surface has ${SparkEntry.queries.size} " +
        "— refresh bench_baseline.json after adding queries")
    assert(SparkEntry.queries.keySet == qs.keySet)
  }
}
