package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's measurement-defense machinery in isolation:
  * [[Bench.discardFlags]] replayed against the round-13 final-sweep
  * telemetry (the incident that motivated run-relative gates), and
  * [[Bench.forkedLine]]'s exception-HEAD capture (the r13 graded run
  * crashed three times and the artifact recorded only bottom-of-stack
  * frames, leaving the failure unexplainable). */
class BenchGateSpec extends AnyFunSuite {

  private def tele(steal: Double, sys: Double, idle: Double,
                   mid: Double): Bench.Tele =
    Bench.Tele(stealPct = steal, sysPct = sys, idlePct = idle,
      load1Before = 3.0, load1After = 10.0, quiesceWaitMs = 0L,
      memAvailMb = 120000L, cpuGateWaitMs = 0L, load1MidMax = mid)

  test("r13 final-sweep replay: the 118k fork is KEPT, the 42k fork is FLAGGED") {
    // the actual six wire forks of the r13 final sweep (BENCH_R13_RUNS
    // .jsonl sweep 4 + its one discarded run): the old absolute gates
    // discarded the FASTEST sample (118,824 ev/s — sys 41.4, marginally
    // over the absolute 40 cap) and kept the SLOWEST (42,493 ev/s, whose
    // contention telemetry is indistinguishable from its 107k siblings)
    val values = Seq(57942.0, 69622.0, 42493.0, 107250.0, 107364.0, 118824.0)
    val teles = Seq(
      tele(0.35, 31.79, 53.14, 19.32),
      tele(0.12, 28.51, 51.32, 19.32),
      tele(0.40, 28.83, 50.18, 25.69), // the 42k "idle-but-slow" fork
      tele(0.25, 31.31, 46.92, 24.89),
      tele(0.05, 29.38, 44.35, 22.93),
      tele(0.04, 41.40, 37.85, 14.09)) // the 118k fork the old gate killed
    val flags = Bench.discardFlags(values, teles, loadGated = true)
    assert(!flags(5), "the 118k fork (sys 41.4 vs run-median ~30: ratio " +
      "1.4 < 1.5) must be KEPT — it was the sweep's fastest sample")
    assert(flags(2), "the 42k fork (value under half the 107k run median, " +
      "clean contention telemetry) must be FLAGGED for a re-run")
    assert(!flags(3) && !flags(4), "the healthy 107k forks must be kept")
  }

  test("with 3+ samples the run-relative load rule is the ONLY load gate: mid 30 on a busy-median run is KEPT") {
    // three wire forks on a busy-but-consistent box: mids 26/28/30 would
    // all have tripped the old absolute 28-cap's neighborhood, but the
    // run median is 28 and 30 < 1.5×28 = 42 — no fork is load-flagged.
    // The absolute fallback (WireAbsMidCapFallback) must be unreachable
    // once a median exists.
    val flags = Bench.discardFlags(Seq(100000.0, 98000.0, 97000.0),
      Seq(tele(0.1, 25.0, 40.0, 26.0), tele(0.1, 26.0, 40.0, 28.0),
        tele(0.1, 24.0, 40.0, 30.0)), loadGated = true)
    assert(flags == Seq(false, false, false),
      "a healthy fork with load1_mid_max 30 must be KEPT when the run " +
        "median makes 30 unremarkable — the absolute cap is <3-samples-only")
    // and the fallback still protects a 2-sample leg: 30 > 28 flags there
    val two = Bench.discardFlags(Seq(100000.0, 98000.0),
      Seq(tele(0.1, 25.0, 40.0, 10.0), tele(0.1, 26.0, 40.0, 30.0)),
      loadGated = true)
    assert(two == Seq(false, true))
  }

  test("absolute fallbacks apply below 3 samples; steal is always absolute") {
    // two samples: no medians — sys falls back to >40, load to the cap
    val two = Bench.discardFlags(Seq(100.0, 90.0),
      Seq(tele(0.1, 45.0, 50.0, 10.0), tele(0.1, 30.0, 50.0, 30.0)),
      loadGated = true)
    assert(two == Seq(true, true)) // sys 45 > 40; mid 30 > fallback cap 28
    // steal > 1.5 flags regardless of the run's shape
    val st = Bench.discardFlags(Seq(100.0, 100.0, 100.0),
      Seq(tele(2.0, 20.0, 50.0, 10.0), tele(0.1, 20.0, 50.0, 10.0),
        tele(0.1, 20.0, 50.0, 10.0)), loadGated = false)
    assert(st == Seq(true, false, false))
    // a genuine kernel-time storm (r11 signature: 55-74% vs <=26% healthy)
    // still flags under the relative rule
    val storm = Bench.discardFlags(Seq(100.0, 100.0, 40.0),
      Seq(tele(0.1, 24.0, 50.0, 10.0), tele(0.1, 26.0, 50.0, 10.0),
        tele(0.1, 64.0, 20.0, 10.0)), loadGated = false)
    assert(storm == Seq(false, false, true))
    // batch/streaming legs (not load-gated): load never flags them even
    // at saturation-level mid-run load
    val batch = Bench.discardFlags(Seq(100.0, 100.0, 100.0),
      Seq(tele(0.1, 20.0, 10.0, 35.0), tele(0.1, 20.0, 10.0, 36.0),
        tele(0.1, 20.0, 10.0, 60.0)), loadGated = false)
    assert(batch == Seq(false, false, false))
  }

  test("a crashed fork's record names the exception class and message (head, not just tail)") {
    val r = Bench.forkedLine("graft.CrashForTest", Seq.empty, "\"never\"")
    assert(r.isLeft, "CrashForTest must exit non-zero")
    val msg = r.left.toOption.get
    assert(msg.contains("exception head:"), msg)
    assert(msg.contains("IllegalStateException"),
      s"the exception CLASS must be recoverable from the record: $msg")
    assert(msg.contains("deliberate bench-fork crash"),
      s"the exception MESSAGE must be recoverable from the record: $msg")
    assert(msg.contains("stderr tail:"), msg)
  }

  test("a fork that exits 0 without the marker still reports usably") {
    val r = Bench.forkedLine("graft.CrashForTest", Seq("clean"), "\"never\"")
    assert(r.isLeft)
    assert(r.left.toOption.get.contains("printed no"), r.left.toOption.get)
  }

  test("a HANGING fork is destroyed at the wall-clock cap, never waited on (r15 rc=124 mode)") {
    // the r15 driver run hung to the external rc=124 kill because
    // Process.! had no timeout — one dead fork must cost timeoutSec, not
    // the whole budget
    val t0 = System.nanoTime()
    val r = Bench.forkedLine("graft.HangForTest", Seq.empty, "\"never\"",
      timeoutSec = 3)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(r.isLeft)
    val msg = r.left.toOption.get
    assert(msg.contains("fork timeout after 3s"), msg)
    assert(msg.contains("destroyed"), msg)
    assert(elapsedSec < 30.0,
      f"the hanging fork must be cut at ~3s, took $elapsedSec%.1fs")
  }

  test("an RPC-boot death (exit 56 pre-marker) reports the exit code and exception head") {
    val r = Bench.forkedLine("graft.CrashForTest", Seq("exit56"), "\"never\"")
    assert(r.isLeft)
    val msg = r.left.toOption.get
    assert(msg.contains("exited 56"), msg)
    assert(msg.contains("awaitResult"),
      s"the boot exception must be recoverable from the record: $msg")
  }

  /** Runs a fork with fixed, quiet telemetry instead of the real
    * quiesce/CPU gates (60-90 s of host waits per fork). */
  private val ungated: (() => Bench.Sample) => (Bench.Sample, Bench.Tele) =
    fork => (fork(), tele(0.1, 20.0, 50.0, 10.0))

  test("runLeg fail-fasts after 2 consecutive fork failures: remaining forks skipped, leg environment-blocked") {
    var calls = 0
    val r = Bench.runLeg(5, "testleg", () => true, loadGated = false, ungated) {
      calls += 1; Left("boot crash")
    }
    assert(calls == 2, s"a dead environment must cost 2 forks, not 5 (got $calls)")
    assert(r.envBlocked)
    assert(r.window == "unknown")
    assert((3 to 5).forall(i => r.skipped.exists(_.contains(
      s"fork $i/5 (environment-blocked"))),
      s"forks 3..5 must be recorded as environment-blocked skips: ${r.skipped}")
    assert(r.failures == Seq("boot crash", "boot crash"))
    // a single failure followed by successes RESETS the counter — one
    // transient boot hiccup must not block the leg
    var calls2 = 0
    val r2 = Bench.runLeg(4, "testleg2", () => true, loadGated = false, ungated) {
      calls2 += 1
      if (calls2 == 1) Left("transient") else Right(s"""{"value":${100000 + calls2}}""")
    }
    assert(calls2 >= 4, s"one failure then successes must run the full leg")
    assert(!r2.envBlocked)
    assert(!r2.skipped.exists(_.contains("environment-blocked")), r2.skipped.toString)
    assert(r2.failures == Seq("transient"))
  }

  test("a crashed fork's cause lands under ingest_<leg>_failures in a strict-JSON artifact") {
    val r = Bench.runLeg(1, "wire", () => true, loadGated = true, ungated)(
      Bench.forkedLine("graft.CrashForTest", Seq.empty, "\"wire_ingest_throughput\""))
    val doc = Bench.artifact(Seq("q1_agg" -> 0.5), Map("wire" -> r), r.skipped,
      budgetMin = 45, elapsedSec = 12.0, sfDir = "/root/testdata/sf0.01",
      partial = false)
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(doc)
    assert(j.get("ingest_wire_events_per_sec").asDouble() == -1.0)
    val failures = j.get("ingest_wire_failures")
    assert(failures.size() == 1, doc)
    assert(failures.get(0).asText().contains("IllegalStateException"),
      s"the artifact must name the exception class: $failures")
    // legs that have not run yet are empty, and the stdout keys stay numbers
    assert(j.get("ingest_batch_failures").size() == 0)
    assert(j.get("ingest_events_per_sec").asDouble() == -1.0)
  }

  test("legWindow: clean/contended/unknown from the final samples' own telemetry") {
    val healthy = Seq(
      tele(0.1, 25.0, 55.0, 18.0), tele(0.2, 26.0, 54.0, 19.0),
      tele(0.1, 24.0, 56.0, 17.0))
    assert(Bench.legWindow(Seq(300e3, 310e3, 305e3), healthy,
      loadGated = true, keptFlagged = false) == "clean")
    // a kept flagged sample tags the leg even if the gates re-pass
    assert(Bench.legWindow(Seq(300e3, 310e3, 305e3), healthy,
      loadGated = true, keptFlagged = true) == "contended")
    // one sample under half the run median (idle-but-slow) tags contended
    assert(Bench.legWindow(Seq(300e3, 310e3, 86.9e3), healthy,
      loadGated = true, keptFlagged = false) == "contended")
    // steal on a final sample tags contended
    val steal = healthy.updated(2, tele(3.0, 25.0, 40.0, 18.0))
    assert(Bench.legWindow(Seq(300e3, 310e3, 305e3), steal,
      loadGated = true, keptFlagged = false) == "contended")
    // no positive samples: unknown, never a false clean
    assert(Bench.legWindow(Seq(-1.0, -1.0), healthy.take(2),
      loadGated = true, keptFlagged = false) == "unknown")
    assert(Bench.legWindow(Nil, Nil, loadGated = true, keptFlagged = false)
      == "unknown")
  }
}
