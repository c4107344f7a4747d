package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's host-contention telemetry (/proc readers + JSON emission)
  * exists so a depressed graded sample carries its own explanation — these
  * checks pin the parse of the kernel formats it depends on. */
class BenchTelemetrySpec extends AnyFunSuite {

  test("/proc/stat aggregate cpu line parses to positive jiffy counters") {
    val (total, steal, sys, idle) = Bench.cpuJiffies()
    assert(total > 0, "total jiffies")
    assert(steal >= 0 && steal <= total)
    assert(sys > 0 && sys <= total)
    assert(idle > 0 && idle <= total)
  }

  test("/proc/loadavg and /proc/meminfo parse") {
    assert(Bench.load1() >= 0.0)
    assert(Bench.memAvailableKb() > 0L)
  }

  test("telemetry JSON fragment is valid JSON with the documented keys") {
    val t = Bench.Tele(stealPct = 1.25, sysPct = 10.5, idlePct = 42.0,
      load1Before = 0.5, load1After = 3.25, quiesceWaitMs = 1500,
      memAvailMb = 120000, cpuGateWaitMs = 250,
      load1MidMax = 17.5, busyH1Pct = 44.0, busyH2Pct = 91.0)
    val j = Bench.teleJson(t)
    // strict key set: the verdict reads these names
    for (k <- Seq("steal_pct", "sys_pct", "idle_pct", "load1_before",
        "load1_after", "quiesce_wait_ms", "mem_avail_mb", "cpu_gate_wait_ms",
        "load1_mid_max", "busy_h1_pct", "busy_h2_pct"))
      assert(j.contains("\"" + k + "\":"), s"missing $k in $j")
    assert(j.startsWith("{") && j.endsWith("}"))
    assert(j.contains("\"steal_pct\":1.25"))
    assert(j.contains("\"quiesce_wait_ms\":1500"))
    assert(j.contains("\"load1_mid_max\":17.50"))
    // no NaN/Infinity leakage (invalid JSON)
    assert(!j.contains("NaN") && !j.contains("Infinity"))
  }
}
