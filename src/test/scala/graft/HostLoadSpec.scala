package graft

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's host-load fields must themselves be trustworthy: the
  * /proc stat parse and the window delta math are pinned here.
  */
class HostLoadSpec extends AnyFunSuite {

  test("parseStatJiffies reads utime+stime past a hostile comm field") {
    // man proc(5): pid (comm) state ppid pgrp session tty tpgid flags
    // minflt cminflt majflt cmajflt utime stime ...
    val tail = "S 1 2 3 4 5 6 7 8 9 10" // state + 10 fields before utime
    assert(HostLoad.parseStatJiffies(s"42 (java) $tail 111 222 0 0 20")
      .contains(333L))
    // comm may embed spaces AND parentheses — fields come after the LAST ')'
    assert(HostLoad.parseStatJiffies(s"42 (my (weird) proc) $tail 7 13 0 0")
      .contains(20L))
    assert(HostLoad.parseStatJiffies("garbage with no paren").isEmpty)
    assert(HostLoad.parseStatJiffies("42 (short) S 1 2").isEmpty)
    assert(HostLoad.parseStatJiffies(s"42 (x) $tail notanum 5 0 0").isEmpty)
  }

  test("externalCores: common pids only, regressions clamp, fresh/vanished pids dropped") {
    val before = Map(1L -> 1000L, 2L -> 500L, 3L -> 9999L)
    val after = Map(1L -> 1400L, 2L -> 450L, 4L -> 800L)
    // pid 1: +400 jiffies; pid 2 regressed (reuse) -> 0; pid 3 vanished;
    // pid 4 fresh (no baseline) -> dropped. 400 jiffies / (4 s * 100 Hz)
    assert(HostLoad.externalCores(before, after, 4.0) == 1.0)
    assert(HostLoad.externalCores(before, before, 10.0) == 0.0)
    assert(HostLoad.externalCores(before, after, 0.0) == 0.0, "degenerate window guards")
  }

  test("steal metering: live /proc/stat counter, deltas, unavailability sentinel") {
    val s0 = HostLoad.stealJiffies()
    assert(s0 >= -1L)
    if (s0 >= 0) {
      val s1 = HostLoad.stealJiffies()
      assert(s1 >= s0, "steal counter is cumulative")
      // a 10 s window with a 100-jiffy delta is 0.1 cores at USER_HZ=100
      assert(math.abs(HostLoad.stealCores(1000L, 1100L, 10.0) - 0.1) < 1e-9)
    }
    assert(HostLoad.stealCores(-1L, 100L, 1.0) == -1.0)
    assert(HostLoad.stealCores(100L, -1L, 1.0) == -1.0)
    assert(HostLoad.stealCores(100L, 200L, 0.0) == -1.0)
    assert(HostLoad.stealCores(200L, 100L, 1.0) == 0.0, "counter regression clamps to zero")
  }

  test("live sampling: excludes self, deltas are non-negative and sane") {
    val self = ProcessHandle.current().pid()
    val s0 = HostLoad.sample()
    assert(!s0.contains(self), "own JVM must never count as external load")
    assert(s0.nonEmpty, "a Linux host always has neighbor processes")
    val cores = HostLoad.externalCores(s0, HostLoad.sample(), 0.5)
    assert(cores >= 0.0 && cores <= Runtime.getRuntime.availableProcessors() * 4.0,
      s"implausible external core estimate: $cores")
  }
}
