package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the robustness-sweep gate (round-14 judge item 2) the way
  * HostProbeSpec pins the bench record-freshness rail: the pure
  * validity predicate [[SweepReport.sweepValid]], including the
  * MUST-FAIL back-dated case, plus the artifact writer's structural
  * contract on real output. `tools/check.py`'s `SWEEPS_FRESH` gate
  * mirrors exactly this predicate (self-tested via
  * `python3 tools/check.py --selftest-sweeps`); this spec is the
  * normative twin.
  */
class SweepGateSpec extends AnyFunSuite {

  private val commit = "2026-08-16T08:04:47+00:00" // r14's last src/main commit
  private val before = "2026-08-16T08:00:00.000000000Z"
  private val after = "2026-08-16T09:00:00.000000000Z"

  test("sweepValid: a back-dated sweep artifact is refused (the gate fires)") {
    // the breach mode the rail exists for: code commits landed AFTER
    // the sweep ran, so the artifact proves nothing about HEAD
    val v = SweepReport.sweepValid(244, 244, Nil, Some(false), before, commit)
    assert(v.exists(_.contains("STALE")), s"expected STALE, got $v")
    // equality is NOT fresh (strict >), same as Bench.recordFresh
    assert(SweepReport.sweepValid(244, 244, Nil, Some(false),
      "2026-08-16T08:04:47Z", commit).isDefined)
  }

  test("sweepValid: fresh + full-count + clean + zero-failure passes") {
    assert(SweepReport.sweepValid(244, 244, Nil, Some(false), after, commit).isEmpty)
    // git-unknown dirtiness is accepted (None), matching check.py's
    // unverifiable branch — only a POSITIVE dirty verdict fails
    assert(SweepReport.sweepValid(244, 244, Nil, None, after, commit).isEmpty)
  }

  test("sweepValid: failures, short counts, and dirty trees each refuse independently") {
    assert(SweepReport.sweepValid(244, 244, Seq("d04_minhash_lsh"), Some(false),
      after, commit).exists(_.contains("failed")))
    // a sweep of fewer queries than the gate carries ran before a
    // surface change (or against a filtered subset) — stale either way
    assert(SweepReport.sweepValid(230, 244, Nil, Some(false), after, commit)
      .exists(_.contains("230")))
    assert(SweepReport.sweepValid(244, 244, Nil, Some(true), after, commit)
      .exists(_.contains("dirty")))
  }

  test("the artifact writer emits strict JSON carrying the gate's fields") {
    // a TEMP dir, not the committed sweeps/ rail directory: a crash
    // between write and cleanup must never strand a stray artifact next
    // to the gated ones (round-15 advice — write is dir-parameterized)
    val dir = java.nio.file.Files.createTempDirectory("sweepgate").toFile
    val f = new java.io.File(dir, "selftest.json")
    try {
      SweepReport.write("selftest", "/tmp/sf", 2,
        Seq("b\"quote", "a\\slash"),
        SweepReport.Provenance("2026-08-16T09:00:00Z", Some("deadbeef"), Some(false)),
        outDir = dir.getPath)
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(f.toPath)) // throws on invalid JSON
      for (k <- Seq("sweep", "sf_dir", "swept", "failed", "started_at",
                    "ended_at", "git_head", "last_src_commit", "src_main_dirty"))
        assert(root.has(k), s"artifact missing '$k'")
      assert(root.get("swept").asInt === 2)
      // failed list survives JSON escaping and is name-sorted
      assert(root.get("failed").size === 2)
      assert(root.get("failed").get(0).asText === "a\\slash")
      assert(root.get("failed").get(1).asText === "b\"quote")
    } finally { f.delete(); dir.delete(); () }
  }

  test("railNames is the six-sweep set check.py gates on") {
    assert(SweepReport.railNames ===
      Seq("empty", "null", "fuzz", "layout", "exec", "dup"))
  }

  test("check.py's SWEEP_NAMES list equals railNames") {
    val src = java.nio.file.Files.readString(java.nio.file.Paths.get("tools/check.py"))
    val list = """(?m)^SWEEP_NAMES\s*=\s*\[([^\]]*)\]""".r.findFirstMatchIn(src)
    assert(list.isDefined, "tools/check.py defines no SWEEP_NAMES list")
    val names = """["']([^"']*)["']""".r.findAllMatchIn(list.get.group(1)).map(_.group(1)).toSeq
    assert(names === SweepReport.railNames)
  }
}
