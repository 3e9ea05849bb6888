package graft

/** Machine-readable artifacts + freshness predicate for the six
  * robustness rails run by [[SweepAll]] — round-14 judge item 2: the
  * sweeps were manual mains whose results lived only in prose, so nothing
  * failed a round that skipped them or ran them against stale code.
  * This mirrors the bench-of-record mechanism exactly: each sweep run
  * writes `sweeps/<name>.json` in the repo root (committed with the
  * round) carrying its verdict AND its code provenance
  * (`started_at`, `git_head`, `src_main_dirty`), and `tools/check.py`
  * re-evaluates the COMMITTED copies against current git at check time
  * (`SWEEPS_FRESH=` in the summary line) — stale-HEAD, dirty-tree,
  * short-count, or non-empty-failure artifacts fail the round
  * mechanically, the way RECORD_FRESH already fails a stale bench.
  *
  * The validity predicate ([[sweepValid]]) is pure so SweepGateSpec can
  * pin it — including the must-fail back-dated case — and so
  * check.py's Python mirror (`sweep_problem`, self-tested via
  * `tools/check.py --selftest-sweeps`) has a normative twin.
  */
object SweepReport {

  /** The rail names, in run order: [[SweepAll.rails]]' names. check.py
    * gates on exactly this set; a missing artifact is a rail failure,
    * not a skip. */
  def railNames: Seq[String] = SweepAll.rails.map(_.name)

  /** Pure sweep-artifact validity: None when the artifact is a valid,
    * fresh rail pass; Some(reason) otherwise. Mirrors
    * [[Bench.recordFresh]]'s check-time semantics — the breach mode is
    * commits landing AFTER the run, so freshness is evaluated against
    * the CURRENT last src/main commit, not the one recorded at run
    * time.
    *
    * @param swept     queries the sweep executed
    * @param expected  queries the correctness gate currently carries —
    *                  a sweep of fewer queries (run before a surface
    *                  change, or against a filtered subset) is stale
    * @param failed    per-query failures recorded by the sweep
    * @param srcMainDirty tree state at run time (None = git unknown)
    * @param startedAtIso sweep start (`Instant.toString`)
    * @param lastCommitIso last src/main commit (`git %cI`) at CHECK time
    */
  def sweepValid(swept: Int, expected: Int, failed: Seq[String],
                 srcMainDirty: Option[Boolean],
                 startedAtIso: String, lastCommitIso: String): Option[String] =
    if (failed.nonEmpty)
      Some(s"${failed.size} queries failed: ${failed.sorted.take(5).mkString(",")}")
    else if (swept != expected)
      Some(s"swept $swept queries but the gate carries $expected")
    else if (srcMainDirty.contains(true))
      Some("run from a dirty src/main tree (no commit identifies the code)")
    else if (!Bench.recordFresh(startedAtIso, lastCommitIso))
      Some(s"STALE: started_at $startedAtIso does not postdate the last " +
        s"src/main commit $lastCommitIso — re-run the sweep after the final " +
        "code commit")
    else None

  /** Code provenance sampled at sweep START (same discipline as the
    * bench record, which samples before any Spark work): the code a run
    * executes is fixed at compile/launch time, so a tree that was dirty
    * at start but reverted mid-run must still record dirty — sampling
    * at artifact-write time (the first implementation) would miss it.
    */
  final case class Provenance(startedAtIso: String, gitHead: Option[String],
                              srcMainDirty: Option[Boolean])

  /** Capture provenance NOW — call before building the Spark session. */
  def capture(): Provenance =
    Provenance(java.time.Instant.now().toString,
      Bench.gitHeadSha(), Bench.srcMainDirty())

  /** Write `<outDir>/<sweep>.json` with the verdict + the same
    * provenance block the bench record carries. Failures are recorded
    * verbatim — a failing sweep still writes its artifact (and then
    * exits 1), so the committed history shows WHAT failed, not just
    * that a run was skipped.
    *
    * `outDir` defaults to the committed rail directory (`sweeps/`,
    * relative to the launch CWD — the repo root under sbt); tests pass
    * a temp dir so an exercise of this writer can never strand a stray
    * file next to the committed artifacts (round-15 advice). */
  def write(sweep: String, sfDir: String, swept: Int, failed: Seq[String],
            prov: Provenance, outDir: String = "sweeps"): Unit = {
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    def jstr(s: String): String = "\"" + Bench.jsonEscape(s) + "\""
    val json =
      s"""{"sweep":${jstr(sweep)},"sf_dir":${jstr(sfDir)},""" +
        s""""swept":$swept,""" +
        s""""failed":${failed.sorted.map(jstr).mkString("[", ",", "]")},""" +
        s""""started_at":${jstr(prov.startedAtIso)},""" +
        s""""ended_at":${jstr(java.time.Instant.now().toString)},""" +
        s""""git_head":${prov.gitHead.map(jstr).getOrElse("null")},""" +
        s""""last_src_commit":${Bench.lastSrcMainCommitIso().map(jstr).getOrElse("null")},""" +
        s""""src_main_dirty":${prov.srcMainDirty.map(_.toString).getOrElse("null")}}"""
    val p = new java.io.PrintWriter(new java.io.File(dir, s"$sweep.json"), "UTF-8")
    try p.println(json) finally p.close()
  }
}
