package graft

/** The DUPLICATE-ROW robustness rail: queries must complete (possibly
  * with different rows — replayed records are data) and never throw
  * when ~1/7 of input rows arrive twice, the at-least-once-delivery
  * regime the key-unique gate tables never exercise. The `dup` rail of
  * `graft.SweepAll` sweeps the full query surface; this spec pins the
  * contract in CI on the duplicate-riskiest subset: operators that
  * ASSUME key uniqueness somewhere in their contract.
  */
class DupInputSpec extends SparkSpec {

  /** Uniqueness-assuming carriers: keep-first dedup whose tiebreak now
    * has true ties (a07), the scalable surrogate build over ambiguous
    * naturals (w03), persisted/evolving upsert stores seeing one key
    * twice in a batch (d17/d19/d22), the dedup audit's bookkeeping
    * (d20), CDC chunking over replayed segments (d16), the incremental
    * funnel's batch arithmetic (c03), the star-schema some-row-wins
    * update (p05), and the exact-dedup base case itself (d01). */
  private val risky = Seq(
    "a07_dedup_keep_first", "w03_surrogate_keys", "d17_stored_incremental",
    "d19_evolving_store", "d22_streaming_store_dedup", "d20_dedup_audit",
    "d16_cdc_chunk_dedup", "c03_incremental_funnel", "p05_star_city",
    "d01_dedup_exact")

  test("duplicate-riskiest queries complete without throwing on a row-replayed mirror") {
    val mirror = "target/scratch/sf_dup_spec"
    SweepAll.mirrorDuped(spark, sfDir, mirror, rate = 7)
    val failed = risky.flatMap { n =>
      try { SparkEntry.queries(n)(spark, mirror).collect(); None }
      catch {
        case e: Throwable => Some(s"$n: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
      }
    }
    SessionCache.release(spark, _.contains(mirror))
    assert(failed.isEmpty,
      s"${failed.size} queries throw on duplicate-row input:\n" + failed.mkString("\n"))
  }

  test("the duped mirror actually carries duplicates (the regime is real)") {
    val mirror = "target/scratch/sf_dup_spec"
    SweepAll.mirrorDuped(spark, sfDir, mirror, rate = 7)
    val docs = Tables.load(spark, mirror, "documents")
    val total = docs.count()
    val distinct = docs.distinct().count()
    assert(total > distinct, s"mirror has no duplicate rows ($total rows, $distinct distinct)")
    // ~1/7 duplicated: assert the rate is in a sane band, not degenerate
    val frac = (total - distinct).toDouble / distinct
    assert(frac > 0.05 && frac < 0.30, s"duplication rate off: $frac")
  }
}
