package graft

/** The NULL-INJECTION robustness rail: queries must complete (possibly
  * with different rows — nulls are data) and never throw when optional
  * fields carry nulls, the regime the essentially-null-free gate
  * tables never exercise. The `null` rail of `graft.SweepAll` sweeps
  * the full query surface; this spec pins the contract in CI on the
  * null-riskiest subset.
  */
class NullInputSpec extends SparkSpec {

  /** The seven queries the first sweep caught throwing (typed encoders
    * with primitive fields — e22/m06; decode-stub NPEs — m02/m03; an
    * ANSI array index on a null-shortened text line — s23; driver-side
    * getDouble on a stats-less file — s21; a null map key — x15), plus
    * the hand-written-tier carriers that proved null-safe and must
    * stay so: custom TypedImperativeAggregates (d06 KMV, d12 CountMin),
    * the codegen'd dot product under null embeddings (v01), a
    * driver-side iterated loop (t19 BPE), and the as-of window under
    * null match times (j13). */
  private val risky = Seq(
    "e22_stream_running_totals", "m02_fake_decode", "m03_frame_sample",
    "m06_batched_decode", "s21_stats_pruned_scan", "s23_text_roundtrip",
    "x15_map_ops", "d06_kmv_distinct", "d12_count_min", "v01_ann_bruteforce_topk",
    "t19_bpe_iterated_merges", "j13_asof_join")

  test("null-riskiest queries complete without throwing on a null-injected mirror") {
    val mirror = "target/scratch/sf_null_spec"
    SweepAll.mirrorNulled(spark, sfDir, mirror, rate = 7)
    val failed = risky.flatMap { n =>
      try { SparkEntry.queries(n)(spark, mirror).collect(); None }
      catch {
        case e: Throwable => Some(s"$n: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
      }
    }
    SessionCache.release(spark, _.contains(mirror))
    assert(failed.isEmpty,
      s"${failed.size} queries throw on null-injected input:\n" + failed.mkString("\n"))
  }
}
