package graft

/** The PHYSICAL-LAYOUT invariance rail: results must not depend on how
  * the input tables are split into files — the property that lets the
  * same query run on the gate's single-split parquet and on a
  * 1000-executor cluster's many-thousand-split layout and publish the
  * same rows. The `layout` rail of `graft.SweepAll` sweeps the full
  * query surface; this spec pins the contract in CI on the
  * layout-riskiest subset — every query family whose implementation
  * touches partition ids, physical row order, top-k cuts, sampling
  * permutations, file-level artifacts, or iterated driver loops.
  */
class LayoutInvarianceSpec extends SparkSpec {

  /** Chosen adversarially, one per mechanism: partition-offset prefix
    * sums (w03 surrogate keys, k01 packing, k03 sequences), keep-first
    * dedup windows (a07), md5-permutation sampling (t07, k05), fully
    * tie-broken top-k (q02, t06), BPE's iterated driver-side merge loop
    * (t19), file-artifact queries that derive their own layout (s20
    * sorted shards, s24 compaction digest), graph fixed-point loops
    * (g01), as-of windows (j13), store build + probe (d17), and a
    * streaming replay (e04). */
  private val risky = Seq(
    "w03_surrogate_keys", "k01_token_packing", "k03_packed_sequences",
    "a07_dedup_keep_first", "t07_stratified_sample", "k05_stratified_sample",
    "q02_topk_orders", "t06_top_terms", "t19_bpe_iterated_merges",
    "s20_sorted_shards", "s24_compaction", "g01_pagerank",
    "j13_asof_join", "d17_stored_incremental", "e04_stream_hourly")

  test("results are invariant under a multi-split rewrite of every table") {
    val mirror = "target/scratch/sf_layout_spec"
    SweepAll.mirrorSplit(spark, sfDir, mirror, splits = 7)
    val failed = risky.flatMap { n =>
      SweepAll.verdict(SparkEntry.queries(n), Seq(spark -> sfDir, spark -> mirror))
        .left.toOption.map(why => s"$n: $why")
    }
    SessionCache.release(spark, _.contains(mirror))
    assert(failed.isEmpty,
      s"${failed.size} queries are layout-sensitive:\n" + failed.mkString("\n"))
  }
}
