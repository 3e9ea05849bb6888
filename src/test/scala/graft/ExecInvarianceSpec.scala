package graft

/** The EXECUTION-CONFIG invariance rail: results must not depend on
  * shuffle fan-out, join strategy, or adaptive re-planning — the
  * session knobs that differ between the gate's fixed local config and
  * any real cluster deployment. The `exec` rail of `graft.SweepAll`
  * sweeps the full query surface; this spec pins the contract in CI on
  * the config-riskiest subset — every mechanism whose implementation
  * could see the partition topology.
  */
class ExecInvarianceSpec extends SparkSpec {

  /** Chosen adversarially, one per mechanism: partition-count
    * arithmetic (w03 surrogate keys, k01 prefix-sum packing, k02
    * round-robin shard deal), reduce-merge-order-sensitive aggregate
    * buffers (q01 decimal sums, d18 HLL/quantile sketches behind an
    * ε contract, d06 KMV min-set), window ties and tile cuts (w05,
    * w08 ntile), fully tie-broken top-k (q02), md5-permutation
    * sampling (t07), broadcast-vs-SMJ join duals (j06 forced off
    * broadcast, q08 double star), iterated driver loops whose per-round
    * frames re-partition (g01, t19 BPE), store build + cross-session
    * probe (d17), and a streaming replay whose state-store count
    * follows shuffle partitions (e04). */
  private val risky = Seq(
    "w03_surrogate_keys", "k01_token_packing", "k02_shard_assignment",
    "q01_pricing_summary", "d18_approx_sketch_gate", "d06_kmv_distinct",
    "w05_window_suite", "w08_ntile_quartiles", "q02_topk_orders",
    "t07_stratified_sample", "j06_broadcast_part_join", "q08_market_share",
    "g01_pagerank", "t19_bpe_iterated_merges", "d17_stored_incremental",
    "e04_stream_hourly")

  test("results are invariant under a cluster-like session config") {
    val alt = SweepAll.clusterLike(spark)
    try {
      val failed = risky.flatMap { n =>
        SweepAll.verdict(SparkEntry.queries(n), Seq(spark -> sfDir, alt -> sfDir))
          .left.toOption.map(why => s"$n: $why")
      }
      assert(failed.isEmpty,
        s"${failed.size} queries are config-sensitive:\n" + failed.mkString("\n"))
    } finally SessionCache.clear(alt)
  }
}
