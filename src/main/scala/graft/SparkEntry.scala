package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.pipeline.PipelineQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the extension tier)
  * has an entry in [[queries]]; SQL-expressible ones also have a DuckDB
  * oracle in [[oracleSql]] with column names aligned to the Spark result.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** The harness session config, in ONE place: Bench and Perf must stay
    * config-identical or Perf's isolated numbers stop being comparable
    * to Bench's (round-9 advice — the block had been duplicated
    * verbatim and would drift silently).
    */
  def harnessSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Tungsten page size PINNED, not heap-derived: Spark sizes pages
      // as maxTungstenMemory/cores/16 clamped to [1m, 64m], so a 64 GB
      // heap gets 64 MB pages — and every operator instance allocates
      // (and the JVM zeroes) at least one page per task, which on this
      // workload's many-small-stage queries (streaming micro-batches,
      // iterated store builds) burned 11x the cold-pass CPU at 64 GB vs
      // 16 GB with identical plans (round-12 A/B: warmup 415.7 s at 64g
      // default, 37.2 s at 64g+4m; 54.8 → 42.4 s at 16g). Pinning makes
      // timings heap-size-insensitive and is the right call at cluster
      // scale too: 32 concurrent tasks x 4 MB pages spill-chunk fine at
      // our partition sizes, and executors with large heaps no longer
      // pay page-zeroing proportional to heap.
      .config("spark.buffer.pageSize", "4m")
      // Bypass-merge shuffle writer OFF (round-17, measured): with
      // reduce counts ≤ spark.shuffle.sort.bypassMergeThreshold
      // (default 200) every map task writes one file PER REDUCE
      // PARTITION — at local[32]×32 that is 1024 stream
      // opens/inits/closes + a concat pass per exchange, a fixed
      // ~8-10 cpu-s tax on EVERY shuffle regardless of rows (probed:
      // a 7200-record window exchange cost 10.2 cpu-s in the map
      // stage, 3.0 s of it in shuffle write; with bypass off the same
      // stage is 0.21 cpu-s — 50×). Threshold 1 routes all exchanges
      // through the serialized UnsafeShuffleWriter (one file per map
      // task), which is ALSO the only path a production cluster takes
      // — reduce counts in the thousands never bypass — so the local
      // bench now exercises the cluster's writer instead of a
      // small-fanout special case (same class as the pinned
      // spark.buffer.pageSize above).
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // Generated-class cache size PINNED above the engine's working set
      // (perfbench, 4 cores): one etl_month pass generates ~240 distinct
      // classes and one query_mix pass 120-143, against Spark's default
      // cache of 100. A cyclic working set larger than an LRU cache
      // misses on every lookup, so at the default every warm pass
      // recompiled every whole-stage class (etl_month: 241 Janino
      // compiles, 4.2 s of compile plus 21 s of JIT out of 34 cpu-s).
      // 1000 is 4x the largest measured set; a retained entry costs
      // ~45 KB of heap, ~45 MB when full. Spark reads this static conf
      // ONCE per JVM, when CodeGenerator is first initialized, so it only
      // takes effect if set on the first session the JVM builds.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toString)
      .getOrCreate()
  }

  /** `spark.sql.codegen.cache.maxEntries` of the harness and test
    * sessions; see the pin in [[harnessSession]]. */
  val CodegenCacheMaxEntries: Int = 1000

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Relational.queries, Relational.oracles),
      (Curation.queries, Curation.oracles),
      (TextAnalysis.queries, TextAnalysis.oracles),
      (VectorSearch.queries, VectorSearch.oracles),
      (MinHash.queries, MinHash.oracles),
      (CosineLsh.queries, CosineLsh.oracles),
      (Ivf.queries, Ivf.oracles),
      (Multimodal.queries, Multimodal.oracles),
      (Skew.queries, Skew.oracles),
      (Graph.queries, Graph.oracles),
      (Cdc.queries, Cdc.oracles),
      (AsOf.queries, AsOf.oracles),
      (Sketches.queries, Sketches.oracles),
      (Events.queries, Events.oracles),
      (PipelineQueries.queries, PipelineQueries.oracles))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)
}
