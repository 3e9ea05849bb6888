package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import graft.{Bench, SessionCache, SparkEntry}
import graft.pipeline._

/** The benchmark's JVM side: one closed-loop client that runs a workload's
  * operations one after another in a fresh session and writes a JSON
  * record of what it measured. `perfbench/run.py` builds, launches and
  * checks it; see perfbench/README.md for the workloads and metrics.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1> <seed> <launchEpochMs>
  *
  * One op is one call into the program followed by materialization of
  * its result. Every op is split into three timed phases:
  *  - construct: the public builder call (`SparkEntry.queries(n)`,
  *    `*Prep.staging`, `StarSchema.*`, `Analytics.q*`), which includes
  *    any eager Spark jobs the builder runs;
  *  - plan: `queryExecution.executedPlan` of the materializing frame
  *    (analysis, optimization, physical planning, GraftExtensions);
  *  - action: executing that planned frame. Writes plan inside the
  *    action, so their plan phase is empty.
  */
object Harness {

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime

  /** The aggregate `Bench.forceAll` runs — xxhash64 of every output
    * column, bit_xor over rows — but returning its value, so that the
    * timed materialization is also the result's fingerprint
    * (`forceAll` itself returns Unit). */
  def fingerprintFrame(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("__h"))
      .agg(expr("bit_xor(__h)"))

  /** An operation: `construct` calls into the program. The built frame
    * is then either written (`write`), or turned into a small frame by
    * `result` whose collected rows are the op's fingerprint. */
  final case class Op(name: String, construct: () => DataFrame,
                      write: Option[DataFrame => Unit] = None,
                      result: DataFrame => DataFrame = fingerprintFrame)

  final case class OpResult(name: String, pass: Int, ok: Boolean, error: String,
                            wallNs: Long, cpuNs: Long, constructNs: Long,
                            planNs: Long, actionNs: Long, fingerprint: String,
                            startMs: Long, endMs: Long)

  // ---- workloads ------------------------------------------------------

  /** The query_mix pass: one query per family of the planned sql_adhoc
    * (q, j, a, w, x, f) and stream_replay (e) workloads, e split into its
    * batch queries and its bounded streaming replays. Each is the query
    * at its group's median warm wall time (the lower middle for
    * even-sized groups), ranked over one traced pass of all 99 queries.
    * perfbench/README.md gives the ranking and checks the mix's profile
    * against the full families'. */
  val QueryMix: Seq[String] = Seq(
    "q11_important_stock", "j13_asof_join", "a11_cube", "w01_window_group_avg",
    "x11_array_ops", "f05_null_cleaning", "e06_json_props", "e22_stream_running_totals")

  /** The etl_month pass: the reference pipeline in its dependency order —
    * staging tables from the raw CSVs, star tables from the staging
    * tables, the 10 validations and README Q1-Q3 over the star tables. */
  def etlOps(spark: SparkSession, in: String, out: String): Seq[Op] = {
    def read(t: String): DataFrame = spark.read.parquet(s"$out/$t")
    def writeTo(t: String, partitions: String*): DataFrame => Unit =
      df => df.write.mode("overwrite").partitionBy(partitions: _*).parquet(s"$out/$t")
    def staging(): Pipeline.Staging = Pipeline.Staging(read("staging_airports"),
      read("staging_cities"), read("staging_temperatures"), read("staging_travelers"))
    def star(): StarSchema.Star = StarSchema.Star(read("visa_codes"), read("city"),
      read("airports"), read("temperatures"), read("statistics"), read("travelers"))
    Seq(
      Op("prep_airports", () => AirportsPrep.staging(spark, s"$in/airport-codes_csv.csv"),
        Some(writeTo("staging_airports"))),
      Op("prep_cities", () => CitiesPrep.staging(spark, s"$in/us-cities-demographics.csv"),
        Some(writeTo("staging_cities"))),
      Op("prep_temperatures", () => TempsPrep.staging(spark, s"$in/GlobalLandTemperaturesByCity.csv"),
        Some(writeTo("staging_temperatures"))),
      Op("prep_travelers", () => TravelersPrep.staging(spark, s"$in/immigration_data_sample.csv"),
        Some(writeTo("staging_travelers"))),
      Op("star_visa_codes", () => StarSchema.visaCodes(spark), Some(writeTo("visa_codes"))),
      Op("star_city", () => StarSchema.city(read("staging_airports")), Some(writeTo("city"))),
      Op("star_airports", () => StarSchema.airports(read("staging_airports"), read("city")),
        Some(writeTo("airports"))),
      Op("star_temperatures", () => StarSchema.temperatures(read("staging_temperatures"), read("city")),
        Some(writeTo("temperatures"))),
      Op("star_statistics", () => StarSchema.statistics(read("staging_cities"), read("city")),
        Some(writeTo("statistics"))),
      Op("star_travelers", () => StarSchema.travelers(read("staging_travelers"), read("airports")),
        Some(writeTo("travelers", "p_arrival_year", "p_arrival_month"))),
      Op("validate", () => Pipeline.validationCounts(spark, Some((staging(), star()))),
        result = identity),
      Op("q1", () => Analytics.q1(star())),
      Op("q2", () => Analytics.q2(star())),
      Op("q3", () => Analytics.q3(star())))
  }

  // ---- one op ---------------------------------------------------------

  def runOp(spark: SparkSession, op: Op, pass: Int, tracer: Option[Tracer])
      : (OpResult, Option[DataFrame]) = {
    val sc = spark.sparkContext
    val id = s"$pass:${op.name}"
    tracer.foreach(_.opStart(id))
    def phase(p: String): Unit = if (tracer.isDefined) {
      sc.setLocalProperty(Tracer.OpKey, id)
      sc.setLocalProperty(Tracer.PhaseKey, p)
    }
    val startMs = System.currentTimeMillis()
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    var t1 = t0
    var t2 = t0
    var built: Option[DataFrame] = None
    val (ok, err, fp) =
      try {
        phase("construct")
        val df = op.construct()
        built = Some(df)
        t1 = System.nanoTime()
        op.write match {
          case Some(w) =>
            t2 = t1
            phase("action")
            w(df)
            (true, "", "")
          case None =>
            phase("plan")
            val f = op.result(df)
            f.queryExecution.executedPlan
            t2 = System.nanoTime()
            phase("action")
            (true, "", f.collect().map(_.mkString("=")).mkString(","))
        }
      } catch {
        case e: Throwable =>
          (false, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", "")
      } finally {
        if (tracer.isDefined) {
          sc.setLocalProperty(Tracer.OpKey, null)
          sc.setLocalProperty(Tracer.PhaseKey, null)
        }
      }
    val t3 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val res = OpResult(op.name, pass, ok, err, t3 - t0, cpuNs() - c0, t1 - t0,
      t2 - t1, t3 - t2, fp, startMs, endMs)
    tracer.foreach(_.opEnd(res))
    (res, built)
  }

  // ---- main -----------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsArg, traceArg, seedArg, launchMsArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val seed = seedArg.toLong
    val sysBusy0 = Bench.systemBusySec()
    val sysSteal0 = Bench.systemStealSec()
    val cpu0 = cpuNs()

    // ---- set-up: session start plus JIT warm-up (the Bench warm-up)
    val spark = SparkEntry.harnessSession()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(2000000).selectExpr("sum(id * 2)").head()
    fingerprintFrame(spark.range(1000).toDF()).collect()
    val readyMs = System.currentTimeMillis()
    // process CPU since the JVM started: the set-up's work, which host
    // steal stretches far less than its wall time
    val setupCpuS = cpuNs() / 1e9
    val cores = spark.sparkContext.defaultParallelism

    val tracer = if (traced) Some(new Tracer(spark, cores)) else None
    val etlOut = s"$outDir/etl"
    val ops: Seq[Op] =
      if (workload == "etl_month") etlOps(spark, dataDir, etlOut)
      else QueryMix.map { n =>
        val fn = SparkEntry.queries(n)
        Op(n, () => fn(spark, dataDir))
      }
    // the seed orders the queries within each pass; the ETL keeps its
    // dependency order
    def order(pass: Int): Seq[Op] =
      if (workload == "etl_month") ops
      else new scala.util.Random(seed * 1000003L + pass).shuffle(ops)

    val results = ArrayBuffer.empty[OpResult]
    // each op's frame from its latest run: the output checks write these
    // instead of calling the builders again
    val lastBuilt = scala.collection.mutable.Map.empty[String, DataFrame]
    final case class PassRec(pass: Int, kind: String, traced: Boolean, wallNs: Long, cpuNs: Long)
    val passes = ArrayBuffer.empty[PassRec]
    def runPass(pass: Int, kind: String, withTrace: Boolean): Long = {
      val tr = if (withTrace) tracer else None
      tr.foreach(_.passStart())
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      for (op <- order(pass)) {
        val (r, built) = runOp(spark, op, pass, tr)
        results += r
        built.foreach(lastBuilt(op.name) = _)
      }
      val wall = System.nanoTime() - t0
      val cpu = cpuNs() - c0
      tr.foreach(_.passEnd(pass, wall, cpu))
      passes += PassRec(pass, kind, withTrace, wall, cpu)
      wall
    }

    // ---- cold pass: the first pass in this JVM
    runPass(0, "cold", traced)
    // ---- warm passes for `seconds`, at least one. A traced run measures
    // its own overhead on pairs of one traced and one untraced pass, at
    // least two pairs. The order within a pair alternates (traced first,
    // then untraced first, ...), so that the drift of a still-warming JVM
    // cancels out of the pairs' median as far as it is linear.
    val w0 = System.nanoTime()
    def timeLeft = (System.nanoTime() - w0) / 1e9 < seconds
    if (!traced) {
      var pass = 1
      while (pass == 1 || timeLeft) {
        runPass(pass, "warm", withTrace = false)
        pass += 1
      }
    } else {
      var pair = 0
      while (pair < 2 || timeLeft) {
        runPass(1 + 2 * pair, "warm", withTrace = pair % 2 == 0)
        runPass(2 + 2 * pair, "warm", withTrace = pair % 2 == 1)
        pair += 1
      }
    }

    // ---- end state: heap after a full GC, and the RDD blocks that
    // persisted or checkpointed frames still hold (broadcast and shuffle
    // blocks are not counted). The ContextCleaner drops unreachable
    // frames' blocks only after a GC has found them, on its own thread:
    // collect, let it drain, collect again.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heapLiveMb = {
      val h = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      h.getUsed / 1048576.0
    }
    val sc = spark.sparkContext
    val rddStorage = sc.getRDDStorageInfo
    val cacheMb = rddStorage.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val cachedRdds = rddStorage.length
    val cpuRun = (cpuNs() - cpu0) / 1e9
    val otherCpu = for (b0 <- sysBusy0; b1 <- Bench.systemBusySec())
      yield math.max(0.0, (b1 - b0) - cpuRun)
    val steal = for (s0 <- sysSteal0; s1 <- Bench.systemStealSec()) yield math.max(0.0, s1 - s0)

    // ---- untimed output dumps for run.py's checks
    val dumps = for (op <- ops if workload != "etl_month" || op.name.startsWith("q")) yield {
      val status =
        try {
          lastBuilt.getOrElse(op.name, op.construct()).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/results/${op.name}")
          "ok"
        } catch { case e: Throwable => s"error: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
      (op.name, status)
    }
    val layers = tracer.map { t => t.flush(); t.writeSpans(s"$outDir/spans.jsonl"); t.layers() }
      .getOrElse(Map.empty[Int, Map[String, Double]])

    // ---- record
    import Json._
    val record = obj(
      "workload" -> str(workload), "seed" -> num(seed.toDouble), "traced" -> bool(traced),
      "ready_ms" -> num(readyMs.toDouble), "launch_ms" -> num(launchMsArg.toDouble),
      "setup_cpu_s" -> num(setupCpuS),
      "provenance" -> obj(
        "nproc" -> num(Runtime.getRuntime.availableProcessors().toDouble),
        "cores" -> num(cores.toDouble),
        "max_heap_mb" -> num(Runtime.getRuntime.maxMemory() / 1048576.0),
        "spark" -> str(spark.version), "jdk" -> str(System.getProperty("java.version")),
        "git_head" -> opt(Bench.gitHeadSha().map(str)),
        "src_main_dirty" -> opt(Bench.srcMainDirty().map(bool)),
        "other_cpu_s" -> opt(otherCpu.map(num)), "steal_s" -> opt(steal.map(num))),
      "end" -> obj("heap_live_mb" -> num(heapLiveMb), "cache_mb" -> num(cacheMb),
        "cached_rdds" -> num(cachedRdds.toDouble)),
      "passes" -> arr(passes.toSeq.map(p => obj("pass" -> num(p.pass.toDouble), "kind" -> str(p.kind),
        "traced" -> bool(p.traced), "wall_s" -> num(p.wallNs / 1e9), "cpu_s" -> num(p.cpuNs / 1e9),
        "layer" -> obj(layers.getOrElse(p.pass, Map.empty[String, Double]).toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)))),
      "ops" -> arr(results.toSeq.map(r => obj("name" -> str(r.name), "pass" -> num(r.pass.toDouble),
        "ok" -> bool(r.ok), "error" -> str(r.error), "wall_ms" -> num(r.wallNs / 1e6),
        "cpu_ms" -> num(r.cpuNs / 1e6), "construct_ms" -> num(r.constructNs / 1e6),
        "plan_ms" -> num(r.planNs / 1e6), "action_ms" -> num(r.actionNs / 1e6),
        "fingerprint" -> str(r.fingerprint)))),
      "dumps" -> obj(dumps.map { case (n, s) => n -> str(s) }: _*),
      "oracle_sql" -> obj(ops.map(_.name).flatMap(n => SparkEntry.oracleSql.get(n).map(s => n -> str(s))): _*))
    Files.write(Paths.get(s"$outDir/record.json"), record.getBytes(StandardCharsets.UTF_8))
    SessionCache.clear(spark)
    spark.stop()
  }
}

/** Minimal JSON writer for the record (no JSON library on the classpath
  * is public API). */
object Json {
  def str(s: String): String = "\"" + Bench.jsonEscape(s) + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def bool(b: Boolean): String = b.toString
  def opt(o: Option[String]): String = o.getOrElse("null")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",\n ", "]")
}
