package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The robustness sweeps: every `SparkEntry.queries` entry run under
  * regimes the single-config, populated-data oracle gate cannot see.
  * Each rail is one row of [[rails]] — a name, a mirror that rewrites
  * every synthetic table of the source scale dir into
  * `target/scratch/sf_<name>` (or none: the rail reads the source), and
  * the [[Contract]] each query must meet there. One loop ([[run]]) and
  * one verdict ([[verdict]]) serve every rail; each rail writes its
  * `sweeps/<name>.json` artifact ([[SweepReport]]) for the
  * `SWEEPS_FRESH` gate in `tools/check.py`.
  *
  *   runMain graft.SweepAll <srcSfDir> [rail,rail,...]
  *
  * The optional second argument runs a subset of the rails (names from
  * [[rails]]) for targeted iteration. All selected rails share one JVM
  * and one harness session: the gate makes the sweeps a per-round rail
  * re-run after the final src/main commit, and one JVM pays the
  * JVM + session + first-materialization warm-up once.
  * [[SessionCache.clear]] between rails releases each regime's
  * persisted frames. Provenance is sampled before each rail starts (a
  * commit landing mid-run stales only the rails that started before
  * it). Exit 1 when any rail records a failure; every rail's artifact
  * is still written, so the committed history shows WHAT failed.
  *
  * Each rail has a CI spec pinning its riskiest subset
  * (EmptyInputSpec, NullInputSpec, TextFuzzSpec, LayoutInvarianceSpec,
  * ExecInvarianceSpec, DupInputSpec); the full surface is swept here to
  * keep `sbt test` wall bounded.
  */
object SweepAll {

  type Query = (SparkSession, String) => DataFrame

  /** Rewrites every synthetic table of `srcDir` into `outDir`. */
  type Mirror = (SparkSession, String, String) => Unit

  /** What every query of a rail must satisfy. */
  sealed trait Contract

  /** Complete without throwing on the rail's dir. Rows may differ from
    * the source's: nulls, mutated text and replayed records are data. */
  case object NoThrow extends Contract

  /** Return the identical row multiset on the source dir under the
    * harness session and on the rail's dir under `alt` of it. */
  final case class SameRows(alt: SparkSession => SparkSession) extends Contract

  /** One rail: `mirror` writes `target/scratch/sf_<name>`, the dir its
    * contract runs on (None: the rail runs on the source dir). */
  final case class Rail(name: String, mirror: Option[Mirror], contract: Contract)

  /** ~1 in `Rate` rows (or values) are mutated by the row-id mirrors. */
  private val Rate = 7

  /** Files per table in the layout mirror. */
  private val Splits = 7

  /** The rails, in run order; [[SweepReport.railNames]] is this list's
    * names, the set check.py gates on. */
  val rails: Seq[Rail] = Seq(
    Rail("empty", Some(mirrorEmpty), NoThrow),
    Rail("null", Some(mirrorNulled(_, _, _, Rate)), NoThrow),
    Rail("fuzz", Some(mirrorFuzzed(_, _, _, Rate)), NoThrow),
    Rail("layout", Some(mirrorSplit(_, _, _, Splits)), SameRows(identity)),
    Rail("exec", None, SameRows(clusterLike)),
    Rail("dup", Some(mirrorDuped(_, _, _, Rate)), NoThrow))

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(rails.map(_.name))
    // a typo'd rail must not produce an empty run that reads like a pass
    val unknown = names.filterNot(rails.map(_.name).contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[sweep] unknown rails: ${unknown.mkString(",")} " +
        s"(known: ${rails.map(_.name).mkString(",")})")
      sys.exit(2)
    }
    val spark = SparkEntry.harnessSession()
    spark.sparkContext.setLogLevel("ERROR")
    val failedRails = rails.filter(r => names.contains(r.name)).filter { rail =>
      val prov = SweepReport.capture()
      val failed = run(spark, rail, srcDir)
      SweepReport.write(rail.name, srcDir, SparkEntry.queries.size, failed, prov)
      SessionCache.clear(spark)
      failed.nonEmpty
    }
    spark.stop()
    if (failedRails.nonEmpty) sys.exit(1)
  }

  /** Mirror the source (when the rail has a mirror), then check every
    * query against the rail's contract, printing one verdict line per
    * query and a summary line. Returns the failing names, sorted.
    * `queries` defaults to the whole surface; specs pass a small map. */
  def run(spark: SparkSession, rail: Rail, srcDir: String,
          queries: Map[String, Query] = SparkEntry.queries): Seq[String] = {
    val dir = rail.mirror.fold(srcDir) { m =>
      val d = s"target/scratch/sf_${rail.name}"
      m(spark, srcDir, d)
      d
    }
    val alt = rail.contract match {
      case NoThrow => None
      case SameRows(f) => Some(f(spark))
    }
    val sides = alt.fold(Seq(spark -> dir))(a => Seq(spark -> srcDir, a -> dir))
    val names = queries.keys.toSeq.sorted
    val failed = names.filter { n =>
      val t0 = System.nanoTime()
      verdict(queries(n), sides) match {
        case Right(detail) =>
          println(f"[${rail.name}] $n OK ${detail}wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
          false
        case Left(why) =>
          println(s"[${rail.name}] $n FAIL $why")
          true
      }
    }
    println(s"[${rail.name}] swept=${names.size} failed=${failed.size}" +
      (if (failed.isEmpty) "" else failed.mkString(" [", ",", "]")))
    alt.filter(_ ne spark).foreach(SessionCache.clear)
    failed
  }

  /** Runs `fn` on each (session, dir) side. One side: the query must
    * not throw, Right("rows=N "). Two sides: both must return the same
    * row multiset, Right(""). Left(reason) on a throw or divergence. */
  def verdict(fn: Query, sides: Seq[(SparkSession, String)]): Either[String, String] =
    try sides match {
      case Seq((s, d)) => Right(s"rows=${fn(s, d).collect().length} ")
      case Seq((sa, da), (sb, db)) =>
        val (a, b) = (rows(fn(sa, da)), rows(fn(sb, db)))
        if (a == b) Right("")
        else Left(s"diverged: ${a.size} vs ${b.size} rows; " +
          s"first diff=${a.zipAll(b, "<none>", "<none>").find { case (x, y) => x != y }}")
    } catch {
      case e: Throwable => Left(s"${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
    }

  /** Canonical row multiset (columns name-sorted, rows string-sorted). */
  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*)
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  // ---- mirrors ---------------------------------------------------------

  /** EMPTY: zero-row mirror of every synthetic table, schema-identical
    * to the source (limit(0) preserves the parquet schema exactly,
    * including the events table's physical timestamp encoding).
    *
    * Why this regime matters at 100 TB: empty inputs are not a toy case
    * there — a date-partition filter that matches nothing, a tenant with
    * no documents yet, a CDC batch with zero changes, or a stream
    * micro-batch between arrivals all hand an operator the zero-row
    * frame. The throw almost always lives on the DRIVER side of the
    * plan (a `.head()` on an empty aggregate, a literal division by a
    * zero `.count()`), where no executor-side null discipline covers
    * it. */
  def mirrorEmpty(spark: SparkSession, srcDir: String, outDir: String): Unit =
    for (t <- Tables.all)
      spark.read.parquet(Tables.path(srcDir, t)).limit(0)
        .coalesce(1).write.mode("overwrite").parquet(Tables.path(outDir, t))

  /** Source table asserted single-split, the precondition for a
    * reproducible `monotonically_increasing_id` row key: the null, fuzz
    * and dup mirrors key their mutations on that id, so a source that
    * ever becomes multi-file would silently make the masks
    * layout-dependent — fail loudly instead. */
  private[graft] def singleSplit(spark: SparkSession, srcDir: String,
                                 table: String): DataFrame = {
    val df = spark.read.parquet(Tables.path(srcDir, table))
    require(df.inputFiles.length == 1,
      s"$table in $srcDir has ${df.inputFiles.length} files — the mirror's " +
        "row-id-keyed mutations are only reproducible over a single split; " +
        "re-point the sweep at single-file gate data")
    df
  }

  /** NULL: every synthetic table with each column independently nulled
    * on a deterministic ~1/`rate` row subset. The row key is a
    * per-table sequence id ([[singleSplit]]); hashing it with the COLUMN
    * NAME decorrelates the null masks across columns, so rows with one
    * null keep their other fields — the partially-populated record a
    * production optional field actually produces.
    *
    * Why this regime matters at 100 TB: the gate tables are TPC-H-like
    * and essentially null-free, so the oracle gate never executes a
    * null path — but production optional fields (free-text, embeddings,
    * late-arriving attributes, unparseable timestamps) carry nulls
    * everywhere. Spark's built-ins are null-tolerant by design; the
    * exposure is the HAND-WRITTEN tier — custom
    * `TypedImperativeAggregate`s whose `update` sees a null input row,
    * custom `Expression`s without null-safe eval/codegen, driver-side
    * `Row.getLong/getString` unboxing a null, and ANSI arithmetic whose
    * guard assumed a populated column. */
  def mirrorNulled(spark: SparkSession, srcDir: String, outDir: String,
                   rate: Int): Unit =
    for (t <- Tables.all) {
      val src = singleSplit(spark, srcDir, t)
        .withColumn("__rid", monotonically_increasing_id())
      val nulled = src.select(src.columns.filterNot(_ == "__rid").map { c =>
        when(pmod(xxhash64(col("__rid"), lit(c)), lit(rate)) === 0,
          lit(null)).otherwise(col(s"`$c`")).as(c)
      }.toIndexedSeq: _*)
      nulled.write.mode("overwrite").parquet(Tables.path(outDir, t))
    }

  /** One snippet per adversarial class; a row's snippet is picked by a
    * salted hash of the row, so coverage is deterministic and spread
    * across classes. */
  private val snippets: Seq[String] = Seq(
    "😀🎉𝔘nicode", // astral emoji + math letters (surrogate pairs)
    "café 日本語テキスト éé", // CJK + combining marks
    "\u202Eevil\u202C bidi", // RTL override + pop directional formatting
    "zero\u200Bwidth\u200D\uFEFFjoin", // ZWSP / ZWJ / BOM
    "line1\nline2\rline3", // embedded newlines (sink/line formats)
    "comma,semi;tab\tpipe|", // delimiter soup (CSV/text/BPE separators)
    "quote\"back\\slash'", // quoting + escapes
    "a(b[c{d|e*f+g?h\\E\\Q.^$", // regex metacharacters
    "L" + ("o" * 4096) + "ng") // multi-KB run (buffers, shingles, regex)

  /** FUZZ: every synthetic table with each STRING column extended by a
    * hash-picked adversarial [[snippets]] entry on a deterministic
    * ~1/`rate` row subset (same row-id x column-name mask as
    * [[mirrorNulled]]; EXTEND rather than replace, so keys stay distinct
    * and joins/filters still select non-trivial rows). The snippet-pick
    * hash is SALTED (`"snip"`) so row selection and snippet class are
    * independent for ANY rate: with both derived from one hash, a rate
    * sharing a factor with `snippets.size` would restrict selected rows
    * to a subset of snippet classes. A separately salted hash mod 3
    * weights PREPEND:APPEND 1:2 — append preserves any structured PREFIX
    * the value carries (a JSON object with trailing garbage, which
    * Jackson-style parsers accept), prepend destroys it (the
    * BOM/emoji-prefixed corrupt document a semi-structured ingest must
    * null out, not die on).
    *
    * Why this regime matters at 100 TB: web-scale corpora contain all
    * of these in the first gigabyte, and the gate's synthetic text is
    * ASCII words. The failure classes are real production pagers: a
    * CSV/text sink whose reader splits on a delimiter the writer never
    * escaped, semi-structured parsing that throws on the first
    * malformed document instead of nulling it, regex pipelines that
    * interpret user text as pattern syntax, and string arithmetic that
    * assumes one char = one code point. */
  def mirrorFuzzed(spark: SparkSession, srcDir: String, outDir: String,
                   rate: Int): Unit = {
    val snips = array(snippets.map(lit): _*)
    for (t <- Tables.all) {
      val src = singleSplit(spark, srcDir, t)
        .withColumn("__rid", monotonically_increasing_id())
      val fuzzed = src.select(src.schema.fields.filterNot(_.name == "__rid").map { f =>
        val c = col(s"`${f.name}`")
        val h = xxhash64(col("__rid"), lit(f.name))
        if (f.dataType == StringType) {
          val snipH = xxhash64(col("__rid"), lit(f.name), lit("snip"))
          val snip = element_at(snips, (pmod(snipH, lit(snippets.size)) + 1).cast("int"))
          val side = pmod(xxhash64(col("__rid"), lit(f.name), lit("side")), lit(3))
          when(pmod(h, lit(rate)) === 0 && c.isNotNull,
            when(side === 0, concat(snip, c)).otherwise(concat(c, snip)))
            .otherwise(c).as(f.name)
        } else c.as(f.name)
      }.toIndexedSeq: _*)
      fuzzed.write.mode("overwrite").parquet(Tables.path(outDir, t))
    }
  }

  /** LAYOUT: every synthetic table rewritten with identical rows as
    * `splits` files, rows hashed round-robin across them — destroying
    * the single-split file order the gate data ships with.
    *
    * Why this regime matters at 100 TB: there every table IS a
    * many-thousand-split layout whose file order, split count and
    * row-to-partition placement are accidents of ingestion, and none
    * may leak into a result. The oracle gate cannot see this class (its
    * tables are single splits, so an undisciplined `limit`, an
    * order-free `first()` or a prefix sum keyed on accidental partition
    * ids passes it and surfaces only on the cluster). The engine's
    * defenses are by design (range-repartition before any
    * `spark_partition_id` arithmetic in Keys, full tiebreak orders
    * under every top-k, md5 permutations for sampling); this rail
    * measures that they cover the whole surface. The p-family reads
    * fixed CSV fixtures and ignores the dir, so it passes trivially. */
  def mirrorSplit(spark: SparkSession, srcDir: String, outDir: String,
                  splits: Int): Unit =
    for (t <- Tables.all)
      spark.read.parquet(Tables.path(srcDir, t)).repartition(splits)
        .write.mode("overwrite").parquet(Tables.path(outDir, t))

  /** EXEC: a sibling session (`newSession` — same SparkContext,
    * session-scoped SQLConf) configured the way a large cluster plans:
    *
    *   - `spark.sql.shuffle.partitions = 13` (prime, ≠ the harness's
    *     and ≠ any table's split count): every hash exchange places keys
    *     differently, every reduce-side merge runs in a different order,
    *     and any arithmetic keyed on a partition COUNT sees a different
    *     topology;
    *   - `spark.sql.autoBroadcastJoinThreshold = -1`: every join that CAN
    *     shuffle does — the sort-merge plans a 100 TB fact-fact join
    *     runs, where the gate-scale plan broadcasts;
    *   - `spark.sql.adaptive.enabled = false`: static planning — no
    *     runtime coalescing, re-broadcast or skew split to mask a
    *     partition-count dependence the static plan carries.
    *
    * Why this regime matters: the oracle gate runs one fixed config, so
    * a result that depends on shuffle fan-out, join strategy or adaptive
    * re-planning (a float sum whose value shifts with reduce order, a
    * `first()` resolved by whichever partition merges first) passes the
    * gate and diverges only on a cluster whose config the operator does
    * not control. The layout rail varies the DATA's physical shape; this
    * one varies the ENGINE's, holding data fixed — and it re-exercises
    * the per-session store/scratch isolation IdempotenceSpec pins. */
  def clusterLike(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", 13)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    s.conf.set("spark.sql.adaptive.enabled", false)
    s
  }

  /** DUP: every synthetic table with a deterministic ~1/`rate` row
    * subset duplicated exactly once (same [[singleSplit]] row-id
    * machinery as the other mirrors; the duplicate is a bit-identical
    * replay of the source row — the at-least-once delivery artifact, not
    * a near-dup).
    *
    * Why this regime matters at 100 TB: at-least-once delivery is the
    * default contract of every large ingestion path — upstream retries,
    * speculative task re-execution, CDC replays and resumed backfills
    * all materialize the SAME logical record twice. The gate tables are
    * key-unique, so the oracle never executes a duplicate-key path; the
    * exposure is the operators that ASSUME uniqueness: surrogate-key
    * builds over now-ambiguous naturals, keep-first dedup whose
    * tiebreak suddenly has true ties, persisted stores whose upsert sees
    * one key twice in a batch, count-based invariants
    * (`require(n == expected)`), and driver-side `.head()` on a frame
    * that fans out. */
  def mirrorDuped(spark: SparkSession, srcDir: String, outDir: String,
                  rate: Int): Unit =
    for (t <- Tables.all) {
      val src = singleSplit(spark, srcDir, t)
        .withColumn("__rid", monotonically_increasing_id())
      val replay = src.filter(pmod(xxhash64(col("__rid"), lit(t)), lit(rate)) === 0)
      src.unionByName(replay).drop("__rid")
        .write.mode("overwrite").parquet(Tables.path(outDir, t))
    }
}
