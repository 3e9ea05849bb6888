package graft

/** The ADVERSARIAL-TEXT robustness rail: queries must treat text as
  * data — surrogate pairs, bidi controls, zero-width code points,
  * embedded delimiters/newlines, quotes, regex metacharacters and
  * multi-KB runs may change results but must never throw.
  * The `fuzz` rail of `graft.SweepAll` sweeps the full query surface;
  * this spec pins the contract in CI on the text-riskiest subset.
  */
class TextFuzzSpec extends SparkSpec {

  /** One per text-handling mechanism: the line-format round-trips
    * whose structural characters user text can contain (s23 — the
    * query the first sweep caught tearing on an embedded newline —
    * and s05's quoted CSV), regex pipelines over user text (t08 PII,
    * x16 regexp suite, t23 normalization of the very control chars
    * the fuzz injects), the BPE driver loop whose '||' symbol
    * encoding user text could collide with (t19), JSON/variant
    * parsing of corrupted documents (e06, e18), the codegen'd
    * shingler (d02), token packing (k03), hex header slicing (m05),
    * and plain token counting over emoji/CJK (t01). */
  private val risky = Seq(
    "s23_text_roundtrip", "s05_csv_roundtrip", "t08_pii_redact",
    "x16_regexp_suite", "t23_text_normalize", "t19_bpe_iterated_merges",
    "e06_json_props", "e18_variant_props", "d02_ngram_jaccard",
    "k03_packed_sequences", "m05_header_fields", "t01_token_count")

  test("text-riskiest queries complete without throwing on an adversarial-text mirror") {
    val mirror = "target/scratch/sf_fuzz_spec"
    SweepAll.mirrorFuzzed(spark, sfDir, mirror, rate = 7)
    val failed = risky.flatMap { n =>
      try { SparkEntry.queries(n)(spark, mirror).collect(); None }
      catch {
        case e: Throwable => Some(s"$n: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
      }
    }
    SessionCache.release(spark, _.contains(mirror))
    assert(failed.isEmpty,
      s"${failed.size} queries throw on adversarial text:\n" + failed.mkString("\n"))
  }
}
