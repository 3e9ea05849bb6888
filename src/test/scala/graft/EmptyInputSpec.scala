package graft

/** The EMPTY-INPUT robustness rail: every query on the surface must
  * degrade to a (possibly zero-row) result when every synthetic table
  * is present but EMPTY — the regime a 100 TB deployment hits daily (a
  * date-partition filter matching nothing, a tenant with no documents
  * yet, a CDC batch with zero changes), and the one the oracle gate
  * never exercises because the gate scales are always populated.
  *
  * The failure mode this pins is driver-side by nature — a `.head()`
  * on an empty aggregate, a literal division by a zero `.count()`, a
  * schema inference over a sink written from an empty batch — so no
  * executor-side null discipline covers it, and a single sweep over
  * the whole surface is the cheapest complete detector (the round-14
  * sweep found 8: g01/g02 driver scalars, s11/s15/s18/s21 empty-sink
  * schema inference, dq04/v12 ANSI divide-by-zero). The `empty` rail of
  * `graft.SweepAll` is the standalone diagnostic twin of this test.
  */
class EmptyInputSpec extends SparkSpec {

  test("every SparkEntry query runs to completion on zero-row tables") {
    val emptyDir = "target/scratch/sf0_spec"
    SweepAll.mirrorEmpty(spark, sfDir, emptyDir)
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      try { fn(spark, emptyDir).collect(); None }
      catch {
        case e: Throwable => Some(s"$n: ${e.getClass.getSimpleName} " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
      }
    }
    // release the mirror's memoized frames — they are this test's state,
    // not the other suites'
    SessionCache.release(spark, _.contains(emptyDir))
    assert(failed.isEmpty, s"${failed.size} queries throw on empty input:\n" +
      failed.mkString("\n"))
  }
}
