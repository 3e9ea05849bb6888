package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-class cache holds a working set larger than Spark's
  * default of 100 classes: a plan compiled earlier in the JVM is reused,
  * not recompiled, after more than 100 other distinct classes were
  * generated. The pin is `SparkEntry.CodegenCacheMaxEntries`, which the
  * shared test session applies like the harness session does.
  */
class CodegenCacheSpec extends SparkSpec {

  test("a class compiled before 150 distinct others is not recompiled") {
    // Literal.doGenCode inlines an integral literal into the generated
    // source, so each k yields a distinct whole-stage class.
    def run(k: Int): Long =
      spark.range(16).selectExpr(s"sum(id * ${7919L * k + 104729L})").head().getLong(0)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = run(1)
    val c0 = compiles.getCount
    (2 to 151).foreach(run)
    val c1 = compiles.getCount
    assert(c1 - c0 > 100, s"only ${c1 - c0} compiles: the loop must overflow Spark's default cache")
    assert(run(1) == first)
    assert(compiles.getCount == c1, s"re-running the first plan compiled ${compiles.getCount - c1} classes")
  }
}
