package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — suites
  * run in the forked test JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** sf0.001 testdata dir — the smoke-scale fixtures. */
  val sfDir = "/root/testdata/sf0.001"

  /** sf0.01 dir — for the few tests whose behavior under test (e.g. AQE
    * skew detection on shuffle bytes) needs more data than the smoke
    * fixtures carry. Kept here so the fixture root lives in one file. */
  val sf01Dir = "/root/testdata/sf0.01"

  /** Multiset row comparison, order-free. */
  def assertSameRows(got: DataFrame, exp: DataFrame): Unit = {
    assert(got.columns.sorted.sameElements(exp.columns.sorted),
      s"columns: got=${got.columns.sorted.mkString(",")} exp=${exp.columns.sorted.mkString(",")}")
    val cols = got.columns.sorted.toIndexedSeq
    def rows(df: DataFrame) =
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val (g, e) = (rows(got), rows(exp))
    assert(g == e, s"rows differ: got=${g.size} exp=${e.size}; " +
      s"first diff=${g.zip(e).find { case (a, b) => a != b }}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", SparkEntry.CodegenCacheMaxEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
