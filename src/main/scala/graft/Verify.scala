package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure accounting: outDir is wiped first (no stale results from a
  * prior run can be compared), every per-query failure is recorded in
  * `_status.json` alongside a clear stderr line, and the summary line at
  * the end says FAILED n. Exit stays 0 so the driver's downstream oracle
  * compare still runs for the queries that did succeed.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name subset for fast local
    // iteration (the driver always passes exactly two args → full run)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    // a typo'd subset name must not produce an empty "ok=0 FAILED=0"
    // run that reads like a pass
    only.map(_ -- SparkEntry.queries.keySet).filter(_.nonEmpty).foreach { unknown =>
      System.err.println(s"[verify] unknown query names: ${unknown.toSeq.sorted.mkString(",")}")
      sys.exit(2)
    }
    val spark = SparkEntry.harnessSession()
    spark.sparkContext.setLogLevel("WARN")
    val root = new java.io.File(outDir)
    if (root.exists()) Fs.rmTree(root)
    root.mkdirs()
    val status = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        name -> "ok"
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        name -> s"error: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + Bench.jsonEscape(s) + "\""
    def jsonObj(m: Seq[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObj(SparkEntry.oracleSql.toSeq.sortBy(_._1)))
    Files.writeString(Paths.get(s"$outDir/_status.json"), jsonObj(status))
    val nFail = status.count(_._2 != "ok")
    println(s"[verify] DONE ok=${status.size - nFail} FAILED=$nFail")
    SessionCache.clear(spark)
    spark.stop()
  }
}
