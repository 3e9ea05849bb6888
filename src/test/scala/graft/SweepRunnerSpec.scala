package graft

/** Pins [[SweepAll.run]], the one per-query loop every robustness rail
  * shares, on a small fake query map (no mirror, so nothing is written
  * next to the source dir or into `sweeps/`): what each contract
  * records as a failure, and that the failure list comes back sorted.
  */
class SweepRunnerSpec extends SparkSpec {

  private def throws(msg: String): SweepAll.Query =
    (_, _) => throw new IllegalStateException(msg)

  test("a no-throw rail records the throwing entries, sorted") {
    val rail = SweepAll.Rail("nothrow_spec", None, SweepAll.NoThrow)
    val queries = Map[String, SweepAll.Query](
      "z_throws" -> throws("z"),
      "m_ok" -> ((s, _) => s.range(3).toDF()),
      "a_throws" -> throws("a"))
    assert(SweepAll.run(spark, rail, sfDir, queries) === Seq("a_throws", "z_throws"))
    assert(SweepAll.verdict(queries("z_throws"), Seq(spark -> sfDir)) ===
      Left("IllegalStateException: z"))
    assert(SweepAll.verdict(queries("m_ok"), Seq(spark -> sfDir)) === Right("rows=3 "))
  }

  test("a same-rows rail records a divergent entry and passes an identical one") {
    val rail = SweepAll.Rail("samerows_spec", None, SweepAll.SameRows(SweepAll.clusterLike))
    // row count follows the session's shuffle.partitions: 4 here, 13
    // under clusterLike
    val diverges: SweepAll.Query =
      (s, _) => s.range(s.conf.get("spark.sql.shuffle.partitions").toLong).toDF()
    val queries = Map[String, SweepAll.Query](
      "c_diverges" -> diverges,
      "b_same" -> ((s, _) => s.range(5).toDF()),
      "a_throws" -> throws("a"))
    assert(SweepAll.run(spark, rail, sfDir, queries) === Seq("a_throws", "c_diverges"))
    val alt = SweepAll.clusterLike(spark)
    try {
      val why = SweepAll.verdict(diverges, Seq(spark -> sfDir, alt -> sfDir))
      assert(why.left.exists(_.startsWith("diverged: 4 vs 13 rows")), why)
      assert(SweepAll.verdict(queries("b_same"), Seq(spark -> sfDir, alt -> sfDir)) === Right(""))
    } finally SessionCache.clear(alt)
  }
}
