package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** Dependency-ordered pipeline runner — the E1+E2 lifecycle of the
  * reference (dataprep main → create_tables → etl) re-homed in Spark:
  * staging frames are built from the raw CSVs, star tables are
  * materialized in the order of sql_queries.py:281, each stage runs
  * under Try with continue-on-error (etl.py:22-29 contract), and the
  * run ends with the reference's 10 count(*) validations
  * (sql_queries.py:260-272).
  */
object Pipeline {

  case class StageResult(name: String, ok: Boolean, rows: Long, error: Option[String])

  /** The four cleaned staging frames. */
  case class Staging(airports: DataFrame, cities: DataFrame,
                     temperatures: DataFrame, travelers: DataFrame)

  /** Build everything, materialize each table under outDir (parquet),
    * return per-stage results in execution order.
    */
  def run(spark: SparkSession, outDir: String): Seq[StageResult] = {
    val stAir = AirportsPrep.staging(spark)
    val stCities = CitiesPrep.staging(spark)
    val stTemps = TempsPrep.staging(spark)
    val stTrav = TravelersPrep.staging(spark)
    lazy val cityDf = StarSchema.city(stAir)
    lazy val airportsDf = StarSchema.airports(stAir, cityDf)
    val stages: Seq[(String, () => DataFrame)] = Seq(
      "staging_airports" -> (() => stAir),
      "staging_cities" -> (() => stCities),
      "staging_temperatures" -> (() => stTemps),
      "staging_travelers" -> (() => stTrav),
      "visa_codes" -> (() => StarSchema.visaCodes(spark)),
      "city" -> (() => cityDf),
      "airports" -> (() => airportsDf),
      "temperatures" -> (() => StarSchema.temperatures(stTemps, cityDf)),
      "statistics" -> (() => StarSchema.statistics(stCities, cityDf)),
      "travelers" -> (() => StarSchema.travelers(stTrav, airportsDf)))
    stages.map { case (name, mk) =>
      Try {
        val df = mk()
        // travelers materializes partitioned by arrival year/month — the
        // reference's own stated scale story (README.md:23,156): monthly
        // loads land in their own partition, queries prune on it
        val writer = df.write.mode("overwrite")
        val partitioned =
          if (name == "travelers")
            writer.partitionBy("p_arrival_year", "p_arrival_month")
          else writer
        partitioned.parquet(s"$outDir/$name")
        spark.read.parquet(s"$outDir/$name").count()
      } match {
        case Success(n) => StageResult(name, ok = true, n, None)
        case Failure(e) => StageResult(name, ok = false, -1L, Some(e.getMessage))
      }
    }
  }

  /** The 10 validation counts as one DataFrame (A3 over the live plan —
    * no materialization required). Pass pre-built frames to count the
    * materialized pipeline instead of rebuilding it.
    */
  def validationCounts(spark: SparkSession,
                       prebuilt: Option[(Staging, StarSchema.Star)] = None): DataFrame = {
    val (stg, star) = prebuilt.getOrElse {
      val stAir = AirportsPrep.staging(spark)
      val stg0 = Staging(stAir, CitiesPrep.staging(spark),
        TempsPrep.staging(spark), TravelersPrep.staging(spark))
      (stg0, StarSchema.build(spark))
    }
    val frames: Seq[(String, DataFrame)] = Seq(
      "staging_airports" -> stg.airports,
      "staging_cities" -> stg.cities,
      "staging_temperatures" -> stg.temperatures,
      "staging_travelers" -> stg.travelers,
      "visa_codes" -> star.visaCodes,
      "city" -> star.city,
      "airports" -> star.airports,
      "temperatures" -> star.temperatures,
      "statistics" -> star.statistics,
      "travelers" -> star.travelers)
    frames.map { case (n, df) =>
      df.agg(count(lit(1)).as("n_rows")).select(lit(n).as("tbl"), col("n_rows"))
    }.reduce(_.unionAll(_)).orderBy(col("tbl"))
  }

  /** CLI: run the pipeline, print stage results + validation counts. */
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(
      s"${sys.props("java.io.tmpdir")}/graft_pipeline_out")
    val spark = graft.SparkEntry.harnessSession()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, outDir).foreach { r =>
      println(f"[pipeline] ${r.name}%-22s ok=${r.ok} rows=${r.rows}${r.error.map(" err=" + _).getOrElse("")}")
    }
    spark.stop()
  }
}
