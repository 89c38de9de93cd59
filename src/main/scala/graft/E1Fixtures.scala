package graft

/** Dump the E1 flagship's synthetic inputs (DomainFixtures traffic +
  * weather, plus the holiday dimension) to parquet, so an external
  * engine can run the SAME feature pipeline on the SAME bytes — the
  * DuckDB side of the flagship matched pair (`tools/time_duckdb_e1.py`
  * restates `TrainingPipeline.featureTable` + the bench aggregate in
  * SQL). The in-Spark bench generates these frames lazily inside the
  * measured region on purpose (fixture arithmetic is part of neither
  * engine's credit: it is a `spark.range` projection, ~2% of e1 wall);
  * the dump exists only to hand DuckDB identical input relations.
  *
  * Usage: runMain graft.E1Fixtures <outDir> [nHours] [rowsPerHour]
  */
object E1Fixtures {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: E1Fixtures <outDir> [nHours] [rowsPerHour]")
    val outDir = args(0)
    val nHours = if (args.length > 1) args(1).toInt else 42500
    val rowsPerHour = if (args.length > 2) args(2).toInt else 40
    val spark = GraftSession.local()
    pipelines.DomainFixtures.traffic(spark, nHours, rowsPerHour)
      .write.mode("overwrite").parquet(s"$outDir/traffic.parquet")
    pipelines.DomainFixtures.weather(spark, nHours)
      .write.mode("overwrite").parquet(s"$outDir/weather.parquet")
    functions.Holidays.dimension(spark, 2024, 2024 + nHours / 8784)
      .write.mode("overwrite").parquet(s"$outDir/holidays.parquet")
    println(s"[e1fixtures] wrote traffic/weather/holidays to $outDir " +
      s"(nHours=$nHours rowsPerHour=$rowsPerHour)")
    spark.stop()
  }
}
