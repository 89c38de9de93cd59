package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JField, JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name subset (local
    // iteration on one query without a 100-query dump; the driver
    // passes two args and gets the full suite)
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [onlyCsv]")
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // some operators eagerly localCheckpoint compact intermediates;
      // release them per query so a full dump at a large sf dir doesn't
      // accumulate block-manager storage across 60+ queries (same
      // isolation Bench applies)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
    }
    val json = JObject(SparkEntry.oracleSql.map { case (k, v) => JField(k, JString(v)) }.toList)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compact(render(json)))
    spark.stop()
  }
}
