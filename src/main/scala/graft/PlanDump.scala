package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool: dump `.explain("formatted")` for
  * every declared query (or a comma-separated subset) to
  * `<outDir>/<name>.txt`, plus a one-line-per-query plan census
  * (`plan_census.tsv`): Exchange count, join strategies, scan
  * PushedFilters / ReadSchema presence, WholeStageCodegen span count.
  *
  * Plans are captured WITHOUT executing the query (AQE shows the initial
  * plan) — this is the guide §1/§7.2 "read the plan" step made
  * repeatable, and the committed before/after evidence for plan-shape
  * claims in OPTIMIZATION_r{N}.md.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [onlyCsv]")
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    val census = new StringBuilder
    census.append("query\texchanges\tjoins\tcodegen_spans\tscans\tpushed_filters\n")
    // Flagship lanes (bench-only, not in SparkEntry.queries): same plan
    // evidence as the declared queries, at a small fixture scale (plan
    // SHAPE is scale-invariant; the generators are spark.range-based).
    import org.apache.spark.sql.DataFrame
    val nHours = 480
    def flagships: Seq[(String, () => DataFrame)] = {
      def e1(keys: Seq[String], span: Option[Long]) = {
        val traffic = pipelines.DomainFixtures.traffic(spark, nHours, 40)
        val weather = pipelines.DomainFixtures.weather(spark, nHours)
        pipelines.TrainingPipeline.featureTable(traffic, weather, keys, span)
          .groupBy("borough", "is_event")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
      }
      Seq(
        "flagship_e1" -> (() => e1(Seq("borough"), None)),
        "flagship_e1_segmented" -> (() => e1(Seq("borough", "SegmentID"), None)),
        "flagship_e1_chunked" -> (() => e1(Seq("borough"), Some(24L))))
    }
    (flagships ++
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, f) =>
        n -> (() => f(spark, sfDir)) })
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn()
          val plan = df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
          val exchanges = "(?m)^\\s*[+:]?-? ?\\(?\\d*\\)? ?Exchange".r
            .findAllIn(plan).length
          val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
            "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
            .flatMap(j => {
              val c = j.r.findAllIn(plan).length
              if (c > 0) Some(s"$j:$c") else None
            }).mkString(",")
          val codegen = "WholeStageCodegen \\(\\d+\\)".r
            .findAllIn(plan).toSet.size
          val scans = "Scan parquet|Scan csv|Scan json|Range".r
            .findAllIn(plan).length
          val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).length
          census.append(
            s"$name\t$exchanges\t$joins\t$codegen\t$scans\t$pushed\n")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          census.append(s"$name\tERR\t\t\t\t\n")
        }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        spark.sharedState.cacheManager.clearCache()
      }
    Files.writeString(Paths.get(s"$outDir/plan_census.tsv"), census.toString)
    spark.stop()
  }
}
