package graft

import org.apache.spark.sql.SparkSession

/** The one way this repo builds a SparkSession: every main and the test
  * suite share it, so a harness cannot time an optimizer configuration
  * production does not run (Catalyst's extra rule batches are session
  * state — a session that skips [[plans.SortThroughProject]] plans
  * differently).
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the cores this JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]`, one shuffle partition per core, UTC, no UI, WARN
    * logging, [[plans.SortThroughProject]] installed.
    */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.SortThroughProject.install(spark)
    spark
  }
}
