package graft

import org.apache.spark.sql.SparkSession

/** The one way this repo builds a SparkSession: every main and the test
  * suite share it, so a harness cannot time an optimizer configuration
  * production does not run.
  *
  * The session carries graft's Catalyst additions from two places. Its
  * builder takes [[functions.GraftExtensions]], so the function
  * catalogue is in the registry from the start (and in each
  * `newSession()`); operators' call-time `GraftFunctions.register` then
  * finds every name and does nothing. [[plans.SortThroughProject]] comes
  * through its `install`, the one placement of the rule: the
  * `extraOptimizations` batch, after ColumnPruning, which its re-prune
  * step assumes. A session that skips the rule plans differently.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the cores this JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]`, one shuffle partition per core, UTC, no UI, WARN
    * logging, graft's functions registered, [[plans.SortThroughProject]]
    * installed.
    */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.SortThroughProject.install(spark)
    spark
  }
}
