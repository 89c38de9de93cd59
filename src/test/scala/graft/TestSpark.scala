package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val session: SparkSession = GraftSession.local(cpus = 4)
}
