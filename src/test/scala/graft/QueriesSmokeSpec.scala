package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every registered query executes on sf0.001 and the flagship
  * entry() returns rows. (Value-level correctness is the DuckDB oracle's
  * job — tools/compare_oracle.py / the driver's CORRECTNESS gate.)
  */
class QueriesSmokeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Jobs of all the query tests below, building and running. */
  private lazy val queryJobs = new TestSpark.JobSites

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name executes on sf0.001") {
      // must not throw; row count may be 0 for pair queries at tiny sf
      queryJobs.record(fn(spark, dir).count())
    }
  }

  test("building and running every query infers each table's schema at most once") {
    // Parquet schema inference is the one job Tables.scala starts
    val fromTables = queryJobs.close().count(_.contains("at Tables.scala:"))
    val tables = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    assert(fromTables <= tables, s"$fromTables jobs called from Tables.scala for $tables tables")
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every query carries oracle SQL (102/102-green invariant, round 11)") {
    // Since round 11 even the approximate queries emit deterministic
    // certification rows with hash-checked oracles — a new query landing
    // without one silently downgrades the driver's gate to a rows-only
    // check, which this pins as a failure instead.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: ${missing.toSeq.sorted}")
  }
}
