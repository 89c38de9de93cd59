package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** How graft's Catalyst additions reach a session. The function catalogue
  * comes with the session (GraftExtensions) in every session graft
  * builds, and through call-time `register` in any other; the
  * SortThroughProject rule comes through `install` only.
  */
class GraftFunctionsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"
  private val names = GraftFunctions.catalogue.map(_._1)

  test("register leaves a session that holds the catalogue untouched") {
    val registry = spark.sessionState.functionRegistry
    GraftFunctions.register(spark)
    val before = names.map(n => (registry.lookupFunctionBuilder(n).get, registry.lookupFunction(n).get))
    GraftFunctions.register(spark)
    val after = names.map(n => (registry.lookupFunctionBuilder(n).get, registry.lookupFunction(n).get))
    names.lazyZip(before).lazyZip(after).foreach { case (n, (b0, i0), (b1, i1)) =>
      assert((b0 eq b1) && (i0 eq i1), s"register re-registered $n")
    }
  }

  test("a newSession() resolves every catalogue name from plain SQL, no register call") {
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT graft_dot(array(1D, 2D), array(3D, 4D))").head().getDouble(0) == 11.0)
    GraftFunctions.catalogue.foreach { case (id, info, _) =>
      val described = fresh.sql(s"DESCRIBE FUNCTION ${id.funcName}").collect().map(_.getString(0))
      assert(described.contains(s"Class: ${info.getClassName}"), described.mkString("\n"))
    }
    assert(fresh.sql("DESCRIBE FUNCTION graft_dot").collect().map(_.getString(0))
      .contains("Class: graft.functions.DotProduct"))
    // what `spark.sql.extensions=graft.functions.GraftExtensions` does
    val ext = Class.forName("graft.functions.GraftExtensions").getDeclaredConstructor().newInstance()
    ext.asInstanceOf[SparkSessionExtensions => Unit](new SparkSessionExtensions)
  }

  test("the test session's optimizer holds SortThroughProject exactly once") {
    val rules = spark.sessionState.optimizer.batches.flatMap(_.rules)
    assert(rules.count(_ eq plans.SortThroughProject) == 1)
  }

  test("a vanilla session gets the functions from register and the rule from install") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.toSeq)
    val heavyHitters = SparkEntry.queries("q_heavy_hitters")
    val expectedEntry = rows(SparkEntry.entry(spark))
    val expectedHeavyHitters = rows(heavyHitters(spark, dir))
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val vanilla = SparkSession.builder().getOrCreate()
      assert(vanilla ne spark)
      assert(names.forall(n => !vanilla.sessionState.functionRegistry.functionExists(n)),
        "precondition: a vanilla session starts without graft's functions")
      plans.SortThroughProject.install(vanilla)
      assert(rows(SparkEntry.entry(vanilla)) == expectedEntry)
      assert(rows(heavyHitters(vanilla, dir)) == expectedHeavyHitters)
      assert(names.forall(vanilla.sessionState.functionRegistry.functionExists))
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
