package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val session: SparkSession = GraftSession.local(cpus = 4)

  /** Run `body` on a fresh temp directory named `prefix*`, then delete it
    * and everything written under it, also when `body` throws. A test
    * that needs several directories creates them inside this one.
    */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit
  }

  /** Records the call site ("parquet at Tables.scala:42") of every Spark
    * job started inside [[record]], from the calling thread or threads it
    * spawns (they inherit the tag property), until [[close]].
    */
  final class JobSites {
    private val sc = session.sparkContext
    private val tag = s"graft.test.jobs.${java.util.UUID.randomUUID}"
    private val sites = new ConcurrentLinkedQueue[String]
    private val drained = new CountDownLatch(1)
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(JobSites.Key))) match {
          // the result stage is created last: its name is the job's call site
          case Some(`tag`) => sites.add(e.stageInfos.maxBy(_.stageId).name): Unit
          case Some(t) if t == s"$tag.marker" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)

    def record[T](f: => T): T = tagged(tag)(f)

    /** The recorded call sites. A marker job is awaited first, so every
      * job started before it has reached the listener.
      */
    def close(): Seq[String] =
      try {
        tagged(s"$tag.marker")(session.range(1).collect())
        assert(drained.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
        sites.asScala.toSeq
      } finally sc.removeSparkListener(listener)

    private def tagged[T](t: String)(f: => T): T = {
      val prev = sc.getLocalProperty(JobSites.Key)
      sc.setLocalProperty(JobSites.Key, t)
      try f finally sc.setLocalProperty(JobSites.Key, prev)
    }
  }

  object JobSites { private val Key = "graft.test.jobs" }

  /** `f`'s result and the call sites of the Spark jobs it started. */
  def jobSites[T](f: => T): (T, Seq[String]) = {
    val js = new JobSites
    val out = try js.record(f) catch { case e: Throwable => js.close(); throw e }
    (out, js.close())
  }
}
