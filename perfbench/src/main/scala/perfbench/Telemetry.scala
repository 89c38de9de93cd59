package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own task, stage and job metrics summed for one attribution key. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var bytesWritten = 0L
  val schedulerDelaysMs = mutable.ArrayBuffer[Long]()
  val stageTaskMs = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[Long]]()

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputRecords += o.inputRecords
    bytesWritten += o.bytesWritten
    schedulerDelaysMs ++= o.schedulerDelaysMs
    o.stageTaskMs.foreach { case (s, ts) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer[Long]()) ++= ts }
  }

  /** The `spark.*` per-layer metrics, per operation over `n` operations. */
  def perOp(n: Int): Map[String, Double] = Map(
    "spark.jobs" -> jobs.toDouble / n, "spark.stages" -> stages.toDouble / n,
    "spark.tasks" -> tasks.toDouble / n, "spark.executor_cpu_s" -> cpuNs / 1e9 / n,
    "spark.gc_s" -> gcMs / 1e3 / n,
    "spark.shuffle_write_mb" -> shuffleWriteBytes / 1048576.0 / n,
    "spark.spill_mb" -> spillBytes / 1048576.0 / n,
    "spark.input_records" -> inputRecords.toDouble / n,
    "spark.scheduler_delay_ms" -> Stats.median(schedulerDelaysMs.map(_.toDouble).toSeq))

  /** Max ÷ median task time of the stage with the most task time. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med <= 0) 0.0 else ts.last / med
    }
}

/** Plan-side totals from the QueryExecutionListener. */
final case class PlanTotals(planMs: Long, scanRows: Long) {
  def -(o: PlanTotals): PlanTotals = PlanTotals(planMs - o.planMs, scanRows - o.scanRows)
}

/** Operator metrics read from an executed physical plan (AQE-aware). */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Output rows of every inner/cross join node, in plan order. */
  def innerJoinRows(plan: SparkPlan): Seq[Long] = collect(plan) {
    case j: BaseJoinExec if j.joinType == Inner || j.joinType == Cross => rows(j)
  }

  /** Rows produced by file scans. */
  def fileScanRows(plan: SparkPlan): Long = collect(plan) {
    case s: FileSourceScanLike => rows(s)
  }.sum
}

/** The benchmark's SparkListener and QueryExecutionListener. Jobs are
  * attributed to the `perfbench.key` local property of the thread that
  * submitted them (a span id, or the name of an untraced phase); stages
  * and tasks follow their job. [[sync]] waits until every event posted so
  * far has been delivered, by running a marked job and query and waiting
  * for both listeners to see them.
  */
final class Telemetry(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Telemetry.KeyProp

  private val byKey = mutable.Map[String, Counters]()
  private val stageKey = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val jobLaunched = mutable.Set[Int]()
  private var plans = PlanTotals(0, 0)
  private val syncJobs = mutable.Set[String]()
  private val syncQueries = mutable.Set[String]()
  private var syncSeq = 0

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def key(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(KeyProp))).getOrElse("")

  private def counters(k: String): Counters = byKey.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = key(e.properties)
    counters(k).jobs += 1
    e.stageInfos.foreach { s =>
      stageKey.getOrElseUpdate(s.stageId, k)
      stageJob.getOrElseUpdate(s.stageId, e.jobId)
    }
    jobStart(e.jobId) = (k, e.time)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      if (jobLaunched.add(j)) jobStart.get(j).foreach { case (k, t0) =>
        counters(k).schedulerDelaysMs += e.taskInfo.launchTime - t0
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageKey.getOrElse(e.stageId, ""))
    c.tasks += 1
    c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
      e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRecords += m.inputMetrics.recordsRead
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageKey.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.get(e.jobId).foreach { case (k, _) =>
      if (k.startsWith(Telemetry.SyncPrefix)) { syncJobs += k; notifyAll() }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val scan = PlanMetrics.fileScanRows(qe.executedPlan)
    val marker = qe.analyzed.output.map(_.name).find(_.startsWith(Telemetry.SyncPrefix))
    synchronized {
      plans = PlanTotals(plans.planMs + planMs, plans.scanRows + scan)
      marker.foreach { m => syncQueries += m; notifyAll() }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until both listeners have seen every event posted before now. */
  def sync(): Unit = {
    val tag = synchronized { syncSeq += 1; s"${Telemetry.SyncPrefix}$syncSeq" }
    Telemetry.keyed(spark, tag)(spark.range(1).selectExpr(s"id AS $tag").collect())
    val deadline = System.currentTimeMillis() + 60000
    synchronized {
      while (!(syncJobs(tag) && syncQueries(tag))) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(s"listener events for $tag never arrived")
        wait(left)
      }
    }
  }

  /** Counters of one key (a copy; call after [[sync]]). */
  def of(k: String): Counters = synchronized {
    val c = new Counters
    byKey.get(k).foreach(c += _)
    c
  }

  def planTotals: PlanTotals = synchronized(plans)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Telemetry {
  val KeyProp = "perfbench.key"
  val SyncPrefix = "perfbench_sync_"

  /** Run `f` with its jobs attributed to `k`. */
  def keyed[T](spark: SparkSession, k: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(KeyProp)
    sc.setLocalProperty(KeyProp, k)
    try f finally sc.setLocalProperty(KeyProp, prev)
  }
}
