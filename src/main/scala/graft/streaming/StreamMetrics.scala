package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery
import org.json4s.{JField, JInt, JObject}

/** Micro-batch duration decomposition for the most recent completed run
  * of each NAMED streaming query, recorded by the `*AvailableNow`
  * helpers after `awaitTermination` and emitted by the bench into
  * `bench_out.json` as `stream_progress`.
  *
  * Why: the `q_stream_*` bench entries carry a per-query fixed floor
  * (query start/stop, temp-checkpoint I/O, state-store commits) that
  * dwarfs the actual data path on a 100k-row fixture — e.g.
  * q_stream_hourly_agg ~1.9 s wall vs DuckDB's 0.04 s batch SQL. The
  * inline PERF NOTE says so in prose; this makes it a NUMBER in the
  * artifact: `addBatch` summed over the run's micro-batches is the data
  * path, `wall − triggerExecution` is start/stop overhead outside the
  * batches entirely, and the split is visible per rep without a
  * profiler. Keyed by query name; successive reps overwrite, so the
  * artifact shows the LAST (warmest) rep's decomposition.
  *
  * `durationMs` keys come from Spark's `StreamingQueryProgress`
  * (addBatch, walCommit, commitOffsets, getBatch, latestOffset,
  * queryPlanning, triggerExecution); `state_rows`/`state_bytes` are the
  * final batch's state-store totals.
  */
object StreamMetrics {

  private val last = new java.util.concurrent.ConcurrentHashMap[String, JObject]()

  /** Record the finished query's summed per-batch durations. No-op for
    * unnamed queries and never throws — bench instrumentation must not
    * fail a query that already succeeded.
    */
  def record(q: StreamingQuery): Unit = try {
    val ps = q.recentProgress
    if (q.name != null && ps.nonEmpty) {
      import scala.jdk.CollectionConverters._
      val sums = scala.collection.mutable.LinkedHashMap[String, Long]()
      ps.foreach { p =>
        p.durationMs.asScala.foreach { case (k, v) =>
          sums(k) = sums.getOrElse(k, 0L) + v.longValue()
        }
      }
      val stateRows = ps.last.stateOperators.map(_.numRowsTotal).sum
      val stateBytes = ps.last.stateOperators.map(_.memoryUsedBytes).sum
      last.put(q.name, JObject((sums.toSeq ++ Seq("batches" -> ps.length.toLong,
        "state_rows" -> stateRows, "state_bytes" -> stateBytes))
        .map { case (k, v) => JField(k, JInt(v)) }.toList))
      ()
    }
  } catch { case scala.util.control.NonFatal(_) => () }

  /** Everything recorded this JVM, keyed by query name. */
  def progress: JObject = {
    import scala.jdk.CollectionConverters._
    JObject(last.asScala.toSeq.sortBy(_._1).map { case (k, v) => JField(k, v) }.toList)
  }
}
