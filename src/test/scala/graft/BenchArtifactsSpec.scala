package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Lane, Readings, Rep, Timed}

/** Bench's two artifacts rendered from synthetic rows, no Spark: both
  * lines are strict JSON whatever the lane names, error messages and sf
  * path contain, they carry the driver-parsed key sets, and the compact
  * line stays inside its stdout budget.
  */
class BenchArtifactsSpec extends AnyFunSuite {

  private def timed(median: Double, err: Option[String] = None): Timed[Unit] =
    Timed(median, Seq(Rep(median, 3L, 700L, 1.5, 20L, 18L, 35L),
      Rep(median * 1.1, 5L, 900L, Double.NaN, 21L, 19L, 170L)), None, err)

  private val skipped = Timed(-1.0, Nil, None, None)

  private val queries = (0 until 300).map { i =>
    val err =
      if (i == 7) Some("Boom: \"quoted\"\nsecond line\tand a tab")
      else if (i % 3 == 0 && i < 297) Some(s"Failure $i: " + "x" * 300)
      else None
    Lane(f"q_lane_$i%03d", if (err.isDefined) timed(-1.0, err)
      else timed(0.05 + (i * 37 % 101) / 7.0))
  }
  private val benchOnly = Seq(
    Lane("flagship_e1", timed(12.3456), Some("e1")),
    Lane("flagship_e1_segmented", skipped, Some("seg")),
    Lane("flagship_e1_chunked", timed(9.87654), Some("chk")),
    Lane("flagship_geo", skipped, Some("geo")),
    Lane("flagship_corpus", timed(6.0e-6), Some("corp")),
    Lane("bpe_train_local_1500", timed(2.5)),
    Lane("ann_index_build", skipped),
    Lane("ann_search_persisted", timed(0.4)))
  private val rows = queries ++ benchOnly

  private val readings = Readings(
    laneGate = Seq("e1" -> (1300L, 20, true), "chk" -> (900L, 0, false)),
    chaseFloorMs = 800L, nCpus = 4, cpuProbe = (300L, 310L),
    cpuProbeMt = (320L, 330L), memProbe = (60L, 61L),
    chaseProbe = (1238L, 1370L),
    streamProgress = JObject("q_stream_sessionize" -> JObject(
      "addBatch" -> org.json4s.JInt(120), "batches" -> org.json4s.JInt(2))),
    servingP50 = 0.0021, servingP95 = 0.0043, servingLocalP50Us = 2.1,
    heapMaxMb = 4096L, sf = "/data/sf\"0.01\"", e1Rows = 17000L, reps = 3,
    full = "bench_out.json")

  private lazy val (fullLine, compactLine) = Bench.artifacts(rows, readings)

  private def keys(line: String): Seq[String] =
    parse(line).asInstanceOf[JObject].obj.map(_._1)
  private def field(line: String, k: String): JObject =
    (parse(line) \ k).asInstanceOf[JObject]

  test("both lines are strict JSON") {
    val strict = new ObjectMapper()
    Seq(fullLine, compactLine).foreach(l => strict.readTree(l))
    assert(!fullLine.contains('\n') && !compactLine.contains('\n'))
    assert((parse(fullLine) \ "sf") == JString("/data/sf\"0.01\""))
    assert((parse(compactLine) \ "sf") == JString("/data/sf\"0.01\""))
  }

  test("the full line carries the driver-parsed keys and every lane") {
    assert(keys(fullLine) == Seq("metric", "value", "unit", "queries",
      "errors", "raw", "gc_ms", "peak_heap_mb", "load_avg", "probe_cpu_q_ms",
      "probe_mem_q_ms", "probe_chase_q_ms", "lane_gate", "chase_floor_ms",
      "window_degraded", "n_cpus", "cpu_probe_ms", "cpu_probe_mt_ms",
      "mem_probe_ms", "chase_probe_ms", "stream_progress", "serving_p50_ms",
      "serving_p95_ms", "serving_local_p50_us", "heap_max_mb", "sf",
      "e1_rows", "reps"))
    val names = rows.map(_.name)
    Seq("queries", "raw", "gc_ms", "peak_heap_mb", "load_avg",
      "probe_cpu_q_ms", "probe_mem_q_ms", "probe_chase_q_ms")
      .foreach(k => assert(field(fullLine, k).obj.map(_._1) == names, k))
    val errors = field(fullLine, "errors").obj
    assert(errors.size == 100)
    assert(errors.head._1 == "q_lane_000")
    assert(errors.find(_._1 == "q_lane_007").get._2 ==
      JString("Boom: \"quoted\"\nsecond line\tand a tab"))
    assert(field(fullLine, "lane_gate").obj.map(_._1) == Seq("e1", "chk"))
    assert((parse(fullLine) \ "value").values ==
      rows.map(l => math.max(0.0, l.t.median)).sum)
    // numbers render as Scala's Double.toString does
    assert(fullLine.contains("\"flagship_e1\":12.3456,"))
    assert(fullLine.contains("\"flagship_corpus\":6.0E-6,"))
    assert(fullLine.contains("\"flagship_geo\":-1.0,"))
  }

  test("the compact line keeps its key set, error cap and 1700-char budget") {
    assert(keys(compactLine) == Seq("metric", "value", "unit", "queries",
      "queries_shown", "errors", "errors_total", "lane_gate",
      "chase_floor_ms", "window_degraded", "gc_ms_max", "peak_heap_mb_max",
      "heap_max_mb", "load_max", "n_cpus", "cpu_probe_ms", "cpu_probe_mt_ms",
      "mem_probe_ms", "chase_probe_ms", "chase_q_ms_range", "flag_raw",
      "flag_chase_ms", "flag_gc_ms", "serving_p50_ms", "serving_p95_ms",
      "serving_local_p50_us", "full", "queries_total", "sf", "e1_rows",
      "reps"))
    assert(compactLine.length <= 1700, compactLine.length)
    val json = parse(compactLine)
    val errors = field(compactLine, "errors").obj
    assert(errors.map(_._1) == Seq("q_lane_000", "q_lane_003", "q_lane_006"))
    assert(errors.forall(_._2.asInstanceOf[JString].s.length <= 100))
    assert((json \ "errors_total").values == BigInt(100))
    val shown = field(compactLine, "queries").obj
    assert((json \ "queries_shown").values == BigInt(shown.size))
    assert((json \ "queries_total").values == BigInt(rows.size))
    // costliest first, as many as fit
    val costliest = rows.sortBy(-_.t.median).map(_.name)
    assert(shown.nonEmpty && shown.map(_._1) == costliest.filter(shown.toMap.contains))
    assert(shown.head._1 == costliest.head)
    assert(field(compactLine, "flag_raw").obj.map(_._1) ==
      Seq("e1", "seg", "chk", "geo", "corp"))
  }
}
