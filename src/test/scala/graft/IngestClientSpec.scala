package graft

import java.io.IOException
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{IngestClient, Streams}
import graft.streaming.IngestClient.{FatalFetchException, RateLimit, Request}
import graft.TestSpark.withTempDir

/** S13's client half (VERDICT r17, Next round #4), demonstrated against a
  * LOCAL HTTP fixture — no egress: retry ×5 with exponential backoff on
  * 5xx, server Retry-After honored on 429, proactive rate-limit pacing,
  * and the per-response checkpoint resuming across a simulated crash
  * with zero duplicate rows after [[Streams.ingestAvailableNow]] lands
  * the staged responses in the engine.
  */
class IngestClientSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  /** Fixture server: GET /page/N → one CSV row "N,N*10". Fault script:
    * page 1 returns 500 on its first two hits; page 2 returns 429 with
    * Retry-After: 7 on its first hit. Per-path hit counts are recorded
    * so the spec can PROVE completed requests are never re-fetched.
    */
  private def withServer(test: (String, ConcurrentHashMap[String, Integer]) => Unit): Unit = {
    val hits = new ConcurrentHashMap[String, Integer]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/page/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val n = hits.merge(path, 1, (a, b) => a + b).intValue()
      val page = path.stripPrefix("/page/").toInt
      def respond(code: Int, body: Array[Byte], headers: (String, String)*): Unit = {
        headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
        ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
        if (body.nonEmpty) ex.getResponseBody.write(body)
        ex.close()
      }
      if (page == 1 && n <= 2) respond(500, Array.emptyByteArray)
      else if (page == 2 && n <= 1) respond(429, Array.emptyByteArray, "Retry-After" -> "7")
      else respond(200, s"$page,${page * 10}\n".getBytes(StandardCharsets.UTF_8))
    })
    server.start()
    try test(s"http://127.0.0.1:${server.getAddress.getPort}", hits)
    finally server.stop(0)
  }

  test("S13 client: retry x5 + backoff + Retry-After, crash-resume from checkpoint, exactly-once rows through ingestAvailableNow") {
    withTempDir("graft-ingest") { tmp =>
      withServer { (base, hits) =>
        val staging = Files.createTempDirectory(tmp, "graft-ingest-staging").toString
        val log = Files.createTempDirectory(tmp, "graft-ingest-log").resolve("progress.log").toString
        val reqs = (0 until 5).map(i => Request(s"page-$i", s"$base/page/$i"))
        val sleeps = scala.collection.mutable.ArrayBuffer[Long]()

        // RUN 1 "crashes" at page 3: the injected fetch delegates to the
        // real HTTP GET but dies fatally on /page/3 — after pages 0-2 have
        // been fetched, retried through their scripted 500/429 faults, and
        // checkpointed.
        val crash = intercept[FatalFetchException] {
          IngestClient.fetchAll(reqs, staging, log,
            fetch = url => if (url.endsWith("/3")) throw new FatalFetchException("simulated crash")
              else IngestClient.httpGet(url),
            initialBackoffMs = 40L, sleep = sleeps += _)
        }
        assert(crash.getMessage.contains("simulated crash"))
        // backoff evidence: page 1's two 500s slept the exponential pair
        // (40, 80); page 2's 429 slept the server's Retry-After (7 s),
        // which REPLACES the exponential guess
        assert(sleeps.toSeq == Seq(40L, 80L, 7000L), s"sleeps were $sleeps")
        assert(Files.readAllLines(Paths.get(log)).size() == 3)

        // RUN 2, same progress log, faults spent: resumes at page 3 —
        // completed pages are SKIPPED, not re-fetched
        val before = Map("/page/0" -> hits.get("/page/0"), "/page/1" -> hits.get("/page/1"),
          "/page/2" -> hits.get("/page/2"))
        val report = IngestClient.fetchAll(reqs, staging, log,
          initialBackoffMs = 40L, sleep = sleeps += _)
        assert(report.fetched == 2 && report.skipped == 3 && report.retries == 0)
        assert(hits.get("/page/0") == before("/page/0"), "completed page 0 was re-fetched")
        assert(hits.get("/page/1") == before("/page/1"), "completed page 1 was re-fetched")
        assert(hits.get("/page/2") == before("/page/2"), "completed page 2 was re-fetched")
        // a third run is a full no-op
        val again = IngestClient.fetchAll(reqs, staging, log,
          initialBackoffMs = 40L, sleep = sleeps += _)
        assert(again.fetched == 0 && again.skipped == 5)

        // ENGINE half: the staged responses flow through the checkpointed
        // streaming sink — run it TWICE to prove the second layer of
        // idempotence — and land exactly once
        val schema = StructType(Seq(StructField("page", IntegerType),
          StructField("value", IntegerType)))
        val dest = Files.createTempDirectory(tmp, "graft-ingest-dest").toString
        val ckpt = Files.createTempDirectory(tmp, "graft-ingest-ckpt").toString
        Streams.ingestAvailableNow(spark, s"$staging/*.csv", schema, dest, ckpt, format = "csv")
        Streams.ingestAvailableNow(spark, s"$staging/*.csv", schema, dest, ckpt, format = "csv")
        val rows = spark.read.parquet(dest).select("page", "value")
          .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
        assert(rows == (0 until 5).map(i => (i, i * 10)),
          s"expected exactly-once rows for pages 0-4, got $rows")
      }
    }
  }

  test("S13 client: proactive rate-limit pacing sleeps out the window remainder before the server refuses") {
    withTempDir("graft-pace") { tmp =>
      // fake clock: fetches are instant, sleep advances the clock — so the
      // reference's 4500/hour-shaped budget is testable without wall time
      var clock = 1000000L
      val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
      val served = scala.collection.mutable.ArrayBuffer[String]()
      val staging = Files.createTempDirectory(tmp, "graft-pace-staging").toString
      val log = Files.createTempDirectory(tmp, "graft-pace-log").resolve("p.log").toString
      val report = IngestClient.fetchAll(
        (0 until 5).map(i => Request(s"r$i", s"fake://$i")),
        staging, log,
        fetch = { url => served += url; clock += 10; "x\n".getBytes(StandardCharsets.UTF_8) },
        rateLimit = Some(RateLimit(maxRequests = 2, windowMs = 3600000L)),
        sleep = { ms => sleeps += ms; clock += ms },
        nowMs = () => clock)
      assert(report.fetched == 5 && report.rateLimitSleeps == 2)
      assert(served.size == 5, "pacing must delay, never drop")
      // each pause sleeps the REMAINDER of the hour window (2 fetches x
      // 10 ms elapsed inside it), not a fixed guess
      assert(sleeps.toSeq == Seq(3600000L - 20, 3600000L - 20), s"sleeps were $sleeps")
    }
  }

  test("S13 client: retry ATTEMPTS consume the rate-limit budget — the server's counter sees every request") {
    withTempDir("graft-pace2") { tmp =>
      // budget 1 attempt/window; one request that fails twice then
      // succeeds = 3 real HTTP calls. If only successes counted, the
      // retries would burst past the server's budget (the code-review
      // finding this pins): each extra attempt must first pace out the
      // window remainder.
      var clock = 5000000L
      val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
      var attempts = 0
      val staging = Files.createTempDirectory(tmp, "graft-pace2-staging").toString
      val log = Files.createTempDirectory(tmp, "graft-pace2-log").resolve("p.log").toString
      val report = IngestClient.fetchAll(
        Seq(Request("flaky", "fake://flaky")),
        staging, log,
        fetch = { _ =>
          attempts += 1; clock += 10
          if (attempts < 3) throw new IOException("503")
          else "x\n".getBytes(StandardCharsets.UTF_8)
        },
        maxAttempts = 5, initialBackoffMs = 7L,
        rateLimit = Some(RateLimit(maxRequests = 1, windowMs = 60000L)),
        sleep = { ms => sleeps += ms; clock += ms },
        nowMs = () => clock)
      assert(report.fetched == 1 && report.retries == 2 && report.rateLimitSleeps == 2)
      assert(attempts == 3)
      // interleaving: attempt 1 (budget 1/1 spent) → 503 → backoff 7 →
      // pace out the window remainder before attempt 2 (the first window
      // saw 10 ms of fetch + 7 ms of backoff elapse) → 503 → backoff 14
      // (exponential) → pace again (24 ms elapsed: 10 fetch + 14 backoff)
      // before attempt 3 → 200.
      assert(sleeps.toSeq == Seq(7L, 60000L - 17, 14L, 60000L - 24), s"sleeps were $sleeps")
    }
  }

  test("S13 client: a request failing all 5 attempts aborts the run but keeps completed work checkpointed") {
    withTempDir("graft-fail") { tmp =>
      val staging = Files.createTempDirectory(tmp, "graft-fail-staging").toString
      val log = Files.createTempDirectory(tmp, "graft-fail-log").resolve("p.log").toString
      val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
      var calls = 0
      val e = intercept[IOException] {
        IngestClient.fetchAll(
          Seq(Request("ok", "fake://ok"), Request("bad", "fake://bad")),
          staging, log,
          fetch = { url =>
            if (url.endsWith("bad")) { calls += 1; throw new IOException("503") }
            else "x\n".getBytes(StandardCharsets.UTF_8)
          },
          maxAttempts = 5, initialBackoffMs = 10L, sleep = sleeps += _)
      }
      assert(e.getMessage.contains("after 5 attempts"))
      assert(calls == 5, s"expected exactly 5 attempts, got $calls")
      assert(sleeps.toSeq == Seq(10L, 20L, 40L, 80L), "4 exponential sleeps between 5 attempts")
      // the completed request survived the abort — a rerun would resume
      // past it (the crash-resume test proves the full loop)
      assert(Files.readAllLines(Paths.get(log)).size() == 1)
      assert(Files.exists(Paths.get(staging, "ok.csv")))
    }
  }

  test("S13 client: a torn final log line never marks a different, never-fetched request done") {
    withTempDir("graft-torn") { tmp =>
      // Simulate a crash mid-append: the log holds one complete entry
      // ("page-12\n") plus an UNTERMINATED prefix "page-1" torn from a
      // second "page-12"-style write — which collides with the id of a
      // request that was never fetched (ADVICE r18). The loader must trust
      // "page-12" (terminated) but re-fetch "page-1", whose staged file
      // does not exist.
      val staging = Files.createTempDirectory(tmp, "graft-torn-staging").toString
      val log = Files.createTempDirectory(tmp, "graft-torn-log").resolve("p.log").toString
      Files.write(Paths.get(staging, "page-12.csv"),
        "old\n".getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(log), "page-12\npage-1".getBytes(StandardCharsets.UTF_8))
      val served = scala.collection.mutable.ArrayBuffer[String]()
      val report = IngestClient.fetchAll(
        Seq(Request("page-1", "fake://1"), Request("page-12", "fake://12")),
        staging, log,
        fetch = { url => served += url; "x\n".getBytes(StandardCharsets.UTF_8) },
        sleep = _ => ())
      assert(served.toSeq == Seq("fake://1"),
        s"torn 'page-1' must be re-fetched, terminated 'page-12' must not; served $served")
      assert(report.fetched == 1 && report.skipped == 1)
      assert(Files.exists(Paths.get(staging, "page-1.csv")))

      // Conversely: an unterminated final line WHOSE staged file exists is
      // a genuine entry (rename precedes the append) — trusted, not
      // re-fetched.
      val log2 = Files.createTempDirectory(tmp, "graft-torn-log2").resolve("p.log").toString
      Files.write(Paths.get(log2), "page-12".getBytes(StandardCharsets.UTF_8))
      served.clear()
      val r2 = IngestClient.fetchAll(
        Seq(Request("page-12", "fake://12")), staging, log2,
        fetch = { url => served += url; "x\n".getBytes(StandardCharsets.UTF_8) },
        sleep = _ => ())
      assert(served.isEmpty && r2.skipped == 1,
        s"unterminated line with staged file present must be trusted; served $served")
    }
  }
}
