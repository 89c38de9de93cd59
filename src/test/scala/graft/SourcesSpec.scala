package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.Tables
import graft.TestSpark.{jobSites, withTempDir}

/** §2.1 source/sink operators + P9 null fill + LSH ANN recall. */
class SourcesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("v", DoubleType)))

  test("S1/S5/S7: CSV sink then glob scan roundtrips (fixed schema, header)") {
    withTempDir("graft-csv") { tmp =>
      val dir = tmp.toString
      val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
      Tables.writeCsv(df.coalesce(1), s"$dir/part1")
      Tables.writeCsv(Seq((3L, "c", 3.5)).toDF("id", "name", "v").coalesce(1), s"$dir/part2")
      val back = Tables.csv(spark, s"$dir/part*", schema) // S5 glob
      assert(back.count() == 3)
      assert(back.agg(sum("id")).head().getLong(0) == 6L)
      assert(back.schema == schema) // S3: type-at-scan from fixed schema
    }
  }

  test("S8: idempotent sink skips existing target (SaveMode.Ignore)") {
    withTempDir("graft-ign") { tmp =>
      val dir = tmp.toString + "/out"
      Tables.writeCsvIfAbsent(Seq((1L, "x", 0.0)).toDF("id", "name", "v").coalesce(1), dir)
      // second write with different data must be a no-op
      Tables.writeCsvIfAbsent(Seq((99L, "y", 9.9), (98L, "z", 8.8))
        .toDF("id", "name", "v").coalesce(1), dir)
      val back = Tables.csv(spark, dir, schema)
      assert(back.count() == 1 && back.head().getLong(0) == 1L)
    }
  }

  test("JSONL sink/scan roundtrips; malformed lines null out under the explicit schema") {
    withTempDir("graft-jsonl") { tmp =>
      val dir = tmp.toString + "/t"
      val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
      Tables.writeJsonl(df, dir)
      val back = Tables.jsonl(spark, dir, df.schema)
      assert(back.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
        Seq((1L, "a", 1.5), (2L, "b", 2.5)))
      // malformed line: PERMISSIVE nulls the row's fields, no throw
      val bad = Files.createTempDirectory(tmp, "graft-jsonl-bad").toString
      Files.writeString(java.nio.file.Paths.get(bad, "x.json"),
        "{\"id\": 1, \"name\": \"ok\", \"v\": 1.0}\nnot json at all\n")
      val rows = Tables.jsonl(spark, bad, df.schema).collect()
      assert(rows.length == 2 && rows.count(_.isNullAt(0)) == 1)
    }
  }

  test("ORC sink/scan roundtrips values and schema; filters and pruning push to the scan") {
    withTempDir("graft-orc") { tmp =>
      val dir = tmp.toString + "/t"
      val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
        .toDF("id", "name", "v")
      Tables.writeOrc(df, dir)
      val back = Tables.orc(spark, dir)
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(back.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
        Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))
      // projection + predicate reach the ORC scan like parquet
      val plan = back.filter(col("id") > 1).select("id", "v")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
        s"expected pushed filter in:\n$plan")
      assert(plan.contains("ReadSchema: struct<id:bigint,v:double>"),
        s"expected pruned ReadSchema in:\n$plan")
    }
  }

  test("S9: multiLine GeoJSON scan explodes features[]") {
    withTempDir("graft-gj") { tmp =>
      val dir = tmp.toString
      val gj = """{"type":"FeatureCollection","features":[
        {"type":"Feature","geometry":{"type":"Point","coordinates":[-73.98,40.75]},
         "properties":{"RequestID":1,"Borough":"Manhattan"}},
        {"type":"Feature","geometry":{"type":"Point","coordinates":[-73.95,40.65]},
         "properties":{"RequestID":2,"Borough":"Brooklyn"}}]}"""
      Files.writeString(java.nio.file.Path.of(dir, "fc.json"), gj)
      val feats = Tables.geojsonFeatures(spark, s"$dir/fc.json")
      assert(feats.count() == 2)
      val r = feats.select(col("properties.Borough"),
        col("geometry.coordinates").getItem(0)).orderBy(col("properties.RequestID")).head()
      assert(r.getString(0) == "Manhattan" && math.abs(r.getDouble(1) - -73.98) < 1e-9)
    }
  }

  test("S10: GeoJSON JSONL sink writes one feature per line") {
    withTempDir("graft-jsonl") { tmp =>
      val dir = tmp.toString + "/out"
      val feats = Seq((1L, -73.98, 40.75), (2L, -73.95, 40.65)).toDF("id", "lon", "lat")
        .select(graft.geo.GeoOps.pointFeature(col("lon"), col("lat"),
          struct(col("id").as("RequestID"))).as("feature"))
      Tables.writeGeoJsonLines(feats.coalesce(1), dir)
      val lines = spark.read.text(dir).collect().map(_.getString(0))
      assert(lines.length == 2)
      assert(lines.forall(l => l.startsWith("""{"type":"Feature"""") && !l.contains("\n")))
    }
  }

  test("S11: fetchToLocal localizes a URL once, checksum-guarded, then scans") {
    withTempDir("graft-fetch") { dir =>
      val remote = dir.resolve("remote.json")
      val gj = """{"type":"FeatureCollection","features":[
        {"type":"Feature","geometry":{"type":"Point","coordinates":[-73.98,40.75]},
         "properties":{"RequestID":1,"Borough":"Manhattan"}}]}"""
      Files.writeString(remote, gj)
      val sha = {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.digest(Files.readAllBytes(remote)).map("%02x".format(_)).mkString
      }
      val local = dir.resolve("cache/seg.json").toString
      val got = Tables.fetchToLocal(remote.toUri.toString, local, Some(sha))
      assert(got == local)
      // Idempotent: a second fetch keeps the existing file (mtime unchanged)
      val mtime1 = Files.getLastModifiedTime(java.nio.file.Path.of(local))
      Tables.fetchToLocal(remote.toUri.toString, local, Some(sha))
      assert(Files.getLastModifiedTime(java.nio.file.Path.of(local)) == mtime1)
      // Corrupt local copy + expected checksum → re-fetched, not trusted
      Files.writeString(java.nio.file.Path.of(local), "garbage")
      Tables.fetchToLocal(remote.toUri.toString, local, Some(sha))
      assert(Files.readString(java.nio.file.Path.of(local)) == gj)
      // Checksum mismatch on the SOURCE throws and leaves no target
      val bad = dir.resolve("cache/bad.json").toString
      intercept[IllegalArgumentException] {
        Tables.fetchToLocal(remote.toUri.toString, bad, Some("00" * 32))
      }
      assert(!Files.exists(java.nio.file.Path.of(bad)))
      // E3 path shape: scan the localized GeoJSON (main.py:170-181)
      val feats = Tables.geojsonFeatures(spark, local)
      assert(feats.count() == 1)
    }
  }

  test("P9: null fill per column") {
    val df = Seq[(java.lang.Long, String)]((1L, null), (null, "b")).toDF("a", "b")
    val filled = df.na.fill(Map("a" -> 0L, "b" -> ""))
    val rows = filled.orderBy(col("a")).collect()
    assert(rows(0).getLong(0) == 0L && rows(0).getString(1) == "b")
    assert(rows(1).getLong(0) == 1L && rows(1).getString(1) == "")
  }

  test("LSH ANN recall vs brute-force top-k on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 10,
        nPlanes = 4, dim = 64, nTables = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall — LSH candidates should overlap brute top-k")
    // candidate generation must prune the corpus (it's approximate, not all-pairs)
    assert(lsh.nonEmpty)
  }

  test("IVF ANN recall vs brute-force, and exactness at nProbe == nCells") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
        nCells = 8, nProbe = 3)
    val ivfSet = ivf.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivfSet).size.toDouble / brute.size
    assert(recall >= 0.3, s"ivf recall=$recall")
    // probing every cell must recover the exact result
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
        nCells = 8, nProbe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute, "nProbe == nCells must equal brute force")
  }

  test("zKey matches the local reference interleave") {
    val rng = new scala.util.Random(11L)
    val pts = (1 to 200).map(_ => (rng.nextInt(65536).toLong, rng.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select(graft.functions.ZOrder.zKey(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    pts.zip(got).foreach { case ((x, y), z) =>
      val want = graft.functions.ZOrder.spread16Local(x) |
        (graft.functions.ZOrder.spread16Local(y) << 1)
      assert(z == want, s"($x,$y)")
    }
  }

  test("writeZOrdered: disjoint per-file z ranges, per-file bbox tight on BOTH dimensions") {
    withTempDir("graft-zorder") { tmp =>
      val dir = tmp.toString + "/out"
      // full 64×64 grid — makes the expected per-file bounding boxes exact
      val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
        .toDF("x", "y")
      Tables.writeZOrdered(grid, dir, col("x"), col("y"), bits = 6, numFiles = 8)
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .map(_.getPath).sorted
      assert(files.length >= 4, s"expected multiple files, got ${files.length}")
      val ranges = files.map { f =>
        val rows = spark.read.parquet(f)
          .select(col("x"), col("y"), graft.functions.ZOrder.zKey(col("x"), col("y"), 6).as("z"))
          .agg(min("z"), max("z"), min("x"), max("x"), min("y"), max("y"))
          .collect()(0)
        (rows.getLong(0), rows.getLong(1), rows.getLong(2), rows.getLong(3),
          rows.getLong(4), rows.getLong(5))
      }
      // (a) z ranges are disjoint across files (range-partitioned + sorted)
      ranges.sortBy(_._1).sliding(2).foreach {
        case Array(a, b) => assert(a._2 < b._1, s"overlapping z ranges: $a vs $b")
        case _ =>
      }
      // (b) per-file bounding boxes are tight on BOTH dimensions ON
      // AVERAGE — the property parquet min/max skipping feeds on. A file
      // whose (unaligned, sample-chosen) z range crosses a high-order z
      // boundary legitimately spans one full axis, so the bound is on the
      // mean: an x-sorted layout would score mean y spread = 63 here;
      // z-order keeps both means at half-range or better.
      val n = ranges.length.toDouble
      val meanX = ranges.map(r => r._4 - r._3).sum / n
      val meanY = ranges.map(r => r._6 - r._5).sum / n
      assert(meanX <= 40.0, s"mean x spread too wide: $meanX")
      assert(meanY <= 40.0, s"mean y spread too wide: $meanY")
    }
  }

  // ---- Parquet schema resolution: once per file listing ----

  test("Tables.table: a second scan of unchanged files runs no job") {
    withTempDir("graft-schema") { tmp =>
      val dir = tmp.toString
      Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
      val (first, firstSites) = jobSites(Tables.table(spark, dir, "t").schema)
      val (second, secondSites) = jobSites(Tables.table(spark, dir, "t").schema)
      assert(firstSites.exists(_.contains("at Tables.scala:")),
        s"the first scan infers the schema: $firstSites")
      assert(secondSites.isEmpty, s"the second scan must run no job: $secondSites")
      assert(second == first && first.fieldNames.toSeq == Seq("id", "name"))
      assert(Tables.table(spark, dir, "t").orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b")))
    }
  }

  test("Tables.table: a table rewritten with an extra column is resolved again") {
    withTempDir("graft-schema-rewrite") { tmp =>
      val dir = tmp.toString
      Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
      assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "name"))
      Seq((1L, "a", 2.5)).toDF("id", "name", "extra")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val back = Tables.table(spark, dir, "t")
      assert(back.columns.toSeq == Seq("id", "name", "extra"))
      assert(back.select("extra").as[Double].collect().toSeq == Seq(2.5))
    }
  }

  test("Tables.events: ts is TimestampType whatever a plain scan of the file resolved before") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    val want = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T12:34:56.123456Z"))
    try withTempDir("graft-schema-events") { tmp =>
      // the current testdata shape: naive micros, a plain scan reads NTZ
      val ntz = tmp.resolve("ntz").toString
      Seq((1L, java.time.LocalDateTime.parse("2024-03-01T12:34:56.123456")))
        .toDF("event_id", "ts").write.parquet(s"$ntz/events.parquet")
      spark.conf.set(key, "false")
      assert(Tables.table(spark, ntz, "events").schema("ts").dataType == TimestampNTZType)
      val ev = Tables.events(spark, ntz)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select("ts").as[java.sql.Timestamp].collect().toSeq == Seq(want))

      // an older shape: nanos, which only the nanosAsLong scan can read. The
      // events scan's schema (ts: long) must not serve a scan without it.
      val nanos = tmp.resolve("nanos").toString
      writeNanosEvents(s"$nanos/events.parquet", 1709296496123456789L)
      assert(Tables.events(spark, nanos).select("ts").as[java.sql.Timestamp].collect().toSeq ==
        Seq(want))
      spark.conf.set(key, "false")
      val e = intercept[Exception](Tables.table(spark, nanos, "events"))
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
      assert(Tables.events(spark, nanos).schema("ts").dataType == TimestampType)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** A one-row events file whose `ts` is INT64 TIMESTAMP(NANOS), a type
    * Spark does not write.
    */
  private def writeNanosEvents(path: String, tsNanos: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { optional int64 event_id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", tsNanos))
    finally w.close()
  }

  test("Tables.table: four threads resolving one path at once get the same schema") {
    withTempDir("graft-schema-threads") { tmp =>
      val dir = tmp.toString
      val df = Seq((1L, "a", 1.5)).toDF("id", "name", "v")
      df.write.parquet(s"$dir/t.parquet")
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[scala.util.Try[StructType]]
      val threads = (0 until 4).map { _ =>
        new Thread(() => {
          start.await()
          results.add(scala.util.Try(Tables.table(spark, dir, "t").schema)): Unit
        })
      }
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val got = results.asScala.toSeq
      assert(got.size == 4 && got.forall(_.isSuccess), got)
      assert(got.map(_.get).distinct == Seq(spark.read.parquet(s"$dir/t.parquet").schema))
    }
  }

  test("Tables.table: a missing path throws the AnalysisException spark.read.parquet throws, every time") {
    withTempDir("graft-schema-missing") { tmp =>
      val dir = tmp.toString
      val plain = intercept[org.apache.spark.sql.AnalysisException](
        spark.read.parquet(s"$dir/nope.parquet"))
      (1 to 2).foreach { _ =>
        val e = intercept[org.apache.spark.sql.AnalysisException](Tables.table(spark, dir, "nope"))
        assert(e.getCondition == plain.getCondition && e.getCondition == "PATH_NOT_FOUND",
          e.getMessage)
      }
      // nothing was remembered for the missing path: once written, it reads
      Seq(7L).toDF("id").write.parquet(s"$dir/nope.parquet")
      assert(Tables.table(spark, dir, "nope").as[Long].collect().toSeq == Seq(7L))
    }
  }
}
