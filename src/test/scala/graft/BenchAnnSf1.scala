package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Round-13 ANN decade datapoint (VERDICT r12, Next round #3): IVF and
  * IVF-PQ vs brute-force cosine top-k WALL TIME on a CLUSTERED corpus
  * at sf1 scale (100k × 64-dim, 32 tight unit blobs, Spark-generated
  * deterministically from murmur3 noise — the distribution shape real
  * embedding corpora have and the one sub-linear probing exists for;
  * the shipped embeddings tables are near-structureless, which is the
  * quantizer worst case and already covered by the q_ann_* recall
  * certs). 2,000 queries span all blobs; brute pays the full QxN
  * scored stream while IVF probes nProbe/nCells of it, so the wall
  * ratio is the honest price of exactness at this shape. Reports wall
  * seconds, recall@5 vs exact for both approximate paths, and the
  * probe census (certified sub-linear candidate fraction). Run via
  * `sbt "Test/runMain graft.BenchAnnSf1"`; output committed as
  * BENCH_ann_sf1.json.
  */
object BenchAnnSf1 {
  private def timeS[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }
  private def f3(v: Double): Double = math.rint(v * 1000) / 1000

  /** Deterministic HIERARCHICAL clustered corpus: unit blob centers
    * (seeded driver Gaussians, one typedlit constant) + a per-sub-blob
    * murmur3 offset (the within-cell structure an ADC scan ranks by) +
    * small per-point noise — fully Spark-generated, so the corpus needs
    * no driver memory and regenerates identically at any n. Two levels
    * on purpose: real embedding corpora cluster at every scale, and a
    * single-level blob+iid-noise fixture makes within-blob neighbors
    * near-equidistant — unrankable for ANY compressed-domain method, a
    * fixture artifact rather than a quantizer verdict.
    */
  private def clusteredCorpus(spark: SparkSession, n: Long, dim: Int,
      blobs: Int, subBlobs: Int): DataFrame = {
    val rnd = new scala.util.Random(5)
    val centers: Seq[Seq[Double]] = Seq.fill(blobs) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val nn = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nn).toSeq
    }
    val centerLit = typedlit(centers)
    val blobIdx = pmod(col("id"), lit(blobs)).cast("int")
    val subIdx = pmod(floor(col("id") / blobs), lit(subBlobs)).cast("int")
    spark.range(n).select(col("id").as("vec_id"),
      transform(
        element_at(centerLit, blobIdx + 1),
        (x, j) => x +
          (pmod(hash(blobIdx * 1000 + subIdx, j), lit(1000)).cast("double")
            / 1000.0 - 0.5) * 0.3 +
          (pmod(hash(col("id"), j, lit(7)), lit(1000)).cast("double")
            / 1000.0 - 0.5) * 0.04).as("embedding"))
  }

  private def recall5(approx: DataFrame, exact: DataFrame): Double =
    exact.select("query_id", "neighbor_id")
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("__h")), Seq("query_id", "neighbor_id"), "left")
      .agg((sum(coalesce(col("__h"), lit(0L))).cast("double") /
        count(lit(1))).as("recall"))
      .head().getDouble(0)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()

    val reps = 2
    val (dim, blobs, subBlobs, nQ) = (64, 32, 25, 2000L)
    // small residual-code budget (IVFADC): m=8 halves the per-candidate
    // ADC adds and ksub=16 shrinks the per-(query,cell) distance table
    // 8x vs the structureless configs — the cache footprint that
    // dominated the raw-vector scan
    val (nCells, nProbe, m, ksub, refine) = (32, 4, 8, 16, 40)
    val results = Seq(10000L -> "sf0.1_scale", 100000L -> "sf1_scale")
      .map { case (n, tag) =>
        val runs = (1 to reps).map { _ =>
          val emb = clusteredCorpus(spark, n, dim, blobs, subBlobs).localCheckpoint(true)
          val queries = emb.filter(col("vec_id") < nQ).localCheckpoint(true)
          val (tBrute, bruteRows) = timeS {
            Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 5).count()
          }
          val (tIvf, ivfRows) = timeS {
            Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
              nCells = nCells, nProbe = nProbe).count()
          }
          val (tIvfPq, ivfPqRows) = timeS {
            Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", 5,
              nCells = nCells, nProbe = nProbe, m = m, ksub = ksub,
              refine = refine).count()
          }
          val exact = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 5)
          val rIvf = recall5(Similarity.ivfTopK(emb, queries, "vec_id",
            "embedding", 5, nCells = nCells, nProbe = nProbe), exact)
          val rIvfPq = recall5(Similarity.ivfPqTopK(emb, queries, "vec_id",
            "embedding", 5, nCells = nCells, nProbe = nProbe, m = m,
            ksub = ksub, refine = refine), exact)
          val frac = Similarity.ivfProbeCensus(emb, queries, "vec_id",
            "embedding", nCells = nCells, nProbe = nProbe)
            .head().getDouble(3)
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          (tBrute, bruteRows, tIvf, ivfRows, rIvf, tIvfPq, ivfPqRows,
            rIvfPq, frac)
        }
        val best = runs.minBy(r => r._1 + r._3 + r._6)
        val (tBrute, bruteRows, tIvf, ivfRows, rIvf, tIvfPq, ivfPqRows,
          rIvfPq, frac) = best
        s""""$tag":{"n_vecs":$n,"n_queries":$nQ,"brute_sec":${f3(tBrute)},""" +
          s""""brute_rows":$bruteRows,"ivf_sec":${f3(tIvf)},""" +
          s""""ivf_rows":$ivfRows,"ivf_recall5":${f3(rIvf)},""" +
          s""""ivf_speedup":${f3(tBrute / math.max(1e-9, tIvf))},""" +
          s""""ivfpq_sec":${f3(tIvfPq)},"ivfpq_rows":$ivfPqRows,""" +
          s""""ivfpq_recall5":${f3(rIvfPq)},""" +
          s""""ivfpq_speedup":${f3(tBrute / math.max(1e-9, tIvfPq))},""" +
          s""""probe_fraction":${f3(frac)}}"""
      }
    println(s"""{"metric":"ann_scaling","reps_each":$reps,"best_of":"sum_sec","config":{"dim":$dim,"blobs":$blobs,"subBlobs":$subBlobs,"nCells":$nCells,"nProbe":$nProbe,"m":$m,"ksub":$ksub,"refine":$refine},${results.mkString(",")}}""")
    spark.stop()
  }
}
