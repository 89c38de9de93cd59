package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.TestSpark.withTempDir

/** The reliable-checkpoint switch (`spark.graft.checkpointDir`): when
  * set, every internal eager materialization becomes a reliable
  * `checkpoint()` to that directory instead of a `localCheckpoint` —
  * same values, durable truncation. Pinned here by re-running the CC
  * fixture under the switch and comparing bit-for-bit.
  */
class LineageSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def ccLabels(): Map[Long, Long] = {
    val vertices = (1L to 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    Dedup.connectedComponents(vertices, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("checkpointDir switch: CC values identical, files land in the dir") {
    val expected = ccLabels() // default local-checkpoint path
    withTempDir("graft-ckpt") { tmp =>
      val dir = tmp.toFile
      try {
        spark.conf.set(Lineage.ConfKey, dir.getAbsolutePath)
        assert(ccLabels() == expected,
          "reliable-checkpoint run must produce identical labels")
        // the frontier loop materialized through the switch: the reliable
        // checkpoint directory must now contain rdd checkpoint data
        def countFiles(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(countFiles).sum else 1
        assert(countFiles(dir) > 0,
          s"expected reliable checkpoint files under $dir")
      } finally {
        spark.conf.unset(Lineage.ConfKey)
        org.apache.spark.CheckpointDirs.clear(spark.sparkContext)
      }
    }
  }

  test("storage-level variant honors the switch and preserves values") {
    val df = (1L to 100L).toDF("v").filter(col("v") % 2 === 0)
    val localSum = Lineage.materialize(df, StorageLevel.DISK_ONLY)
      .agg(sum("v")).head().getLong(0)
    withTempDir("graft-ckpt2") { dir =>
      try {
        spark.conf.set(Lineage.ConfKey, dir.toFile.getAbsolutePath)
        val reliableSum = Lineage.materialize(df, StorageLevel.DISK_ONLY)
          .agg(sum("v")).head().getLong(0)
        assert(reliableSum == localSum)
      } finally {
        spark.conf.unset(Lineage.ConfKey)
        org.apache.spark.CheckpointDirs.clear(spark.sparkContext)
      }
    }
  }
}
