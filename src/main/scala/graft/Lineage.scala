package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Lineage-truncation policy for every eager materialization inside the
  * library (Dedup CC/pageRank frontier loops, the drift-matrix cell
  * table, BPE merge rounds, fleissKappa's cell aggregate, the shared
  * intermediates of several queries, …).
  *
  * Default: `localCheckpoint(eager = true)` — blocks live on executors,
  * zero external storage, the right call on local[*] and on clusters
  * where executor loss is acceptable (recompute = rerun the job).
  *
  * Cluster-durability switch: when the session conf
  * `spark.graft.checkpointDir` is set (non-empty), every internal
  * materialization becomes a RELIABLE `checkpoint(eager = true)` to that
  * directory instead — an executor lost after the call recomputes from
  * the checkpoint files rather than failing the job. The SparkContext
  * checkpoint dir is initialized from the conf on first use; an existing
  * `sc.setCheckpointDir` (set explicitly by the caller) wins. Values are
  * identical either way — only the storage of the truncated lineage
  * changes — so no oracle may move when the switch flips (pinned by
  * LineageSpec).
  *
  * 100 TB note: reliable checkpoints write the full dataset to the
  * checkpoint FS once per call; the library only ever materializes
  * COMPACT intermediates (frontier tables, cell aggregates, signature
  * columns), so the write is bounded by those, not by the corpus.
  */
object Lineage {

  val ConfKey = "spark.graft.checkpointDir"

  /** Truncate `ds`'s lineage eagerly — local by default, reliable when
    * [[ConfKey]] is set.
    */
  def materialize[T](ds: Dataset[T]): Dataset[T] =
    materialize(ds, StorageLevel.MEMORY_AND_DISK)

  /** Storage-level variant (e.g. DISK_ONLY for wide intermediates). On
    * the reliable path the level applies to the TRANSIENT persist that
    * backs the checkpoint write (below); the checkpoint files
    * themselves are on-disk by construction.
    */
  def materialize[T](ds: Dataset[T], level: StorageLevel): Dataset[T] = {
    val spark = ds.sparkSession
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        // Persist BEFORE checkpointing: a bare checkpoint(eager=true)
        // executes the subplan TWICE — once for the eager count, then
        // again in the post-job checkpoint-write pass (the documented
        // RDD.checkpoint recomputation caveat; localCheckpoint never
        // had this cost because it just pins the computed blocks).
        // With the plan persisted, the count populates the cache and
        // the write pass reads blocks instead of recomputing the
        // join/aggregate subtree. The persist is transient: released
        // as soon as the checkpoint files are on disk (checkpoint
        // write is synchronous inside the eager count's runJob).
        val persisted = ds.persist(level)
        try persisted.checkpoint(eager = true)
        finally persisted.unpersist(blocking = false)
      case None => ds.localCheckpoint(eager = true, storageLevel = level)
    }
  }

  /** Chain-friendly syntax: `df.transform(...).graftCheckpoint()`. */
  implicit final class LineageOps[T](private val ds: Dataset[T])
      extends AnyVal {
    def graftCheckpoint(): Dataset[T] = materialize(ds)
    def graftCheckpoint(level: StorageLevel): Dataset[T] =
      materialize(ds, level)
  }
}
