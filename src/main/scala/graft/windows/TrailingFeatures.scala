package graft.windows

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Lineage.LineageOps

/** Grouped time-series features: lags and trailing-exclusive rolling means
  * (SURVEY.md §2.4 A3/A4 — the semantic heart of the reference's feature
  * pipeline).
  *
  * Reference semantics, reproduced exactly:
  *  - lag:  `groupby(key)[v].shift(n)` (SegmentedModeling.py:238-239) —
  *    null for the first n rows of each group, never leaks across groups.
  *  - trailing rolling mean:
  *    `groupby(key)[v].rolling(w, min_periods=1).mean().shift(1)`
  *    (SegmentedModeling.py:240-247) — at row t this is the mean of rows
  *    [t−w, t−1] within the group; null only at the group's first row
  *    (empty window frame → null, which matches the shifted NaN).
  *
  * The reference sorts with an *unstable* quicksort before computing these
  * (SegmentedModeling.py:224), so its values are nondeterministic on
  * timestamp ties (SURVEY.md §7 risk 3). We require explicit tie-break
  * columns and are deterministic.
  *
  * Scale note: one `Window.partitionBy(keys).orderBy(...)` spec is shared
  * by every feature column, so all lags + rolling means compute in a
  * single shuffle + single sort per partition key — the plan has exactly
  * one Exchange regardless of how many features are derived.
  */
object TrailingFeatures {

  def spec(partitionCols: Seq[String], orderCols: Seq[String]) =
    Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)

  /** Grouped lag feature: value `n` rows back within the group. */
  def groupedLag(v: Column, n: Int, partitionCols: Seq[String], orderCols: Seq[String]): Column =
    lag(v, n).over(spec(partitionCols, orderCols))

  /** Trailing-exclusive rolling mean over the previous `w` rows
    * ([t−w, t−1]); null at each group's first row.
    */
  def trailingMean(v: Column, w: Int, partitionCols: Seq[String], orderCols: Seq[String]): Column =
    avg(v).over(spec(partitionCols, orderCols).rowsBetween(-w, -1))

  /** The reference's full trailing feature block (lags {1,24,168}, rolling
    * {3,24}) in one pass (single window spec → single shuffle).
    */
  def withTrailing(df: DataFrame, valueCol: String, partitionCols: Seq[String],
      orderCols: Seq[String], lags: Seq[Int] = Seq(1, 24, 168),
      rolls: Seq[Int] = Seq(3, 24)): DataFrame = {
    val w = spec(partitionCols, orderCols)
    val v = col(valueCol)
    val lagCols = lags.map(n => s"${valueCol}_lag_$n" -> lag(v, n).over(w))
    val rollCols = rolls.map(n =>
      s"${valueCol}_roll_$n" -> avg(v).over(w.rowsBetween(-n, -1)))
    (lagCols ++ rollCols).foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
  }

  /** [[withTrailing]] with CHUNKED window evaluation — identical output,
    * parallel within a window partition.
    *
    * The plain window is the scale trap of low-cardinality keying: with
    * 5 boroughs, `partitionBy(borough)` sorts each borough's entire
    * history in ONE task, so 100× data = 100× single-task sort. But a
    * trailing feature with bounded reach (max lag/roll = K rows) never
    * looks further back than K rows — so the timeline can be cut into
    * chunks, each chunk prepended with the previous chunk's last K rows
    * (bounded-history replication), and every chunk evaluated
    * INDEPENDENTLY:
    *
    *  1. `chunkCol` assigns each row a chunk id — any long expression
    *     NON-DECREASING along `orderCols` within a partition (typically
    *     `floor(unix_micros(ts) / span)`); rows with equal order keys
    *     must land in the same chunk (a function of the leading order
    *     column guarantees this).
    *  2. per (partition, chunk): the last K rows (one descending
    *     per-chunk window) are replicated into the partition's NEXT
    *     chunk — resolved through a chunk-level `lead`, so empty
    *     calendar gaps don't strand the context — flagged `__ctx`.
    *  3. per (partition, chunk): one ascending window computes every
    *     lag/roll; context rows sort strictly before own rows (chunk ids
    *     are non-decreasing along the order), so the first own rows see
    *     exactly their true global predecessors. Context rows' own
    *     outputs are dropped.
    *
    * Exactness requires every chunk that has BOTH a predecessor and rows
    * after it to hold ≥ K rows (a thinner interior chunk cannot carry
    * the full history its successor needs — its successor would need
    * rows from two chunks back). `validate = true` (default) checks this
    * from the chunk-census counts (computed for free inside the tail-K
    * pass) and throws with the offending (partition, chunk) — disable
    * at scale once the span is sized from known density (rows/chunk ≫ K).
    *
    * Shuffle inventory: two (partition, chunk)-keyed exchanges (tail-K/
    * census pass + main window pass) + the tiny chunk-level lead,
    * replacing one partition-keyed exchange whose sort is single-task
    * per key. Parallelism = #chunks instead of #partitions. Parity with
    * [[withTrailing]] is spec-pinned (PipelinesSpec).
    *
    * The tail/census pass reads a narrow projection of just the window
    * inputs (context rows are null-padded back to full width via
    * unionByName), so `df` can stay a wide lazy plan: nothing is
    * persisted and the upstream plan executes exactly twice.
    */
  def withTrailingChunked(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String], chunkCol: Column,
      lags: Seq[Int] = Seq(1, 24, 168), rolls: Seq[Int] = Seq(3, 24),
      validate: Boolean = true): DataFrame = {
    val k = (lags ++ rolls).max
    val part = partitionCols.map(col)
    val base = df.withColumn("__ck", chunkCol.cast("long"))

    // What the census + context-extraction pass reads. The window logic
    // only ever touches (partition, order, value, chunk) — the other
    // columns ride along solely so the MAIN pass can emit full rows —
    // so that pass runs over a LAZY projection of just the window
    // inputs (at E1 scale ~4 of ~14 columns). `df` itself also stays
    // lazy: the main pass executes it once, streaming straight into the
    // window's own (partition, chunk) exchange. Nothing full-width or
    // data-sized is persisted here: with the census folded INTO the
    // context window below, the projection has one consumer, and a
    // DISK_ONLY persist of it made the lane track machine IO latency.
    val censusBase = base.select(
      (partitionCols ++ orderCols :+ valueCol).distinct.map(col) :+ col("__ck"): _*)

    // ONE (partition, chunk)-keyed pass extracts the tail-K context
    // rows; only they survive — K × #chunks rows, tiny at any scale —
    // and they are materialized once for their two consumers (the
    // chunk-meta build and the context join). The chunk census rides
    // for free: tails hold min(count, K) rows per populated chunk, so
    // the validation predicate `count < K` is EXACTLY `tailCount < K`
    // (and when it fires, tailCount = count, so the error is exact) —
    // no count window, no separate census aggregate over the data.
    val wDesc = Window.partitionBy(part :+ col("__ck"): _*)
      .orderBy(orderCols.map(col(_).desc): _*)
    val tails = censusBase
      .withColumn("__rev", row_number().over(wDesc))
      .filter(col("__rev") <= k)
      .drop("__rev")
      .graftCheckpoint()

    // Chunk-level successor map: (partition, chunk) -> next populated
    // chunk. Derived from the materialized tails (every populated chunk
    // has ≥ 1 tail row), so rebuilding it per consumer is a tiny
    // aggregate — no checkpoint needed.
    val wChunks = Window.partitionBy(part: _*).orderBy(col("__ck"))
    val chunkMeta = tails.groupBy(part :+ col("__ck"): _*)
      .agg(count(lit(1)).as("__ckn"))
      .withColumn("__next_ck", lead(col("__ck"), 1).over(wChunks))
      .withColumn("__prev_ck", lag(col("__ck"), 1).over(wChunks))

    if (validate) {
      val bad = chunkMeta
        .filter(col("__prev_ck").isNotNull && col("__next_ck").isNotNull &&
          col("__ckn") < k)
        .limit(1).collect()
      require(bad.isEmpty, {
        val r = bad.head
        s"withTrailingChunked: interior chunk ${r.getAs[Long]("__ck")} of " +
          s"partition ${partitionCols.map(r.getAs[Any]).mkString("/")} has " +
          s"${r.getAs[Long]("__ckn")} rows < max reach $k — widen the chunk " +
          "span (every interior chunk must carry the full history its " +
          "successor's head rows reach back into)"
      })
    }

    // Tail-K of each chunk, retargeted to the partition's next chunk.
    // chunkMeta is chunk-granular (partitions × chunks rows) — tiny at
    // any scale, but it hangs off a checkpointed/unknown-stats lineage
    // so the planner can't see that and picks a sort-merge join (plan
    // audit, plans/r19/flagship_e1_chunked_before): broadcast it
    // explicitly, removing the tail-K side's join exchange + both sorts
    // (optimization guide §3.1 — hint when the estimate is blind).
    val ctx = tails
      .join(broadcast(chunkMeta.select(part :+ col("__ck") :+ col("__next_ck"): _*)),
        partitionCols :+ "__ck")
      .filter(col("__next_ck").isNotNull)
      .withColumn("__ck", col("__next_ck"))
      .drop("__next_ck")
      .withColumn("__ctx", lit(1))

    // Context rows lack the ride-along columns; null-pad them
    // (allowMissingColumns). Sound because context rows exist only to
    // be READ through lag/avg over `valueCol` — their own (padded)
    // outputs are dropped by the __ctx filter below.
    val aug = base.withColumn("__ctx", lit(0))
      .unionByName(ctx, allowMissingColumns = true)
    val w = Window.partitionBy(part :+ col("__ck"): _*)
      .orderBy(orderCols.map(col): _*)
    val v = col(valueCol)
    val featCols =
      lags.map(n => s"${valueCol}_lag_$n" -> lag(v, n).over(w)) ++
      rolls.map(n => s"${valueCol}_roll_$n" -> avg(v).over(w.rowsBetween(-n, -1)))
    featCols.foldLeft(aug) { case (d, (name, c)) => d.withColumn(name, c) }
      .filter(col("__ctx") === 0)
      .drop("__ck", "__ctx")
  }
}
