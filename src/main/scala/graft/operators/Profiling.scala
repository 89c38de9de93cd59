package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-profiling operators: equi-width histogram, per-column summary
  * profile, and group-key skew diagnostics.
  *
  * The reference's only profiling surface is `df.isnull().sum()`
  * (covered by [[Relational.nullProfile]]); these are the rest of the
  * "look before you shuffle" toolkit a pipeline over an unknown 100 TB
  * table needs — each is one or two hash aggregates whose OUTPUT is
  * bins / columns / percentiles-sized, never data-sized, so the answer
  * always fits on a driver regardless of input scale.
  */
object Profiling {

  /** Equi-width histogram of `x` over `nBins` bins between the column's
    * observed min and max (nulls ignored; the max value lands in the
    * last bin). Emits ALL bins, zero-count ones included — a histogram
    * with silently-absent empty bins misreads as continuous mass.
    *
    * Scale shape: one min/max aggregate (1 row, broadcast back), one
    * hash aggregate on the bin id (map-side combine does almost all the
    * work — at most nBins partial rows per task), and an nBins-row grid
    * left-join to densify. Nothing here is data-sized after the scan.
    *
    * Degenerate single-value columns (min == max) collapse to bin 0.
    */
  def histogram(df: DataFrame, x: Column, nBins: Int): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    // The 1-row min/max is collected and embedded as LITERALS rather
    // than broadcast-joined: the lazy-subtree version needs the stats
    // plan TWICE (bin expression + grid), a BroadcastNestedLoopJoin,
    // and ~8 whole-stage-codegen units — measured 5-7 s/run purely in
    // per-stage Janino compile on a 10k-row input. With literal bounds
    // the whole histogram is scan → project → one hash aggregate (+ a
    // 20-row grid join), the same two jobs a 100 TB run would pay, and
    // the collected row is O(1) — bounded driver assembly, same
    // discipline as SpatialJoin.autoCellSize.
    val row = df.agg(min(x).cast("double").as("__lo"),
      max(x).cast("double").as("__hi")).head()
    if (row.isNullAt(0)) {
      // all-null / empty input: an empty histogram, typed like the real one
      return df.sparkSession.range(0)
        .select(col("id").as("bin"), lit(0.0).as("bin_lo"),
          lit(0.0).as("bin_hi"), col("id").as("n"))
    }
    val (lo, hi) = (row.getDouble(0), row.getDouble(1))
    val bin = if (hi == lo) lit(0L)
      else least(floor((x - lit(lo)) / lit((hi - lo) / nBins)), lit(nBins - 1L))
        .cast("long")
    val counts = df.filter(x.isNotNull)
      .groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
    val grid = df.sparkSession.range(nBins).select(col("id").as("bin"))
    grid.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        (lit(lo) + col("bin") * lit(hi - lo) / lit(nBins.toDouble)).as("bin_lo"),
        (lit(lo) + (col("bin") + 1) * lit(hi - lo) / lit(nBins.toDouble)).as("bin_hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Per-column summary profile, one output row per profiled column:
    * row count, null count, exact distinct count, and (for numeric
    * columns) min / max / mean as doubles — the schema-discovery pass
    * run before trusting an unknown table.
    *
    * Scale shape: one aggregate per column batched into a single
    * `agg(...)` call — Catalyst plans the multi-distinct via Expand
    * (one pass over the data per distinct column, map-side partials
    * throughout); output is columns-sized. For hundreds of columns at
    * 100 TB swap the exact distincts for `approx_count_distinct` — the
    * shape is otherwise identical.
    */
  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    require(cols.forall(df.columns.contains), "cols must exist in df")
    val numeric = df.schema.fields
      .filter(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSet
    // Internal aliases are INDEX-based and profiled names ride as
    // lit() values — a column named `a b`, `a.b`, or `a'b` profiles
    // fine (nothing user-controlled ever reaches the SQL parser).
    // Source references are backtick-quoted (embedded backticks
    // doubled) so the attribute-name parser takes them literally.
    def quoted(c: String) = col("`" + c.replace("`", "``") + "`")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val src = quoted(c)
      Seq(count(lit(1)).as(s"__n_$i"),
        count(lit(1)).minus(count(src)).as(s"__nn_$i"),
        countDistinct(src).as(s"__nd_$i")) ++
        (if (numeric(c)) Seq(min(src).cast("double").as(s"__min_$i"),
            max(src).cast("double").as(s"__max_$i"),
            avg(src).as(s"__avg_$i"))
        else Seq(lit(null).cast("double").as(s"__min_$i"),
          lit(null).cast("double").as(s"__max_$i"),
          lit(null).cast("double").as(s"__avg_$i")))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = lit(cols.length) +: cols.indices.flatMap { i =>
      Seq(lit(cols(i)), col(s"__n_$i"), col(s"__nn_$i"), col(s"__nd_$i"),
        col(s"__min_$i"), col(s"__max_$i"), col(s"__avg_$i")) }
    one.select(stack(stackArgs: _*).as(Seq("column", "n_rows", "n_null",
      "n_distinct", "min_d", "max_d", "avg_d")))
  }

  /** Group-key skew diagnostics: the distribution of per-key group
    * sizes — key count, total rows, max group, exact p50/p90/p99 of
    * group sizes, and the largest key's share of all rows. THE number
    * to look at before keying a shuffle on an unknown column: a
    * `top_share` near 1.0 says one key will own a straggler task (and
    * points at [[Relational.saltedJoin]] / AQE skew handling).
    *
    * Two hash aggregates: data → per-key counts (key-cardinality rows),
    * then a 1-row summary over those. Output is one row, always.
    */
  /** Data-quality constraint validation (the Deequ-style expectation
    * gate): each check is an AGGREGATE expression counting its
    * VIOLATIONS; all checks batch into ONE aggregate pass over the
    * data, and the output is one (check, violations, passed) row per
    * constraint — checks-sized, never data-sized. Run it before
    * publishing a table; gate the pipeline on `passed` all-true.
    * For the declared-expectation layer (typed API, n_checked
    * reporting, referential-integrity and composite-key-uniqueness
    * checks that can't be one aggregate expression) see
    * [[Expectations.check]] — its row-level checks compile to this
    * same one-aggregate shape.
    */
  def validate(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "checks must be non-empty")
    val aggs = checks.zipWithIndex.map { case ((_, c), i) =>
      coalesce(c.cast("long"), lit(0L)).as(s"__v$i") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // Check names ride as lit() values (never spliced into SQL text),
    // so quotes/spaces/backticks in a check name are just data.
    val stackArgs = lit(checks.length) +: checks.zipWithIndex.flatMap {
      case ((n, _), i) => Seq(lit(n), col(s"__v$i")) }
    one.select(stack(stackArgs: _*).as(Seq("check", "violations")))
      .withColumn("passed", col("violations") === 0)
  }

  /** Violation-count aggregates for [[validate]]. */
  def notNullViolations(c: Column): Column = count(when(c.isNull, 1))
  def uniqueViolations(c: Column): Column = count(c) - countDistinct(c)
  def rangeViolations(c: Column, lo: Double, hi: Double): Column =
    count(when(c < lo || c > hi, 1))
  def inSetViolations(c: Column, values: Seq[String]): Column =
    count(when(c.isNotNull && !c.isin(values: _*), 1))

  /** Shannon entropy (nats) of a categorical column, plus the
    * normalized form H / ln(support) ∈ [0,1] — the "is this column
    * informative or near-constant" screen (normalized ≈ 0: one value
    * dominates; ≈ 1: uniform). Nulls excluded (entropy of the observed
    * distribution). One hash aggregate to the support-sized value table,
    * then a 1-row sum.
    */
  def entropy(df: DataFrame, x: Column): DataFrame = {
    val counts = df.filter(x.isNotNull)
      .groupBy(x.as("__v")).agg(count(lit(1)).as("__c"))
    val tot = counts.agg(sum(col("__c")).as("__n"))
    counts.crossJoin(broadcast(tot))
      .agg(sum((col("__c") / col("__n")) * -log(col("__c") / col("__n")))
          .as("entropy_nats"),
        count(lit(1)).as("support"), max(col("__n")).as("n"))
      .select(col("entropy_nats"),
        when(col("support") > 1,
          col("entropy_nats") / log(col("support").cast("double")))
          .otherwise(lit(0.0)).as("entropy_norm"),
        col("support"), col("n"))
  }

  /** Mutual information (in nats) between two categorical columns:
    * I(A;B) = Σ p(a,b) · ln(p(a,b) / (p(a)·p(b))) over the observed
    * joint support — the dependence screen run before trusting a
    * feature pair (0 ⇔ independent; compare against min(H(A), H(B))
    * for a normalized score). Null-safe: rows where either side is
    * null are excluded (MI is defined over the joint support).
    *
    * Scale shape: one hash aggregate to the joint table (|A|·|B| rows
    * — categorical, so tiny), margins re-aggregated FROM the joint
    * (never re-scanning the data), broadcast-joined back, one 1-row
    * sum. Everything after the first aggregate is support-sized.
    */
  def mutualInfo(df: DataFrame, a: Column, b: Column): DataFrame = {
    val joint = df.filter(a.isNotNull && b.isNotNull)
      .groupBy(a.as("__a"), b.as("__b")).agg(count(lit(1)).as("__c"))
    val ma = joint.groupBy("__a").agg(sum(col("__c")).as("__ca"))
    val mb = joint.groupBy("__b").agg(sum(col("__c")).as("__cb"))
    val tot = joint.agg(sum(col("__c")).as("__n"))
    joint.join(broadcast(ma), "__a").join(broadcast(mb), "__b")
      .crossJoin(broadcast(tot))
      .agg(
        sum((col("__c") / col("__n")) *
          log((col("__c") * col("__n")) / (col("__ca") * col("__cb"))))
          .as("mi_nats"),
        max(col("__n")).as("n"),
        count(lit(1)).as("support"))
  }

  def keySkew(df: DataFrame, key: Column): DataFrame = {
    val sizes = df.groupBy(key.as("__k")).agg(count(lit(1)).as("__n"))
    sizes.agg(
      count(lit(1)).as("n_keys"),
      sum(col("__n")).as("n_rows"),
      max(col("__n")).as("max_n"),
      expr("percentile(__n, 0.5)").as("p50_n"),
      expr("percentile(__n, 0.9)").as("p90_n"),
      expr("percentile(__n, 0.99)").as("p99_n"),
      (max(col("__n")).cast("double") / sum(col("__n"))).as("top_share"))
  }
}
