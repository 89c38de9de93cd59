package graft.ml

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Lineage.LineageOps

/** Feature construction (SURVEY.md §2.6 F14/F15, §2.8 assembly).
  *
  * One-hot encoding follows the reference's `pd.get_dummies(...,
  * drop_first=True)` (reference backend/features.py:51-52): explicit
  * `when(col === v, 1)` columns with stable, value-derived names — chosen
  * over MLlib's StringIndexer+OneHotEncoder so column names (and thus the
  * DuckDB oracle) are deterministic and order-independent. The value list
  * is passed explicitly: at 100 TB, collecting distinct values per batch
  * is a separate (cheap, aggregate-only) step the caller controls.
  */
object Featurize {

  /** F15: one-hot columns `<prefix>_<value>` for each value but the
    * alphabetically-first (the reference's `drop_first=True`
    * collinearity guard).
    */
  def oneHot(df: DataFrame, colName: String, values: Seq[String],
      prefix: String): DataFrame = {
    values.sorted.drop(1).foldLeft(df) { (d, v) =>
      d.withColumn(s"${prefix}_$v", (col(colName) === lit(v)).cast("int"))
    }
  }

  /** F14: pairwise interaction features `<a>_x_<b> = a * b` (reference
    * backend/features.py:31-40 — precip×is_winter etc.). Pure column
    * arithmetic; stays inside whole-stage codegen.
    */
  def withInteractions(df: DataFrame, pairs: Seq[(String, String)]): DataFrame =
    pairs.foldLeft(df) { case (d, (a, b)) =>
      d.withColumn(s"${a}_x_$b", col(a) * col(b))
    }

  /** Assemble feature columns into an MLlib vector column. */
  def assembler(features: Seq[String], outputCol: String = "features"): VectorAssembler =
    new VectorAssembler().setInputCols(features.toArray).setOutputCol(outputCol)
      .setHandleInvalid("skip")

  /** Leave-one-out smoothed target encoding: replace a high-cardinality
    * categorical with the mean target of its OTHER members, shrunk
    * toward the global mean by pseudo-count `m`:
    *   enc = (Σ_g y − y_row + m·ȳ) / (n_g − 1 + m).
    * The leave-one-out exclusion is what keeps the encoding from
    * leaking the row's own label into its feature (the classic target-
    * leak a naive category-mean encode commits); the m-shrinkage keeps
    * singleton categories at the prior instead of at 0/0.
    *
    * Scale shape: one hash aggregate to category-cardinality sums
    * joined back — no broadcast hint, because the whole point of this
    * encoder is HIGH-cardinality categories: AQE broadcasts the stats
    * side when its runtime size is small and shuffles on the category
    * key when it is not. One 1-row global mean (that one IS broadcast);
    * the encode itself is a pure projection. Rows in categories with
    * n_g = 1 get exactly the prior (numerator m·ȳ over denominator m).
    */
  def targetEncodeLoo(df: DataFrame, category: Column, y: Column,
      m: Double = 10.0, outCol: String = "y_enc"): DataFrame = {
    require(m > 0, "smoothing pseudo-count m must be positive")
    val sums = df.groupBy(category.as("__cat"))
      .agg(sum(y).as("__sy"), count(y).as("__ny"))
    val prior = df.agg(avg(y).as("__prior"))
    df.join(sums, category === col("__cat"))
      .crossJoin(broadcast(prior))
      .withColumn(outCol,
        (col("__sy") - y + lit(m) * col("__prior")) /
          (col("__ny") - 1 + lit(m)))
      .drop("__cat", "__sy", "__ny", "__prior")
  }

  /** Weight-of-evidence / information-value scoring of a numeric feature
    * against a binary target (the credit-scoring binning screen; also
    * the standard "is this feature worth keeping" ranking before model
    * fit). The feature is cut into `nBins` quantile bins (ntile with a
    * deterministic tie-break, the q_ntile contract); per bin:
    * `woe = ln(((n_pos + s)/T_pos) / ((n_neg + s)/T_neg))` with additive
    * smoothing `s` in the numerators only, and
    * `iv_term = (n_pos/T_pos − n_neg/T_neg) · woe`; `iv` is the total
    * over bins, repeated on every row.
    *
    * Output: one row per bin — `bin, n, n_pos, n_neg, x_lo, x_hi, woe,
    * iv_term, iv`.
    *
    * Scale note: exact ntile is an un-partitioned window — the global
    * positional semantics funnel rows through one task (same inherent
    * caveat as [[graft.operators.Relational.temporalSplitFlag]]). The
    * 100 TB path is binning by approxQuantile cutoffs (map-only,
    * pushed-down comparisons); exact quantile bins are the oracle-exact
    * demo form. Everything after binning is one nBins-sized aggregate;
    * the nBins-row stats frame is eagerly checkpointed because it feeds
    * two consumers (the IV total and the output) and would otherwise
    * re-run the global window twice.
    */
  def woeIv(df: DataFrame, x: Column, target: Column, nBins: Int,
      tieBreak: Seq[Column], smoothing: Double = 0.5): DataFrame = {
    require(nBins >= 2, "nBins must be at least 2")
    val binned = df
      .withColumn("__bin", ntile(nBins).over(Window.orderBy(x +: tieBreak: _*)))
      .withColumn("__t", target.cast("int"))
    val perBin = binned
      .groupBy(col("__bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__t")).cast("long").as("n_pos"),
        (count(lit(1)) - sum(col("__t"))).cast("long").as("n_neg"),
        min(x).as("x_lo"), max(x).as("x_hi"))
      .graftCheckpoint() // nBins rows; feeds the IV total AND the output
    val tot = perBin.agg(sum("n_pos").as("__tp"), sum("n_neg").as("__tn"))
    val scored = perBin.crossJoin(broadcast(tot))
      .withColumn("woe",
        log(((col("n_pos") + lit(smoothing)) / col("__tp")) /
            ((col("n_neg") + lit(smoothing)) / col("__tn"))))
      .withColumn("iv_term",
        (col("n_pos") / col("__tp") - col("n_neg") / col("__tn")) * col("woe"))
    val iv = scored.agg(sum("iv_term").as("iv"))
    scored.crossJoin(broadcast(iv))
      .select("bin", "n", "n_pos", "n_neg", "x_lo", "x_hi", "woe",
        "iv_term", "iv")
  }
}
