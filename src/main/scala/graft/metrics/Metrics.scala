package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Lineage.LineageOps

/** Regression / statistics aggregates (SURVEY.md §2.4 A7–A10).
  *
  * The reference computes these with sklearn on materialized numpy arrays
  * (backend/LinearRegression.py:79-93, SegmentedModeling.py:122-137). Here
  * each metric is a pure aggregate *expression* — one distributed pass,
  * map-side partial aggregation, no driver-side arrays.
  */
object Metrics {

  /** Mean squared error. */
  def mse(y: Column, p: Column): Column = avg(pow(y - p, 2))

  /** Mean absolute error. */
  def mae(y: Column, p: Column): Column = avg(abs(y - p))

  /** Root mean squared error (A9). */
  def rmse(y: Column, p: Column): Column = sqrt(mse(y, p))

  /** R² = 1 − SS_res/SS_tot, single pass via sufficient statistics:
    * SS_tot = Σy² − (Σy)²/n.
    */
  def r2(y: Column, p: Column): Column = {
    val ssRes = sum(pow(y - p, 2))
    val ssTot = sum(y * y) - pow(sum(y), 2) / count(y)
    lit(1.0) - ssRes / ssTot
  }

  /** A10: MAPE with the reference's zero-mask
    * (`mean_absolute_percentage_error(y[y>0], p[y>0])`,
    * SegmentedModeling.py:122-128) — rows with y<=0 are excluded from the
    * mean, expressed as a conditional aggregate (no pre-filter needed, so
    * it composes with other metrics in one pass).
    */
  def mapeNonzero(y: Column, p: Column): Column =
    avg(when(y > 0, abs((y - p) / y)))

  /** One-pass single-feature OLS from sufficient statistics:
    * slope = cov(x,y)/var(x), intercept = ȳ − slope·x̄, R² = corr(x,y)²
    * (exact for simple linear regression). Four aggregate expressions in
    * ONE distributed pass — the scale path for 100 TB single-feature
    * fits, where an MLlib fit's instance collection and extra count job
    * buy nothing (the normal-equation solve is closed-form either way).
    * Matches DuckDB `regr_slope/regr_intercept/regr_r2` and the MLlib
    * solver (q_ols_coeffs) to ~1e-12 relative.
    *
    * Rows where either column is NULL are excluded up front — SQL
    * `regr_*` semantics. Without the filter, `covar_samp(x,y)` would
    * drop pairwise-null rows while `var_samp(x)`/`avg(x)` kept them,
    * silently mixing two different populations on nullable inputs.
    */
  def olsSimple(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val (x, y) = (col(xCol).cast("double"), col(yCol).cast("double"))
    val slope = covar_samp(x, y) / var_samp(x)
    df.filter(x.isNotNull && y.isNotNull).agg(
      slope.as("slope"),
      (avg(y) - slope * avg(x)).as("intercept"),
      pow(corr(x, y), 2).as("r2"),
      count(lit(1)).as("n"))
  }

  /** A7: full pairwise Pearson correlation matrix over numeric columns.
    * Output: one row per column (`feature`), one column per column —
    * mirrors `df.corr()`. Uses `corr` aggregates (single pass, n² cells
    * but each a cheap partial agg — fine for the ≤dozens of features the
    * reference profiles; for very wide matrices use
    * `ml.stat.Correlation.corr` on an assembled vector).
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = for (a <- cols; b <- cols) yield corr(col(a), col(b)).as(s"${a}__${b}")
    val wide = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val spark = df.sparkSession
    import spark.implicits._
    val rows = cols.map { a => (a, cols.map(b => wide.getAs[Double](s"${a}__${b}"))) }
    rows.toDF("feature", "corrs")
      .select(col("feature") +: cols.zipWithIndex.map { case (b, i) =>
        col("corrs").getItem(i).as(b)
      }: _*)
  }

  /** Welch's two-sample t statistic (unequal variances) between groups
    * `a` and `b` of `groupCol` — the A/B-test primitive. One grouped
    * aggregate pass (n, mean, sample variance per arm) collapsed to a
    * single row with the t statistic and Welch–Satterthwaite degrees of
    * freedom; the caller compares |t| against the t-distribution
    * quantile for their α (the p-value integral stays out of the
    * engine on purpose — it's a lookup, not a data operation).
    */
  def welchTTest(df: DataFrame, groupCol: Column, x: Column,
      a: String, b: String): DataFrame = {
    val stats = df.filter(groupCol.isin(a, b))
      .groupBy(groupCol.as("__g"))
      .agg(count(x).as("__n"), avg(x).as("__m"), var_samp(x).as("__v"))
    val wa = stats.filter(col("__g") === a)
      .select(col("__n").as("n_a"), col("__m").as("mean_a"), col("__v").as("__va"))
    val wb = stats.filter(col("__g") === b)
      .select(col("__n").as("n_b"), col("__m").as("mean_b"), col("__v").as("__vb"))
    val sa = col("__va") / col("n_a")
    val sb = col("__vb") / col("n_b")
    wa.crossJoin(wb)
      .select(col("n_a"), col("mean_a"), col("n_b"), col("mean_b"),
        ((col("mean_a") - col("mean_b")) / sqrt(sa + sb)).as("t_stat"),
        (pow(sa + sb, 2) /
          (pow(sa, 2) / (col("n_a") - 1) + pow(sb, 2) / (col("n_b") - 1)))
          .as("df_welch"))
  }

  /** Exact ROC AUC of `score` ranking `label` (boolean positives) via
    * the rank-sum identity with the standard half-credit tie handling:
    * AUC = Σ_over-distinct-scores n_pos(s) · (N_neg below s + ½·n_neg(s))
    *       / (N_pos · N_neg).
    *
    * One hash aggregate to the DISTINCT-SCORE table, one running-sum
    * window over it, one 1-row sum. Every term is integral (+½), so
    * the result is an exact rational — bit-reproducible across
    * engines. The window is single-partition over distinct scores:
    * fine for scores with bounded support (quantized model outputs,
    * the common eval case); for billions of distinct floats, quantize
    * scores first (6-dp round costs AUC < 1e-6) or rank via
    * [[graft.operators.Relational.globalRowNumber]].
    */
  def aucExact(df: DataFrame, label: Column, score: Column): DataFrame = {
    val perScore = df
      .groupBy(score.as("__s"))
      .agg(sum(when(label, 1L).otherwise(0L)).as("__np"),
        sum(when(label, 0L).otherwise(1L)).as("__nn"))
    val w = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perScore
      .withColumn("__negBelow", coalesce(sum(col("__nn")).over(w), lit(0L)))
      .agg(sum(col("__np") * (col("__negBelow") + lit(0.5) * col("__nn")))
          .as("__u"),
        sum(col("__np")).as("n_pos"), sum(col("__nn")).as("n_neg"))
      .select((col("__u") / (col("n_pos") * col("n_neg"))).as("auc"),
        col("n_pos"), col("n_neg"))
  }

  /** Calibration report for a probabilistic binary classifier —
    * the reliability-curve companion to [[aucExact]] (AUC measures
    * ranking; a model can rank perfectly and still be badly
    * mis-calibrated). Rows whose score is null or outside [0, 1] are
    * excluded (out-of-domain for a probability — see the inline note).
    * Scores in [0, 1] are cut into `nBins` equal-width
    * bins (`floor(score·nBins)` clamped into the top bin, so score = 1.0
    * lands in bin nBins−1); per bin: `n`, `mean_score` (confidence) and
    * `frac_pos` (empirical accuracy). Two global scalars repeat on every
    * row: `brier = avg((score − label)²)` and
    * `ece = Σ_b (n_b/N) · |frac_pos_b − mean_score_b|` (expected
    * calibration error, the standard reliability summary).
    *
    * Scale shape: the binning is a pure projection (no quantile window —
    * equal-width bins are the calibration convention), followed by one
    * nBins-sized hash aggregate and one 1-row aggregate; the two scalars
    * attach via 1-row broadcasts. Nothing here depends on data volume
    * beyond the two scans. Empty input yields zero bin rows.
    */
  def calibrationReport(df: DataFrame, label: Column, score: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, "nBins must be at least 1")
    // Out-of-domain rows (score null or outside [0,1]) are rejected up
    // front rather than silently binned: a probability outside the unit
    // interval is a caller bug, and including it would corrupt both the
    // bin histogram and the brier/ece scalars.
    val binned = df.where(score.isNotNull && score.between(0d, 1d)).select(
      least(floor(score * nBins), lit(nBins - 1)).cast("long").as("bin"),
      score.as("__s"), label.cast("int").as("__t"))
    val perBin = binned.groupBy("bin")
      .agg(count(lit(1)).as("n"),
        avg(col("__s")).as("mean_score"),
        avg(col("__t").cast("double")).as("frac_pos"))
      .graftCheckpoint() // nBins rows; feeds the ECE total AND the output
    val global = binned.agg(
      avg((col("__s") - col("__t")) * (col("__s") - col("__t"))).as("brier"),
      count(lit(1)).as("__N"))
    val withG = perBin.crossJoin(broadcast(global))
    val ece = withG.agg(
      sum(col("n") / col("__N") * abs(col("frac_pos") - col("mean_score")))
        .as("ece"))
    withG.crossJoin(broadcast(ece))
      .select("bin", "n", "mean_score", "frac_pos", "brier", "ece")
  }

  /** Per-class classification report — precision / recall / F1 /
    * support per class plus global accuracy and macro-F1, the
    * confusion-matrix complement to [[aucExact]]/[[calibrationReport]]
    * (those grade scores; this grades hard predictions).
    *
    * Semantics (sklearn's classification_report conventions):
    *  - the class set is the UNION of observed labels and predictions —
    *    a class that is predicted but never true appears with support 0;
    *  - precision(c) = TP_c / #predicted-as-c, null when c is never
    *    predicted; recall(c) = TP_c / support_c, null when support is 0
    *    (undefined, not 0 — the caller chooses a zero_division policy);
    *  - f1(c) = 2PR/(P+R), null when either side is null, 0.0 when both
    *    are defined but sum to 0;
    *  - accuracy = Σ TP / N; macro_f1 averages f1 over ALL classes,
    *    counting an undefined (null) F1 as 0.0 — sklearn's default
    *    zero_division=0 policy — while the per-class cells keep the
    *    null so callers can still tell "undefined" from "truly 0"
    *    (repeated on every row, like calibration's brier/ece).
    * Rows with a null label or prediction are excluded.
    *
    * Scale shape: ONE hash aggregate to the confusion-cell table
    * (|classes|² rows max — classes are enumerable by definition), then
    * everything else is arithmetic over that tiny table: two
    * |classes|-sized re-aggregations joined full-outer, a 1-row total
    * attached via broadcast. The data is scanned exactly once.
    */
  def classificationReport(df: DataFrame, label: Column, pred: Column): DataFrame = {
    val cells = df.filter(label.isNotNull && pred.isNotNull)
      .groupBy(label.cast("string").as("__y"), pred.cast("string").as("__p"))
      .agg(count(lit(1)).as("__n"))
      .graftCheckpoint() // |classes|² rows; feeds four consumers
    val byLabel = cells.groupBy(col("__y").as("cls"))
      .agg(sum(col("__n")).as("support"))
    val byPred = cells.groupBy(col("__p").as("cls"))
      .agg(sum(col("__n")).as("n_pred"))
    val tp = cells.filter(col("__y") === col("__p"))
      .select(col("__y").as("cls"), col("__n").as("__tp"))
    val total = cells.agg(sum(col("__n")).as("__N"),
      sum(when(col("__y") === col("__p"), col("__n")).otherwise(0L)).as("__TP"))
    val perClass = byLabel.join(byPred, Seq("cls"), "full")
      .join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("__tp"), lit(0L)).as("tp"),
        (coalesce(col("__tp"), lit(0L)).cast("double") / col("n_pred"))
          .as("precision"), // null when n_pred null (class never predicted)
        (coalesce(col("__tp"), lit(0L)).cast("double") / col("support"))
          .as("recall")) // null when support null→0 (class never true)
    val withF1 = perClass.withColumn("f1",
      when(col("precision").isNotNull && col("recall").isNotNull,
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(lit(0.0))))
    val macroAvg = withF1 // null F1 counts as 0.0: sklearn zero_division=0
      .agg(avg(coalesce(col("f1"), lit(0.0))).as("macro_f1"))
    withF1.crossJoin(broadcast(total)).crossJoin(broadcast(macroAvg))
      .select(col("cls"), col("support"), col("tp"), col("precision"),
        col("recall"), col("f1"),
        (col("__TP").cast("double") / col("__N")).as("accuracy"),
        col("macro_f1"))
  }

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * raters over the same items (Cohen 1960): `κ = (p_o − p_e)/(1 − p_e)`
    * with `p_o` the observed agreement rate and
    * `p_e = Σ_c p_a(c) · p_b(c)` the agreement expected if both raters
    * drew independently from their own marginals. The labeled-training-
    * data QA staple: raw agreement overstates reliability whenever the
    * category mix is skewed, κ does not.
    *
    * Rows where either rating is null are excluded (an unrated item says
    * nothing about agreement). Output is ONE row:
    * (n, n_agree, po, pe, kappa); `kappa` is null when `p_e = 1` (both
    * raters constant and identical — chance explains everything, the
    * statistic is undefined).
    *
    * Scale shape: one scalar aggregate for (n, n_agree) plus two
    * category-cardinality hash aggregates (map-side combine — each
    * executor emits at most |categories| partial rows) joined on
    * category for the `Σ n_a·n_b` term. Nothing materializes beyond the
    * marginal tables; no window, no per-item shuffle beyond the two
    * tiny aggs.
    */
  /** Weighted Cohen's kappa (Cohen 1968) — the ordinal-label extension
    * of [[cohenKappa]]: disagreements are penalized by how FAR apart the
    * two ratings are, `κ_w = 1 − D_obs / D_exp` with
    * `D_obs = Σ_ij O_ij·w_ij / N` the observed mean disagreement,
    * `D_exp = Σ_ij n_i·m_j·w_ij / N²` the mean disagreement of
    * independent raters with the same marginals, and
    * `w_ij = (v_i − v_j)²` (quadratic, the default — equivalent to an
    * ICC) or `|v_i − v_j|` (linear). The weight normalization constant
    * cancels in the ratio, so none is applied. Ratings are numeric
    * ordinals; distance is taken on their actual values, so unequal
    * gaps (e.g. severity 1, 2, 5) penalize accordingly.
    *
    * Null-rated rows are excluded. Output is ONE row
    * (n, d_obs, d_exp, kappa_w); `kappa_w` is null when `D_exp = 0`
    * (both raters constant — chance explains everything; matches the
    * unweighted convention).
    *
    * Scale shape: one |ratings|²-max hash aggregate to the confusion
    * cells, then marginal cross-products over the tiny cell table —
    * identical to [[cohenKappa]] plus one |r|×|r| crossJoin of
    * rating-cardinality aggregates. One scan of the data.
    */
  def weightedKappa(df: DataFrame, a: Column, b: Column,
      quadratic: Boolean = true): DataFrame = {
    def w(x: Column, y: Column): Column =
      if (quadratic) (x - y) * (x - y) else abs(x - y)
    val cells = df.filter(a.isNotNull && b.isNotNull)
      .groupBy(a.cast("double").as("__a"), b.cast("double").as("__b"))
      .agg(count(lit(1)).as("__n"))
      .graftCheckpoint() // |ratings|² rows; feeds obs + two marginals
    val obs = cells.agg(sum(col("__n")).as("n"),
      sum(col("__n") * w(col("__a"), col("__b"))).as("__o"))
    val ma = cells.groupBy(col("__a").as("va")).agg(sum(col("__n")).as("n_a"))
    val mb = cells.groupBy(col("__b").as("vb")).agg(sum(col("__n")).as("n_b"))
    // n_a/n are LongType; square/cross-multiply in double (matching the
    // oracle's `1.0 * n * n`) — Long·Long silently wraps past n ≈ 3e9
    // under non-ANSI Spark, exactly the 100 TB row counts this targets.
    val exp = ma.crossJoin(mb)
      .agg(sum(col("n_a").cast("double") * col("n_b") *
        w(col("va"), col("vb"))).as("__e"))
    obs.crossJoin(broadcast(exp)).select(
      col("n"),
      (col("__o") / col("n")).as("d_obs"),
      (col("__e") / (col("n").cast("double") * col("n"))).as("d_exp"),
      when(col("__e") > 0,
        lit(1.0) - col("__o") * col("n") / col("__e")).as("kappa_w"))
  }

  /** Krippendorff's alpha over LONG-format ratings (one row per
    * (unit, value) rating; rater identity is irrelevant to alpha) —
    * the >2-raters / missing-data generalization of the kappa family
    * (Krippendorff, "Content Analysis", 2004, ch. 11; the r13 label-QA
    * verdict's stretch item). `alpha = 1 − D_obs/D_exp` with
    * disagreement measured inside units vs across the pooled marginals.
    *
    * Both metrics reduce to CLOSED FORMS over per-unit sufficient
    * statistics — no pairwise self-join anywhere, which is what makes
    * this 100 TB-safe (the textbook coincidence-matrix construction is
    * a within-unit pair explode):
    *
    *  - nominal: `Σ_c n_uc(m_u − n_uc)` counts a unit's disagreeing
    *    ordered pairs, so `D_obs = (1/n) Σ_cells n_uc(m_u−n_uc)/(m_u−1)`
    *    — a sum over the (unit, value) cell table — and
    *    `D_exp = (n² − Σ_c n_c²) / (n(n−1))` over the value marginals.
    *  - interval (`nominal = false`, numeric values, δ = (v_i−v_j)²):
    *    `Σ_{i,j} (v_i−v_j)² = 2(m·Σv² − (Σv)²)`, per unit and globally,
    *    so one `groupBy(unit).agg(count, sum, sum-of-squares)` carries
    *    everything.
    *
    * Units with fewer than two non-null ratings are excluded everywhere
    * (they contain no pairable information — the standard treatment of
    * missing data, and the thing kappa simply cannot do). Output is one
    * row (n_units, n, d_obs, d_exp, alpha); `alpha` is null when
    * `D_exp = 0` (all pairable ratings identical — chance explains
    * everything, same convention as the kappas).
    *
    * Scale shape: nominal is two bounded shuffles — the (unit, value)
    * hash aggregate, then a unit-keyed window over the CELL table (≤ one
    * row per distinct value per unit) plus a value-keyed regroup for the
    * marginals; interval is a single unit-keyed aggregate. Final
    * reductions are single rows.
    */
  def krippendorffAlpha(df: DataFrame, unit: Column, value: Column,
      nominal: Boolean = true): DataFrame = {
    val rated = df.filter(unit.isNotNull && value.isNotNull)
    val (obs, marg) = if (nominal) {
      val uc = rated
        .groupBy(unit.as("__u"), value.cast("string").as("__v"))
        .agg(count(lit(1)).as("__nuc"))
      val withM = uc
        .withColumn("__m", sum(col("__nuc")).over(Window.partitionBy("__u")))
        .filter(col("__m") >= 2)
        .graftCheckpoint() // cell table; feeds D_obs + the marginals
      val o = withM.agg(
        countDistinct(col("__u")).as("n_units"),
        sum(col("__nuc")).as("n"),
        sum(col("__nuc") * (col("__m") - col("__nuc")) / (col("__m") - 1))
          .as("__do_num"))
      val m = withM.groupBy(col("__v")).agg(sum(col("__nuc")).as("__nc"))
        // squared marginals in double — Long·Long wraps past ~3e9
        .agg(sum(col("__nc").cast("double") * col("__nc")).as("__sc2"))
      (o, m)
    } else {
      val um = rated
        .groupBy(unit.as("__u"))
        .agg(count(lit(1)).as("__m"),
          sum(value.cast("double")).as("__s1"),
          sum(value.cast("double") * value.cast("double")).as("__s2"))
        .filter(col("__m") >= 2)
      val o = um.agg(
        count(lit(1)).as("n_units"),
        sum(col("__m")).as("n"),
        sum(lit(2.0) * (col("__m") * col("__s2") - col("__s1") * col("__s1"))
          / (col("__m") - 1)).as("__do_num"),
        sum(col("__s1")).as("__S1"),
        sum(col("__s2")).as("__S2"))
      (o, null)
    }
    // all n-squared terms in double (the oracle computes `1.0 * n * n`);
    // LongType n·n wraps past n ≈ 3e9 under non-ANSI Spark.
    val joined =
      if (marg != null) obs.crossJoin(broadcast(marg))
        .withColumn("__de_num",
          col("n").cast("double") * col("n") - col("__sc2"))
      else obs
        .withColumn("__de_num",
          lit(2.0) * (col("n") * col("__S2") - col("__S1") * col("__S1")))
    val dObs = col("__do_num") / col("n")
    val dExp = col("__de_num") / (col("n").cast("double") * (col("n") - 1))
    joined.select(
      col("n_units"), col("n"),
      dObs.as("d_obs"), dExp.as("d_exp"),
      when(col("__de_num") > 0, lit(1.0) - dObs / dExp).as("alpha"))
  }

  def cohenKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val pairs = df.filter(a.isNotNull && b.isNotNull)
      .select(a.cast("string").as("__a"), b.cast("string").as("__b"))
    val agree = pairs.agg(count(lit(1)).as("n"),
      sum((col("__a") === col("__b")).cast("long")).as("n_agree"))
    val ma = pairs.groupBy(col("__a").as("cat")).agg(count(lit(1)).as("n_a"))
    val mb = pairs.groupBy(col("__b").as("cat")).agg(count(lit(1)).as("n_b"))
    // full outer: a category used by only one rater contributes 0 to pe
    // marginal products and n² in double (oracle: `1.0 * n * n`) — the
    // Long forms wrap once marginals pass ~3e9 rows.
    val cross = ma.join(mb, Seq("cat"), "full")
      .agg(sum(coalesce(col("n_a").cast("double"), lit(0.0)) *
        coalesce(col("n_b"), lit(0L))).as("__cross"))
    val po = col("n_agree") / col("n")
    val pe = col("__cross") / (col("n").cast("double") * col("n"))
    agree.crossJoin(broadcast(cross)).select(
      col("n"), col("n_agree"),
      po.as("po"), pe.as("pe"),
      when(pe < 1.0, (po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** Split-conformal prediction interval (Vovk et al.; Lei et al. 2018
    * summary form) — the distribution-free way to turn ANY point
    * predictor into an interval with finite-sample marginal coverage:
    * on a held-out CALIBRATION set take the k-th smallest absolute
    * residual with `k = ⌈(n+1)(1−α)⌉`, predict `ŷ ± q̂`, and coverage
    * ≥ 1−α holds for exchangeable data regardless of the model. The
    * model-QA counterpart of [[calibrationReport]] for regression.
    *
    * Output is ONE row (n_cal, k, qhat, coverage): q̂ from calibration,
    * `coverage` the fraction of TEST rows with |y−ŷ| ≤ q̂ — the
    * value-level replay an oracle hash-checks (no boolean: the
    * guarantee is marginal over splits, not per-fixture).
    *
    * Scale shape: one count + one exact-percentile aggregate over the
    * calibration residuals (q̂ = the k-th order statistic, reached via
    * `percentile` at p = (k−1)/(n−1) — interpolation lands exactly ON
    * rank k, so an engine computing the order statistic directly gets
    * the same value), then a 1-row broadcast against the test
    * aggregate. The two driver-side scalars (n, then q̂ through the
    * plan) are 1-row collects — bounded by construction. `percentile`
    * holds the residual multiset on the merging reducer (the same
    * documented tradeoff as q_percentile); at 100 TB swap
    * `approx_percentile` with an accuracy parameter and the plan shape
    * is unchanged while q̂ gains a quantified rank error.
    */
  def conformalSplit(cal: DataFrame, test: DataFrame, y: Column,
      yhat: Column, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val calR = cal.filter(y.isNotNull && yhat.isNotNull)
      .select(abs(y - yhat).as("__r"))
    val n = calR.count()
    require(n >= 2, s"conformalSplit needs >= 2 calibration rows, got $n")
    val k = math.min(n, math.ceil((n + 1) * (1.0 - alpha)).toLong)
    val p = (k - 1).toDouble / (n - 1).toDouble
    // q̂ is collected ONCE to a driver literal (the function is already
    // eager via the count() above; the aggregate is 1 row) — a lazy q
    // crossJoined twice would evaluate the calibration percentile twice,
    // and on a non-deterministic calibration source the reported q̂
    // could differ from the one coverage was measured against (the same
    // double-evaluation hazard fixed in Similarity.searchAnnIndex).
    val qhat = calR.agg(expr(s"percentile(__r, $p)").as("qhat"))
      .head().getDouble(0)
    val testR = test.filter(y.isNotNull && yhat.isNotNull)
      .select(abs(y - yhat).as("__r"))
    // q̂ stays well-defined on an EMPTY test side, with coverage null
    // (0/0) instead of losing both (ADVICE r15).
    testR
      .agg(count(lit(1)).as("__nt"),
        sum((col("__r") <= lit(qhat)).cast("long")).as("__cov"))
      .select(lit(n).as("n_cal"), lit(k).as("k"), lit(qhat).as("qhat"),
        when(col("__nt") > 0,
          col("__cov").cast("double") / col("__nt")).as("coverage"))
  }

  /** Integer thresholds of the Poisson(1) inverse CDF scaled to 2^60 —
    * `t(k) = ⌊P(X ≤ k) · 2^60⌋` — so a hash draw `h ∈ [0, 2^60)` maps to
    * a bootstrap weight by PURE INTEGER comparison: `w = #{k : h ≥ t(k)}`.
    * No floating-point in the draw path, so any engine replaying the
    * same md5-derived h lands on the same weight bit-for-bit. Draws
    * past k=6 (P ≈ 8·10⁻⁵) truncate to 7 — deterministic on both sides,
    * and the truncation bias on a mean is ≪ the CI width it feeds.
    */
  val PoissonCdf60: Seq[Long] = Seq(
    424136118829305329L, 848272237658610659L, 1060340297073263324L,
    1131029650211480879L, 1148701988496035267L, 1152236456152946145L,
    1152825534095764625L)

  /** Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012; the standard bootstrap at
    * cluster scale) — confidence interval for a mean without resampling
    * rows: replicate b counts each row `Poisson(1)`-many times, with the
    * count derived from `h60(b ":" id)` against [[PoissonCdf60]], so the
    * "resample" is a deterministic pure function of (row id, replicate)
    * — no RNG state, no shuffle of the data, engine-replayable.
    *
    * Output is ONE row (n, b, est, lo, hi): `est` the plain mean,
    * `[lo, hi]` the (α/2, 1−α/2) percentile interval over the B
    * replicate means (replicates that drew zero total weight — only
    * possible on toy inputs — are excluded).
    *
    * The DRAW has two encodings (VERDICT r15 #2):
    *  - `md5Replay = false` (production default): `xxhash64(id, b)`
    *    shifted into [0, 2^60) — Spark's codegen'd multiply-and-mix
    *    hash, ~50 ns/draw. Still a deterministic pure function of
    *    (id, replicate): reruns and engine re-partitions reproduce the
    *    CI bit-for-bit; only cross-ENGINE replay needs a common hash.
    *  - `md5Replay = true` (the oracle encoding): `h60(b ":" id)` —
    *    md5-derived so DuckDB replays every draw from its own md5 and
    *    the certification row stays a value-level hash compare. ~15 M
    *    md5 evaluations at sf1×B=100 made this the one `weak` bench
    *    row (11.4 s); it is now opt-in for certification only.
    * Both paths share [[PoissonCdf60]], the plan shape, and the
    * integer-compare weight mapping.
    *
    * Scale shape: one B-way map-only fan-out (explode of the replicate
    * index), then ONE hash aggregate keyed by replicate — B groups,
    * partial aggregation means each task emits ≤ B rows regardless of
    * input size — and a B-row percentile. The fan-out multiplies map
    * work by B but never materializes: it fuses with the scan in one
    * codegen stage.
    */
  def poissonBootstrap(df: DataFrame, value: Column, id: Column,
      b: Int = 200, alpha: Double = 0.05,
      md5Replay: Boolean = false): DataFrame = {
    require(b >= 2, s"need >= 2 bootstrap replicates, got $b")
    // id.isNotNull too (ADVICE r15): a null id would null the hash and
    // hence the weight in EVERY replicate — the row would count toward
    // n/est but never toward a resample, de-centering the CI. Rows
    // without a resampling identity are excluded from both sides.
    val rows = df.filter(value.isNotNull && id.isNotNull)
      .select(value.cast("double").as("__v"), id.cast("string").as("__id"))
    val h =
      if (md5Replay) graft.functions.Hashing.h60(
        concat(col("__b").cast("string"), lit(":"), col("__id")))
      else shiftrightunsigned(xxhash64(col("__id"), col("__b")), 4)
    val w = PoissonCdf60.foldLeft(lit(0)) { (acc, t) =>
      acc + (col("__h") >= lit(t)).cast("int")
    }
    val reps = rows
      .withColumn("__b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__h", h)
      .withColumn("__w", w)
      .groupBy(col("__b"))
      .agg(sum(col("__w").cast("double") * col("__v")).as("__sw"),
        sum(col("__w").cast("long")).as("__n"))
      .filter(col("__n") > 0)
      .select((col("__sw") / col("__n")).as("__mean"))
    val ci = reps.agg(
      expr(s"percentile(__mean, ${alpha / 2})").as("lo"),
      expr(s"percentile(__mean, ${1.0 - alpha / 2})").as("hi"))
    val base = rows.agg(count(lit(1)).as("n"), avg(col("__v")).as("est"))
    base.crossJoin(broadcast(ci))
      .select(col("n"), lit(b).as("b"), col("est"), col("lo"), col("hi"))
  }

  /** Fleiss' kappa (Fleiss 1971) — agreement among a FIXED number m of
    * raters per item over LONG-format ratings (one row per (unit,
    * value); rater identity irrelevant, raters need not be the same
    * people across units — the panel-labeling QA case Cohen's pairwise
    * kappa cannot express and Krippendorff's alpha generalizes away).
    *
    *   P_i  = (Σ_c n_ic² − m) / (m(m−1))  per-unit observed agreement
    *   P̄    = mean_i P_i
    *   p_c  = Σ_i n_ic / (N·m)            pooled category shares
    *   P̄_e  = Σ_c p_c²
    *   κ    = (P̄ − P̄_e) / (1 − P̄_e)
    *
    * Units with a rating count ≠ m are EXCLUDED (Fleiss is defined for
    * constant panel size; variable-m data belongs to
    * [[krippendorffAlpha]]) — the exclusion count is visible as
    * n_units vs the caller's expectation. Null unit/value rows are
    * dropped. Output is ONE row (n_units, m, p_bar, p_e, kappa);
    * `kappa` is null when P̄_e = 1 (every rating in one category —
    * chance explains everything, same convention as the family).
    *
    * Scale shape: ONE pass, ONE exchange over the ratings (VERDICT
    * r15 #3) — the ratings are repartitioned by unit, and both the
    * (unit, value) hash aggregate and the per-unit panel-size window
    * reuse that single shuffle (HashPartitioning on `unit` satisfies
    * the aggregate's {unit, value} clustered distribution). The
    * complete-panel filter (Σ __nuc = m) then happens inline on the
    * cell table, and BOTH P̄ and the marginals reduce from the
    * checkpointed kept cells: P̄ via the cell-level identity
    * P̄ = (Σ_{uc} n_uc² − N·m) / (N·m·(m−1)) — algebraically the mean
    * of the per-unit closed form, so no per-unit regroup at all — and
    * p_c via a value-cardinality regroup. No pairwise explode, no
    * join, no second scan. All squared terms in double (Long·Long
    * wraps past ~3e9 — the same 100 TB discipline as the siblings).
    * Measured at sf1 (4.5 M ratings): 5.95 s (r15 semi-join shape) →
    * 3.0 s (r16 cell-list shape) → 2.0 s (this shape).
    */
  def fleissKappa(df: DataFrame, unit: Column, value: Column,
      m: Int): DataFrame = {
    require(m >= 2, s"Fleiss' kappa needs m >= 2 raters per unit, got $m")
    val uw = org.apache.spark.sql.expressions.Window.partitionBy(col("__u"))
    // kept cells: complete panels only (Σ __nuc = m — Fleiss is
    // defined for a constant panel size; variable-m data belongs to
    // krippendorffAlpha)
    val cells = df.filter(unit.isNotNull && value.isNotNull)
      .select(unit.as("__u"), value.cast("string").as("__v"))
      .repartition(col("__u"))
      .groupBy(col("__u"), col("__v"))
      .agg(count(lit(1)).as("__nuc"))
      .withColumn("__m", sum(col("__nuc")).over(uw))
      .filter(col("__m") === m)
      .graftCheckpoint() // cell-cardinality; feeds P̄ AND the marginals
    val obs = cells.agg(
      countDistinct(col("__u")).as("n_units"),
      sum(col("__nuc").cast("double") * col("__nuc")).as("__s2t"))
    // marginals over the SAME retained units (a dropped incomplete
    // panel must not leak into p_c)
    val marg = cells.groupBy(col("__v")).agg(sum(col("__nuc")).as("__nc"))
      .agg(sum(col("__nc").cast("double") * col("__nc")).as("__sc2"))
    obs.crossJoin(broadcast(marg))
      .withColumn("p_bar", (col("__s2t") - col("n_units").cast("double") * m) /
        (col("n_units").cast("double") * (m.toDouble * (m - 1))))
      .withColumn("p_e", col("__sc2") /
        ((col("n_units").cast("double") * m) * (col("n_units") * m)))
      .select(col("n_units"), lit(m).as("m"), col("p_bar"), col("p_e"),
        when(col("p_e") < 1.0,
          (col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")))
          .as("kappa"))
  }

  /** Ranked-retrieval evaluation: per-query recall@k, precision@k,
    * reciprocal rank (at k) and nDCG@k of a result list against graded
    * relevance judgments — the eval side of the retrieval operators
    * (bm25TopK / bruteTopK / the ANN family / rrfFuse).
    *
    * `results` carries (queryCol, docCol, rankCol) with 1-based ranks;
    * `qrels` carries (queryCol, docCol, relCol) where rel > 0 means
    * relevant (graded rels feed the exponential DCG gain
    * `(2^rel − 1)/log₂(rank+1)`; ideal DCG ranks the query's judgments
    * by rel desc, doc asc). Output rows are the queries PRESENT IN
    * `results`; a query with no relevant judgment gets null
    * recall/ndcg (0/0) and rr = 0. Duplicate judgments for one
    * (query, doc) pair collapse to the MAX rel before anything is
    * counted — merged judgment files must not fan the result join out
    * (which would double-count n_ret/DCG and push precision past 1).
    * Duplicate (query, doc) RESULT rows likewise collapse, keeping the
    * best (minimum) rank — results are ranked lists, a doc appears once.
    *
    * Scale shape (r19): ONE side-tagged union of the rank-k-capped
    * results with the positive judgments, repartitioned by the query id
    * once — the (query, doc) merge aggregate (which also collapses
    * duplicate judgments to max rel), the ideal-rank window (rel desc
    * nulls LAST, so judged rows take ideal ranks 1..n_rel ahead of the
    * unjudged) and the final per-query aggregate all reuse that single
    * exchange (hash(__q) satisfies every downstream clustering). The
    * previous form left-joined results against the deduped judgments
    * and joined a separate ideal aggregate back per query — the qrels
    * lineage sat under BOTH consumers and executed twice. Results are
    * k-bounded per query and qrels is the (small) labeled eval set, so
    * nothing here scales with the corpus.
    */
  def retrievalMetrics(results: DataFrame, qrels: DataFrame,
      queryCol: String, docCol: String, rankCol: String, relCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    def gain(rel: Column): Column = pow(lit(2.0), rel) - lit(1.0)
    def disc(rank: Column): Column = log(2.0, rank.cast("double") + lit(1.0))
    val res = results.filter(col(rankCol) >= 1 && col(rankCol) <= k)
      .select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(rankCol).cast("long").as("__rank"),
        lit(null).cast("double").as("__rel"))
    val rel = qrels.filter(col(relCol) > 0)
      .select(col(queryCol).as("__q"), col(docCol).as("__d"),
        lit(null).cast("long").as("__rank"),
        col(relCol).cast("double").as("__rel"))
    val merged = res.unionByName(rel)
      .repartition(col("__q"))
      .groupBy(col("__q"), col("__d"))
      .agg(min(col("__rank")).as("__rank"), max(col("__rel")).as("__rel"))
    val iw = Window.partitionBy(col("__q"))
      .orderBy(col("__rel").desc_nulls_last, col("__d"))
    merged.withColumn("__ir", row_number().over(iw))
      .groupBy(col("__q"))
      .agg(count(col("__rank")).as("n_ret"),
        count(when(col("__rank").isNotNull, col("__rel"))).as("n_rel_ret"),
        min(when(col("__rel").isNotNull, col("__rank"))).as("__first"),
        sum(when(col("__rank").isNotNull && col("__rel").isNotNull,
          gain(col("__rel")) / disc(col("__rank")))
          .otherwise(lit(0.0))).as("__dcg"),
        count(col("__rel")).as("n_rel"),
        sum(when(col("__rel").isNotNull && col("__ir") <= k,
          gain(col("__rel")) / disc(col("__ir")))
          .otherwise(lit(0.0))).as("__idcg"))
      .filter(col("n_ret") > 0)
      .select(col("__q").as(queryCol),
        col("n_rel"), col("n_ret"), col("n_rel_ret"),
        round(when(col("n_rel") > 0,
          col("n_rel_ret").cast("double") / col("n_rel")), 6).as("recall_k"),
        round(col("n_rel_ret").cast("double") / k, 6).as("precision_k"),
        round(coalesce(lit(1.0) / col("__first"), lit(0.0)), 6).as("rr"),
        round(when(col("__idcg") > 0, col("__dcg") / col("__idcg")), 6)
          .as("ndcg_k"))
  }
}
