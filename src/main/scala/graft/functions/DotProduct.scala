package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd dot product of two `array<double>` columns.
  *
  * The generic alternative (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`)
  * goes through interpreted higher-order-function machinery — per-element
  * closure dispatch and intermediate array allocation — which dominates
  * the embedding-similarity operators (millions of 64-dim pairs). This
  * expression compiles to a tight primitive loop inside whole-stage
  * codegen: no allocation, no virtual calls.
  *
  * Accumulation is left-to-right, exactly like the sequential fold and
  * DuckDB's `list_dot_product`, so results are bit-identical to the
  * generic path and the oracle. Null elements are not supported (embedding
  * arrays are dense by construction); a null array yields null.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  // (return type inferred: AbstractDataType is private[sql])
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** SparkSessionExtensions entry point: enables graft's custom
  * expressions in ANY session via
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (or a session builder's `withExtensions(new GraftExtensions)`), so
  * `SELECT graft_dot(a, b)` works from plain SQL with no code change.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.dotFunctionDescriptor)
    ext.injectFunction(GraftFunctions.centroidArgmaxFunctionDescriptor)
    ext.injectFunction(GraftFunctions.centroidCellsFunctionDescriptor)
    ext.injectFunction(GraftFunctions.bottomKFunctionDescriptor)
    ext.injectFunction(GraftFunctions.heavyHittersFunctionDescriptor)
    ext.injectFunction(GraftFunctions.countMinFunctionDescriptor)
    ext.injectFunction(GraftFunctions.bpeMergeFunctionDescriptor)
    ext.injectFunction(GraftFunctions.topKFunctionDescriptor)
    ext.injectFunction(GraftFunctions.gramTopRunFunctionDescriptor)
    ext.injectFunction(GraftFunctions.lshBucketsFunctionDescriptor)
    ext.injectFunction(GraftFunctions.hashedVectorFunctionDescriptor)
    ext.injectFunction(GraftFunctions.pqEncodeFunctionDescriptor)
    ext.injectFunction(GraftFunctions.pqAdcTableFunctionDescriptor)
    ext.injectFunction(GraftFunctions.pqAdcSumFunctionDescriptor)
    ext.injectOptimizerRule(_ => graft.plans.SortThroughProject)
  }
}

/** Session registration for graft's custom expressions. */
object GraftFunctions {

  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  /** (name, info, builder) descriptor used by both the extensions
    * injection and the imperative registry path.
    */
  val dotFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1)))

  val centroidArgmaxFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_centroid_argmax"),
    new ExpressionInfo(classOf[CentroidArgmax].getName, "graft_centroid_argmax"),
    (exprs: Seq[Expression]) => CentroidArgmax(exprs.head, exprs(1), exprs(2)))

  val centroidCellsFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_centroid_cells"),
    new ExpressionInfo(classOf[CentroidCellsByDist].getName, "graft_centroid_cells"),
    (exprs: Seq[Expression]) => CentroidCellsByDist(exprs.head, exprs(1)))

  val bottomKFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bottom_k"),
    new ExpressionInfo(classOf[BottomK].getName, "graft_bottom_k"),
    BottomK.fromExprs _)

  val heavyHittersFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_heavy_hitters"),
    new ExpressionInfo(classOf[HeavyHitters].getName, "graft_heavy_hitters"),
    HeavyHitters.fromExprs _)

  val countMinFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_count_min"),
    new ExpressionInfo(classOf[CountMinSketch].getName, "graft_count_min"),
    CountMinSketch.fromExprs _)

  val bpeMergeFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bpe_merge"),
    new ExpressionInfo(classOf[BpeMergePair].getName, "graft_bpe_merge"),
    (exprs: Seq[Expression]) => BpeMergePair(exprs.head, exprs(1), exprs(2)))

  val topKFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_top_k"),
    new ExpressionInfo(classOf[TopKScored].getName, "graft_top_k"),
    TopKScored.fromExprs _)

  val gramTopRunFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_gram_top_run"),
    new ExpressionInfo(classOf[GramTopRun].getName, "graft_gram_top_run"),
    (exprs: Seq[Expression]) => GramTopRun(exprs.head, exprs(1)))

  val lshBucketsFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_lsh_buckets"),
    new ExpressionInfo(classOf[LshBuckets].getName, "graft_lsh_buckets"),
    (exprs: Seq[Expression]) => LshBuckets(exprs.head, exprs(1), exprs(2)))

  val hashedVectorFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_hashed_vector"),
    new ExpressionInfo(classOf[HashedVector].getName, "graft_hashed_vector"),
    (exprs: Seq[Expression]) => HashedVector(exprs.head, exprs(1)))

  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.IntegerType

  private def litInt(e: Expression, usage: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case _ => throw new IllegalArgumentException(usage)
  }

  val pqEncodeFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_pq_encode"),
    new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
    (exprs: Seq[Expression]) => PqEncode(exprs.head, exprs(1),
      litInt(exprs(2), "usage: graft_pq_encode(vec, codebooks, <literal int m>)")))

  val pqAdcTableFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_pq_adc_table"),
    new ExpressionInfo(classOf[PqAdcTable].getName, "graft_pq_adc_table"),
    (exprs: Seq[Expression]) => PqAdcTable(exprs.head, exprs(1),
      litInt(exprs(2), "usage: graft_pq_adc_table(vec, codebooks, <literal int m>)")))

  val pqAdcSumFunctionDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_pq_adc_sum"),
    new ExpressionInfo(classOf[PqAdcSum].getName, "graft_pq_adc_sum"),
    (exprs: Seq[Expression]) => PqAdcSum(exprs.head, exprs(1),
      litInt(exprs(2), "usage: graft_pq_adc_sum(dtab, codes, <literal int ksub>)")))

  /** Idempotently register graft's functions in the session's registry
    * (the supported path for wiring custom Catalyst expressions into the
    * Column API without touching Spark internals).
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_centroid_argmax",
      exprs => CentroidArgmax(exprs.head, exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_centroid_cells",
      exprs => CentroidCellsByDist(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bottom_k", BottomK.fromExprs, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_heavy_hitters", HeavyHitters.fromExprs, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_count_min", CountMinSketch.fromExprs, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bpe_merge",
      exprs => BpeMergePair(exprs.head, exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_top_k", TopKScored.fromExprs, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_gram_top_run",
      exprs => GramTopRun(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_lsh_buckets",
      exprs => LshBuckets(exprs.head, exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_hashed_vector",
      exprs => HashedVector(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pq_encode", pqEncodeFunctionDescriptor._3, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pq_adc_table", pqAdcTableFunctionDescriptor._3, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pq_adc_sum", pqAdcSumFunctionDescriptor._3, "built-in")
  }

  /** Codegen'd dot product (requires [[register]] on the session). */
  def dotFast(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Codegen'd max-cosine centroid assignment (requires [[register]]);
    * centroids sorted by id so ties resolve to the lowest id — see
    * [[CentroidArgmax]].
    */
  def centroidArgmax(vec: Column, centroids: Seq[(Int, Array[Double])]): Column = {
    val sorted = centroids.sortBy(_._1)
    call_function("graft_centroid_argmax", vec,
      org.apache.spark.sql.functions.typedlit(sorted.map(_._2.toSeq)),
      org.apache.spark.sql.functions.typedlit(sorted.map(_._1)))
  }

  /** All IVF cell ids (0-based matrix row) sorted by squared-distance
    * score ascending, ties to the lower cell (requires [[register]]) —
    * see [[CentroidCellsByDist]].
    */
  def centroidCells(vec: Column, centroids: Seq[Array[Double]]): Column =
    call_function("graft_centroid_cells", vec,
      org.apache.spark.sql.functions.typedlit(centroids.map(_.toSeq)))

  /** KMV bottom-k sketch aggregate (requires [[register]]). */
  def bottomK(c: Column, k: Int): Column =
    call_function("graft_bottom_k", c, org.apache.spark.sql.functions.lit(k))

  /** Misra-Gries heavy-hitters sketch aggregate, k counters (requires
    * [[register]]) — see [[HeavyHitters]].
    */
  def heavyHitters(c: Column, k: Int): Column =
    call_function("graft_heavy_hitters", c, org.apache.spark.sql.functions.lit(k))

  /** Count-min sketch aggregate, width×depth counters as one flat array
    * (requires [[register]]) — see [[CountMinSketch]]. Point-query with
    * [[countMinQuery]].
    */
  def countMin(c: Column, width: Int, depth: Int): Column =
    call_function("graft_count_min", c,
      org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(depth))

  /** Weighted count-min insert: item `c` counted `w` times per row —
    * the pre-aggregated build path (see [[CountMinSketch.update]]).
    * Bit-identical to the unweighted sketch over the exploded rows.
    */
  def countMinWeighted(c: Column, w: Column, width: Int, depth: Int): Column =
    call_function("graft_count_min", c, w,
      org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(depth))

  /** One greedy BPE merge application over a symbol array (requires
    * [[register]]) — see [[BpeMergePair]].
    */
  def bpeMerge(symbols: Column, l: String, r: String): Column =
    call_function("graft_bpe_merge", symbols,
      org.apache.spark.sql.functions.lit(l),
      org.apache.spark.sql.functions.lit(r))

  /** Point query against a [[countMin]] sketch column: min over the
    * item's depth cells — composed from builtins (element_at + least),
    * cells addressed with the same h60("d:x") hash the aggregate uses.
    */
  def countMinQuery(sketch: Column, item: Column, width: Int, depth: Int): Column = {
    import org.apache.spark.sql.functions._
    val cells = (0 until depth).map { d =>
      element_at(sketch, (lit(d * width) +
        pmod(Hashing.h60(concat(lit(s"$d:"), item.cast("string"))), lit(width.toLong))
          .cast("int") + 1).cast("int"))
    }
    if (cells.length == 1) cells.head else least(cells: _*)
  }

  /** Grouped top-k by score, O(k) buffer + map-side partials (requires
    * [[register]]). Returns sorted array<struct<score, payload>>.
    */
  def topK(score: Column, payload: Column, k: Int): Column =
    call_function("graft_top_k", score, payload,
      org.apache.spark.sql.functions.lit(k))

  /** All multi-table sign-LSH bucket ids, one long per table (requires
    * [[register]]) — see [[LshBuckets]]. `planes` is the concatenated
    * plane bank: table t's planes are rows t·nPlanes .. t·nPlanes+nPlanes−1.
    */
  def lshBuckets(vec: Column, planes: Seq[Array[Double]], nPlanes: Int): Column =
    call_function("graft_lsh_buckets", vec,
      org.apache.spark.sql.functions.typedlit(planes.map(_.toSeq)),
      org.apache.spark.sql.functions.lit(nPlanes))

  /** Signed feature-hashing accumulator over a token-hash array
    * (requires [[register]]) — see [[HashedVector]].
    */
  def hashedVector(tokenHashes: Column, dim: Int): Column =
    call_function("graft_hashed_vector", tokenHashes,
      org.apache.spark.sql.functions.lit(dim))

  /** Modal word-n-gram count over a token array (requires [[register]])
    * — see [[GramTopRun]].
    */
  def gramTopRun(toks: Column, n: Int): Column =
    call_function("graft_gram_top_run", toks,
      org.apache.spark.sql.functions.lit(n))

  /** PQ code array, m subspaces (requires [[register]]) — see [[PqEncode]].
    * `codebooks` is the m·ksub-row matrix, subspace-major.
    */
  def pqEncode(vec: Column, codebooks: Seq[Array[Double]], m: Int): Column =
    call_function("graft_pq_encode", vec,
      org.apache.spark.sql.functions.typedlit(codebooks.map(_.toSeq)),
      org.apache.spark.sql.functions.lit(m))

  /** Per-query ADC distance table (requires [[register]]) — see
    * [[PqAdcTable]].
    */
  def pqAdcTable(vec: Column, codebooks: Seq[Array[Double]], m: Int): Column =
    call_function("graft_pq_adc_table", vec,
      org.apache.spark.sql.functions.typedlit(codebooks.map(_.toSeq)),
      org.apache.spark.sql.functions.lit(m))

  /** ADC lookup-sum score (requires [[register]]) — see [[PqAdcSum]]. */
  def pqAdcSum(dtab: Column, codes: Column, ksub: Int): Column =
    call_function("graft_pq_adc_sum", dtab, codes,
      org.apache.spark.sql.functions.lit(ksub))
}
