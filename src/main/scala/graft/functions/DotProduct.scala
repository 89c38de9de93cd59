package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

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

/** SparkSessionExtensions entry point: puts [[GraftFunctions.catalogue]]
  * in a session's function registry when the session is built, so
  * `SELECT graft_dot(a, b)` works from plain SQL, in that session and in
  * each `newSession()` of it. [[graft.GraftSession.local]] builds every
  * graft session with `withExtensions(new GraftExtensions)`; any other
  * session can take `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * It injects no optimizer rule. [[graft.plans.SortThroughProject]]
  * reaches a session only through its `install`, which puts it in the
  * `extraOptimizations` batch: the rule's re-prune step is written for
  * that batch, which runs after ColumnPruning. An injected rule would run
  * in the operator-optimization batch, a second placement of one rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.catalogue.foreach(ext.injectFunction)
}

/** graft's custom Catalyst functions and their Column helpers. Each
  * helper calls its function by name, so the session must hold the
  * catalogue: a session graft builds has it from the start, and every
  * operator that uses a helper calls [[register]] for other sessions.
  */
object GraftFunctions {

  private type Builder = Seq[Expression] => Expression

  private def fn(name: String, cls: Class[_])(build: Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private def litInt(e: Expression, usage: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case _ => throw new IllegalArgumentException(usage)
  }

  /** The one list of graft's functions, as (name, info, builder):
    * [[GraftExtensions]] injects it and [[register]] registers it.
    */
  val catalogue: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("graft_dot", classOf[DotProduct])(e => DotProduct(e.head, e(1))),
    fn("graft_centroid_argmax", classOf[CentroidArgmax])(
      e => CentroidArgmax(e.head, e(1), e(2))),
    fn("graft_centroid_cells", classOf[CentroidCellsByDist])(
      e => CentroidCellsByDist(e.head, e(1))),
    fn("graft_bottom_k", classOf[BottomK])(BottomK.fromExprs),
    fn("graft_heavy_hitters", classOf[HeavyHitters])(HeavyHitters.fromExprs),
    fn("graft_count_min", classOf[CountMinSketch])(CountMinSketch.fromExprs),
    fn("graft_bpe_merge", classOf[BpeMergePair])(e => BpeMergePair(e.head, e(1), e(2))),
    fn("graft_top_k", classOf[TopKScored])(TopKScored.fromExprs),
    fn("graft_gram_top_run", classOf[GramTopRun])(e => GramTopRun(e.head, e(1))),
    fn("graft_lsh_buckets", classOf[LshBuckets])(e => LshBuckets(e.head, e(1), e(2))),
    fn("graft_hashed_vector", classOf[HashedVector])(e => HashedVector(e.head, e(1))),
    fn("graft_pq_encode", classOf[PqEncode])(e => PqEncode(e.head, e(1),
      litInt(e(2), "usage: graft_pq_encode(vec, codebooks, <literal int m>)"))),
    fn("graft_pq_adc_table", classOf[PqAdcTable])(e => PqAdcTable(e.head, e(1),
      litInt(e(2), "usage: graft_pq_adc_table(vec, codebooks, <literal int m>)"))),
    fn("graft_pq_adc_sum", classOf[PqAdcSum])(e => PqAdcSum(e.head, e(1),
      litInt(e(2), "usage: graft_pq_adc_sum(dtab, codes, <literal int ksub>)"))))

  /** Register the catalogue functions the session does not hold yet. On a
    * session that has them (built with [[GraftExtensions]], or registered
    * before) it writes nothing to the registry and logs nothing.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    catalogue.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }

  /** Codegen'd dot product. */
  def dotFast(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Codegen'd max-cosine centroid assignment; centroids sorted by id
    * so ties resolve to the lowest id — see [[CentroidArgmax]].
    */
  def centroidArgmax(vec: Column, centroids: Seq[(Int, Array[Double])]): Column = {
    val sorted = centroids.sortBy(_._1)
    call_function("graft_centroid_argmax", vec,
      org.apache.spark.sql.functions.typedlit(sorted.map(_._2.toSeq)),
      org.apache.spark.sql.functions.typedlit(sorted.map(_._1)))
  }

  /** All IVF cell ids (0-based matrix row) sorted by squared-distance
    * score ascending, ties to the lower cell — see [[CentroidCellsByDist]].
    */
  def centroidCells(vec: Column, centroids: Seq[Array[Double]]): Column =
    call_function("graft_centroid_cells", vec,
      org.apache.spark.sql.functions.typedlit(centroids.map(_.toSeq)))

  /** KMV bottom-k sketch aggregate. */
  def bottomK(c: Column, k: Int): Column =
    call_function("graft_bottom_k", c, org.apache.spark.sql.functions.lit(k))

  /** Misra-Gries heavy-hitters sketch aggregate, k counters — see
    * [[HeavyHitters]].
    */
  def heavyHitters(c: Column, k: Int): Column =
    call_function("graft_heavy_hitters", c, org.apache.spark.sql.functions.lit(k))

  /** Count-min sketch aggregate, width×depth counters as one flat array
    * — see [[CountMinSketch]]. Point-query with [[countMinQuery]].
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

  /** One greedy BPE merge application over a symbol array — see
    * [[BpeMergePair]].
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

  /** Grouped top-k by score, O(k) buffer + map-side partials. Returns
    * sorted array<struct<score, payload>>.
    */
  def topK(score: Column, payload: Column, k: Int): Column =
    call_function("graft_top_k", score, payload,
      org.apache.spark.sql.functions.lit(k))

  /** All multi-table sign-LSH bucket ids, one long per table — see
    * [[LshBuckets]]. `planes` is the concatenated
    * plane bank: table t's planes are rows t·nPlanes .. t·nPlanes+nPlanes−1.
    */
  def lshBuckets(vec: Column, planes: Seq[Array[Double]], nPlanes: Int): Column =
    call_function("graft_lsh_buckets", vec,
      org.apache.spark.sql.functions.typedlit(planes.map(_.toSeq)),
      org.apache.spark.sql.functions.lit(nPlanes))

  /** Signed feature-hashing accumulator over a token-hash array — see
    * [[HashedVector]].
    */
  def hashedVector(tokenHashes: Column, dim: Int): Column =
    call_function("graft_hashed_vector", tokenHashes,
      org.apache.spark.sql.functions.lit(dim))

  /** Modal word-n-gram count over a token array — see [[GramTopRun]]. */
  def gramTopRun(toks: Column, n: Int): Column =
    call_function("graft_gram_top_run", toks,
      org.apache.spark.sql.functions.lit(n))

  /** PQ code array, m subspaces — see [[PqEncode]].
    * `codebooks` is the m·ksub-row matrix, subspace-major.
    */
  def pqEncode(vec: Column, codebooks: Seq[Array[Double]], m: Int): Column =
    call_function("graft_pq_encode", vec,
      org.apache.spark.sql.functions.typedlit(codebooks.map(_.toSeq)),
      org.apache.spark.sql.functions.lit(m))

  /** Per-query ADC distance table — see [[PqAdcTable]]. */
  def pqAdcTable(vec: Column, codebooks: Seq[Array[Double]], m: Int): Column =
    call_function("graft_pq_adc_table", vec,
      org.apache.spark.sql.functions.typedlit(codebooks.map(_.toSeq)),
      org.apache.spark.sql.functions.lit(m))

  /** ADC lookup-sum score — see [[PqAdcSum]]. */
  def pqAdcSum(dtab: Column, codes: Column, ksub: Int): Column =
    call_function("graft_pq_adc_sum", dtab, codes,
      org.apache.spark.sql.functions.lit(ksub))
}
