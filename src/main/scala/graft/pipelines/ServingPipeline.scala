package graft.pipelines

import org.apache.spark.ml.{PipelineModel, PredictionModel, Transformer}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** E2 — the reference's `/predict` serving path (main.py:278-310,
  * SURVEY.md §3 E2): a fixed 9-field request row → model registry
  * dispatch → prediction → expm1 inverse.
  *
  * The registry is an eagerly-loaded name→model map (the reference's
  * lazy double-checked GCS hydration collapses to a startup load — same
  * capability, SURVEY.md §4). Registration compiles each model once:
  *
  *  - A `PipelineModel` whose stages are exactly one `VectorAssembler`
  *    over PredictRequest fields feeding one `PredictionModel` (the
  *    [[graft.ml.Models]] factories) compiles to an in-process scorer.
  *    It replays the assembler — field order, the vector it builds and
  *    its `handleInvalid` — and calls the fitted model's public
  *    `predict(Vector)`, the same call `transform` makes per row. A
  *    request then builds no DataFrame, runs no Catalyst analysis,
  *    optimisation or planning, and launches no Spark job (SURVEY §3
  *    E2's "`predict` on a local vector for latency"); for a 1-row request
  *    that planning is nearly the whole cost.
  *  - Any other model (a scaler or other stage between assembler and
  *    predictor, chained assemblers, a bare predictor) keeps the 1-row
  *    DataFrame path: request → `transform` → first prediction.
  *
  * The choice is made at registration from the model's stages alone.
  */
object ServingPipeline {

  /** The reference's PredictRequest: 9 doubles (main.py:278-287). */
  case class PredictRequest(
    hour_sin: Double, hour_cos: Double, wd_sin: Double, wd_cos: Double,
    month_sin: Double, month_cos: Double,
    vol_lag_1: Double, vol_roll_3: Double, vol_roll_24: Double)

  /** PredictRequest field accessors by column name. */
  private val RequestFields: Map[String, PredictRequest => Double] = Map(
    "hour_sin" -> (_.hour_sin), "hour_cos" -> (_.hour_cos),
    "wd_sin" -> (_.wd_sin), "wd_cos" -> (_.wd_cos),
    "month_sin" -> (_.month_sin), "month_cos" -> (_.month_cos),
    "vol_lag_1" -> (_.vol_lag_1), "vol_roll_3" -> (_.vol_roll_3),
    "vol_roll_24" -> (_.vol_roll_24))

  /** A registered model as [[predict]] serves it. */
  private sealed trait Scorer { def model: Transformer }

  /** A VectorAssembler → PredictionModel pipeline replayed in process:
    * the assembler's input fields resolved once, in its order.
    */
  private final class Compiled(name: String, val model: PipelineModel,
      assembler: VectorAssembler, predictor: PredictionModel[Vector, _]) extends Scorer {
    private val fields = assembler.getInputCols
    private val getters = fields.map(RequestFields)
    private val keepInvalid = assembler.getHandleInvalid == "keep"

    /** The assembler's own vector for `req` — NaN handled per its
      * `handleInvalid`, -0.0 held as 0.0, dense or sparse as `compressed`
      * picks — scored by the fitted model. A plain loop: a server may
      * call this only a few hundred times before the JIT compiles it,
      * and generic collection calls cost far more while interpreted.
      */
    def score(req: PredictRequest): Double = {
      val values = new Array[Double](getters.length)
      var i = 0
      while (i < values.length) {
        val v = getters(i)(req)
        if (v.isNaN && !keepInvalid) throw new IllegalArgumentException(
          s"model '$name': request field '${fields(i)}' is NaN and the model's " +
            s"assembler (handleInvalid = ${assembler.getHandleInvalid}) does not score it")
        values(i) = if (v == 0.0) 0.0 else v
        i += 1
      }
      predictor.predict(Vectors.dense(values).compressed)
    }
  }

  /** A model the in-process scorer cannot replay: served by `transform`. */
  private final case class ViaTransform(model: Transformer) extends Scorer

  private def compile(name: String, model: Transformer): Scorer = model match {
    case p: PipelineModel => p.stages match {
      case Array(va: VectorAssembler, pm: PredictionModel[Vector @unchecked, _])
          if va.getOutputCol == pm.getFeaturesCol &&
            va.getInputCols.forall(RequestFields.contains) =>
        new Compiled(name, p, va, pm)
      case _ => ViaTransform(model)
    }
    case _ => ViaTransform(model)
  }

  /** name → fitted model registry (M7), each model compiled once. */
  final class Registry private[ServingPipeline] (scorers: Map[String, Scorer]) {
    private[ServingPipeline] def scorer(name: String): Scorer =
      scorers.getOrElse(name,
        throw new NoSuchElementException(s"unknown model '$name'"))
    def apply(name: String): Transformer = scorer(name).model
    def names: Set[String] = scorers.keySet
  }

  def registry(models: (String, Transformer)*): Registry =
    new Registry(models.map { case (n, m) => n -> compile(n, m) }.toMap)

  /** One prediction, expm1-inverted when the model was trained on log1p
    * (main.py:305-309): the compiled scorer, or for a model it cannot
    * replay, a 1-row DataFrame through `transform`. A request the
    * model's assembler would drop (a NaN feature under `skip`) is
    * rejected with an IllegalArgumentException on either path.
    */
  def predict(spark: SparkSession, reg: Registry, modelName: String,
      req: PredictRequest, expm1Inverse: Boolean = false): Double = {
    val raw = reg.scorer(modelName) match {
      case c: Compiled => c.score(req)
      case ViaTransform(model) =>
        import spark.implicits._
        model.transform(Seq(req).toDF()).select(col("prediction")).take(1)
          .headOption.map(_.getDouble(0)).getOrElse(throw new IllegalArgumentException(
            s"model '$modelName' dropped the request row: $req"))
    }
    if (expm1Inverse) math.expm1(raw) else raw
  }

  /** [[predict]] without a session, for compiled models only; a model
    * served through `transform` is refused — use [[predict]].
    */
  def predictLocal(reg: Registry, modelName: String, req: PredictRequest,
      expm1Inverse: Boolean = false): Double = {
    val raw = reg.scorer(modelName) match {
      case c: Compiled => c.score(req)
      case ViaTransform(model) => throw new IllegalArgumentException(
        s"model '$modelName' (${model.getClass.getSimpleName}) is not one " +
          "VectorAssembler feeding one PredictionModel, so it has no local " +
          "scorer — use predict()")
    }
    if (expm1Inverse) math.expm1(raw) else raw
  }
}
