package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.json4s.{DefaultFormats, Formats, JObject}
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.operators.Relational

/** M4: the reference's SegmentedModel (SegmentedModeling.py:18-108) — a
  * two-model dispatcher: an "event" model for holiday/heavy-snow rows and
  * a "normal" model for everything else; prediction routes per-row on the
  * event mask.
  *
  * Spark-first design: a custom MLlib [[Transformer]] holding two fitted
  * [[PipelineModel]]s. `transform` runs both models (each a narrow
  * map-stage over the same scan — Catalyst reuses the exchange) and
  * selects per-row with `when(mask, event).otherwise(normal)`. No
  * row-level branching UDF, no driver loop; the dispatch is one codegen'd
  * conditional.
  *
  * The two inner pipelines are built with disjoint features/prediction
  * column names so the second transform composes over the first's output.
  */
class SegmentedModel(
    override val uid: String,
    val normalModel: PipelineModel,
    val eventModel: PipelineModel,
    val maskCol: String,
    val predictionCol: String = "prediction",
    /** When set, predictions are expm1-inverted (the reference trains on
      * log1p(Vol) and inverts at predict time, SegmentedModeling.py:108).
      */
    val expm1Inverse: Boolean = false)
  extends Transformer with MLWritable {

  /** M4 + S14: standard MLlib persistence, so a SegmentedModel can sit as
    * a stage inside a saved [[Pipeline]]/[[PipelineModel]] exactly like
    * the reference's joblib artifact sits inside its registry
    * (main.py:134-144).
    */
  override def write: MLWriter = new SegmentedModel.Writer(this)

  def this(normalModel: PipelineModel, eventModel: PipelineModel, maskCol: String) =
    this(Identifiable.randomUID("segmented"), normalModel, eventModel, maskCol)

  override def transform(ds: Dataset[_]): DataFrame = {
    val withNormal = normalModel.transform(ds)
    val withBoth = eventModel.transform(withNormal)
    val raw = when(SegmentedModel.truthy(col(maskCol)),
        col(SegmentedModel.eventPredCol))
      .otherwise(col(SegmentedModel.normalPredCol))
    val pred = if (expm1Inverse) expm1(raw) else raw
    withBoth.withColumn(predictionCol, pred)
      .drop(SegmentedModel.normalPredCol, SegmentedModel.eventPredCol,
        SegmentedModel.normalFeaturesCol, SegmentedModel.eventFeaturesCol)
  }

  override def transformSchema(schema: StructType): StructType =
    StructType(schema.fields :+ StructField(predictionCol, DoubleType))

  override def copy(extra: ParamMap): SegmentedModel =
    new SegmentedModel(uid, normalModel, eventModel, maskCol, predictionCol, expm1Inverse)
}

object SegmentedModel extends MLReadable[SegmentedModel] {

  /** Writes the layout `{metadata/, normal/, event/,
    * segmented_metadata.json}`. The `metadata` text dir mirrors
    * `DefaultParamsWriter` (class/uid/timestamp/sparkVersion/paramMap) so
    * `PipelineModel.load` can dispatch a nested stage back to
    * [[SegmentedModel.read]] reflectively; `DefaultParamsWriter` itself is
    * `private[ml]`, hence the hand-rolled single part file.
    */
  private[ml] class Writer(instance: SegmentedModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      import org.json4s.JsonDSL._
      instance.normalModel.write.overwrite().save(s"$path/normal")
      instance.eventModel.write.overwrite().save(s"$path/event")
      writeUtf8(s"$path/segmented_metadata.json",
        ("maskCol" -> instance.maskCol) ~
        ("predictionCol" -> instance.predictionCol) ~
        ("expm1Inverse" -> instance.expm1Inverse))
      writeUtf8(s"$path/metadata/part-00000",
        ("class" -> classOf[SegmentedModel].getName) ~
        ("timestamp" -> System.currentTimeMillis()) ~
        ("sparkVersion" -> sc.version) ~ ("uid" -> instance.uid) ~
        ("paramMap" -> JObject()) ~ ("defaultParamMap" -> JObject()))
    }
  }

  private[ml] class Reader extends MLReader[SegmentedModel] {
    override def load(path: String): SegmentedModel = loadImpl(path)
  }

  override def read: MLReader[SegmentedModel] = new Reader

  private def writeUtf8(path: String, json: JObject): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(p, true)
    try out.write(compact(render(json)).getBytes("UTF-8")) finally out.close()
  }

  /** S14 for M4: persist as two MLlib pipeline artifacts + a tiny JSON
    * metadata file (the reference's joblib dump of its SegmentedModel,
    * save_models.py:50). Hadoop FS API, so any supported filesystem works.
    * Same layout as `model.write.save(path)`, which this delegates to.
    */
  def save(model: SegmentedModel, path: String): Unit =
    model.write.overwrite().save(path)

  override def load(path: String): SegmentedModel = loadImpl(path)

  private def loadImpl(path: String): SegmentedModel = {
    val p = new org.apache.hadoop.fs.Path(s"$path/segmented_metadata.json")
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    val meta = try parse(new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")) finally in.close()
    implicit val formats: Formats = DefaultFormats
    new SegmentedModel(Identifiable.randomUID("segmented"),
      PipelineModel.load(s"$path/normal"), PipelineModel.load(s"$path/event"),
      (meta \ "maskCol").extract[String], (meta \ "predictionCol").extract[String],
      (meta \ "expm1Inverse").extract[Boolean])
  }

  /** Mask truthiness for boolean OR 0/1 integer mask columns. */
  private[ml] def truthy(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(c.cast("boolean"), lit(false))

  val normalPredCol = "__pred_normal"
  val eventPredCol = "__pred_event"
  val normalFeaturesCol = "__features_normal"
  val eventFeaturesCol = "__features_event"

  /** Fit the two-segment model the way the reference does
    * (SegmentedModeling.py:66-90): partition train rows on the event
    * mask; when events are rarer than `minEventFrac` of the train set,
    * oversample them ×`oversampleK` (A5 — multiset parity, the pandas
    * shuffle order is RNG noise); fit one GBT per segment.
    *
    * `buildPipeline(featuresCol, predictionCol)` constructs each inner
    * pipeline so both use private column names and compose cleanly.
    */
  def fit(train: DataFrame, maskCol: String,
      buildPipeline: (String, String) => Pipeline,
      minEventFrac: Double = 0.10, oversampleK: Int = 5,
      predictionCol: String = "prediction",
      expm1Inverse: Boolean = false): SegmentedModel = {
    val isEvent = truthy(col(maskCol))
    val normalDf = train.filter(!isEvent)
    val eventDf = train.filter(isEvent)
    val counts = train.groupBy(isEvent.as("e")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val nEvent = counts.getOrElse(true, 0L)
    val nTotal = counts.values.sum
    val eventTrain =
      if (nTotal > 0 && nEvent.toDouble / nTotal < minEventFrac && nEvent > 0)
        Relational.oversample(eventDf, oversampleK)
      else eventDf
    val normal = buildPipeline(normalFeaturesCol, normalPredCol).fit(normalDf)
    val event = buildPipeline(eventFeaturesCol, eventPredCol)
      .fit(if (nEvent > 0) eventTrain else normalDf)
    new SegmentedModel(Identifiable.randomUID("segmented"), normal, event,
      maskCol, predictionCol, expm1Inverse)
  }
}
