package perfbench

import graft.Tables
import graft.features.{Encoders, Scalers, Splits, TimeFeatures}
import graft.ml.LinearModel
import graft.pipeline.{GatedPipeline, ModelArtifacts, Pipeline, Stage}
import graft.quality.SuiteConfig
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** vendor_dag: one op is one tenant's whole DAG over its wide
  * (722-column) train/test parquet pair:
  * ingest -> validate -> gate -> transform -> split -> train ->
  * evaluate -> persist. Each stage materializes its output, as the
  * per-dataset DAG's tasks do, so each layer span owns its jobs. */
final class VendorDag(c: Ctx) extends Workload(c) {
  private lazy val tenants: Seq[String] =
    new java.io.File(s"${ctx.data}/datasets").listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq

  /** The validation suite, in the GX JSON shape operators deploy. */
  private val suiteJson =
    """{"expectation_suite_name": "vendor_trips", "expectations": [
      | {"expectation_type": "expect_column_values_to_not_be_null",
      |  "kwargs": {"column": "trip_duration"}},
      | {"expectation_type": "expect_column_values_to_be_between",
      |  "kwargs": {"column": "distance", "min_value": 0, "max_value": 1000}},
      | {"expectation_type": "expect_column_values_to_be_between",
      |  "kwargs": {"column": "pickup_hot", "min_value": 1, "max_value": 1}},
      | {"expectation_type": "expect_column_values_to_be_between",
      |  "kwargs": {"column": "weekday_hot", "min_value": 1, "max_value": 1}},
      | {"expectation_type": "expect_column_values_to_be_in_set",
      |  "kwargs": {"column": "pc", "value_set": ["1","2","3","4","5","6"]}}
      |]}""".stripMargin

  private val features = Seq("distance_z", "hour_mm", "dow_iso") ++
    (2 to 6).map(i => s"pc_$i")

  /** Pairwise sum: keeps expression depth logarithmic in the column count. */
  private def balanced(cs: Seq[Column]): Column =
    if (cs.size == 1) cs.head else balanced(cs.grouped(2).map(_.reduce(_ + _)).toSeq)

  private def dag(t: String, rec: OpRec): Unit = {
    val tr = ctx.tracer
    val root = s"${ctx.data}/datasets/$t"
    val ingested = tr.span("Tables", "ingest") {
      val sch = Tables.schemaFor(spark, s"$root/train.parquet")
      val wide = spark.read.schema(sch)
        .parquet(s"$root/train.parquet", s"$root/test.parquet")
      def fam(p: String) = sch.fieldNames.filter(_.startsWith(p)).toSeq
      val wd = fam("weekday_")
      wide.select(col("__index_level_0__").as("rid"), col("trip_duration"),
          col("passenger_count").cast("string").as("pc"), col("hour"), col("distance"),
          balanced(fam("pickup_").map(col(_).cast("int"))).as("pickup_hot"),
          balanced(wd.map(col(_).cast("int"))).as("weekday_hot"),
          balanced(wd.zipWithIndex.map { case (w, i) => col(w).cast("int") * i })
            .as("weekday_idx"))
        .localCheckpoint(eager = true)
    }
    val suite = tr.span("quality", "validate") {
      val s = SuiteConfig.fromJson(suiteJson)
      s.run(ingested).collect()
      s
    }
    val clean = tr.span("pipeline", "gate") {
      val gated = GatedPipeline(Pipeline(t, Seq(Stage("validate")(identity))),
        Map("validate" -> (suite, Pipeline.Quarantine)))
      val (ok, quarantined) = gated.run(ingested)
      rec.out("quarantined") = quarantined.map(_._2.count()).sum.toString
      ok
    }
    val prepared = tr.span("features", "transform") {
      val ts = make_timestamp(lit(2024), lit(1), col("weekday_idx") + 1,
        col("hour").cast("int"), lit(0), lit(0))
      val f = Encoders.oneHot(clean, "pc", (1 to 6).map(_.toString), "pc")
      val z = Scalers.minmax(Scalers.zscore(f, "distance", "distance_z"), "hour", "hour_mm")
      Splits.byKeyModulo(TimeFeatures.expand(z.withColumn("ts", ts), "ts"), "rid")
        .localCheckpoint(eager = true)
    }
    val model = tr.span("ml", "train") {
      val train = prepared.filter(col("split") === "train")
      LinearModel.fitRidge(train, features, "trip_duration", lambdaPerN = 1e-3)
      LinearModel.fitMulti(train, features, "trip_duration")
    }
    val metrics = tr.span("ml", "evaluate") {
      val test = prepared.filter(col("split") === "test")
      LinearModel.evaluate(LinearModel.predictMulti(test, model, features),
        "trip_duration", "prediction").head()
    }
    val r2 = metrics.getAs[Double]("r2")
    rec.out("r2") = Json.num(r2)
    rec.out("rmse") = Json.num(metrics.getAs[Double]("rmse"))
    tr.span("pipeline", "persist") {
      import spark.implicits._
      val art = Seq((t, model._1, model._2.mkString(","), r2)).toDF("vendor", "intercept", "slopes", "r2")
      ModelArtifacts.write(art, s"${ctx.work}/artifacts", "run_0001")
    }
  }

  private def runDag(t: String): Unit = {
    ctx.op("dag", t)(dag(t, _))
    ctx.dropPersisted()
  }

  def setup(): Unit = {
    require(tenants.nonEmpty, s"no vendor datasets under ${ctx.data}/datasets")
    tenants.foreach(t => Tables.schemaFor(spark, s"${ctx.data}/datasets/$t/train.parquet"))
  }

  def warmup(): Unit = tenants.foreach(runDag)

  def mix: Map[String, Double] = tenants.map(t => s"dag:$t" -> 1.0).toMap

  def pass(deadline: Long): Boolean = {
    for (t <- shuffled(tenants)) {
      if (System.nanoTime() >= deadline) return false
      runDag(t)
    }
    true
  }

  def check(): Unit = ()

  override def extra: Map[String, String] = Map(
    "tenants" -> tenants.map(Json.str).mkString("[", ",", "]"))
}
