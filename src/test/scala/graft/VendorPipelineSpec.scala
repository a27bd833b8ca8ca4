package graft

import graft.pipeline.VendorPipeline
import org.scalatest.funsuite.AnyFunSuite

/** The reference's OWN vendor datasets (722-column wide schema)
  * through the full per-vendor pipeline — correctness + the
  * wide-schema plan shapes. */
class VendorPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("per-vendor pipeline fits a usable model per vendor") {
    TestSpark.assumeVendorFiles("pipe_vendor")
    val rows = SparkEntry.queries("pipe_vendor")(spark, TestSpark.sf)
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      // validation: complete labels, non-negative distances
      assert(r.getAs[Long]("n_null_label") == 0L)
      assert(r.getAs[Long]("n_neg_dist") == 0L)
      assert(r.getAs[Long]("n_train") > 0 && r.getAs[Long]("n_test") > 0)
      // distance dominates trip duration — every vendor model must
      // capture it (R² well above chance, positive distance slope)
      assert(r.getAs[Double]("r2") > 0.8, s"weak fit: $r")
      assert(r.getAs[Double]("b_dist") > 0.0)
      assert(r.getAs[Double]("rmse") > 0.0)
    }
  }

  test("narrow pipeline prunes 722 columns to the 4 used at the scan") {
    TestSpark.assumeVendorFiles("pipe_vendor")
    val df = SparkEntry.queries("pipe_vendor")(spark, TestSpark.sf)
    // formatted explain sees scans inside AQE query stages, which
    // plan.collect does not traverse
    val explain = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explain.contains("ReadSchema"))
    // if pruning failed, the 717 one-hot columns appear in ReadSchema
    assert(!explain.contains("pickup_"),
      "vendor scan reads one-hot columns the regression never touches")
    // and the grouped fit aggregates inside a codegen span
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("))
  }

  test("wide conformance audit reads the full one-hot schema and completes") {
    TestSpark.assumeVendorFiles("pipe_vendor_onehot")
    val df = SparkEntry.queries("pipe_vendor_onehot")(spark, TestSpark.sf)
    val explain = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explain.contains("pickup_"), "audit scan lost the one-hot columns")
    assert(df.collect().length == 3)
  }

  test("column-group audit plans vectorized scans under the default session") {
    TestSpark.assumeVendorFiles("pipe_vendor_onehot")
    // Wide-schema tradeoff, round-6 resolution: Spark gates BOTH
    // whole-stage fusion and the vectorized parquet reader on
    // `spark.sql.codegen.maxFields` (default 100) — a single
    // 722-column scan always row-reads (and forcing maxFields=800
    // blows Janino's 64 KB fusion limit, burning ~90 s per failed
    // compile — measured in round 4). The audit therefore reads the
    // dummies in ⌈717/96⌉ column-group scans of ≤ 97 fields and
    // reassembles per-row family sums with a rid re-group, so EVERY
    // scan plans `Batched: true` with no session knob at all. Pinned
    // here: a regression that widens any scan past maxFields flips
    // its Batched attribute back to false.
    val e = SparkEntry.queries("pipe_vendor_onehot")(spark, TestSpark.sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val batched = "Batched: (true|false)".r.findAllMatchIn(e).map(_.group(1)).toSeq
    assert(batched.nonEmpty && batched.forall(_ == "true"),
      s"audit lost the vectorized scan: Batched=$batched")
  }

  test("one-hot conformance catches the real violations in the data") {
    TestSpark.assumeVendorFiles("pipe_vendor_onehot")
    val byVendor = SparkEntry.queries("pipe_vendor_onehot")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("pickup_bad"), r.getAs[Long]("dropoff_bad"),
          r.getAs[Long]("weekday_bad"), r.getAs[Long]("quarter_bad"))).toMap
    // alitran and to_my_place_ai ship rows whose pickup/dropoff
    // dummies sum to 0 — the conformance gate must see them
    assert(byVendor("alitran")._1 > 0)
    assert(byVendor("to_my_place_ai")._1 > 0)
    assert(byVendor("easy_destiny") == ((0L, 0L, 0L, 0L)))
    // weekday/quarter one-hots are clean everywhere
    byVendor.values.foreach { case (_, _, w, q) => assert(w == 0 && q == 0) }
  }

  test("fixed-effects fit shares slopes, absorbs per-vendor intercepts") {
    TestSpark.assumeVendorFiles("ml_fixed_effects")
    TestSpark.assumeVendorFiles("pipe_vendor")
    val fe = SparkEntry.queries("ml_fixed_effects")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(fe.size == 3)
    // shared slopes: identical across vendors by construction
    val slopes = fe.values.map(r => (r.getAs[Double]("b_pc"),
      r.getAs[Double]("b_hour"), r.getAs[Double]("b_dist"))).toSet
    assert(slopes.size == 1, s"slopes not shared: $slopes")
    // entity effects differ (that's what the intercepts absorb)
    val iceps = fe.values.map(_.getAs[Double]("fe_intercept")).toSet
    assert(iceps.size == 3)
    // the pooling tradeoff this operator exposes: vendors' true
    // distance slopes differ, so the vendor whose slope is furthest
    // from the pooled one fits worse than its per-vendor model
    val perVendor = SparkEntry.queries("pipe_vendor")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("r2")).toMap
    assert(fe("easy_destiny").getAs[Double]("r2") < perVendor("easy_destiny"))
    // but still captures alitran (slope closest to pooled) well
    assert(fe("alitran").getAs[Double]("r2") > 0.8)
  }

  test("dataset discovery finds exactly the deployed vendor directories") {
    TestSpark.assumeVendorFiles("pipe_vendor")
    // the reference's dynamic-DAG pattern: the vendor list comes from
    // listing the datasets prefix, not from code — a new data drop
    // appears without recompilation. Against the shipped reference
    // tree the discovered set must equal the known deployment.
    assert(VendorPipeline.vendors ==
      Seq("alitran", "easy_destiny", "to_my_place_ai"))
    // every discovered vendor must actually load through the pipeline
    val r = SparkEntry.queries("pipe_vendor")(spark, TestSpark.sf).collect()
    assert(r.map(_.getString(0)).distinct.sorted.toSeq ==
      VendorPipeline.vendors)
  }

  test("top pickup locations per vendor are exact and deterministic") {
    TestSpark.assumeVendorFiles("pipe_vendor_top_pickup")
    val rows = SparkEntry.queries("pipe_vendor_top_pickup")(spark, TestSpark.sf)
      .collect()
    assert(rows.length == 15) // 5 per vendor
    val ali = rows.filter(_.getString(0) == "alitran").sortBy(_.getAs[Int]("rk"))
    assert(ali.head.getString(1) == "Highland") // dominant Scottish pickup
    // ranks are 1..5 per vendor, trips non-increasing
    VendorPipeline.vendors.foreach { v =>
      val vr = rows.filter(_.getString(0) == v).sortBy(_.getAs[Int]("rk"))
      assert(vr.map(_.getAs[Int]("rk")).toSeq == Seq(1, 2, 3, 4, 5))
      val trips = vr.map(_.getAs[Long]("trips")).toSeq
      assert(trips == trips.sorted.reverse)
    }
  }
}
