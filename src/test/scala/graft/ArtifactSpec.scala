package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Run-artifact sink: persist model + metrics, reload-and-score
  * (reference DAG terminal stage; see graft.pipeline.ModelArtifacts). */
class ArtifactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = sys.props("java.io.tmpdir") + "/graft_vendor_artifacts"

  test("artifact reload-and-score matches the in-memory fit exactly") {
    TestSpark.assumeVendorFiles("pipe_vendor_artifact")
    val rescored = SparkEntry.queries("pipe_vendor_artifact")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rescored.size == 3)
    val direct = SparkEntry.queries("pipe_vendor")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r).toMap
    // doubles round-trip parquet bit-exactly: rescoring from the
    // reloaded artifact must reproduce the direct pipeline's metrics
    // and coefficients to the digit, not just approximately
    rescored.foreach { case (v, r) =>
      Seq("b_pc", "b_hour", "b_dist", "intercept", "rmse", "mae", "r2")
        .foreach { c =>
          assert(r.getAs[Double](c) == direct(v).getAs[Double](c),
            s"$v.$c drifted through the artifact round-trip")
        }
      assert(r.getAs[Long]("n_test") == direct(v).getAs[Long]("n_test"))
    }
  }

  test("scoring one vendor of one run prunes partitions at the scan") {
    TestSpark.assumeVendorFiles("pipe_vendor_artifact")
    // artifact exists after the query above (same suite ordering) —
    // but don't depend on it: construct (and thus write) explicitly
    SparkEntry.queries("pipe_vendor_artifact")(spark, TestSpark.sf)
    val one = spark.read.parquet(dir)
      .filter(col("run_id") === "run_0001" && col("vendor") === "alitran")
    val e = one.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(e.contains("PartitionFilters"), "no partition filter at the scan")
    assert(
      "PartitionFilters: \\[[^\\]]*vendor[^\\]]*\\]".r.findFirstIn(e).nonEmpty,
      s"vendor not pushed to PartitionFilters:\n$e")
    assert(one.count() == 1)
  }

  test("re-running a run_id is idempotent") {
    TestSpark.assumeVendorFiles("pipe_vendor_artifact")
    val a = SparkEntry.queries("pipe_vendor_artifact")(spark, TestSpark.sf)
      .collect().map(_.toString).sorted
    val b = SparkEntry.queries("pipe_vendor_artifact")(spark, TestSpark.sf)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("data-docs pages round-trip the validation report rows") {
    import spark.implicits._
    // running the query writes parquet + docs through the same sink
    val report = SparkEntry.queries("dq_report_artifact")(spark, TestSpark.sf)
      .collect()
    val reportDir = sys.props("java.io.tmpdir") + "/graft_dq_reports"
    val datasets = report.map(_.getAs[String]("table_name")).distinct
    assert(datasets.length >= 3)
    datasets.foreach { ds =>
      val page = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(
          reportDir, s"run_id=run_0001", s"dataset=$ds", "_index.md")), "UTF-8")
      assert(page.startsWith(s"# Validation report: $ds"))
      val parsed = graft.quality.DataDocs.parseMarkdown(page)
      val expected = report.filter(_.getAs[String]("table_name") == ds)
        .map(r => (r.getAs[String]("exp_name"), r.getAs[String]("col_name"),
          r.getAs[Long]("success"), r.getAs[Double]("observed")))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(parsed == expected, s"docs page for $ds lost report rows")
      // the HTML twin (GX's operator-facing format) carries the same
      // rows: one <tr> per expectation plus the header row
      val html = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(
          reportDir, s"run_id=run_0001", s"dataset=$ds", "_index.html")), "UTF-8")
      assert(html.contains(s"<h1>Validation report: $ds</h1>"))
      assert(html.split("<tr").length - 1 == expected.size + 1,
        s"html page for $ds row count mismatch")
      expected.foreach { case (exp, colName, _, obs) =>
        assert(html.contains(s"<td>$exp</td>") &&
          html.contains(s"<td>$obs</td>"),
          s"html page for $ds missing row for $exp/$colName")
      }
    }
    // and the underscore prefix keeps the parquet reload clean: the
    // artifact still loads with only the report columns
    val reloaded = spark.read.parquet(reportDir)
    assert(reloaded.count() == report.length)
  }
}
