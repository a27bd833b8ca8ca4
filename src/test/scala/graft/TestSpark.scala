package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.VendorPipeline
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assume

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the library's blessed install: custom functions + the opt-in
    // range-join rule + the maintenance-statement parser sugar
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Cancels the calling test when `key` is a vendor-pipeline key and
    * the reference vendor parquet it reads is absent: that parquet is
    * not part of the repository. The `pipe_vendor*` keys read the
    * per-vendor splits under `VendorPipeline.root`; `ml_fixed_effects`
    * reads the merged split under `VendorPipeline.mergedRoot`. Any
    * other key runs unconditionally. */
  def assumeVendorFiles(key: String): Unit =
    if (VendorPipeline.queries.contains(key)) {
      val p =
        if (key == "ml_fixed_effects")
          Paths.get(VendorPipeline.mergedRoot, "train.parquet")
        else Paths.get(VendorPipeline.root)
      assume(Files.exists(p), s"$key reads $p, which is not on this host")
    }
}
