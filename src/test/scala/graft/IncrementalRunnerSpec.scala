package graft

import graft.pipeline.{IncrementalRunner, ModelArtifacts, Pipeline, Stage}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition-incremental runs: idempotent single-partition backfill
  * over a partitioned parquet sink (Airflow schedule-interval analog). */
class IncrementalRunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = sys.props("java.io.tmpdir") + "/graft_incr_spec_sink"

  private def input = {
    import spark.implicits._
    Tables.orders(spark, TestSpark.sf).select(
      year($"o_orderdate").as("o_year"),
      month($"o_orderdate").as("o_month"),
      round($"o_totalprice" * 100).cast("long").as("cents"))
  }

  private def pipe = {
    import spark.implicits._
    Pipeline("monthly", Seq(
      Stage("rollup")(_.groupBy($"o_year", $"o_month")
        .agg(count(lit(1)).as("n_orders"), sum($"cents").as("cents")))))
  }

  // years present in this sf's data (sf0.001 spans 1995-2001, other
  // sfs differ) — derive, don't hardcode
  private lazy val years: Seq[Int] =
    input.select("o_year").distinct().collect().map(_.getInt(0)).sorted.toSeq
  private lazy val backfillYear: Int = years(years.size / 2)
  private lazy val untouchedYear: Int = years.head

  private def sinkRows(): Set[String] =
    IncrementalRunner.readSink(spark, dir).collect().map(_.toString).toSet

  private def partFiles(year: Int): Map[String, Long] = {
    val d = new java.io.File(s"$dir/o_year=$year")
    d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  test("backfill re-run is idempotent and touches only its partition") {
    IncrementalRunner.runAll(pipe, input, "o_year", dir)
    val full = sinkRows()
    assert(full.nonEmpty)
    val othersBefore = partFiles(untouchedYear)

    // re-run one interval: sink contents identical, OTHER partitions'
    // files untouched (same names, same mtimes — no rewrite happened)
    IncrementalRunner.runPartition(pipe, input, "o_year", backfillYear, dir)
    assert(sinkRows() == full, "backfill changed sink contents")
    assert(partFiles(untouchedYear) == othersBefore,
      s"backfill of $backfillYear rewrote $untouchedYear's files")
  }

  test("backfill repairs exactly the corrupted partition") {
    IncrementalRunner.runAll(pipe, input, "o_year", dir)
    val full = sinkRows()

    // corrupt one partition: a doctored pipeline drops half the months
    val broken = Pipeline("monthly-broken",
      pipe.stages :+ Stage("drop")(df => df.filter(col("o_month") <= 6)))
    IncrementalRunner.runPartition(broken, input, "o_year", backfillYear, dir)
    assert(sinkRows() != full, "corruption did not take — test is vacuous")

    // the scheduled re-run of that interval restores the exact state
    IncrementalRunner.runPartition(pipe, input, "o_year", backfillYear, dir)
    assert(sinkRows() == full, "backfill did not repair the partition")
  }

  test("per-run slice prunes partitions on a partitioned source") {
    // the slice a run reads must be pruned at the source, not after a
    // full-history scan — at 100 TB this is the whole ballgame. The
    // sink is itself a partitioned source, so an incremental consumer
    // (a downstream run keyed on the same interval) demonstrates it:
    // the o_year predicate must land in PartitionFilters, meaning
    // other years' files are never even listed into the scan.
    IncrementalRunner.runAll(pipe, input, "o_year", dir)
    val sliced = IncrementalRunner.readSink(spark, dir)
      .filter(col("o_year") === backfillYear)
    val e = sliced.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(
      "PartitionFilters: \\[[^\\]]*o_year[^\\]]*\\]".r.findFirstIn(e).nonEmpty,
      s"o_year not in PartitionFilters:\n$e")
  }

  test("a sink re-landed with an added column reads that column back") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_incr_evolve")
      .toString + "/sink"
    IncrementalRunner.runAll(pipe, input, "o_year", sink)
    assert(!IncrementalRunner.readSink(spark, sink).columns.contains("max_cents"))
    val wider = Pipeline("monthly-wider", Seq(
      Stage("rollup")(_.groupBy($"o_year", $"o_month")
        .agg(count(lit(1)).as("n_orders"), sum($"cents").as("cents"),
          max($"cents").as("max_cents")))))
    // one slice re-landed: the first file by path is still narrow
    IncrementalRunner.runPartition(wider, input, "o_year", backfillYear, sink)
    val one = IncrementalRunner.readSink(spark, sink)
    assert(one.columns.contains("max_cents"), one.columns.mkString(", "))
    assert(one.filter($"max_cents".isNotNull).select("o_year").distinct()
      .as[Int].collect().toSeq === Seq(backfillYear))
    IncrementalRunner.runAll(wider, input, "o_year", sink)
    val all = IncrementalRunner.readSink(spark, sink)
    assert(all.columns.contains("max_cents"), all.columns.mkString(", "))
    assert(all.filter($"max_cents".isNull).isEmpty)
  }

  test("an artifact re-landed with an added column reloads that column") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_artifact_evolve")
      .toString + "/store"
    ModelArtifacts.write(Seq(("a", 1.0)).toDF("vendor", "b0"), store, "r1")
    assert(ModelArtifacts.load(spark, store, "r1").columns.toSeq ===
      Seq("b0", "vendor"))
    // a later run beside it: run_id=r1's file still sorts first
    ModelArtifacts.write(Seq(("a", 3.0, 4.0)).toDF("vendor", "b0", "b1"),
      store, "r2")
    assert(ModelArtifacts.load(spark, store, "r2")
      .select("vendor", "b0", "b1").as[(String, Double, Double)]
      .collect().toSeq === Seq(("a", 3.0, 4.0)))
    ModelArtifacts.write(Seq(("a", 1.0, 2.0)).toDF("vendor", "b0", "b1"),
      store, "r1")
    val got = ModelArtifacts.load(spark, store, "r1")
    assert(got.select("vendor", "b0", "b1").as[(String, Double, Double)]
      .collect().toSeq === Seq(("a", 1.0, 2.0)))
  }
}
