package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-incremental pipeline runs — the Airflow
  * schedule-interval / backfill analog. The reference schedules each
  * vendor DAG on an interval and re-runs failed intervals
  * (aws_infrastructure/airflow-setup.py:172-241 wires schedule_interval
  * + retries into every generated DAG); here a "run" processes exactly
  * ONE logical partition of the input through a [[Pipeline]] and lands
  * its output in a parquet sink partitioned by the same key, written
  * with DYNAMIC partition overwrite:
  *
  *   - re-running a partition (backfill) replaces exactly that
  *     partition's files and no others — idempotent by construction,
  *     the write-side equivalent of a CDC upsert (`q_cdc_apply`)
  *     where the "change feed" is one whole interval;
  *   - the per-run input filter on the partition column reaches the
  *     scan (pushed filter, or partition pruning on a partitioned
  *     source), so a run's cost is proportional to ITS slice, never
  *     the full history — the property that makes daily runs against
  *     a 100 TB fact table affordable at all;
  *   - the sink as a whole always equals "pipeline over full input"
  *     as long as the pipeline is partition-local (no stage reads
  *     across partition boundaries) — the same contract Airflow's
  *     interval tasks carry implicitly.
  */
object IncrementalRunner {

  /** Initial load / full backfill: one job over all partitions. */
  def runAll(pipe: Pipeline, input: DataFrame, partCol: String,
      path: String): Unit =
    write(pipe.run(input), partCol, path)

  /** One scheduled run: `pipe` over the `partVal` slice only;
    * dynamic-overwrites that slice's sink partition. */
  def runPartition(pipe: Pipeline, input: DataFrame, partCol: String,
      partVal: Any, path: String): Unit =
    write(pipe.run(input.filter(col(partCol) === lit(partVal))),
      partCol, path)

  /** The materialized pipeline output across all runs so far. Schema
    * served from the catalog cache (r19 verdict #1): inference (footer
    * reads + an extra listing of the partition tree) is paid once per
    * landing, not per read; every write drops the cached entry. It is
    * the union of all partitions' schemas: a run that re-lands one
    * slice with an added column surfaces it, null in older slices. */
  def readSink(s: SparkSession, path: String): DataFrame =
    s.read.schema(graft.Tables.schemaFor(s, path, mergeSchema = true))
      .parquet(path)

  /** Re-lands `path`: its cached schema is dropped first, so a
    * pipeline whose output gained a column reads it back. */
  private def write(out: DataFrame, partCol: String, path: String): Unit = {
    graft.Tables.invalidateSchema(path)
    out.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)
  }
}
