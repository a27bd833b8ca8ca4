package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned train/eval run artifacts — the reference DAG's terminal
  * stage. Each per-vendor DAG the reference deploys ends by
  * persisting its trained model and eval metrics (the train→evaluate
  * stages wired up by aws_infrastructure/airflow-setup.py:172-241);
  * here the artifact IS the model-as-DataFrame (one row per vendor:
  * training stats, coefficients, metrics), written as parquet
  * partitioned by (run_id, vendor):
  *
  *   - a scoring job reloads ONE vendor's model of ONE run with
  *     partition pruning — other runs' files are never listed or
  *     scanned;
  *   - dynamic partition overwrite makes re-running a run_id
  *     idempotent without touching other runs' partitions;
  *   - doubles round-trip parquet bit-exactly, so reload-and-score
  *     reproduces the in-memory model to the last ulp.
  */
object ModelArtifacts {

  /** Persist one run's model/metrics frame under `path`, partitioned
    * by run_id plus the caller's unit-of-reload columns (per-vendor
    * models, per-dataset validation reports, ...).
    *
    * The run's partition tree (`path/run_id=<runId>`) is deleted up
    * front: dynamic partition overwrite alone only replaces partitions
    * present in THIS write, so a sub-partition written by an earlier
    * run of the same run_id (e.g. a dataset since removed from the
    * suite) would otherwise survive and leak stale rows into the
    * reload. Deleting only this run's subtree keeps other runs'
    * partitions untouched, so re-running a run_id stays idempotent. */
  def write(artifact: DataFrame, path: String, runId: String,
      partCols: Seq[String] = Seq("vendor")): Unit = {
    val spark = artifact.sparkSession
    val runDir = new org.apache.hadoop.fs.Path(path, s"run_id=$runId")
    val fs = runDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(runDir)) fs.delete(runDir, true)
    graft.Tables.invalidateSchema(path)
    artifact.withColumn("run_id", lit(runId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(("run_id" +: partCols): _*)
      .parquet(path)
  }

  /** Reload one run's artifact (partition-pruned on run_id). Schema
    * served from the catalog cache (r19 verdict #1): footer inference
    * + the extra partition-tree listing are paid once per landing, not
    * per reload; [[write]] drops the cached entry. The schema is the
    * union over all runs, so a run whose artifact gained a column
    * reloads it (null for older runs). */
  def load(s: SparkSession, path: String, runId: String): DataFrame =
    s.read.schema(graft.Tables.schemaFor(s, path, mergeSchema = true))
      .parquet(path)
      .filter(col("run_id") === runId).drop("run_id")
}
