package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation}
import org.apache.spark.sql.types.StructType

/** Bridge to the package-private parquet footer readers and relation
  * builder, the same precedent as `GraftColumnBridge`: the schema
  * Spark's parquet inference derives from footers, read on the driver
  * instead of in a Spark job, and the parquet relation a
  * `spark.read.schema(s).parquet(...)` builds, over a given index. */
object GraftFooterBridge {

  /** The schema the footers of `files` give, merged in the given order
    * the way Spark's merging inference merges them; footers whose
    * types cannot merge give the first file's schema. Each footer is
    * one direct read, with no thread pool. None when a footer is
    * corrupt and `spark.sql.files.ignoreCorruptFiles` is set: the
    * caller then lets Spark resolve the read and skip the file its own
    * way. */
  def schemaOf(spark: SparkSession, conf: Configuration,
      files: Seq[FileStatus]): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val footers =
      try files.map(f => new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)))
      catch {
        case _: java.io.IOException | _: RuntimeException
            if state.conf.ignoreCorruptFiles => return None
      }
    try ParquetFileFormat.readSchema(footers, spark)
    catch { case _: org.apache.spark.SparkException if footers.size > 1 =>
      ParquetFileFormat.readSchema(footers.take(1), spark)
    }
  }

  /** A parquet scan of `index`'s files with data schema `schema`, as a
    * user-specified-schema read builds it (every field nullable). */
  def frame(spark: SparkSession, index: FileIndex, schema: StructType): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      schema.asNullable, None, new ParquetFileFormat, Map.empty)(classic))
  }
}
