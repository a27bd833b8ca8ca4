package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to the package-private parquet footer readers, the same
  * precedent as `GraftColumnBridge`: the schema Spark's non-merging
  * parquet inference derives from one file's footer, read on the
  * driver instead of in a one-task Spark job. */
object GraftFooterBridge {

  /** The schema non-merging inference gives a read of `files`: the
    * footer of the first file in qualified-path order, the one
    * `ParquetUtils.inferSchema` touches. None when that file is
    * missing (vacuumed) or corrupt under
    * `spark.sql.files.ignoreCorruptFiles`: the caller then lets Spark
    * resolve the read and report the fault its own way. */
  def schemaOf(spark: SparkSession, files: Seq[String]): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val conf = state.newHadoopConf()
    val first = files.map { f =>
      val p = new Path(f)
      p.getFileSystem(conf).makeQualified(p)
    }.minBy(_.toString)
    val status =
      try first.getFileSystem(conf).getFileStatus(first)
      catch { case _: FileNotFoundException => return None }
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      conf, Seq(status), state.conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark)
  }
}
