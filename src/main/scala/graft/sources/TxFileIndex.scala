package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** The file index of every TxTable scan: exactly the `files` it is
  * given — the manifest is the listing. Construction costs one
  * `getFileStatus` per file and nothing else: no directory walk, no
  * path-existence pool, and no listing job however many files there
  * are. A missing file fails here, with its path. The partition schema
  * is empty: TxTable partitions live in the manifest, never in paths.
  * Two indexes over the same files are equal, as Spark's own indexes
  * are, so plans that scan the same files twice can reuse work. */
private[sources] class TxFileIndex(spark: SparkSession, files: Seq[Path])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private val statuses: Seq[FileStatus] =
    if (files.isEmpty) Nil
    else {
      val fs = files.head.getFileSystem(hadoopConf)
      files.map { p =>
        try fs.getFileStatus(p)
        catch { case e: java.io.FileNotFoundException =>
          throw new java.io.FileNotFoundException(
            s"TxTable file ${fs.makeQualified(p)} does not exist " +
              s"(${e.getMessage})")
        }
      }
    }

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)
  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override protected def leafFiles
      : scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
    scala.collection.mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)
  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent).map { case (d, ss) => d -> ss.toArray }
  override def allFiles(): Seq[FileStatus] = statuses
  override def refresh(): Unit = ()

  override def equals(o: Any): Boolean = o match {
    case t: TxFileIndex => rootPaths.toSet == t.rootPaths.toSet
    case _ => false
  }
  override def hashCode(): Int = rootPaths.toSet.hashCode()

  /** The parquet schema of `files` (by default this index's), read
    * from footers on the driver: the first file's by path name (what
    * Spark's non-merging inference reads), or with `all` every file's,
    * merged in path-name order (the first file's when their types do
    * not merge). None when a footer is unreadable under
    * `spark.sql.files.ignoreCorruptFiles`. */
  def footerSchema(all: Boolean,
      files: Seq[FileStatus] = statuses): Option[StructType] =
    if (files.isEmpty) None
    else org.apache.spark.sql.execution.datasources.parquet.GraftFooterBridge
      .schemaOf(spark, hadoopConf,
        if (all) files.sortBy(_.getPath.toString)
        else Seq(files.minBy(_.getPath.toString)))
}
