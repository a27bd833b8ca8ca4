package graft.sources

import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** The one writer of TxTable parquet files: data, change and view
  * files, and the files of the V2 row-level, dynamic-overwrite and
  * streaming writes ([[TxParquetDataWriter]]).
  *
  * [[apply]] runs ONE Spark job over the frame's rows. Each task
  * writes final, attempt-unique names straight into the target
  * directory and returns them; there is no staging directory, no
  * output committer and no rename. Nothing reads a file until a
  * manifest lists it, so a file of a failed attempt or of a commit
  * loser is only an unreferenced orphan, which `vacuum` reclaims once
  * it is older than its `graceMs`.
  *
  * The files carry what Spark's own parquet write gives them: the
  * frame's schema (nullability included), the session's Hadoop conf
  * plus the parquet write settings ([[TxConfCarrier]]), the same codec
  * and rebase modes, and the same rejection of unsupported types. Like Spark, partition 0 always writes a file, so an
  * empty output still leaves one file carrying the schema; other
  * empty partitions write nothing. */
private[sources] object TxParquetWriter {

  /** Write `df` as parquet files named `<prefix>-<partition>-<task
    * attempt>.parquet` in `dir`; returns the file names in partition
    * order. With `bucketCol` the frame must be clustered on that
    * column: each task sorts its rows by it and starts a new file,
    * named `...-b<value>.parquet`, whenever the value changes. The
    * column itself is not stored (it derives from the data). */
  def apply(df: DataFrame, dir: Path, prefix: String,
      bucketCol: Option[String] = None): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    // a bucketed frame leads with the bucket value: the writer strips
    // the one leading field, as it does ReplaceData's marker column
    val rows = bucketCol.fold(df) { b =>
      df.sortWithinPartitions(col(b))
        .select(col(b) +: df.columns.filterNot(_ == b).map(col).toSeq: _*)
    }
    val schema = StructType(rows.schema.fields.drop(bucketCol.size))
    DataSourceUtils.verifySchema(new ParquetFileFormat, schema)
    val conf = TxConfCarrier.capture(spark)
    val target = dir.toString
    val bucketed = bucketCol.nonEmpty
    val qe = rows.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("command")) {
      val rdd = qe.toRdd
      val parts =
        if (rdd.partitions.nonEmpty) rdd
        else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      parts.mapPartitionsWithIndex((pid, it) =>
        writePartition(target, prefix, schema, bucketed, conf, pid, it))
        .collect().toSeq
    }
  }

  /** One task's files (see [[apply]]); on a failure every file this
    * attempt opened is deleted before the error propagates. */
  private def writePartition(dir: String, prefix: String,
      schema: StructType, bucketed: Boolean, conf: TxConfCarrier,
      pid: Int, rows: Iterator[InternalRow]): Iterator[String] = {
    if (!rows.hasNext && (bucketed || pid != 0)) return Iterator.empty
    val hconf = conf.toConf(schema)
    val base = f"$prefix-$pid%05d-${TaskContext.get().taskAttemptId()}"
    val done = Seq.newBuilder[String]
    var open: TxParquetDataWriter = null
    def start(name: String): Unit = {
      open = new TxParquetDataWriter(new Path(dir, name), schema.length,
        hconf)
      done += name
    }
    try {
      if (!bucketed) {
        start(s"$base.parquet")
        rows.foreach(open.write)
      } else {
        var bucket: UTF8String = null
        rows.foreach { row =>
          val b = row.getUTF8String(0)
          if (bucket == null || bucket != b) {
            if (open != null) open.commit()
            bucket = b.clone()
            start(s"$base-b$bucket.parquet")
          }
          open.write(row)
        }
      }
      open.commit()
      done.result().iterator
    } catch { case e: Throwable =>
      if (open != null) try open.abort() catch { case _: Throwable => () }
      val fs = new Path(dir).getFileSystem(hconf)
      done.result().foreach(n => fs.delete(new Path(dir, n), false))
      throw e
    }
  }
}

/** One parquet file, written in place through Spark's own
  * [[ParquetOutputWriter]]. `hconf` carries the file's schema
  * ([[TxConfCarrier.toConf]]). */
private[sources] class TxParquetDataWriter(file: Path, arity: Int,
    hconf: Configuration) extends DataWriter[InternalRow] {
  private val writer = new ParquetOutputWriter(file.toString,
    new TaskAttemptContextImpl(hconf, new TaskAttemptID()))

  // A row one field wider than the file leads with a field that is
  // not data: the bucket value of a bucketed [[TxParquetWriter]] write,
  // or ReplaceData's __row_operation marker (RowDeltaUtils.
  // OPERATION_COLUMN, always prepended FIRST by RewriteUpdateTable /
  // RewriteMergeIntoTable; Spark strips it only on the metadata-
  // attribute path, DataAndMetadataWritingSparkTask). The data columns
  // follow in file order, so a +1 ordinal shift recovers exactly the
  // declared row; any other arity is a contract drift and must fail
  // loudly, not misalign columns.
  override def write(row: InternalRow): Unit = {
    if (row.numFields == arity) writer.write(row)
    else if (row.numFields == arity + 1)
      writer.write(new TxOffsetRow(row, 1, arity))
    else throw new IllegalStateException(
      s"parquet write row has ${row.numFields} fields, file has $arity")
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    TxParquetCommit(file.toString)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Throwable => () }
    file.getFileSystem(hconf).delete(file, false)
    ()
  }

  override def close(): Unit = ()
}

/** A written file's absolute path, as a V2 writer reports it. */
private[sources] case class TxParquetCommit(file: String)
    extends WriterCommitMessage

/** InternalRow view shifted by `off` ordinals, `n` fields wide — the
  * cheap strip of a leading non-data field (no copy). */
private class TxOffsetRow(row: InternalRow, off: Int, n: Int)
    extends InternalRow {
  override def numFields: Int = n
  override def isNullAt(i: Int): Boolean = row.isNullAt(i + off)
  override def getBoolean(i: Int): Boolean = row.getBoolean(i + off)
  override def getByte(i: Int): Byte = row.getByte(i + off)
  override def getShort(i: Int): Short = row.getShort(i + off)
  override def getInt(i: Int): Int = row.getInt(i + off)
  override def getLong(i: Int): Long = row.getLong(i + off)
  override def getFloat(i: Int): Float = row.getFloat(i + off)
  override def getDouble(i: Int): Double = row.getDouble(i + off)
  override def getDecimal(i: Int, p: Int, s: Int) =
    row.getDecimal(i + off, p, s)
  override def getUTF8String(i: Int) = row.getUTF8String(i + off)
  override def getBinary(i: Int): Array[Byte] = row.getBinary(i + off)
  override def getInterval(i: Int) = row.getInterval(i + off)
  override def getStruct(i: Int, numFields: Int) =
    row.getStruct(i + off, numFields)
  override def getArray(i: Int) = row.getArray(i + off)
  override def getMap(i: Int) = row.getMap(i + off)
  override def getVariant(i: Int) = row.getVariant(i + off)
  override def getGeography(i: Int) = row.getGeography(i + off)
  override def getGeometry(i: Int) = row.getGeometry(i + off)
  override def get(i: Int, dt: org.apache.spark.sql.types.DataType): AnyRef =
    row.get(i + off, dt)
  override def setNullAt(i: Int): Unit = row.setNullAt(i + off)
  override def update(i: Int, v: Any): Unit = row.update(i + off, v)
  override def copy(): InternalRow = {
    val out = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(n)
    var i = 0
    while (i < n) {
      if (row.isNullAt(i + off)) out.setNullAt(i)
      else out.update(i, row.get(i + off, null))
      i += 1
    }
    out
  }
}

/** Serializable snapshot of the session's Hadoop conf plus the parquet
  * write settings, rebuilt by each task (the driver's SQLConf-derived
  * parquet options must reach executor-side writers; a bare `new
  * Configuration()` would silently use defaults that can differ from
  * the session's). On the `file` scheme it names the fork-free
  * [[NioLocalFileSystem]]. */
private[sources] case class TxConfCarrier(entries: Array[(String, String)]) {
  /** The task-side conf for files of `schema`. */
  def toConf(schema: StructType): Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    ParquetWriteSupport.setSchema(schema, c)
    c
  }
}

private[sources] object TxConfCarrier {
  def capture(spark: SparkSession): TxConfCarrier = {
    import org.apache.spark.sql.internal.SQLConf
    val hconf = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    // everything ParquetWriteSupport.init / SparkToParquetSchemaConverter
    // read from the task-side Configuration (what ParquetUtils.
    // prepareWrite provisions) — keys referenced through SQLConf so a
    // rename breaks the compile, not the write
    hconf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.writeLegacyParquetFormat.toString)
    hconf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sql.parquetOutputTimestampType.toString)
    hconf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.parquetFieldIdWriteEnabled.toString)
    hconf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sql.legacyParquetNanosAsLong.toString)
    hconf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    hconf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    hconf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    hconf.set(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis.toString)
    hconf.set("parquet.compression", sql.parquetCompressionCodec)
    hconf.set("parquet.write.support.class",
      classOf[ParquetWriteSupport].getName)
    // the file-system cache is keyed by scheme, not class: without
    // bypassing it a task would get the cached forking local FS
    hconf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    hconf.set("fs.file.impl.disable.cache", "true")
    TxConfCarrier(
      hconf.iterator().asScala.map(e => e.getKey -> e.getValue).toArray)
  }
}

/** Hadoop's raw local file system, with permissions set through
  * `java.nio` instead of a forked `chmod`. Without libhadoop,
  * `RawLocalFileSystem` starts a `chmod` process for every file and
  * directory it creates; this gives the same umask-applied mode bits
  * and starts none. Raw, not checksummed: TxTable files are immutable
  * parquet (with its own page checksums) and small JSON manifests, so
  * no `.crc` sidecars are written either; a file it (re)writes loses
  * any sidecar a checksummed writer left, which a checksummed reader
  * would otherwise verify the new bytes against. */
class NioLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "file"

  override protected def createOutputStreamWithMode(f: Path,
      append: Boolean, permission: FsPermission): java.io.OutputStream = {
    if (!append) {
      val file = pathToFile(f)
      java.nio.file.Files.deleteIfExists(
        new java.io.File(file.getParentFile, s".${file.getName}.crc").toPath)
    }
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ .. OTHERS_EXECUTE: bits 8 .. 0
    PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
      if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
    }
    try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    catch { case _: UnsupportedOperationException =>
      super.setPermission(p, permission)
    }
    ()
  }
}

private[sources] object NioLocalFileSystem {
  /** The file system TxTable uses for `p`: [[NioLocalFileSystem]] on
    * the `file` scheme, the configured one on every other. */
  def forPath(p: Path, conf: Configuration): FileSystem = {
    val f = p.getFileSystem(conf)
    if (f.getScheme != "file") f
    else {
      val local = new NioLocalFileSystem
      local.initialize(f.getUri, conf)
      local
    }
  }
}
