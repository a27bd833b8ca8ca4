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
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference, Cast, EvalMode, Expression, GenericInternalRow, RowOrdering, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** The one writer of TxTable parquet files: data, change and view
  * files, and the files of the V2 row-level, dynamic-overwrite and
  * streaming writes ([[TxParquetDataWriter]]).
  *
  * [[apply]] runs ONE Spark job over the frame's rows. Each task
  * writes final, attempt-unique names straight into the target
  * directories and returns them; there is no staging directory, no
  * output committer and no rename. Nothing reads a file until a
  * manifest lists it, so a file of a failed attempt or of a commit
  * loser is only an unreferenced orphan, which `vacuum` reclaims once
  * it is older than its `graceMs`.
  *
  * One job can feed several outputs (a DML's rewritten data files and
  * its change files): each row then leads with the ordinal of its
  * output, the way a bucketed row leads with its bucket value. Each
  * output's files store a prefix of the data fields, and carry the
  * per-file index entries the output's [[TxIndexProbe]] collects while
  * the rows stream through, so no later pass re-reads them.
  *
  * The files carry what Spark's own parquet write gives them: the
  * frame's schema (nullability included), the session's Hadoop conf
  * plus the parquet write settings ([[TxConfCarrier]]), the same codec
  * and rebase modes, and the same rejection of unsupported types. Like
  * Spark, partition 0 always writes a file for every output, so an
  * empty output still leaves one file carrying the schema; other
  * empty partitions write nothing. */
private[sources] object TxParquetWriter {

  /** One output: files `<prefix>-<partition>-<task attempt>.parquet`
    * in `dir`, storing the first `schema.length` data fields of the
    * rows routed to it, with index entries from `probe`. */
  case class Out(dir: String, prefix: String, schema: StructType,
      probe: Option[TxIndexProbe] = None)

  /** Write `df` and return each output's files, in partition order.
    * With several `outs` the frame's first column is the output
    * ordinal (an int). With `bucketCol` the frame must be clustered
    * on that column, which comes next: each task sorts its rows by it,
    * and the FIRST output starts a new file, named
    * `...-b<value>.parquet`, whenever the value changes (other outputs
    * are not split by bucket). The data fields follow; neither leading
    * column is stored. */
  def apply(df: DataFrame, outs: Seq[Out],
      bucketCol: Option[String] = None): Seq[Seq[TxWritten]] = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val routed = outs.size > 1
    val lead = (if (routed) 1 else 0) + bucketCol.size
    val rows = bucketCol.fold(df)(b => df.sortWithinPartitions(col(b)))
    val data = rows.schema.fields.drop(lead)
    outs.foreach { o =>
      require(o.schema.length <= data.length,
        s"output ${o.dir} stores ${o.schema.length} fields, rows carry ${data.length}")
      DataSourceUtils.verifySchema(new ParquetFileFormat, o.schema)
    }
    val conf = TxConfCarrier.capture(spark)
    val bucketed = bucketCol.nonEmpty
    val qe = rows.queryExecution
    val written = SQLExecution.withNewExecutionId(qe, Some("command")) {
      val rdd = qe.toRdd
      val parts =
        if (rdd.partitions.nonEmpty) rdd
        else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      parts.mapPartitionsWithIndex((pid, it) =>
        writePartition(outs, routed, lead, bucketed, conf, pid, it))
        .collect().toSeq
    }
    outs.indices.map(o => written.collect { case (`o`, w) => w })
  }

  /** One task's files (see [[apply]]), tagged with their output; on a
    * failure every file this attempt opened is deleted before the
    * error propagates. */
  private def writePartition(outs: Seq[Out], routed: Boolean, lead: Int, bucketed: Boolean, conf: TxConfCarrier,
      pid: Int, rows: Iterator[InternalRow]): Iterator[(Int, TxWritten)] = {
    if (!rows.hasNext && pid != 0) return Iterator.empty
    val base = f"-$pid%05d-${TaskContext.get().taskAttemptId()}"
    val hconfs = outs.map(o => conf.toConf(o.schema))
    val open = new Array[TxParquetDataWriter](outs.size)
    val views = outs.map(o => new TxOffsetRow(null, lead, o.schema.length))
    val bucket = new Array[UTF8String](outs.size)
    val started = Seq.newBuilder[Path]
    val done = Seq.newBuilder[(Int, TxWritten)]
    def start(o: Int, suffix: String): Unit = {
      val out = outs(o)
      val name = s"${out.prefix}$base$suffix.parquet"
      val file = new Path(out.dir, name)
      started += file
      open(o) = new TxParquetDataWriter(file,
        s"${file.getParent.getName}/$name", out.schema.length, hconfs(o),
        out.probe)
    }
    def finish(o: Int): Unit =
      if (open(o) != null) {
        done += o -> open(o).commit().written
        open(o) = null
      }
    try {
      rows.foreach { row =>
        val o = if (routed) row.getInt(0) else 0
        if (bucketed && o == 0) {
          val b = row.getUTF8String(lead - 1)
          if (bucket(0) == null || bucket(0) != b) {
            finish(0)
            bucket(0) = b.clone()
            start(0, s"-b${bucket(0)}")
          }
        } else if (open(o) == null) start(o, "")
        val view = views(o)
        view.row = row
        open(o).write(view)
      }
      // partition 0 leaves one file per output; a bucketed first
      // output writes only the buckets it holds
      if (pid == 0) outs.indices.foreach { o =>
        if (open(o) == null && !(bucketed && o == 0) &&
          !done.result().exists(_._1 == o)) start(o, "")
      }
      outs.indices.foreach(finish)
      done.result().iterator
    } catch { case e: Throwable =>
      open.foreach(w => if (w != null) try w.abort() catch { case _: Throwable => () })
      started.result().foreach { f =>
        try f.getFileSystem(hconfs.head).delete(f, false)
        catch { case _: Throwable => () }
      }
      throw e
    }
  }
}

/** A file one write task produced: its table-relative `path`, its row
  * count, and the index entries its [[TxIndexProbe]] collected —
  * (min, max) per stats column and the value set per value column.
  * Empty maps without a probe. */
private[graft] case class TxWritten(path: String, rows: Long,
    stats: Map[String, (Double, Double)] = Map.empty,
    values: Map[String, Set[String]] = Map.empty)

/** The index entries a write records per file, evaluated in the write
  * tasks as rows stream into the file: (min, max) of each stats
  * column, cast to double the way `min(col).cast("double")` casts it,
  * and the distinct values of each value expression (a partition
  * transform's canonical string) up to `cap`. The rules are those of a
  * per-file aggregation: NULLs are skipped; a column with no non-NULL
  * value, or a bound that casts to NULL or fails to cast, records no
  * span; a value set above `cap` values records nothing; a file with
  * no rows records no entry at all. Built on the driver over the
  * LOGICAL schema of the rows the file stores: expressions bind by
  * ordinal, so they read a physically named row the same way. */
private[sources] final class TxIndexProbe private (
    statNames: Array[String], statTypes: Array[DataType],
    valueNames: Array[String], exprs: Seq[Expression],
    toDouble: Array[Expression], cap: Int) extends Serializable {

  @transient private lazy val project = UnsafeProjection.create(exprs)
  @transient private lazy val orderings =
    statTypes.map(TypeUtils.getInterpretedOrdering)

  /** The entries of one file, fed row by row. */
  final class Tracker {
    private val mins = new Array[Any](statNames.length)
    private val maxs = new Array[Any](statNames.length)
    private val sets = Array.fill(valueNames.length)(
      scala.collection.mutable.HashSet.empty[String])
    def add(row: InternalRow): Unit = {
      val p = project(row)
      var i = 0
      while (i < statNames.length) {
        if (!p.isNullAt(i)) {
          val v = p.get(i, statTypes(i))
          val ord = orderings(i)
          if (mins(i) == null || ord.lt(v, mins(i))) mins(i) = InternalRow.copyValue(v)
          if (maxs(i) == null || ord.gt(v, maxs(i))) maxs(i) = InternalRow.copyValue(v)
        }
        i += 1
      }
      var j = 0
      while (j < valueNames.length) {
        val k = statNames.length + j
        val set = sets(j)
        if (set != null && !p.isNullAt(k)) {
          set += p.getUTF8String(k).toString
          if (set.size > cap) sets(j) = null
        }
        j += 1
      }
    }
    private def asDouble(i: Int, v: Any): Option[Double] =
      if (v == null) None
      else try Option(toDouble(i).eval(new GenericInternalRow(Array[Any](v))))
        .map(_.asInstanceOf[Double])
      catch { case _: Exception => None }
    def stats: Map[String, (Double, Double)] =
      statNames.indices.flatMap { i =>
        for (mn <- asDouble(i, mins(i)); mx <- asDouble(i, maxs(i)))
          yield statNames(i) -> (mn, mx)
      }.toMap
    def values: Map[String, Set[String]] =
      valueNames.indices.collect {
        case j if sets(j) != null => valueNames(j) -> sets(j).toSet
      }.toMap
  }
}

private[sources] object TxIndexProbe {
  import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
  import org.apache.spark.sql.catalyst.plans.logical.Project
  import org.apache.spark.sql.functions.col

  /** The probe for rows of `schema` (logical names) recording `index`:
    * its stats columns that name an orderable top-level column, and
    * its value columns parsed as partition transforms
    * ([[TxTable.PartTransform]]). None when there is nothing to
    * record. */
  def apply(spark: SparkSession, schema: StructType,
      index: TxTable.IndexCols): Option[TxIndexProbe] = {
    val statCols = (index.statCols ++ index.statsCol).distinct
    val valueCols = index.valueCols
    def field(n: String) = schema.fields.find(_.name == n)
      .orElse(schema.fields.find(_.name.equalsIgnoreCase(n)))
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val mode = EvalMode.fromSQLConf(spark.sessionState.conf)
    def toDouble(f: org.apache.spark.sql.types.StructField) =
      Cast(BoundReference(0, f.dataType, nullable = true), DoubleType, zone, mode)
    // a column the session cannot order, or cannot cast to double,
    // records no span
    val stats = statCols.flatMap(s => field(s).filter(f =>
      RowOrdering.isOrderable(f.dataType) &&
        toDouble(f).checkInputDataTypes().isSuccess).map(s -> _))
    if (stats.isEmpty && valueCols.isEmpty) return None
    // one analysis resolves the transforms (and the session's zone);
    // runtime-replaceable functions take their evaluable form, as the
    // optimizer would give them
    val cols = stats.map { case (_, f) => col(f.name) } ++
      valueCols.map(v => TxTable.PartTransform.parse(v).expr)
    val plan = ReplaceExpressions(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .select(cols: _*).queryExecution.analyzed).asInstanceOf[Project]
    val exprs = plan.projectList.map(e => BindReferences.bindReference(
      e match { case Alias(c, _) => c; case c => c }, plan.child.output))
    Some(new TxIndexProbe(stats.map(_._1).toArray,
      stats.map(_._2.dataType).toArray, valueCols.toArray, exprs,
      stats.map(s => toDouble(s._2): Expression).toArray, index.cap))
  }
}

/** One parquet file, written in place through Spark's own
  * [[ParquetOutputWriter]]. `hconf` carries the file's schema
  * ([[TxConfCarrier.toConf]]); `rel` is the file's table-relative
  * path, reported back with its row count and index entries. */
private[sources] class TxParquetDataWriter(file: Path, rel: String,
    arity: Int, hconf: Configuration, probe: Option[TxIndexProbe] = None)
    extends DataWriter[InternalRow] {
  private val writer = new ParquetOutputWriter(file.toString,
    new TaskAttemptContextImpl(hconf, new TaskAttemptID()))
  private val tracker = probe.map(p => new p.Tracker)
  private var rows = 0L
  private lazy val shifted = new TxOffsetRow(null, 1, arity)

  // A row one field wider than the file leads with a field that is
  // not data: ReplaceData's __row_operation marker (RowDeltaUtils.
  // OPERATION_COLUMN, always prepended FIRST by RewriteUpdateTable /
  // RewriteMergeIntoTable; Spark strips it only on the metadata-
  // attribute path, DataAndMetadataWritingSparkTask). The data columns
  // follow in file order, so a +1 ordinal shift recovers exactly the
  // declared row; any other arity is a contract drift and must fail
  // loudly, not misalign columns. ([[TxParquetWriter]] strips its own
  // leading fields before it hands a row over.)
  override def write(row: InternalRow): Unit = {
    val data =
      if (row.numFields == arity) row
      else if (row.numFields == arity + 1) { shifted.row = row; shifted }
      else throw new IllegalStateException(
        s"parquet write row has ${row.numFields} fields, file has $arity")
    writer.write(data)
    rows += 1
    tracker.foreach(_.add(data))
  }

  override def commit(): TxParquetCommit = {
    writer.close()
    TxParquetCommit(file.toString, TxWritten(rel, rows,
      if (rows == 0) Map.empty else tracker.fold(Map.empty[String, (Double, Double)])(_.stats),
      if (rows == 0) Map.empty else tracker.fold(Map.empty[String, Set[String]])(_.values)))
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Throwable => () }
    file.getFileSystem(hconf).delete(file, false)
    ()
  }

  override def close(): Unit = ()
}

/** A written file's absolute path and what the task recorded of it,
  * as a V2 writer reports it. */
private[sources] case class TxParquetCommit(file: String, written: TxWritten)
    extends WriterCommitMessage

/** InternalRow view shifted by `off` ordinals, `n` fields wide — the
  * cheap strip of leading non-data fields (no copy). `row` is reset
  * per row, so one view serves a whole task. */
private class TxOffsetRow(var row: InternalRow, off: Int, n: Int)
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
