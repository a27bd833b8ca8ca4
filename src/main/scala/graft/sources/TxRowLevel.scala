package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** SQL `UPDATE` / `MERGE INTO` for the snapshot table — DSv2
  * group-based row-level operations (`SupportsRowLevelOperations`),
  * copy-on-write at whole-snapshot granularity:
  *
  *   - Spark's `RewriteUpdateTable` / `RewriteMergeIntoTable` plan the
  *     statement as ReplaceData over this operation's SCAN (the same
  *     manifest-pinned vectorized parquet scan every read uses —
  *     UPDATE's plan must see matching AND non-matching rows, so no
  *     data filter is ever pushed into it) followed by this
  *     operation's WRITE;
  *   - the write is a real distributed DSv2 parquet writer: each task
  *     streams `InternalRow`s through Spark's own
  *     [[ParquetOutputWriter]] into a task-unique staged dotfile
  *     under data/ (invisible: readers open only manifest-listed
  *     files), and the driver-side job commit renames the staged
  *     files into place and publishes ONE TxTable manifest commit
  *     whose file list is exactly the replacement content;
  *   - racing writers contend on the same commit protocol as every
  *     other path: the loser gets a `TxConflictException` and the
  *     statement fails without having changed anything visible
  *     (its staged files stay unreferenced until vacuum).
  *
  * Scale note: whole-snapshot copy-on-write is the correct BASELINE
  * semantics (exactly Delta/Iceberg before runtime group filtering);
  * the pruned-rewrite fast path exists on the API verbs
  * (`updateWhere`/`deleteWhere`), and SQL DELETE already routes
  * through it via `SupportsDelete`. Index metadata does not carry
  * (the files it described are replaced), matching `overwrite`.
  */
private[sources] class TxRowLevelOperationBuilder(spark: SparkSession,
    path: String, snap: TxTable.Snapshot, schema: StructType,
    info: RowLevelOperationInfo,
    mapping: Option[ColumnMapping.Mapping] = None)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new TxRowLevelOperation(spark, path, snap, schema, info.command(),
      mapping)
}

private[sources] class TxRowLevelOperation(spark: SparkSession,
    path: String, snap: TxTable.Snapshot, schema: StructType,
    cmd: RowLevelOperation.Command,
    mapping: Option[ColumnMapping.Mapping] = None) extends RowLevelOperation {
  override def command(): RowLevelOperation.Command = cmd

  /** Candidate files (table-relative `data/<name>`) the op scan will
    * read — the GROUPS of the group-based contract. Defaults to the
    * whole snapshot; narrowed when the pushed condition translates
    * into manifest predicates. The write replaces exactly this set. */
  @volatile private[sources] var candidates: Seq[String] = snap.files

  /** The op scan accepts pushed filters at GROUP (file) granularity
    * ONLY: the condition's top-level conjuncts translate into the
    * manifest's pruning language and select which files the scan
    * reads IN FULL; nothing is ever forwarded to the parquet reader.
    * A pushed predicate reaching the reader filters at ROW
    * granularity — every unmatched row inside an affected file would
    * silently vanish from the replacement (observed as `DataFilters:
    * [(tag = a)]` before this wrapper existed). `pushedFilters`
    * reports nothing as handled, so Spark keeps the full condition
    * wherever it needs it (the update projection re-tests per row).
    * Group-based ReplaceData writes back exactly what the scan read;
    * the commit carries every pruned file over untouched. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      private var cond = Array.empty[org.apache.spark.sql.sources.Filter]
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        cond = filters
        filters // all residual: nothing is guaranteed row-level
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        Array.empty
      override def build(): org.apache.spark.sql.connector.read.Scan = {
        // cond arrives with LOGICAL names (the plan schema), and the
        // manifest's prune metadata is keyed logical — no translation
        val (ranges, valueEq) = TxSql.filterPrunes(cond.toSeq)
        val keepNames =
          TxSql.candidateNamesPruned(snap, ranges, valueEq, schema)
        candidates = snap.files.filter(f => keepNames(f.split('/').last))
        val restricted = TxTable.Snapshot(snap.version, candidates,
          snap.txns, snap.statsCol, snap.stats, snap.multiStats,
          snap.fileValues, snap.bloomCol, snap.blooms)
        // on a column-mapped table the parquet reader gets the
        // PHYSICAL schema; the scan's declared output maps back to
        // logical (rows are positional — names never touch the data)
        val physSchema = mapping.fold(schema)(_.physicalize(schema))
        val delegate = ParquetScanBuilder(spark,
          new TxFileIndex(spark, path, restricted, physSchema),
          physSchema, physSchema, options).build()
        val logicalScan = mapping match {
          case None => delegate
          case Some(m) => new MappedScan(delegate, m.logicalByPhys)
        }
        // merge-on-read: the op scan must see only VISIBLE rows — a
        // rewrite fed hidden rows would resurrect them in the
        // replacement content
        if (snap.dels.isEmpty) logicalScan
        else DvScan.wrapScan(spark, logicalScan, schema,
          snap.delsByFile.map { case (f, es) =>
            f.split('/').last -> es })
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          // mapped tables: tasks write rows positionally — hand the
          // factory the PHYSICAL field names so the staged files
          // agree with every other file in the table
          new TxReplaceBatchWrite(path,
            mapping.fold(info.schema())(_.physicalize(info.schema())),
            snap, () => candidates,
            cmd match {
              case RowLevelOperation.Command.UPDATE => "update"
              case RowLevelOperation.Command.DELETE => "delete"
              case RowLevelOperation.Command.MERGE => "merge"
              case _ => "write"
            },
            mapping)
      }
    }
}

/** Group-replacement write: staged per-task parquet files replace the
  * op scan's candidate files; every pruned file — and its index
  * metadata — carries over untouched in ONE atomic manifest commit.
  * Optimistic concurrency is SNAPSHOT-level: the replacement content
  * was computed against the pinned analysis snapshot, so a commit
  * that landed since (append, another DML) makes that content stale
  * — merging it would silently drop the concurrent commit's rows.
  * The conflict check throws `TxConflictException` instead (rebase =
  * re-run the statement); the staged files stay unreferenced, like
  * every other commit loser. */
private[sources] class TxReplaceBatchWrite(path: String, schema: StructType,
    snap: TxTable.Snapshot, candidates: () => Seq[String],
    op: String = "write",
    mapping: Option[ColumnMapping.Mapping] = None)
    extends BatchWrite {
  private val tag = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new TxParquetWriterFactory(path, schema, tag, TxConfCarrier.capture())

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = TxTable.snapshot(spark, path).map(_.version).getOrElse(0L)
    if (head != snap.version)
      throw new TxTable.TxConflictException(
        s"table changed since analysis (v${snap.version} -> v$head) at " +
          s"$path: re-run the statement against the new head")
    val files = messages.toSeq.map { case TxParquetCommit(staged) =>
      val p = new Path(staged)
      val visible = new Path(p.getParent, p.getName.stripPrefix("."))
      require(fs.rename(p, visible), s"publish rename failed: $staged")
      s"data/${visible.getName}"
    }
    // CHECK constraints gate HERE for the task-staged path (the rows
    // never passed writeFiles' in-plan filter): one scan of only the
    // replacement files, before any manifest references them — a
    // violation aborts the statement and the table never sees it
    TxConstraintGate(spark, path, files, fs)
    val replaced = candidates().toSet
    val untouched = snap.files.filterNot(replaced)
    // change feed (opt-in): the write side holds both images — the
    // replaced files (pre) and the replacement files (post) — so the
    // NET row delta is the multiset difference. Group-based rewrites
    // carry unmatched rows byte-equal, so exceptAll cancels them.
    // For UPDATE the diff rows ARE the update images, so they get
    // Delta's update_preimage/update_postimage types — the SAME
    // dialect as the API verb updateWhere, so type-sensitive
    // consumers (audit, SCD2) see one history regardless of surface.
    // (Residual dialect difference, documented on changeFeed: a SQL
    // UPDATE that sets a column to its existing value cancels in the
    // diff and records nothing, while updateWhere records the no-op
    // pair — no key exists at this layer to resurrect it.) DELETE
    // and MERGE keep delete/insert: a merge genuinely mixes inserts,
    // updates and deletes, and without the merge key the net
    // delete+insert typing is the honest one. Cost: one diff over
    // the REWRITTEN groups only, and only when the feed is on.
    val changes: Seq[String] =
      if (!TxTable.changeFeedEnabled(spark, path)) Nil
      else {
        import org.apache.spark.sql.functions.lit
        // raw file frames are PHYSICAL; writeChangeFiles expects the
        // LOGICAL contract (it re-physicalizes) — translate first
        def logical(df: org.apache.spark.sql.DataFrame) =
          mapping.fold(df)(_.toLogical(df))
        val post = logical(TxTable.scanFiles(spark,
          files.map(f => new Path(path, f).toString)))
        // pre-images are the replaced files' VISIBLE rows (standing
        // deletion predicates applied), matching what the op scan fed
        // the rewrite — hidden rows must not surface as CDF deletes
        val pre =
          if (replaced.isEmpty) post.limit(0)
          else TxTable.readFilesDv(spark, path, snap, replaced.toSeq,
            mapping)
        val (preType, postType) =
          if (op == "update") ("update_preimage", "update_postimage")
          else ("delete", "insert")
        val delta = pre.exceptAll(post)
          .withColumn(TxTable.ChangeTypeCol, lit(preType))
          .unionByName(post.exceptAll(pre)
            .withColumn(TxTable.ChangeTypeCol, lit(postType)))
        TxTable.writeChangeFiles(delta, path, snap.version + 1)
      }
    // untouched files keep their index metadata, exactly like the API
    // verbs' pruned copy-on-write; rewritten files lose theirs
    // (absent metadata -> always a candidate -> correct, unpruned)
    TxTable.commit(spark, path, snap.version + 1, untouched ++ files,
      snap.txns,
      snap.statsCol.filter(_ =>
        snap.stats.exists { case (f, _) => untouched.contains(f) }),
      snap.stats.filter { case (f, _) => untouched.contains(f) },
      snap.multiStats.filter { case (f, _) => untouched.contains(f) },
      snap.fileValues.filter { case (f, _) => untouched.contains(f) },
      snap.bloomCol.filter(_ =>
        snap.blooms.exists { case (f, _) => untouched.contains(f) }),
      snap.blooms.filter { case (f, _) => untouched.contains(f) },
      op = op, changes = changes,
      // replaced files' dels fold into the rewrite (the op scan served
      // visible rows); untouched files keep theirs
      dels = snap.dels.filter(d => untouched.contains(d.path)))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case TxParquetCommit(staged) =>
      fs.delete(new Path(staged), false)
    }
    ()
  }
}

/** Dynamic-partition-overwrite batch write (`INSERT OVERWRITE` on a
  * partitioned table under partitionOverwriteMode=dynamic, and
  * `df.writeTo(t).overwritePartitions()`): tasks stage parquet
  * dotfiles through the same distributed writer as the row-level
  * path; the driver commit renames them visible and hands the file
  * set to [[TxTable.dynamicOverwriteCommit]] — incoming partitions
  * derived from the staged files, provably disjoint files carried
  * untouched, ONE atomic manifest commit, racing writers lose with
  * `TxConflictException` and their staged files stay unreferenced. */
private[sources] class TxDynPartBatchWrite(path: String,
    schema: StructType, partCols: Seq[String]) extends BatchWrite {
  private val tag = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new TxParquetWriterFactory(path, schema, tag, TxConfCarrier.capture())

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = messages.toSeq.map { case TxParquetCommit(staged) =>
      val p = new Path(staged)
      val visible = new Path(p.getParent, p.getName.stripPrefix("."))
      require(fs.rename(p, visible), s"publish rename failed: $staged")
      s"data/${visible.getName}"
    }
    // same staged-file constraint gate as the row-level path
    TxConstraintGate(spark, path, files, fs)
    TxTable.dynamicOverwriteCommit(spark, path, files, partCols)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case TxParquetCommit(staged) =>
      fs.delete(new Path(staged), false)
    }
    ()
  }
}

/** NATIVE Structured Streaming sink for the snapshot table
  * (`df.writeStream.format("txtable").option("path", dir)` /
  * `.toTable("cat.t")`): per-task staged parquet dotfiles (epoch-
  * tagged so replayed epochs never collide), then ONE driver-side
  * manifest commit per epoch whose (queryId, epochId) txn marker
  * lands atomically WITH the file list — the exactly-once contract
  * [[TxTable.appendEpoch]] pins, without the foreachBatch detour. A
  * replayed epoch (restart re-delivering the in-flight batch) is
  * detected against the durable marker and its staged twins are
  * discarded; lost commit races rebase and re-check. Append output
  * mode only. */
private[sources] class TxStreamingWrite(path: String, schema: StructType,
    queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private val tag = java.util.UUID.randomUUID().toString.take(8)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory =
    new TxStreamingWriterFactory(path, schema, tag, TxConfCarrier.capture())

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // duplicate epoch (restart replay): discard the staged twins
    // BEFORE publishing anything visible
    if (TxTable.snapshot(spark, path)
      .exists(_.txns.get(queryId).exists(_ >= epochId))) {
      messages.collect { case TxParquetCommit(staged) =>
        fs.delete(new Path(staged), false)
      }
      return
    }
    val files = messages.toSeq.map { case TxParquetCommit(staged) =>
      val p = new Path(staged)
      val visible = new Path(p.getParent, p.getName.stripPrefix("."))
      require(fs.rename(p, visible), s"publish rename failed: $staged")
      s"data/${visible.getName}"
    }
    // constraint gate before the epoch commit: a violating micro-batch
    // fails the epoch (and the query) — the table never sees it
    TxConstraintGate(spark, path, files, fs)
    TxTable.appendEpochFiles(spark, path, files, queryId, epochId)
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case TxParquetCommit(staged) =>
      fs.delete(new Path(staged), false)
    }
    ()
  }
}

private class TxStreamingWriterFactory(path: String, schema: StructType,
    tag: String, conf: TxConfCarrier)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    // epoch-tagged staging: a replayed epoch's twin tasks stage under
    // their own names and are discarded at commit, never clobbering
    new TxParquetDataWriter(path, schema, s"$tag-e$epochId",
      partitionId, taskId, conf)
}

private case class TxParquetCommit(staged: String) extends WriterCommitMessage

/** Shared staged-file CHECK gate for the three V2 write paths: on a
  * violation the just-renamed (visible but never referenced) files are
  * deleted before the error propagates, so a failed statement leaves
  * no orphans for vacuum to chase. */
private object TxConstraintGate {
  def apply(spark: SparkSession, path: String, files: Seq[String],
      fs: org.apache.hadoop.fs.FileSystem): Unit =
    try TxTable.validateStagedConstraints(spark, path, files)
    catch { case e: Throwable =>
      files.foreach(f => fs.delete(new Path(path, f), false))
      throw e
    }
}

/** Serializable hadoop-conf + parquet write settings snapshot (the
  * driver's SQLConf-derived parquet options must reach executor-side
  * writers; a bare `new Configuration()` would silently use defaults
  * that can differ from the session's). */
private case class TxConfCarrier(entries: Array[(String, String)]) {
  def toConf: Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }
}

private object TxConfCarrier {
  def capture(): TxConfCarrier = {
    import org.apache.spark.sql.internal.SQLConf
    val spark = SparkSession.active
    val hconf = new Configuration(spark.sparkContext.hadoopConfiguration)
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
    TxConfCarrier(
      hconf.iterator().asScala.map(e => e.getKey -> e.getValue).toArray)
  }
}

private class TxParquetWriterFactory(path: String, schema: StructType,
    tag: String, conf: TxConfCarrier) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new TxParquetDataWriter(path, schema, tag, partitionId, taskId, conf)
}

private class TxParquetDataWriter(path: String, schema: StructType,
    tag: String, partitionId: Int, taskId: Long,
    conf: TxConfCarrier) extends DataWriter[InternalRow] {
  private val staged =
    new Path(path, f"data/.rl-$tag-$partitionId%05d-$taskId.parquet")
  private val hconf = conf.toConf
  ParquetWriteSupport.setSchema(schema, hconf)
  staged.getFileSystem(hconf).mkdirs(staged.getParent)
  private val ctx = new TaskAttemptContextImpl(hconf,
    new TaskAttemptID(new TaskID(new JobID(tag, 0), TaskType.MAP,
      partitionId), taskId.toInt))
  private val writer = new ParquetOutputWriter(staged.toString, ctx)

  // ReplaceData hands the writer the raw query row, which leads with
  // the rewrite rules' __row_operation marker (RowDeltaUtils.
  // OPERATION_COLUMN, always prepended FIRST by RewriteUpdateTable /
  // RewriteMergeIntoTable) — Spark's projection machinery strips it
  // only on the metadata-attribute path (DataAndMetadataWritingSpark-
  // Task). The data columns follow in write-schema order, so a +1
  // ordinal shift recovers exactly the declared row; any other arity
  // is a contract drift and must fail loudly, not misalign columns.
  private val arity = schema.length
  override def write(row: InternalRow): Unit = {
    if (row.numFields == arity) writer.write(row)
    else if (row.numFields == arity + 1)
      writer.write(new TxOffsetRow(row, 1, arity))
    else throw new IllegalStateException(
      s"row-level write row has ${row.numFields} fields, schema has $arity")
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    TxParquetCommit(staged.toString)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Throwable => () }
    staged.getFileSystem(hconf).delete(staged, false)
    ()
  }

  override def close(): Unit = ()
}

/** InternalRow view shifted by `off` ordinals, `n` fields wide — the
  * cheap strip of the leading __row_operation marker (no copy). */
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
