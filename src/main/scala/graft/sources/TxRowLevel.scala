package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

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
  *     streams `InternalRow`s through the engine's one parquet file
  *     writer ([[TxParquetDataWriter]]) into a task-unique file under
  *     data/ (invisible: readers open only manifest-listed files),
  *     and the driver-side job commit publishes ONE TxTable manifest
  *     commit whose file list is exactly the replacement content;
  *   - racing writers contend on the same commit protocol as every
  *     other path: the loser gets a `TxConflictException` and the
  *     statement fails without having changed anything visible
  *     (its files stay unreferenced until vacuum).
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
        val restricted = snap.copy(files = candidates)
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
          // factory the PHYSICAL field names so the written files
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

/** Group-replacement write: per-task parquet files replace the
  * op scan's candidate files; every pruned file — and its index
  * metadata — carries over untouched in ONE atomic manifest commit.
  * Optimistic concurrency is SNAPSHOT-level: the replacement content
  * was computed against the pinned analysis snapshot, so a commit
  * that landed since (append, another DML) makes that content stale
  * — merging it would silently drop the concurrent commit's rows.
  * The conflict check throws `TxConflictException` instead (rebase =
  * re-run the statement); the written files stay unreferenced, like
  * every other commit loser. */
private[sources] class TxReplaceBatchWrite(path: String, schema: StructType,
    snap: TxTable.Snapshot, candidates: () => Seq[String],
    op: String = "write",
    mapping: Option[ColumnMapping.Mapping] = None)
    extends BatchWrite {
  private val tag = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new TxParquetWriterFactory(path, schema, tag,
      TxConfCarrier.capture(SparkSession.active))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val head = TxTable.snapshot(spark, path).map(_.version).getOrElse(0L)
    if (head != snap.version)
      throw new TxTable.TxConflictException(
        s"table changed since analysis (v${snap.version} -> v$head) at " +
          s"$path: re-run the statement against the new head")
    val files = TxV2Files.names(messages)
    // CHECK constraints gate HERE for the task-written path (the rows
    // never passed writeFiles' in-plan filter): one scan of only the
    // replacement files, before any manifest references them — a
    // violation aborts the statement and the table never sees it
    TxConstraintGate(spark, path, files)
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
    // untouched files keep their index metadata and dels; replaced
    // files' entries drop with them (their dels folded into the
    // rewrite: the op scan served visible rows), and the task-written
    // files carry none (absent metadata -> always a candidate ->
    // correct, unpruned)
    TxTable.commit(spark, path,
      snap.next(op, changes).copy(files = untouched ++ files))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TxV2Files.discard(path, messages)
}

/** Dynamic-partition-overwrite batch write (`INSERT OVERWRITE` on a
  * partitioned table under partitionOverwriteMode=dynamic, and
  * `df.writeTo(t).overwritePartitions()`): tasks write parquet files
  * through the same distributed writer as the row-level path; the
  * driver commit hands the file set to
  * [[TxTable.dynamicOverwriteCommit]] — incoming partitions derived
  * from the written files, provably disjoint files carried untouched,
  * ONE atomic manifest commit, racing writers lose with
  * `TxConflictException` and their files stay unreferenced. */
private[sources] class TxDynPartBatchWrite(path: String,
    schema: StructType, partCols: Seq[String]) extends BatchWrite {
  private val tag = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new TxParquetWriterFactory(path, schema, tag,
      TxConfCarrier.capture(SparkSession.active))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = TxV2Files.names(messages)
    // same written-file constraint gate as the row-level path
    TxConstraintGate(spark, path, files)
    TxTable.dynamicOverwriteCommit(spark, path, files, partCols)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TxV2Files.discard(path, messages)
}

/** NATIVE Structured Streaming sink for the snapshot table
  * (`df.writeStream.format("txtable").option("path", dir)` /
  * `.toTable("cat.t")`): per-task parquet files (epoch-tagged so
  * replayed epochs never collide), then ONE driver-side
  * manifest commit per epoch whose (queryId, epochId) txn marker
  * lands atomically WITH the file list — the exactly-once contract
  * [[TxTable.appendEpoch]] pins, without the foreachBatch detour. A
  * replayed epoch (restart re-delivering the in-flight batch) is
  * detected against the durable marker and its written twins are
  * discarded; lost commit races rebase and re-check. Append output
  * mode only. */
private[sources] class TxStreamingWrite(path: String, schema: StructType,
    queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private val tag = java.util.UUID.randomUUID().toString.take(8)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory =
    new TxParquetWriterFactory(path, schema, tag,
      TxConfCarrier.capture(SparkSession.active))

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    // duplicate epoch (restart replay): discard the written twins
    // BEFORE publishing anything
    if (TxTable.snapshot(spark, path)
      .exists(_.txns.get(queryId).exists(_ >= epochId))) {
      TxV2Files.discard(path, messages)
      return
    }
    val files = TxV2Files.names(messages)
    // constraint gate before the epoch commit: a violating micro-batch
    // fails the epoch (and the query) — the table never sees it
    TxConstraintGate(spark, path, files)
    TxTable.appendEpochFiles(spark, path, files, queryId, epochId)
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    TxV2Files.discard(path, messages)
}

/** The files the tasks of a V2 write reported: their table-relative
  * names for the manifest, or their deletion when the write is
  * dropped (abort, replayed epoch). */
private object TxV2Files {
  def names(messages: Array[WriterCommitMessage]): Seq[String] =
    messages.toSeq.map { case TxParquetCommit(f) =>
      s"data/${new Path(f).getName}"
    }

  def discard(path: String, messages: Array[WriterCommitMessage]): Unit = {
    val fs = TxTable.fs(SparkSession.active, new Path(path))
    messages.collect { case TxParquetCommit(f) =>
      fs.delete(new Path(f), false)
    }
    ()
  }
}

/** Shared written-file CHECK gate for the three V2 write paths: on a
  * violation the written (never referenced) files are deleted before
  * the error propagates, so a failed statement leaves no orphans for
  * vacuum to chase. */
private object TxConstraintGate {
  def apply(spark: SparkSession, path: String, files: Seq[String]): Unit =
    try TxTable.validateStagedConstraints(spark, path, files)
    catch { case e: Throwable =>
      val fs = TxTable.fs(spark, new Path(path))
      files.foreach(f => fs.delete(new Path(path, f), false))
      throw e
    }
}

/** Task-side writers of the three V2 paths: one [[TxParquetDataWriter]]
  * per task, written in place under data/ with a writer-unique,
  * attempt-unique name (`tag` carries the epoch on the streaming
  * path, so a replayed epoch's twins never collide). */
private class TxParquetWriterFactory(path: String, schema: StructType,
    tag: String, conf: TxConfCarrier) extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new TxParquetDataWriter(
      new Path(path, f"data/rl-$tag-$partitionId%05d-$taskId.parquet"),
      schema.length, conf.toConf(schema))

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new TxParquetWriterFactory(path, schema, s"$tag-e$epochId", conf)
      .createWriter(partitionId, taskId)
}
