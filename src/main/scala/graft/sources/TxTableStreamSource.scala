package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{DataSource, LogicalRelation}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** [[TxTable]] as a Structured Streaming SOURCE: each micro-batch is
  * the set of data files the commit log added in a version range —
  * offsets ARE table versions, so the engine's own offset log (the
  * checkpoint) carries exactly-once consumption across restarts with
  * no side registry. This is the Delta streaming-source shape reduced
  * to its invariants:
  *
  *   - `getOffset` resolves the committed head version (O(1) with the
  *     commit hint); no new version → no trigger work.
  *   - `getBatch(start, end)` lists the files added in
  *     (start, end] via the same manifest set-difference as
  *     [[TxTable.changesSince]] — exact new-rows for append-only
  *     producers, FAIL-FAST when a rewrite (overwrite / merge /
  *     compact / DML) broke the files≡rows equivalence, rather than
  *     silently re-delivering rewritten rows.
  *   - The batch is the files read through the ordinary parquet
  *     relation (planned, pruned, and parallelized like any batch
  *     scan), wrapped `isStreaming = true` — the same construction
  *     Spark's own FileStreamSource uses.
  *
  * Versions are monotone and the checkpointed offset is replayed on
  * restart, so a crashed consumer resumes at the exact version
  * boundary: no loss, no duplication (the engine re-runs at most the
  * in-flight batch against the SAME version range, which yields the
  * same files). At 100 TB the per-trigger driver cost is one head
  * probe + one manifest read — independent of table size.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.TxTableStreamSource")
  *     .option("path", table)              // required
  *     .option("startingVersion", "0")     // 0 = full snapshot first batch
  *     .option("maxVersionsPerBatch", "8") // bound the catch-up batch
  *     .option("readChangeFeed", "true")   // CDF mode: serve row-level
  *     .load()                             //   deltas instead of failing
  * }}}                                     //   on DML commits
  *
  * Schema is pinned at stream DEFINITION from the head snapshot (the
  * streaming contract: a checkpointed query cannot change shape
  * mid-run). Appends that evolve the schema mid-stream surface only
  * the pinned columns — new columns appear after a stream restart,
  * matching the mergeSchema batch read's opt-in semantics.
  */
class TxTableStreamSource extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "txtable-stream"

  private def tableOf(params: Map[String, String]): String =
    params.getOrElse("path", throw new IllegalArgumentException(
      "txtable-stream requires .option(\"path\", <table dir>)"))

  private def cdfMode(params: Map[String, String]): Boolean =
    params.get("readChangeFeed").exists(_.toBoolean)

  /** Schema = the head snapshot's parquet schema. The table must have
    * at least one committed version when the stream is DEFINED —
    * a schema can't be invented for an empty log, and silently
    * guessing would poison the checkpoint. With
    * `readChangeFeed = true` the CDF metadata columns
    * ([[TxTable.ChangeTypeCol]], [[TxTable.CommitVersionCol]]) append
    * to the data schema — pinned at definition like everything else. */
  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, params: Map[String, String]): (String, StructType) = {
    val spark = ctx.sparkSession
    val table = tableOf(params)
    val resolved = schema.getOrElse {
      val snap = TxTable.snapshot(spark, table).getOrElse(
        throw new IllegalArgumentException(
          s"txtable-stream: no committed version at $table — commit v1 " +
            "before defining the stream (the schema comes from the head)"))
      val raw = TxTable.scanFiles(spark,
        snap.files.map(new Path(table, _).toString)).schema
      // column-mapped tables stream under their LOGICAL names, with
      // the mapping PINNED at stream definition like the schema
      // itself: physical file names never change, so the pinned
      // translation stays correct for the stream's whole life —
      // alters landing mid-stream (rename/drop/re-add) become
      // visible only after a restart, exactly the schema-evolution
      // contract the non-mapped source already documents.
      val data = TxTable.mappingAt(spark, table).fold(raw)(_.logicalize(raw))
      if (!cdfMode(params)) data
      else StructType(data.fields
        :+ org.apache.spark.sql.types.StructField(
          TxTable.ChangeTypeCol, org.apache.spark.sql.types.StringType)
        :+ org.apache.spark.sql.types.StructField(
          TxTable.CommitVersionCol, org.apache.spark.sql.types.LongType))
    }
    (shortName(), resolved)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      params: Map[String, String]): Source = {
    val table = tableOf(params)
    val start = params.get("startingVersion").map(_.toLong).getOrElse(0L)
    val maxV = params.get("maxVersionsPerBatch").map(_.toLong)
    require(maxV.forall(_ >= 1), "maxVersionsPerBatch must be >= 1")
    val (_, s) = sourceSchema(ctx, schema, providerName, params)
    new TxTableSource(ctx.sparkSession, table, start, s, maxV,
      cdf = cdfMode(params),
      mapping = TxTable.mappingAt(ctx.sparkSession, table))
  }
}

private[graft] class TxTableSource(spark: SparkSession, table: String,
    startingVersion: Long, override val schema: StructType,
    maxVersionsPerBatch: Option[Long] = None,
    cdf: Boolean = false,
    mapping: Option[ColumnMapping.Mapping] = None) extends Source {

  /** Logical→physical rendering of a pinned (logical) schema slice,
    * and the projection back — no-ops without a mapping. Metadata
    * columns (absent from the mapping) pass through identity. */
  private def phys(sch: StructType): StructType =
    mapping.fold(sch)(_.physicalize(sch))
  private def toPinnedLogical(df: DataFrame, logical: StructType): DataFrame =
    mapping.fold(df) { _ =>
      val physNames = phys(logical).fieldNames
      df.select(physNames.zip(logical.fieldNames).map { case (pn, ln) =>
        org.apache.spark.sql.functions.col(pn).as(ln) }.toSeq: _*)
    }

  // an Offset arriving from the checkpoint is a SerializedOffset, not
  // a LongOffset — parse the json, never pattern-match the class
  private def versionOf(o: Offset): Long = o.json.trim.toLong

  /** High-water mark of versions already HANDED OUT, for rate
    * limiting only — advanced by getBatch (fresh progress AND
    * in-flight replay after a restart) and by commit (restart where
    * the last batch was already durable). Never load-bearing for
    * exactly-once: the engine's offset log decides every batch range;
    * a stale mark only makes the next offered batch larger. */
  @volatile private var handedOut: Long = startingVersion

  /** Next offset: the committed head, capped `maxVersionsPerBatch`
    * above the last handed-out version (Delta's maxFilesPerTrigger
    * shape — bound the catch-up batch instead of replaying a month of
    * commits in one trigger). None while nothing is newer. */
  override def getOffset: Option[Offset] = {
    val head = TxTable.snapshot(spark, table).map(_.version)
    val capped = head.map { h =>
      maxVersionsPerBatch.fold(h)(m => math.min(h, handedOut + m))
    }
    capped.filter(_ > math.max(startingVersion, handedOut))
      .map(LongOffset.apply)
  }

  private def emptyBatch: DataFrame =
    org.apache.spark.sql.GraftColumnBridge.dataFrame(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), Nil,
        isStreaming = true))

  // the FileStreamSource construction: an ordinary parquet relation
  // (planned/pruned/split like any batch scan over those files),
  // marked isStreaming so the micro-batch planner accepts it
  private def streamingParquet(files: Seq[String],
      fileSchema: StructType): DataFrame = {
    val relation = DataSource(
      sparkSession = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      className = "parquet",
      paths = files.map(f => new Path(table, f).toString),
      userSpecifiedSchema = Some(fileSchema))
      .resolveRelation(checkFilesExist = false)
    org.apache.spark.sql.GraftColumnBridge.dataFrame(spark,
      LogicalRelation(relation, isStreaming = true))
  }

  /** The rows of versions (start, end] as ONE batch DataFrame. */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(startingVersion)
    val to = versionOf(end)
    if (to > handedOut) handedOut = to
    if (cdf) return getCdfBatch(from, to)
    val toSnap = TxTable.snapshot(spark, table, Some(to)).getOrElse(
      throw new IllegalStateException(
        s"txtable-stream: offset version $to is gone at $table (vacuumed " +
          "past the checkpoint) — restart from a fresh checkpoint"))
    // bootstrap of a DV'd table (batch changesSince's discipline):
    // the initial batch IS the full snapshot, served dv-aware per
    // del-signature group. The incremental walk below stays strictly
    // append-only (addedBetween fails fast on dels drift).
    if (from <= 0 && toSnap.dels.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, lit, not}
      val byFile = toSnap.delsByFile
      return toSnap.files
        .groupBy(f => TxTable.delSignature(byFile.getOrElse(f, Nil)))
        .toSeq.sortBy(_._2.headOption.getOrElse(""))
        .map { case (_, fls) =>
          byFile.getOrElse(fls.head, Nil).foldLeft(toPinnedLogical(
            streamingParquet(fls, phys(schema)), schema))((acc, d) =>
            acc.filter(not(coalesce(d.predicate, lit(false)))))
        }.reduce(_.unionByName(_))
    }
    val added = TxTable.addedBetween(spark, table, from, toSnap)
    if (added.isEmpty) emptyBatch
    else toPinnedLogical(streamingParquet(added, phys(schema)), schema)
  }

  /** CDF micro-batch: the change-feed slices of (from, to] — recorded
    * change files serve their pre/post/delete images, append versions
    * synthesize inserts from their added data files — each a
    * streaming parquet relation with the metadata columns projected
    * on top, unioned in version order; overwrite/restore versions
    * derive delete(removed files) + insert(added files) like the
    * batch feed. Same fail-fast policy as the batch
    * [[TxTable.changeFeed]] (feed-disabled rewrites, vacuumed
    * positions), so a stream over a DML-ing table
    * either delivers exact row-level deltas or stops loudly — never
    * re-delivers rewritten rows (the failure mode the non-CDF mode
    * fails fast on, now SERVED instead). */
  private def getCdfBatch(from: Long, to: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val dataSchema = StructType(schema.fields.filterNot(f =>
      f.name == TxTable.ChangeTypeCol || f.name == TxTable.CommitVersionCol))
    val withCt = StructType(dataSchema.fields
      :+ org.apache.spark.sql.types.StructField(
        TxTable.ChangeTypeCol, org.apache.spark.sql.types.StringType))
    val metaCols = schema.fieldNames.map(org.apache.spark.sql.functions.col)
    val frames = TxTable.changeSlices(spark, table, from, to).map {
      case TxTable.ChangeSlice(v, kind, files, sliceDels) =>
        val base =
          if (kind == "recorded")
            toPinnedLogical(streamingParquet(files, phys(withCt)), withCt)
          else {
            // derived slices serve each file's VISIBLE rows: apply the
            // slice's deletion predicates per del-signature group (the
            // batch changeFeed's discipline, on streaming relations)
            val byFile = sliceDels.groupBy(_.path)
            files.groupBy(f =>
              TxTable.delSignature(byFile.getOrElse(f, Nil))).toSeq
              .sortBy(_._2.headOption.getOrElse("")).map { case (_, fs) =>
                byFile.getOrElse(fs.head, Nil).foldLeft(toPinnedLogical(
                  streamingParquet(fs, phys(dataSchema)), dataSchema)) {
                  (acc, d) => acc.filter(!org.apache.spark.sql.functions
                    .coalesce(d.predicate,
                      org.apache.spark.sql.functions.lit(false)))
                }
              }.reduce(_.unionByName(_))
              .withColumn(TxTable.ChangeTypeCol, lit(kind))
          }
        base.withColumn(TxTable.CommitVersionCol, lit(v))
          .select(metaCols.toSeq: _*) // pin the checkpointed column order
    }
    if (frames.isEmpty) emptyBatch else frames.reduce(_.unionByName(_))
  }

  override def commit(end: Offset): Unit = {
    val v = versionOf(end)
    if (v > handedOut) handedOut = v
  }
  override def stop(): Unit = ()
  override def toString: String = s"TxTableSource[$table]"
}
