package perfbench

import graft.Tables
import graft.pipeline.{GatedPipeline, Pipeline, Stage}
import graft.quality.SuiteConfig
import graft.sources.{IncrementalView, TxTable}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** table_writes: a seeded sequence of DML commits on a change-feed
  * TxTable seeded from the corpus `orders`: appends and merges of order
  * batches that land as parquet files (ingested through `Tables`,
  * validated, and gated so that rows with a null priority or a price
  * out of range are quarantined), updates and deletes by price range. Each commit is followed by
  * maintenance of two incremental views (count/sum and min/max of
  * order cents by priority) and a read-back of both. Snapshot and
  * pruned range reads run between commits; after every four commits
  * the table is compacted and vacuumed. One pass is one such cycle.
  *
  * The benchmark keeps its own model of the table (key -> priority,
  * cents), so every view read-back, every read and the final snapshot
  * are checked against what the op log says they must hold. */
final class TableWrites(c: Ctx) extends Workload(c) {
  private val Retain = 8
  private val MaxCents = 50000000L

  private def table = s"${ctx.work}/tx/orders"
  private def sumView = s"${ctx.work}/tx/by_priority_sum"
  private def mmView = s"${ctx.work}/tx/by_priority_minmax"

  private val rng = new scala.util.Random(ctx.seed)
  /** The model: live key -> (priority, cents). */
  private val model = mutable.HashMap.empty[Long, (String, Long)]
  /** Landing batches consumed so far, per kind. */
  private val landed = mutable.HashMap("append" -> 0, "merge" -> 0)
  private var minRetained = 1L
  /** version -> (rows, sum of cents) as the model had it. */
  private val history = mutable.HashMap.empty[Long, (Long, Long)]
  private var changedRows = 0L
  private var filesTotal, filesSkipped = 0L
  private val written = mutable.HashMap.empty[String, Long]
  private var bytesWrittenTimed = 0L
  private var quarantinedTimed = 0L

  /** Landing rules, in the GX JSON shape: a batch row needs a priority
    * and a price in range; the gate quarantines any other row. */
  private val suiteJson =
    s"""{"expectation_suite_name": "landing_orders", "expectations": [
      | {"expectation_type": "expect_column_values_to_not_be_null",
      |  "kwargs": {"column": "pr"}},
      | {"expectation_type": "expect_column_values_to_be_between",
      |  "kwargs": {"column": "cents", "min_value": 0, "max_value": $MaxCents}}
      |]}""".stripMargin
  private val suite = SuiteConfig.fromJson(suiteJson)
  private val gate = GatedPipeline(Pipeline("landing", Seq(Stage("validate")(identity))),
    Map("validate" -> (suite, Pipeline.Quarantine)))

  private def base = Tables.orders(spark, ctx.corpus).select(
    col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
    col("o_orderpriority").as("pr"),
    round(col("o_totalprice") * 100).cast("long").as("cents"), col("o_orderdate"))

  /** Create the table and both views in `root`; returns the seed rows. */
  private def seed(root: String): Array[Row] = {
    val src = s"$root/orders"
    val df = base
    TxTable.enableChangeFeed(spark, src)
    TxTable.overwriteIndexed(df, src, "cents")
    IncrementalView.maintain(spark, src, s"$root/by_priority_sum", "pr", "cents")
    IncrementalView.maintainMinMax(spark, src, s"$root/by_priority_minmax", "pr", "cents")
    df.select("o_orderkey", "pr", "cents").collect()
  }

  def setup(): Unit = {
    seed(s"${ctx.work}/tx").foreach(r => model(r.getLong(0)) = (r.getString(1), r.getLong(2)))
    history(1L) = summary
    listData().foreach { case (f, n) => written(f) = n }
  }

  private def summary: (Long, Long) = (model.size.toLong, model.values.map(_._2).sum)

  private def head: Long = TxTable.snapshot(spark, table).get.version

  /** The next landed batch of `kind`, read through the schema catalog,
    * validated and gated; returns the clean frame to commit and its rows
    * for the model. The quarantined row count goes to the op's outputs,
    * for perfbench/run.py to check against the injected defects. */
  private def ingest(kind: String, rec: OpRec): (DataFrame, Array[Row]) = {
    val tr = ctx.tracer
    val i = landed(kind)
    landed(kind) = i + 1
    val file = f"${kind}_$i%04d.parquet"
    rec.out("batch") = Json.str(file)
    val path = s"${ctx.data}/landing/$file"
    val df = tr.span("Tables", "ingest") {
      spark.read.schema(Tables.schemaFor(spark, path)).parquet(path)
    }
    tr.span("quality", "validate") { suite.run(df).collect() }
    tr.span("pipeline", "gate") {
      val (ok, quarantined) = gate.run(df)
      val n = quarantined.map(_._2.count()).sum
      rec.out("quarantined") = n.toString
      if (ctx.timed) quarantinedTimed += n
      (ok, ok.collect())
    }
  }

  private def applyBatch(rows: Array[Row]): Unit =
    rows.foreach(r => model(r.getLong(0)) = (r.getString(3), r.getLong(4)))

  private def range(width: Double): (Double, Double) = {
    val lo = 100000.0 + rng.nextDouble() * (MaxCents - 100000.0 - width)
    (lo, lo + width)
  }

  /** One DML commit + view maintenance + view read-back. The op's time
    * is the freshness latency; the commit alone is reported beside it. */
  private def write(kind: String): Unit = {
    val tr = ctx.tracer
    var rec: OpRec = null
    // the DML's effect on the model, applied once the commit returned
    var effect: () => Unit = () => ()
    var committed = false
    // appends and merges first ingest their landed batch, as an op of its own
    val batch = if (landed.contains(kind)) ctx.op("ingest", kind)(ingest(kind, _)) else None
    if (landed.contains(kind) && batch.isEmpty) return
    val views = ctx.op("write", kind) { r =>
      rec = r
      val t0 = System.nanoTime()
      tr.span("sources.commit", kind) {
        kind match {
          case "append" =>
            val (df, rows) = batch.get
            TxTable.append(df, table)
            effect = () => { applyBatch(rows); changedRows += rows.length }
          case "merge" =>
            val (df, rows) = batch.get
            TxTable.merge(spark, table, df, "o_orderkey")
            effect = () => { applyBatch(rows); changedRows += rows.length }
          case "update" =>
            val (lo, hi) = range(MaxCents * 0.01)
            TxTable.updateWhere(spark, table, Seq(("cents", lo, hi)), Nil,
              Map("cents" -> (col("cents") + 1)))
            effect = () => {
              val hit = model.collect { case (k, (p, c)) if c >= lo && c <= hi => k -> ((p, c + 1)) }
              model ++= hit
              changedRows += hit.size
            }
          case "delete" =>
            val (lo, hi) = range(MaxCents * 0.005)
            TxTable.deleteWhere(spark, table, Seq(("cents", lo, hi)))
            effect = () => {
              val gone = model.collect { case (k, (_, c)) if c >= lo && c <= hi => k }.toSet
              model --= gone
              changedRows += gone.size
            }
        }
      }
      committed = true
      r.out("commit_ms") = ((System.nanoTime() - t0) / 1e6).toString
      tr.span("sources.ivm", "maintain") {
        IncrementalView.maintain(spark, table, sumView, "pr", "cents")
        IncrementalView.maintainMinMax(spark, table, mmView, "pr", "cents")
      }
      tr.span("sources.ivm", "readback") {
        (TxTable.read(spark, sumView).select("pr", "n", "s").collect(),
          TxTable.read(spark, mmView).select("pr", "n", "mn", "mx").collect())
      }
    }
    if (committed) {
      effect()
      history(head) = summary
    }
    views.foreach { case (sumRows, mmRows) =>
      val want = expected
      val sums = sumRows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val mms = mmRows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      if (sums != want.map { case (p, (n, s, _, _)) => p -> ((n, s)) } ||
          mms != want.map { case (p, (n, _, mn, mx)) => p -> ((n, mn, mx)) })
        rec.fail(s"views after $kind: count/sum $sums, min/max $mms; model $want")
    }
    if (ctx.traced && ctx.timed) countWritten()
  }

  /** (n, sum, min, max) of cents by priority, from the model. */
  private def expected: Map[String, (Long, Long, Long, Long)] =
    model.values.groupBy(_._1).map { case (p, vs) =>
      val cs = vs.map(_._2)
      p -> (cs.size.toLong, cs.sum, cs.min, cs.max)
    }

  private def read(kind: String): Unit = {
    val tr = ctx.tracer
    kind match {
      case "asof" =>
        val h = head
        val v = minRetained + rng.nextInt((h - minRetained + 1).toInt)
        var rec: OpRec = null
        val got = ctx.op("read", "asof") { r =>
          rec = r
          tr.span("sources.read", "asof") {
            TxTable.read(spark, table, Some(v)).agg(count(lit(1)), sum(col("cents"))).head()
          }
        }
        got.foreach { r =>
          val want = history.get(v)
          if (want.exists(w => w != ((r.getLong(0), r.getLong(1)))))
            rec.fail(s"asOf($v) read ${r.getLong(0)} rows/${r.getLong(1)} cents, model ${want.get}")
        }
      case "range" =>
        val (lo, hi) = range(MaxCents * 0.02)
        var rec: OpRec = null
        val got = ctx.op("read", "range") { r =>
          rec = r
          tr.span("sources.read", "range") {
            TxTable.readRange(spark, table, "cents", lo, hi).count()
          }
        }
        got.foreach { n =>
          val want = model.values.count { case (_, c) => c >= lo && c <= hi }
          if (n != want) rec.fail(s"readRange($lo, $hi) gave $n rows, model $want")
        }
        if (ctx.traced && ctx.timed) {
          val snap = TxTable.snapshot(spark, table).get
          filesTotal += snap.files.size
          filesSkipped += snap.files.size - TxTable.pruneFiles(snap, "cents", lo, hi).size
        }
    }
  }

  private def maintenance(): Unit = {
    val tr = ctx.tracer
    ctx.op("maintain", "compact+vacuum") { _ =>
      tr.span("sources.maintain", "compact") { TxTable.compact(spark, table, 4) }
      tr.span("sources.maintain", "vacuum") {
        TxTable.vacuum(spark, table, Retain)
        Seq(sumView, mmView).foreach(TxTable.vacuum(spark, _, 2))
      }
    }
    val h = head
    history(h) = summary
    minRetained = math.max(minRetained, h - Retain + 1)
    if (ctx.traced && ctx.timed) countWritten()
  }

  private val kinds = Seq("append", "merge", "update", "delete")

  def mix: Map[String, Double] =
    kinds.groupBy(identity).map { case (k, ks) => s"write:$k" -> ks.size.toDouble } ++
      Map("ingest:append" -> 1.0, "ingest:merge" -> 1.0,
        "read:asof" -> kinds.size / 2.0, "read:range" -> kinds.size / 2.0,
        "maintain:compact+vacuum" -> 1.0)

  /** Two untimed cycles: after one, the first timed cycle still ran
    * 5-20 % slower than the next (JIT), and the medians of a short run
    * tracked where the run started more than the engine. */
  def warmup(): Unit = (1 to 2).foreach(_ => pass(Long.MaxValue))

  def pass(deadline: Long): Boolean = {
    for ((k, i) <- shuffled(kinds).zipWithIndex) {
      if (System.nanoTime() >= deadline) return false
      write(k)
      read(if (i % 2 == 0) "asof" else "range")
    }
    if (System.nanoTime() >= deadline) return false
    maintenance()
    true
  }

  /** Data files under the table directory (not the log): path -> bytes. */
  private def listData(): Seq[(String, Long)] = {
    val root = java.nio.file.Paths.get(table)
    val st = java.nio.file.Files.walk(root)
    try st.filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.toString.contains("_graft_log")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .map(p => p.toString -> java.nio.file.Files.size(p))
    finally st.close()
  }

  private def countWritten(): Unit = listData().foreach { case (f, n) =>
    if (!written.contains(f)) { written(f) = n; bytesWrittenTimed += n }
  }

  private var spaceAmp, liveRowBytes = 0.0

  def check(): Unit = {
    val live = TxTable.read(spark, table)
    val n = live.count()
    ctx.check("final_rows", n == model.size, s"snapshot $n rows, model ${model.size}")
    val agg = live.groupBy("pr").agg(count(lit(1)), sum("cents"), min("cents"), max("cents"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    ctx.check("final_aggregates", agg == expected, s"snapshot $agg, model $expected")
    val fresh = live.groupBy("pr").agg(count(lit(1)).as("n"), sum("cents").as("s"),
      min("cents").as("mn"), max("cents").as("mx"))
    def same(view: String, cols: Seq[String]): Boolean = {
      val v = TxTable.read(spark, view).select(cols.map(col): _*)
      val f = fresh.select(cols.map(col): _*)
      v.exceptAll(f).isEmpty && f.exceptAll(v).isEmpty
    }
    ctx.check("view_sum_recompute", same(sumView, Seq("pr", "n", "s")), "count/sum view vs recompute")
    ctx.check("view_minmax_recompute", same(mmView, Seq("pr", "n", "mn", "mx")), "min/max view vs recompute")
    val copy = s"${ctx.work}/fresh_copy"
    live.coalesce(1).write.mode("overwrite").parquet(copy)
    val copyBytes = Files.du(copy)._2.toDouble
    spaceAmp = listData().map(_._2).sum / copyBytes
    liveRowBytes = copyBytes / math.max(1L, n)
  }

  override def extra: Map[String, String] = {
    val logFiles = new java.io.File(s"$table/_graft_log").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    Map(
      "space_amp" -> Json.num(spaceAmp),
      "log_versions" -> logFiles.toString,
      "data_files" -> listData().size.toString,
      "bytes_written" -> bytesWrittenTimed.toString,
      "changed_rows" -> changedRows.toString,
      "live_row_bytes" -> Json.num(liveRowBytes),
      "files_total" -> filesTotal.toString,
      "files_skipped" -> filesSkipped.toString,
      "rows_quarantined" -> quarantinedTimed.toString)
  }
}
