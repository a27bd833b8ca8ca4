package graft

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxTable
import graft.sources.TxTable.TxConflictException

/** Transactional-table contract: snapshot isolation, time travel,
  * copy-on-write MERGE, and the optimistic-concurrency CAS — the
  * Delta/Iceberg invariants reduced to immutable data files plus an
  * atomic create-exclusive commit publish. The racing tests exercise
  * the REAL local-FS primitive (link(2) via Files.createLink), not a
  * mock: every round of the race must produce exactly one winner.
  */
class TxTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_txtable_").toString + "/t"

  private def df(rows: (Int, String)*) =
    rows.toDF("k", "v")

  test("overwrite then read round-trips exactly") {
    val t = freshTable()
    val v = TxTable.overwrite(df(1 -> "a", 2 -> "b"), t)
    assert(v === 1L)
    val got = TxTable.read(spark, t).as[(Int, String)].collect().sorted
    assert(got.toSeq === Seq(1 -> "a", 2 -> "b"))
  }

  test("append adds files without rewriting; old snapshot intact") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "a"), t)
    val snap1 = TxTable.snapshot(spark, t).get
    val v2 = TxTable.append(df(2 -> "b"), t)
    assert(v2 === 2L)
    // v2 = union; v1 unchanged and still readable (time travel)
    assert(TxTable.read(spark, t).count() === 2)
    assert(TxTable.read(spark, t, asOf = Some(1)).count() === 1)
    // append never rewrites: v1's files are a subset of v2's
    val snap2 = TxTable.snapshot(spark, t).get
    assert(snap1.files.toSet.subsetOf(snap2.files.toSet))
  }

  test("merge upserts by key, copy-on-write, old versions untouched") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "a", 2 -> "b", 3 -> "c"), t)
    val v = TxTable.merge(spark, t,
      df(2 -> "B", 4 -> "d"), key = "k")
    assert(v === 2L)
    val got = TxTable.read(spark, t).as[(Int, String)].collect().sorted
    assert(got.toSeq === Seq(1 -> "a", 2 -> "B", 3 -> "c", 4 -> "d"))
    // the pre-merge snapshot still reproduces exactly
    val old = TxTable.read(spark, t, asOf = Some(1))
      .as[(Int, String)].collect().sorted
    assert(old.toSeq === Seq(1 -> "a", 2 -> "b", 3 -> "c"))
  }

  test("time travel pins any historical version") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "v1"), t)
    TxTable.overwrite(df(1 -> "v2"), t)
    TxTable.overwrite(df(1 -> "v3"), t)
    for (v <- 1 to 3)
      assert(TxTable.read(spark, t, asOf = Some(v))
        .select("v").as[String].head() === s"v$v")
    // asOf beyond latest resolves to latest
    assert(TxTable.read(spark, t, asOf = Some(99))
      .select("v").as[String].head() === "v3")
    intercept[IllegalArgumentException] {
      TxTable.read(spark, t, asOf = Some(0))
    }
  }

  test("a reader concurrent with an overwrite sees only the old complete snapshot") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "old", 2 -> "old"), t)
    // reader resolves its snapshot FIRST (what a long query does at
    // plan time), then the writer publishes a new version, then the
    // reader executes — it must see version 1's rows, not a mixture
    val pinned = TxTable.snapshot(spark, t).get
    val plan = TxTable.read(spark, t, asOf = Some(pinned.version))
    TxTable.overwrite(df(1 -> "new"), t)
    val got = plan.as[(Int, String)].collect().sorted
    assert(got.toSeq === Seq(1 -> "old", 2 -> "old"))
    // and an un-pinned read AFTER the commit sees exactly the new set
    assert(TxTable.read(spark, t).as[(Int, String)].collect().toSeq
      === Seq(1 -> "new"))
  }

  test("commit CAS: racers to the SAME version get exactly one winner") {
    // the primitive itself, deterministically: both threads target a
    // fixed version, so the only way both succeed is a broken CAS.
    // 20 rounds × 4 threads over the real link(2) publish path.
    val t = freshTable()
    TxTable.overwrite(df(0 -> "base"), t) // creates the log dir
    for (round <- 2 to 21) {
      val n = 4
      val barrier = new CyclicBarrier(n)
      val tasks = (1 to n).map { i =>
        val ft = new java.util.concurrent.FutureTask(() => {
          barrier.await()
          try { TxTable.commit(spark, t, TxTable.Snapshot(round.toLong,
            Seq(s"data/w$i.parquet"))); true }
          catch { case _: TxConflictException => false }
        })
        new Thread(ft).start(); ft
      }
      val winners = tasks.map(_.get()).count(identity)
      assert(winners === 1, s"version $round: $winners winners")
    }
    assert(TxTable.snapshot(spark, t).get.version === 21L)
  }

  test("racing appends: no lost updates, every success is visible exactly once") {
    // end-to-end optimistic concurrency through the public API. A
    // racer that loses the CAS gets TxConflictException and retries
    // after a rebase; whatever returned success MUST be in the table.
    val t = freshTable()
    TxTable.overwrite(df(0 -> "base"), t)
    val n = 4
    val barrier = new CyclicBarrier(n)
    val tasks = (1 to n).map { i =>
      val ft = new java.util.concurrent.FutureTask(() => {
        barrier.await()
        var committed = false
        var attempts = 0
        while (!committed && attempts < 10) {
          attempts += 1
          try { TxTable.append(df(i -> s"writer$i"), t); committed = true }
          catch { case _: TxConflictException => () } // rebase = re-read head
        }
        committed
      })
      new Thread(ft).start(); ft
    }
    assert(tasks.forall(_.get()), "every writer must eventually commit")
    val vs = TxTable.read(spark, t).select("v").as[String].collect()
    for (i <- 1 to n) {
      val w = s"writer$i"
      assert(vs.count(_ == w) === 1, s"$w landed ${vs.count(_ == w)} times")
    }
    assert(vs.count(_ == "base") === 1)
    assert(TxTable.snapshot(spark, t).get.version === (1 + n).toLong)
  }

  test("appendEpoch applies once per (app, epoch) and skips replays") {
    val t = freshTable()
    assert(TxTable.appendEpoch(df(1 -> "e0"), t, "appA", 0L))
    assert(!TxTable.appendEpoch(df(1 -> "e0dup"), t, "appA", 0L),
      "replayed epoch must be skipped")
    assert(TxTable.appendEpoch(df(2 -> "e1"), t, "appA", 1L))
    // a second app's epochs are independent
    assert(TxTable.appendEpoch(df(3 -> "b0"), t, "appB", 0L))
    // markers survive unrelated commits (overwrite carries txns)
    TxTable.append(df(4 -> "manual"), t)
    assert(!TxTable.appendEpoch(df(9 -> "late-replay"), t, "appA", 1L))
    val vs = TxTable.read(spark, t).as[(Int, String)].collect().map(_._2)
    assert(vs.sorted.toSeq === Seq("b0", "e0", "e1", "manual"))
    assert(TxTable.snapshot(spark, t).get.txns ===
      Map("appA" -> 1L, "appB" -> 0L))
  }

  test("overwriteIndexed stats prune files in readRange, results exact") {
    val t = freshTable()
    val data = (1 to 1000).map(i => (i, s"r$i")).toDF("k", "v")
      .repartition(8)
    TxTable.overwriteIndexed(data, t, "k")
    val snap = TxTable.snapshot(spark, t).get
    assert(snap.statsCol.contains("k"))
    assert(snap.stats.size === snap.files.size, "every file needs stats")
    // a narrow range must open strictly fewer files than the table has
    val kept = TxTable.pruneFiles(snap, "k", 10, 20)
    assert(kept.nonEmpty && kept.size < snap.files.size,
      s"pruning kept ${kept.size} of ${snap.files.size}")
    // and the pruned read returns exactly the full-scan filter
    val pruned = TxTable.readRange(spark, t, "k", 10, 20)
      .as[(Int, String)].collect().sorted
    val full = TxTable.read(spark, t).filter($"k" >= 10 && $"k" <= 20)
      .as[(Int, String)].collect().sorted
    assert(pruned.toSeq === full.toSeq)
    assert(pruned.map(_._1).toSeq === (10 to 20))
    // pruning on a non-indexed column is a no-op, never a filter
    assert(TxTable.pruneFiles(snap, "other", 0, 1) === snap.files)
  }

  test("multi-column manifest: stats + value sets round-trip and prune conjunctively") {
    val t = freshTable()
    // two independent numeric dimensions + a low-cardinality string:
    // 2 categories over (shuffle.partitions = 4) files means each
    // category splits across files ALONG `a`, so the value prune and
    // the range prune each bite, and their conjunction bites harder
    val data = (1 to 2000).map { i =>
      (i, (i * 7919 % 1000).toDouble, s"cat${i % 2}",
        s"weird \"quote\" \\ back") // manifest must JSON-escape
    }.toDF("a", "b", "cat", "junk").repartition(8)
    TxTable.overwriteIndexedMulti(data, t,
      statCols = Seq("a", "b"), valueCols = Seq("cat", "junk"))
    val snap = TxTable.snapshot(spark, t).get
    assert(snap.multiStats.size === snap.files.size)
    assert(snap.multiStats.values.forall(_.keySet === Set("a", "b")))
    // cat has 4 distinct values ≤ the 16 cap → recorded; and the
    // escaped junk value survived the manifest JSON round-trip
    assert(snap.fileValues.values.forall(v =>
      v.getOrElse("cat", Set.empty).nonEmpty))
    assert(snap.fileValues.values.head("junk") ===
      Set("weird \"quote\" \\ back"))

    val ranges = Seq(("a", 100.0, 300.0), ("b", 0.0, 500.0))
    val both = TxTable.pruneFilesWhere(snap, ranges)
    val aOnly = TxTable.pruneFilesWhere(snap, ranges.take(1))
    assert(both.nonEmpty && both.size <= aOnly.size)
    assert(aOnly.size < snap.files.size,
      s"a-prune kept ${aOnly.size}/${snap.files.size}")

    // pruned conjunctive read ≡ full-scan filter (exactness)
    val got = TxTable.readWhere(spark, t, ranges, Seq(("cat", "cat1")))
      .select($"a").as[Int].collect().sorted.toSeq
    val want = TxTable.read(spark, t)
      .filter($"a" >= 100 && $"a" <= 300 &&
        $"b" >= 0.0 && $"b" <= 500.0 && $"cat" === "cat1")
      .select($"a").as[Int].collect().sorted.toSeq
    assert(got === want)
    assert(got.nonEmpty)

    // unknown columns in predicates: never a filter, only a no-op
    assert(TxTable.pruneFilesWhere(snap,
      Seq(("zz", 0.0, 1.0)), Seq(("yy", "x"))) === snap.files)

    // a value-equality miss prunes everything cheaply
    assert(TxTable.pruneFilesWhere(snap, Nil,
      Seq(("cat", "no-such"))).isEmpty)
    assert(TxTable.readWhere(spark, t, Nil,
      Seq(("cat", "no-such"))).count() === 0)
  }

  test("changesSince: exactly the appended rows, no dups, rewrites fail fast") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "a"), t)
    TxTable.append(df(2 -> "b"), t)
    TxTable.append(df(3 -> "c", 4 -> "d"), t)
    // full replay from zero
    val (all, h1) = TxTable.changesSince(spark, t, 0L)
    assert(h1 === 3L)
    assert(all.as[(Int, String)].collect().sorted.toSeq ===
      Seq(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d"))
    // a consumer loop sees each appended row exactly once
    val (d1, c1) = TxTable.changesSince(spark, t, 1L)
    assert(c1 === 3L && d1.as[(Int, String)].collect().sorted.toSeq ===
      Seq(2 -> "b", 3 -> "c", 4 -> "d"))
    val (d2, c2) = TxTable.changesSince(spark, t, c1)
    assert(c2 === 3L && d2.isEmpty)
    TxTable.append(df(5 -> "e"), t)
    val (d3, c3) = TxTable.changesSince(spark, t, c2)
    assert(c3 === 4L &&
      d3.as[(Int, String)].collect().toSeq === Seq(5 -> "e"))
    // a rewriting commit breaks files≡rows — must fail fast
    TxTable.merge(spark, t, df(1 -> "A"), key = "k")
    val err = intercept[IllegalArgumentException] {
      TxTable.changesSince(spark, t, c3)
    }
    assert(err.getMessage.contains("append-only"))
    // and a vacuumed consumer position is a named error, not silence
    TxTable.append(df(6 -> "f"), t)
    TxTable.vacuum(spark, t, retainLast = 1)
    val err2 = intercept[IllegalArgumentException] {
      TxTable.changesSince(spark, t, 2L)
    }
    assert(err2.getMessage.contains("vacuumed"))
  }

  test("schema evolution: appended column surfaces via mergeSchema read") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "a", 2 -> "b"), t)
    // an append whose schema grew a column
    TxTable.append(Seq((3, "c", 30L)).toDF("k", "v", "extra"), t)
    val merged = TxTable.read(spark, t, mergeSchema = true)
    assert(merged.columns.sorted.toSeq === Seq("extra", "k", "v"))
    val rows = merged.select($"k", $"v", $"extra")
      .as[(Int, String, Option[Long])].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((1, "a", None), (2, "b", None),
      (3, "c", Some(30L))))
    // time travel to the pre-evolution version has the narrow schema
    assert(TxTable.read(spark, t, asOf = Some(1), mergeSchema = true)
      .columns.sorted.toSeq === Seq("k", "v"))
  }

  test("applyCdc: one atomic commit of deletes + updates + inserts") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d"), t)
    val changes = Seq(
      (2, "B", "u"),   // update
      (3, "", "d"),    // delete
      (9, "i", "i"))   // insert
      .toDF("k", "v", "op")
    val v = TxTable.applyCdc(spark, t, changes, key = "k", opCol = "op")
    assert(v === 2L)
    assert(TxTable.read(spark, t).as[(Int, String)].collect().sorted.toSeq
      === Seq(1 -> "a", 2 -> "B", 4 -> "d", 9 -> "i"))
    // pre-batch snapshot intact (the batch was one atomic commit)
    assert(TxTable.read(spark, t, asOf = Some(1))
      .as[(Int, String)].collect().sorted.toSeq
      === Seq(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d"))
    // unconsolidated batches (two ops for one key) fail fast
    val bad = Seq((5, "x", "u"), (5, "", "d")).toDF("k", "v", "op")
    val err = intercept[IllegalArgumentException] {
      TxTable.applyCdc(spark, t, bad, "k", "op")
    }
    assert(err.getMessage.contains("unconsolidated"))
    // and the failed batch left no commit behind
    assert(TxTable.snapshot(spark, t).get.version === 2L)
  }

  test("head hint: stale, regressed, corrupt, or missing hints never change results") {
    import org.apache.hadoop.fs.Path
    val t = freshTable()
    for (v <- 1 to 5) TxTable.overwrite(df(v -> s"v$v"), t)
    val fs = new Path(t).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val hint = new Path(t, "_graft_log/_hint")
    def headV: Long = TxTable.snapshot(spark, t).get.version
    def put(s: String): Unit = {
      val o = fs.create(hint, true); o.write(s.getBytes("UTF-8")); o.close()
    }
    assert(headV === 5L)
    def hintText: String = {
      val in = fs.open(hint)
      try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
    }
    assert(hintText === "5", "commit must refresh the hint")
    // regressed hint (a delayed older writer's LWW overwrite): the
    // forward probe must still find the true head
    put("2"); assert(headV === 5L)
    // garbage hint → listing fallback
    put("not-a-number"); assert(headV === 5L)
    // hint beyond any committed version → listing fallback
    put("999"); assert(headV === 5L)
    // missing hint → listing fallback
    fs.delete(hint, false); assert(headV === 5L)
    // asOf paths are hint-independent too
    put("2")
    assert(TxTable.snapshot(spark, t, Some(3L)).get.version === 3L)
    assert(TxTable.snapshot(spark, t, Some(99L)).get.version === 5L)
    assert(TxTable.read(spark, t, Some(4L))
      .as[(Int, String)].head() === (4 -> "v4"))
    // and a fresh commit repairs the hint
    TxTable.append(df(6 -> "v6"), t)
    assert(hintText === "6")
    // vacuum: asOf below the retained floor stays None, head unchanged
    TxTable.vacuum(spark, t, retainLast = 2)
    assert(TxTable.snapshot(spark, t, Some(1L)).isEmpty)
    assert(headV === 6L)
  }

  test("log checkpoint: periodic durable floor, cold resolution without hint or listing surprises") {
    import org.apache.hadoop.fs.Path
    val t = freshTable()
    // 12 commits → checkpoint written at v10 (interval 10)
    for (v <- 1 to 12) TxTable.overwrite(df(v -> s"v$v"), t)
    val fs = new Path(t).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val ckpt = new Path(t, "_graft_log/_last_checkpoint")
    val hint = new Path(t, "_graft_log/_hint")
    assert(fs.exists(ckpt), "commit 10 must write the checkpoint")
    assert(TxTable.readCheckpoint(fs, t) === Some(10L))
    def headV: Long = TxTable.snapshot(spark, t).get.version
    def content: Seq[(Int, String)] =
      TxTable.read(spark, t).as[(Int, String)].collect().toSeq
    // a checkpointed table resolves identically with the hint gone:
    // the floor is the checkpoint, probed forward 10 → 12
    fs.delete(hint, false)
    assert(headV === 12L)
    assert(content === Seq(12 -> "v12"))
    // stale checkpoint (an old floor) still resolves the true head
    TxTable.writeCheckpoint(fs, t, 3L)
    fs.delete(hint, false)
    assert(headV === 12L)
    // corrupt checkpoint → ignored, falls back to listing
    val o = fs.create(ckpt, true); o.write("garbage{".getBytes); o.close()
    fs.delete(hint, false)
    assert(headV === 12L)
    assert(TxTable.readCheckpoint(fs, t) === None)
    // checkpoint naming a never-committed version → validation
    // (manifest exists) rejects it → listing fallback
    TxTable.writeCheckpoint(fs, t, 999L)
    fs.delete(hint, false)
    assert(headV === 12L)
    // vacuum below the checkpointed version: the floor's manifest is
    // gone, so the (restored) checkpoint is rejected and resolution
    // still lands on the retained head
    TxTable.writeCheckpoint(fs, t, 10L)
    TxTable.vacuum(spark, t, retainLast = 1)
    assert(fs.exists(ckpt), "vacuum must not delete the checkpoint")
    fs.delete(hint, false)
    assert(headV === 12L)
    assert(content === Seq(12 -> "v12"))
  }

  test("rename racing an append: version CAS picks one winner, state stays consistent") {
    // both verbs capture the head at their start and commit at
    // head+1, so whatever the interleaving the commit CAS admits
    // exactly one of them per version — the loser throws
    // TxConflictException with nothing visible (the rename's staged
    // sidecar is deleted; the append's staged files stay
    // unreferenced). The retry then sees the winner's state.
    for (round <- 1 to 3) {
      val t = freshTable()
      TxTable.append(df(1 -> "a"), t) // v1
      val barrier = new CyclicBarrier(2)
      @volatile var renameOk = false
      @volatile var appendOk = false
      val r = new Thread(() => {
        barrier.await()
        try { TxTable.renameColumn(spark, t, "v", "w"); renameOk = true }
        catch { case _: TxConflictException => () }
      })
      val a = new Thread(() => {
        barrier.await()
        try { TxTable.append(df(2 -> "b"), t); appendOk = true }
        catch { case _: TxConflictException => () }
      })
      r.start(); a.start(); r.join(); a.join()
      assert(renameOk || appendOk, s"round $round: both racers lost")
      // retry the loser against the winner's state
      if (!renameOk) TxTable.renameColumn(spark, t, "v", "w")
      if (!appendOk) {
        // post-rename, the logical column is w
        TxTable.append(Seq((2, "b")).toDF("k", "w"), t)
      }
      assert(TxTable.read(spark, t).columns.toSeq === Seq("k", "w"),
        s"round $round: rename lost silently")
      assert(TxTable.read(spark, t).as[(Int, String)].collect().sorted
        .toSeq === Seq(1 -> "a", 2 -> "b"), s"round $round: rows wrong")
    }
  }

  test("compactWhere rewrites ONE partition's files; everything else carries") {
    val t = freshTable()
    val rows = (1 to 40).map(i => (i.toLong, s"g${i % 4}")).toDF("k", "g")
    // partitioned appends: several small files per partition
    TxTable.appendPartitionedMulti(rows.filter($"k" <= 20), t, Seq("g"))
    TxTable.appendPartitionedMulti(rows.filter($"k" > 20), t, Seq("g"))
    val snap1 = TxTable.snapshot(spark, t).get
    val g1Before = snap1.files.filter(f =>
      snap1.fileValues.get(f).flatMap(_.get("g")).exists(_.contains("g1")))
    assert(g1Before.size > 1, "test setup: g1 must span several files")
    val others = snap1.files.filterNot(g1Before.toSet)
    TxTable.compactWhere(spark, t, "g", Seq("g1"), targetFiles = 1)
    val snap2 = TxTable.snapshot(spark, t).get
    // untouched partitions carried byte-identical; g1 merged
    assert(others.forall(snap2.files.contains),
      "compactWhere rewrote out-of-scope files")
    val g1After = snap2.files.filterNot(others.toSet)
    assert(g1After.size < g1Before.size,
      s"no merge: ${g1Before.size} -> ${g1After.size}")
    // content identical, value sets recomputed for the new files
    assert(TxTable.read(spark, t).as[(Long, String)].collect().sorted
      .toSeq === (1L to 40L).map(i => i -> s"g${i % 4}").sortBy(identity))
    assert(g1After.forall(f => snap2.fileValues.get(f)
      .flatMap(_.get("g")).exists(_.contains("g1"))))
    // nothing in scope = no-op at the current head
    val v = TxTable.compactWhere(spark, t, "g", Seq("nope"))
    assert(v === snap2.version)
  }

  test("restore across a rename rekeys index metadata to the head's names") {
    val t = freshTable()
    val grid = (1 to 40).map(i => (i.toLong, s"g${i % 4}")).toDF("x", "g")
    TxTable.overwriteIndexedMulti(grid, t, statCols = Seq("x")) // v1
    TxTable.renameColumn(spark, t, "x", "xid") // v2
    TxTable.append(Seq((99L, "z")).toDF("xid", "g"), t) // v3
    TxTable.restore(spark, t, 1) // v4: pre-append data, CURRENT names
    // the restored head serves the HEAD's logical names
    assert(TxTable.read(spark, t).columns.toSeq === Seq("xid", "g"))
    assert(TxTable.read(spark, t).count() === 40)
    // and the target's stats were rekeyed x → xid, so pruning works
    val snap = TxTable.snapshot(spark, t).get
    assert(snap.multiStats.values.forall(m =>
      m.contains("xid") && !m.contains("x")),
      s"restore kept stale stat keys: ${snap.multiStats.values.headOption}")
    assert(TxTable.pruneFilesWhere(snap, Seq(("xid", 1.0, 5.0)), Nil)
      .size < snap.files.size)
    assert(TxTable.readRange(spark, t, "xid", 1.0, 5.0).count() === 5)
  }

  test("shallow clone: zero-copy, fully independent, pruning carries") {
    val src = freshTable()
    val dst = freshTable()
    val grid = (1 to 40).map(i => (i.toLong, s"g${i % 4}")).toDF("x", "g")
    TxTable.overwriteIndexedMulti(grid, src, statCols = Seq("x")) // v1
    TxTable.renameColumn(spark, src, "g", "grp") // v2: mapped source
    TxTable.addConstraint(spark, src, "x_pos", "x > 0")
    TxTable.cloneShallow(spark, src, dst)
    // zero-copy: the clone's data dir holds NOTHING
    val dd = new org.apache.hadoop.fs.Path(dst, "data")
    val f = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(dd) || f.listStatus(dd).isEmpty,
      "shallow clone copied data files")
    // same content, same logical surface (mapping snapshotted)
    assert(TxTable.read(spark, dst).columns.toSeq === Seq("x", "grp"))
    assert(TxTable.read(spark, dst).count() === 40)
    // index metadata carried: range reads prune on the clone
    val dsnap = TxTable.snapshot(spark, dst).get
    assert(TxTable.pruneFilesWhere(dsnap, Seq(("x", 1.0, 5.0)), Nil)
      .size < dsnap.files.size, "clone lost the stats carry")
    assert(TxTable.readRange(spark, dst, "x", 1.0, 5.0).count() === 5)
    // constraints snapshotted: a violating write on the CLONE refuses
    intercept[Exception] {
      TxTable.append(Seq((-1L, "bad")).toDF("x", "grp"), dst) }
    // DML on the clone: copy-on-write lands in dst's OWN data dir,
    // untouched source refs carry, and SRC never changes
    TxTable.deleteWhere(spark, dst, Seq(("x", 1.0, 20.0)))
    TxTable.append(Seq((100L, "new")).toDF("x", "grp"), dst)
    assert(TxTable.read(spark, dst).count() === 21)
    assert(TxTable.read(spark, src).count() === 40, "clone DML hit src")
    // vacuum on the clone reclaims only its own files: src intact
    TxTable.vacuum(spark, dst, retainLast = 1)
    assert(TxTable.read(spark, src).count() === 40)
    assert(TxTable.read(spark, dst).count() === 21)
    // cloning onto an existing table refuses
    intercept[IllegalArgumentException] {
      TxTable.cloneShallow(spark, src, dst) }
  }

  test("CHECK constraints gate every write in-plan; violations fail the action") {
    val t = freshTable()
    TxTable.append(Seq((1, 10L), (2, 20L)).toDF("k", "amt"), t) // v1
    // add validates the WHOLE existing table first
    TxTable.addConstraint(spark, t, "amt_pos", "amt > 0")
    val e0 = intercept[IllegalArgumentException] {
      TxTable.addConstraint(spark, t, "amt_small", "amt < 15") }
    assert(e0.getMessage.contains("1 existing row"))
    // a violating append fails the write ACTION; nothing lands
    val vBefore = TxTable.snapshot(spark, t).get.version
    val e = intercept[Exception] {
      TxTable.append(Seq((3, -5L)).toDF("k", "amt"), t) }
    def rootMsg(x: Throwable): String =
      Option(x.getCause).map(rootMsg).getOrElse(x.getMessage)
    assert(e.getMessage.contains("amt_pos") ||
      rootMsg(e).contains("amt_pos"))
    assert(TxTable.snapshot(spark, t).get.version === vBefore,
      "a violating write must not commit")
    // clean writes pass; NULL passes (SQL CHECK semantics)
    TxTable.append(Seq((3, Some(5L)), (4, None))
      .toDF("k", "amt"), t)
    assert(TxTable.read(spark, t).count() === 4)
    // merge (a rewriting verb) enforces too
    val e2 = intercept[Exception] {
      TxTable.merge(spark, t, Seq((1, -1L)).toDF("k", "amt"), "k") }
    assert(e2.getMessage.contains("amt_pos") ||
      rootMsg(e2).contains("amt_pos"))
    // dropping the constraint re-opens the gate
    assert(TxTable.dropConstraint(spark, t, "amt_pos"))
    assert(!TxTable.dropConstraint(spark, t, "amt_pos"))
    TxTable.append(Seq((9, -9L)).toDF("k", "amt"), t)
    // a constrained column refuses rename/drop with a named error
    TxTable.addConstraint(spark, t, "k_pos", "k > 0")
    val e3 = intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, t, "k", "id") }
    assert(e3.getMessage.contains("k_pos"))
    val e4 = intercept[IllegalArgumentException] {
      TxTable.dropColumn(spark, t, "k") }
    assert(e4.getMessage.contains("k_pos"))
  }

  test("checkpoint STATE serves a cold read with hint and manifests gone") {
    val t = freshTable()
    // ten commits → the automatic checkpoint at v10 embeds the state
    (1 to 10).foreach(i => TxTable.append(df(i -> s"r$i"), t))
    val expect = TxTable.read(spark, t).as[(Int, String)]
      .collect().sorted.toSeq
    // simulate aggressive log cleanup: delete EVERY manifest and the
    // hint; only _last_checkpoint (version + embedded state) remains
    val ld = new org.apache.hadoop.fs.Path(t, "_graft_log")
    val f = ld.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.listStatus(ld).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.endsWith(".json")) f.delete(st.getPath, false)
    }
    f.delete(new org.apache.hadoop.fs.Path(ld, "_hint"), false)
    // cold read resolves ENTIRELY from the checkpoint state
    val snap = TxTable.snapshot(spark, t)
    assert(snap.map(_.version) === Some(10L),
      "checkpoint state did not serve the cold read")
    assert(TxTable.read(spark, t).as[(Int, String)]
      .collect().sorted.toSeq === expect)
    // a corrupt checkpoint reads as ABSENT, never as wrong results
    val cp = new org.apache.hadoop.fs.Path(ld, "_last_checkpoint")
    val out = f.create(cp, true)
    out.write("{\"version\":10,\"state\":{garbage".getBytes("UTF-8"))
    out.close()
    assert(TxTable.snapshot(spark, t).isEmpty)
  }

  test("vacuum reclaims unreferenced files; retained versions stay exact") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "v1"), t)
    TxTable.overwrite(df(2 -> "v2"), t)
    TxTable.append(df(3 -> "v3"), t)
    TxTable.overwrite(df(4 -> "v4"), t)
    val dataDir = new java.io.File(t, "data")
    val before = dataDir.listFiles().count(_.getName.endsWith(".parquet"))
    val (manifests, files) = TxTable.vacuum(spark, t, retainLast = 2)
    assert(manifests === 2) // v1, v2 manifests dropped
    assert(files > 0, "v1's files are unreferenced by v3/v4 and must go")
    val after = dataDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(after === before - files)
    // retained versions read exactly; vacuumed history is gone
    assert(TxTable.read(spark, t).as[(Int, String)].collect().toSeq
      === Seq(4 -> "v4"))
    assert(TxTable.read(spark, t, asOf = Some(3)).as[(Int, String)]
      .collect().sorted.toSeq === Seq(2 -> "v2", 3 -> "v3"))
    intercept[IllegalArgumentException] {
      TxTable.read(spark, t, asOf = Some(1))
    }
    // v3 (retained, shares v2's files... it must still be complete):
    // every file v3 references must still exist
    val snap3 = TxTable.snapshot(spark, t, Some(3)).get
    snap3.files.foreach { f =>
      assert(new java.io.File(t, f).exists(), s"retained file $f deleted")
    }
  }

  test("compact rewrites layout, preserves content, history, and txns") {
    val t = freshTable()
    // append-heavy table: 6 commits, ≥6 files
    TxTable.overwrite(df(1 -> "a"), t)
    (2 to 6).foreach(i => TxTable.append(df(i -> s"v$i"), t))
    TxTable.appendEpoch(df(7 -> "e"), t, "appX", 3L)
    val before = TxTable.snapshot(spark, t).get
    assert(before.files.size >= 7)
    val all = TxTable.read(spark, t).as[(Int, String)].collect().sorted

    val v = TxTable.compact(spark, t, targetFiles = 2)
    val after = TxTable.snapshot(spark, t).get
    assert(after.version == v && v == before.version + 1)
    assert(after.files.size <= 2, s"still ${after.files.size} files")
    assert(TxTable.read(spark, t).as[(Int, String)].collect().sorted
      .toSeq == all.toSeq, "compaction changed content")
    // txn markers carried: the replayed epoch still skips
    assert(!TxTable.appendEpoch(df(99 -> "dup"), t, "appX", 3L))
    // time travel to the pre-compaction layout still works
    assert(TxTable.read(spark, t, asOf = Some(before.version))
      .as[(Int, String)].collect().sorted.toSeq == all.toSeq)
    // vacuum to the compacted head reclaims the small files
    val (manifests, data) = TxTable.vacuum(spark, t, retainLast = 1)
    assert(manifests >= 6 && data >= 6)
    assert(TxTable.read(spark, t).as[(Int, String)].collect().sorted
      .toSeq == all.toSeq)
  }

  test("compact preserves a Z-ordered table: either column still prunes") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    val src = spark.range(0, 4000).select(
      col("id").as("k"),
      (col("id") % 101).cast("double").as("a"),
      ((col("id") * 37) % 103).cast("double").as("b"))
    TxTable.overwriteZordered(src, t, "a", "b")
    // fragment the table so compaction has work to do
    TxTable.append(src.limit(10), t)
    val expectA = TxTable.readWhere(spark, t, Seq(("a", 10.0, 20.0)))
      .count()
    val expectB = TxTable.readWhere(spark, t, Seq(("b", 10.0, 20.0)))
      .count()
    TxTable.compact(spark, t, targetFiles = 8)
    val snap = TxTable.snapshot(spark, t).get
    assert(snap.files.size <= 8)
    // the Z-property: EACH single-column predicate alone prunes files
    for (col0 <- Seq("a", "b")) {
      val kept = TxTable.pruneFilesWhere(snap, Seq((col0, 10.0, 20.0)))
      assert(kept.nonEmpty && kept.size < snap.files.size,
        s"post-compact $col0-predicate kept ${kept.size}/${snap.files.size}")
    }
    assert(TxTable.readWhere(spark, t, Seq(("a", 10.0, 20.0))).count()
      === expectA)
    assert(TxTable.readWhere(spark, t, Seq(("b", 10.0, 20.0))).count()
      === expectB)
  }

  test("compact preserves a bloom-indexed table: point reads still prune") {
    val t = freshTable()
    val src = (1 to 3000).map(i => (i.toLong, s"u$i")).toDF("id", "u")
    TxTable.overwriteIndexedBloom(src, t, "id")
    TxTable.append(Seq((9001L, "new")).toDF("id", "u"), t)
    TxTable.compact(spark, t, targetFiles = 6)
    val snap = TxTable.snapshot(spark, t).get
    assert(snap.bloomCol.contains("id"), "compaction dropped the bloom index")
    assert(snap.files.size <= 6)
    assert(snap.blooms.keySet === snap.files.toSet,
      "every compacted file must carry a fresh bloom")
    val kept = TxTable.pruneFilesPoints(snap, "id", Seq("17"))
    assert(kept.size < snap.files.size,
      "post-compact point lookup must still prune")
    // the appended row survived compaction and is point-readable
    assert(TxTable.readPoint(spark, t, "id", "9001").count() === 1)
    assert(TxTable.readPoints(spark, t, "id", Seq("17", "9001")).count() === 2)
  }

  test("compact preserves multi-column stats + value sets") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    val src = spark.range(0, 4000).select(
      col("id").as("k"), (col("id") % 53).cast("double").as("x"),
      concat(lit("g"), (col("id") % 3).cast("string")).as("grp"))
    TxTable.overwriteIndexedMulti(src, t, statCols = Seq("x"),
      valueCols = Seq("grp"))
    TxTable.append(src.limit(7), t)
    val expected = TxTable.readWhere(spark, t,
      Seq(("x", 5.0, 9.0)), Seq(("grp", "g1"))).count()
    TxTable.compact(spark, t, targetFiles = 6)
    val snap = TxTable.snapshot(spark, t).get
    assert(snap.files.size <= 6)
    assert(snap.multiStats.nonEmpty && snap.fileValues.nonEmpty,
      "compaction dropped multi-column metadata")
    val kept = TxTable.pruneFilesWhere(snap, Seq(("x", 5.0, 9.0)),
      Seq(("grp", "g1")))
    assert(kept.size < snap.files.size)
    assert(TxTable.readWhere(spark, t, Seq(("x", 5.0, 9.0)),
      Seq(("grp", "g1"))).count() === expected)
  }

  test("compact preserves an indexed table's file stats and pruning") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    val df = spark.range(0, 1000).select(
      col("id").as("k"), (col("id") % 97).cast("double").as("x"))
    TxTable.overwriteIndexed(df, t, "x")
    val before = TxTable.readRange(spark, t, "x", 10.0, 20.0)
      .collect().map(_.getLong(0)).sorted
    TxTable.compact(spark, t, targetFiles = 2)
    val snap = TxTable.snapshot(spark, t).get
    assert(snap.statsCol.contains("x"), "compaction dropped the index")
    assert(snap.files.size <= 2)
    val kept = TxTable.pruneFiles(snap, "x", 10.0, 20.0)
    assert(kept.size < snap.files.size,
      "fresh stats must still prune the compacted layout")
    val after = TxTable.readRange(spark, t, "x", 10.0, 20.0)
      .collect().map(_.getLong(0)).sorted
    assert(after.toSeq == before.toSeq, "pruned read changed content")
  }

  test("copy-on-write merge, mergeSync and applyCdc keep the table's index") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = freshTable()
    TxTable.overwriteIndexed(spark.range(0, 1000).select(
      col("id").as("k"), (col("id") * 2).as("x")), t, "x")
    def upd(ks: Seq[Long]) = ks.toDF("k").select(col("k"), (col("k") * 2).as("x"))
    def checkIndex(step: String): Unit = {
      val snap = TxTable.snapshot(spark, t).get
      assert(snap.statsCol.contains("x"), s"$step dropped the index")
      assert(snap.stats.keySet === snap.files.toSet,
        s"$step: every file needs stats")
      val rr = TxTable.readRange(spark, t, "x", 100.0, 140.0)
      assert(rr.inputFiles.length < snap.files.size,
        s"$step: readRange opened ${rr.inputFiles.length} of " +
          s"${snap.files.size} files")
      val full = TxTable.read(spark, t).filter(col("x").between(100, 140))
      assert(rr.as[(Long, Long)].collect().sorted.toSeq ===
        full.as[(Long, Long)].collect().sorted.toSeq, step)
    }
    TxTable.merge(spark, t, upd(Seq(55L, 2000L)), "k")
    checkIndex("merge")
    TxTable.mergeSync(spark, t, upd(Seq(60L, 61L)), "k",
      scopeRanges = Seq(("x", 100.0, 130.0)))
    checkIndex("mergeSync")
    assert(TxTable.read(spark, t).filter(col("x").between(100, 130))
      .as[(Long, Long)].collect().map(_._1).sorted.toSeq === Seq(60L, 61L))
    TxTable.applyCdc(spark, t, upd(Seq(70L, 3000L))
      .withColumn("op", lit("u")).union(upd(Seq(61L))
        .withColumn("op", lit("d"))), "k", "op")
    checkIndex("applyCdc")
    // +2000, -14 scoped keys the sync batch dropped, +3000, -61
    assert(TxTable.read(spark, t).count() === 987L)
  }

  test("overwriteIndexed over a key with NULL-only files: no NPE, exact ranges") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val t = freshTable()
    // 700 of 1000 keys NULL: the range exchange lands whole files of
    // NULLs, which record no span and stay candidates
    val df = spark.range(0, 1000).select(
      when(col("id") >= 700, col("id")).as("k"), lit("v").as("v"))
    TxTable.overwriteIndexed(df, t, "k")
    val snap = TxTable.snapshot(spark, t).get
    assert(snap.statsCol.contains("k"))
    assert(snap.stats.size < snap.files.size, "expected NULL-only files")
    val got = TxTable.readRange(spark, t, "k", 750.0, 760.0)
      .select("k").as[Long].collect().sorted
    assert(got.toSeq === (750L to 760L))
    assert(TxTable.readRange(spark, t, "k", 0.0, 1e6).count() === 300L)
  }

  test("compact after renaming the single indexed column keeps the index") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    TxTable.overwriteIndexed(spark.range(0, 500).select(
      col("id").as("k"), (col("id") % 50).as("x")), t, "k")
    TxTable.renameColumn(spark, t, "k", "key")
    TxTable.compact(spark, t, targetFiles = 2)
    val snap = TxTable.snapshot(spark, t).get
    assert(snap.statsCol.contains("key"))
    assert(snap.stats.keySet === snap.files.toSet)
    assert(TxTable.read(spark, t).columns.toSeq === Seq("key", "x"))
    assert(TxTable.read(spark, t).select("key").as[Long].collect().sorted
      .toSeq === (0L until 500L))
    assert(TxTable.readRange(spark, t, "key", 10.0, 19.0).count() === 10L)
  }

  test("snapshot on a never-written table is None; read throws") {
    val t = freshTable()
    assert(TxTable.snapshot(spark, t).isEmpty)
    intercept[IllegalArgumentException] { TxTable.read(spark, t) }
  }

  // --- copy-on-write DML: deleteWhere / updateWhere ---

  private def indexedTable(): (String, org.apache.spark.sql.DataFrame) = {
    val t = freshTable()
    val src = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 4).cast("string").as("p"),
        (col("id") * 10).cast("double").as("x"))
    TxTable.overwriteIndexedMulti(src, t,
      statCols = Seq("x"), valueCols = Seq("p"))
    (t, src)
  }

  test("deleteWhere removes exactly the matching rows, atomically versioned") {
    val (t, src) = indexedTable()
    val v = TxTable.deleteWhere(spark, t, Seq(("x", 2000.0, 4990.0)))
    assert(v === 2L)
    val expect = src.filter(!(col("x") >= 2000.0 && col("x") <= 4990.0))
      .select("k").as[Long].collect().sorted.toSeq
    val got = TxTable.read(spark, t).select("k").as[Long]
      .collect().sorted.toSeq
    assert(got === expect)
    // pre-delete snapshot still time-travels to the full content
    assert(TxTable.read(spark, t, asOf = Some(1)).count() === 1000)
  }

  test("deleteWhere rewrites ONLY files the manifest cannot exclude") {
    val (t, _) = indexedTable()
    val before = TxTable.snapshot(spark, t).get
    // files cluster on (p, x) with 4 p-values over 4 shuffle
    // partitions → one file per p value; the p-equality prunes to it
    val (_, rewritten, total) =
      TxTable.deleteWhereCounted(spark, t, Seq(("x", 0.0, 800.0)),
        valueEq = Seq(("p", "1")))
    assert(total === before.files.size)
    assert(rewritten > 0 && rewritten < total,
      s"prune did not skip files: $rewritten/$total")
    // untouched files carry over under their ORIGINAL paths (no copy)
    val after = TxTable.snapshot(spark, t).get
    val carried = before.files.toSet.intersect(after.files.toSet)
    assert(carried.size === total - rewritten)
    // carried files keep their manifest metadata
    carried.foreach { f =>
      assert(after.multiStats.get(f) === before.multiStats.get(f))
      assert(after.fileValues.get(f) === before.fileValues.get(f))
    }
    // rewritten files got fresh metadata (index survives the delete)
    val fresh = after.files.filterNot(before.files.toSet)
    fresh.foreach { f =>
      assert(after.multiStats.contains(f), s"no recomputed stats for $f")
    }
  }

  test("deleteWhere pruning still answers later readWhere correctly") {
    val (t, src) = indexedTable()
    TxTable.deleteWhere(spark, t, Seq(("x", 3000.0, 6000.0)),
      valueEq = Seq(("p", "1")))
    // conjunctive semantics: only rows with BOTH x in range AND p=1 left
    val expect = src.filter(
      !(col("x") >= 3000.0 && col("x") <= 6000.0 && col("p") === "1"))
      .filter(col("x") >= 2500.0 && col("x") <= 7000.0)
      .count()
    val got = TxTable.readWhere(spark, t, Seq(("x", 2500.0, 7000.0))).count()
    assert(got === expect)
  }

  test("deleteWhere keeps rows whose predicate column is NULL") {
    val t = freshTable()
    val src = Seq((1L, Some(10.0)), (2L, None), (3L, Some(30.0)))
      .toDF("k", "x")
    TxTable.overwrite(src, t)
    TxTable.deleteWhere(spark, t, Seq(("x", 0.0, 15.0)))
    val got = TxTable.read(spark, t).select("k").as[Long]
      .collect().sorted.toSeq
    assert(got === Seq(2L, 3L), "NULL predicate must not delete")
  }

  test("updateWhere transforms matching rows only, others byte-identical") {
    val (t, src) = indexedTable()
    val v = TxTable.updateWhere(spark, t,
      Seq(("x", 0.0, 1000.0)), Seq(("p", "2")),
      set = Map("x" -> (col("x") * 100)))
    assert(v === 2L)
    val expect = src.select(col("k"),
      when(col("x") >= 0.0 && col("x") <= 1000.0 && col("p") === "2",
        col("x") * 100).otherwise(col("x")).as("x"))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val got = TxTable.read(spark, t).select("k", "x")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === expect)
  }

  test("overwriteZordered prunes on EITHER column; lexicographic cannot") {
    // a 64×64 grid: every (a, b) combination appears once, so a
    // lexicographic (a, b) clustering gives each file ALL b values
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).cast("double").as("a"),
      floor(col("id") / 64).cast("double").as("b"),
      col("id").as("k"))
    val tz = freshTable()
    val tl = freshTable()
    TxTable.overwriteZordered(grid, tz, "a", "b")
    TxTable.overwriteIndexedMulti(grid, tl, statCols = Seq("a", "b"))
    val sz = TxTable.snapshot(spark, tz).get
    val sl = TxTable.snapshot(spark, tl).get
    val bPred = Seq(("b", 10.0, 12.0))
    val zKept = TxTable.pruneFilesWhere(sz, bPred).size
    val lKept = TxTable.pruneFilesWhere(sl, bPred).size
    assert(lKept === sl.files.size,
      "premise: lexicographic layout cannot prune on the second key")
    assert(zKept < sz.files.size && zKept < lKept,
      s"z-order failed to prune on b: kept $zKept/${sz.files.size} " +
        s"(lexicographic kept $lKept/${sl.files.size})")
    // the FIRST column prunes on the z table too (rectangles, not slices)
    val aKept = TxTable.pruneFilesWhere(sz, Seq(("a", 10.0, 12.0))).size
    assert(aKept < sz.files.size)
    // pruned reads stay exact on both columns
    val got = TxTable.readWhere(spark, tz, bPred).count()
    val expect = grid.filter(col("b") >= 10.0 && col("b") <= 12.0).count()
    assert(got === expect)
  }

  test("bloom index: point lookups open few files, missing keys fewer, results exact") {
    val t = freshTable()
    val src = spark.range(0, 5000)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
    TxTable.overwriteIndexedBloom(src, t, "k")
    val snap = TxTable.snapshot(spark, t).get
    assert(snap.files.size >= 4, "premise: multiple files")
    assert(snap.blooms.size === snap.files.size, "every file indexed")
    // present key: bloom admits at least the owning file, far from all
    val kept = TxTable.pruneFilesPoint(snap, "k", "1234")
    assert(kept.nonEmpty && kept.size < snap.files.size,
      s"bloom failed to prune: ${kept.size}/${snap.files.size}")
    val got = TxTable.readPoint(spark, t, "k", "1234")
      .select("v").as[Long].collect().toSeq
    assert(got === Seq(3702L))
    // absent key: mostly everything prunes (fpp 1%), result is empty
    val keptMiss = TxTable.pruneFilesPoint(snap, "k", "999999")
    assert(keptMiss.size < snap.files.size / 2,
      s"missing key kept ${keptMiss.size}/${snap.files.size} files")
    assert(TxTable.readPoint(spark, t, "k", "999999").count() === 0)
    // a column without a bloom never prunes
    assert(TxTable.pruneFilesPoint(snap, "v", "3702") === snap.files)
  }

  test("DML on a bloom-indexed table fails open: blooms drop, lookups stay exact") {
    val t = freshTable()
    val src = spark.range(0, 5000)
      .select(col("id").as("k"), (col("id") % 10).cast("double").as("x"))
    TxTable.overwriteIndexedBloom(src, t, "k")
    val before = TxTable.snapshot(spark, t).get
    TxTable.deleteWhere(spark, t, Seq(("x", 7.0, 7.0)))
    val after = TxTable.snapshot(spark, t).get
    // no range metadata existed, so ALL files were candidates → all
    // blooms dropped (absent = never pruned); lookups stay CORRECT
    assert(before.blooms.nonEmpty && after.blooms.isEmpty)
    assert(TxTable.readPoint(spark, t, "k", "123").count() === 1)
    assert(TxTable.readPoint(spark, t, "k", "127").count() === 0,
      "x=7 rows (k%10==7) must be deleted")
  }

  test("restore rolls the head back metadata-only; history records it all") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "a", 2 -> "b", 3 -> "c"), t)
    TxTable.append(df(4 -> "d"), t)
    val snap2 = TxTable.snapshot(spark, t).get
    TxTable.merge(spark, t, df(1 -> "A"), key = "k")
    assert(TxTable.read(spark, t).count() === 4)
    // RESTORE v2: new head = v4 referencing v2's exact files
    val v = TxTable.restore(spark, t, 2L)
    assert(v === 4L)
    val head = TxTable.snapshot(spark, t).get
    assert(head.files.toSet === snap2.files.toSet,
      "restore must reference the old files, not copy them")
    val got = TxTable.read(spark, t).as[(Int, String)].collect().sorted
    assert(got.toSeq === Seq(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d"))
    // the rolled-back-over merge is still time-travelable
    assert(TxTable.read(spark, t, asOf = Some(3))
      .filter($"v" === "A").count() === 1)
    // restoring a nonexistent version fails loudly
    intercept[IllegalArgumentException] { TxTable.restore(spark, t, 99L) }
    val h = TxTable.history(spark, t)
      .orderBy($"version").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    // provenance: history names each commit's operation
    assert(h.map(_.getString(1)).toSeq ===
      Seq("overwrite", "append", "merge", "restore"))
    assert(h.last.getLong(2) === head.files.size.toLong)
  }

  test("restore carries txn markers FORWARD so replayed epochs still skip") {
    val t = freshTable()
    TxTable.appendEpoch(df(1 -> "a"), t, "app", 1L)
    TxTable.appendEpoch(df(2 -> "b"), t, "app", 2L)
    TxTable.restore(spark, t, 1L)
    // epoch 2 was applied before the rollback: a replay must SKIP
    assert(!TxTable.appendEpoch(df(2 -> "b"), t, "app", 2L),
      "replayed epoch applied after restore — duplicate rows")
    assert(TxTable.appendEpoch(df(3 -> "c"), t, "app", 3L))
  }

  test("deleteWhere refuses an unconditional delete") {
    val (t, _) = indexedTable()
    intercept[IllegalArgumentException] {
      TxTable.deleteWhere(spark, t, Nil, Nil)
    }
  }

  test("overwritePartitions replaces exactly the incoming partitions") {
    val t = freshTable()
    val base = Seq((1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c"),
      (6, "c")).toDF("k", "v")
    TxTable.overwriteIndexedMulti(base, t, statCols = Nil,
      valueCols = Seq("v"))
    val snap1 = TxTable.snapshot(spark, t).get
    // replace partition b with new content and add partition d
    TxTable.overwritePartitions(
      Seq((30, "b"), (40, "d")).toDF("k", "v"), t, "v")
    val got = TxTable.read(spark, t).as[(Int, String)].collect().sorted
    assert(got.toSeq === Seq(1 -> "a", 2 -> "a", 5 -> "c", 6 -> "c",
      30 -> "b", 40 -> "d"))
    // files provably outside {b, d} carried over byte-untouched
    val snap2 = TxTable.snapshot(spark, t).get
    val carried = snap1.files.toSet intersect snap2.files.toSet
    val expectUntouched = snap1.files.filter(f =>
      snap1.fileValues.get(f).flatMap(_.get("v"))
        .exists(vs => !vs("b") && !vs("d")))
    assert(expectUntouched.nonEmpty, "test setup: no prunable file")
    assert(expectUntouched.forall(carried),
      "a provably-untouched partition's file was rewritten")
    // old version still time-travels to the pre-overwrite content
    assert(TxTable.read(spark, t, asOf = Some(1)).count() === 6)
    // the new files record value sets: a second dynamic overwrite of
    // partition d prunes everything else
    TxTable.overwritePartitions(Seq((41, "d")).toDF("k", "v"), t, "v")
    assert(TxTable.read(spark, t).as[(Int, String)].collect().sorted
      .toSeq === Seq(1 -> "a", 2 -> "a", 5 -> "c", 6 -> "c",
      30 -> "b", 41 -> "d"))
    // null partition values are never replaced (null ≠ a partition)
    val t2 = freshTable()
    TxTable.overwriteIndexedMulti(
      Seq((1, "a"), (2, null)).toDF("k", "v"), t2,
      statCols = Nil, valueCols = Seq("v"))
    TxTable.overwritePartitions(Seq((10, "a")).toDF("k", "v"), t2, "v")
    assert(TxTable.read(spark, t2).as[(Int, String)].collect()
      .sortBy(_._1).toSeq === Seq(2 -> null, 10 -> "a"))
    // a null in the REPLACEMENT frame is refused loudly
    intercept[IllegalArgumentException] {
      TxTable.overwritePartitions(
        Seq((9, null)).toDF("k", "v"), t2, "v")
    }
  }

  test("overwritePartitions carries stats + bloom metadata on untouched files") {
    // r15 ADVICE (medium): the dynamic-overwrite commit used to drop
    // single-column stats and bloom entries for carried-over files,
    // silently disabling point/range pruning after one overwrite on
    // an indexed table. Untouched files must keep ALL their index
    // metadata; touched/fresh files lose blooms (fail-open) and get
    // recomputed stats.
    val t = freshTable()
    val base = Seq((1, "a"), (2, "a"), (3, "b"), (4, "b")).toDF("k", "v")
    TxTable.overwriteIndexedMulti(base, t, statCols = Nil,
      valueCols = Seq("v")) // v1: value sets for partition pruning
    val s1 = TxTable.snapshot(spark, t).get
    // graft single-column stats + blooms onto the same file set (no
    // single API writes all three families; the commit layer is the
    // contract under test)
    TxTable.commit(spark, t, s1.next("write").copy(
      statsCol = Some("k"),
      stats = s1.files.map(f => f -> (0.0, 100.0)).toMap,
      bloomCol = Some("k"),
      blooms = s1.files.map(f => f -> Array[Byte](1, 2, 3)).toMap))
    TxTable.overwritePartitions(df(30 -> "b"), t, "v") // v3
    val s3 = TxTable.snapshot(spark, t).get
    val untouched = s1.files.filter(f =>
      s1.fileValues.get(f).flatMap(_.get("v")).exists(vs => !vs("b")))
    assert(untouched.nonEmpty, "test setup: no provably-untouched file")
    assert(s3.statsCol === Some("k"), "statsCol dropped by the overwrite")
    assert(s3.bloomCol === Some("k"), "bloomCol dropped by the overwrite")
    untouched.foreach { f =>
      assert(s3.files.contains(f), s"untouched file $f was rewritten")
      assert(s3.stats.contains(f), s"untouched file $f lost its stats")
      assert(s3.blooms.contains(f), s"untouched file $f lost its bloom")
      assert(s3.fileValues.contains(f), s"untouched file $f lost values")
    }
    // fresh files: stats recomputed (statsCol is declared) for every
    // file with rows (a zero-row remainder file legitimately has no
    // stats entry — absent stats fail open), and never a bloom
    val freshFiles = s3.files.filterNot(s1.files.toSet)
    assert(freshFiles.nonEmpty)
    assert(freshFiles.exists(s3.stats.contains),
      s"no fresh file got recomputed stats: ${s3.stats.keySet}")
    assert(s3.stats.filterKeys(freshFiles.contains).values
      .exists(_ == (30.0, 30.0)), "fresh stats don't cover the new rows")
    freshFiles.foreach { f =>
      assert(!s3.blooms.contains(f), s"fresh file $f claims a bloom")
    }
    // and the carried metadata still reads correctly
    assert(TxTable.read(spark, t).as[(Int, String)].collect().sorted
      .toSeq === Seq(1 -> "a", 2 -> "a", 30 -> "b"))
  }

  test("overwritePartitions with an empty frame is a no-op, not an abort") {
    // Spark's partitionOverwriteMode=dynamic and Delta's replaceWhere
    // treat an empty input as "replace nothing" — an idempotent
    // backfill re-run against an empty upstream day must succeed
    val t = freshTable()
    TxTable.overwriteIndexedMulti(df(1 -> "a", 2 -> "b"), t,
      statCols = Nil, valueCols = Seq("v")) // v1
    val v = TxTable.overwritePartitions(
      df().filter(lit(false)), t, "v")
    assert(v === 1L, "empty overwrite committed a new version")
    assert(TxTable.read(spark, t).count() === 2)
  }

  test("overwritePartitions records delete+insert images in the change feed") {
    val t = freshTable()
    TxTable.enableChangeFeed(spark, t)
    TxTable.append(df(1 -> "a", 2 -> "b"), t) // v1 (v = partition col)
    TxTable.overwritePartitions(df(20 -> "b"), t, "v") // v2
    assert(feedRows(t, 1L) === Seq(
      (2, "b", "delete", 2L),
      (20, "b", "insert", 2L)))
  }

  test("renameColumn is metadata-only: files keep reading, history keeps old names") {
    val t = freshTable()
    TxTable.append(df(1 -> "a", 2 -> "b"), t) // v1
    val dataFiles1 = TxTable.snapshot(spark, t).get.files
    TxTable.renameColumn(spark, t, "v", "label") // v2: alter_mapping
    // same files — the rename rewrote zero data bytes
    assert(TxTable.snapshot(spark, t).get.files === dataFiles1)
    assert(TxTable.read(spark, t).columns.toSeq === Seq("k", "label"))
    assert(TxTable.read(spark, t).select("k", "label")
      .as[(Int, String)].collect().sorted.toSeq === Seq(1 -> "a", 2 -> "b"))
    // time travel BELOW the alter serves the old name
    assert(TxTable.read(spark, t, asOf = Some(1)).columns.toSeq ===
      Seq("k", "v"))
    // writes after the rename use the logical name; old and new files
    // agree on the stored physical name, so one scan reads both
    TxTable.append(Seq((3, "c")).toDF("k", "label"), t) // v3
    assert(TxTable.read(spark, t).as[(Int, String)].collect().sorted
      .toSeq === Seq(1 -> "a", 2 -> "b", 3 -> "c"))
    // renaming to an existing name, or a missing column, refuses
    intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, t, "k", "label") }
    intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, t, "gone", "x") }
    // rename CHAIN collapses to the original physical name
    TxTable.renameColumn(spark, t, "label", "tag") // v4
    assert(TxTable.read(spark, t).columns.toSeq === Seq("k", "tag"))
    assert(TxTable.read(spark, t, asOf = Some(3)).columns.toSeq ===
      Seq("k", "label"))
    // and renaming back to the physical name drops the mapping entry
    TxTable.renameColumn(spark, t, "tag", "v") // v5
    assert(TxTable.read(spark, t).columns.toSeq === Seq("k", "v"))
    // a name with a tab and a newline round-trips through the mapping
    // file, whose JSON escapes every control char
    val odd = "tab\there\nnext"
    TxTable.renameColumn(spark, t, "v", odd) // v6
    assert(TxTable.read(spark, t).columns.toSeq === Seq("k", odd))
    assert(TxTable.read(spark, t).as[(Int, String)].collect().sorted
      .toSeq === Seq(1 -> "a", 2 -> "b", 3 -> "c"))
    val sidecar = new String(Files.readAllBytes(
      java.nio.file.Paths.get(t, "_graft_log", "_mapping_v6.json")), "UTF-8")
    assert(!sidecar.exists(_ < ' '), sidecar)
  }

  test("renameColumn rekeys index metadata: pruning survives the rename") {
    val t = freshTable()
    val grid = (1 to 40).map(i => (i.toLong, s"g${i % 4}"))
      .toDF("x", "g")
    // statCols only: files cluster on x, so the x-range prune can skip
    TxTable.overwriteIndexedMulti(grid, t, statCols = Seq("x"))
    val before = TxTable.snapshot(spark, t).get
    assert(before.multiStats.values.exists(_.contains("x")))
    TxTable.renameColumn(spark, t, "x", "xid")
    val after = TxTable.snapshot(spark, t).get
    // stats moved to the new logical key — pruning still works
    assert(after.multiStats.values.forall(m =>
      m.contains("xid") && !m.contains("x")))
    val pruned = TxTable.readRange(spark, t, "xid", 1.0, 5.0)
    assert(pruned.as[(Long, String)].collect().map(_._1).sorted.toSeq ===
      (1L to 5L))
    // prune actually skipped files (not just filtered rows)
    assert(TxTable.pruneFilesWhere(after, Seq(("xid", 1.0, 5.0)), Nil)
      .size < after.files.size)
    // update through the mapping: the rewrite + change routing work
    // on logical names end to end
    TxTable.updateWhere(spark, t, Seq(("xid", 1.0, 1.0)), Nil,
      Map("g" -> lit("patched")))
    assert(TxTable.readRange(spark, t, "xid", 1.0, 1.0)
      .select($"g").as[String].head() === "patched")
  }

  test("dropColumn hides the column; re-ADD never resurfaces dropped data") {
    val t = freshTable()
    TxTable.append(Seq((1, "secret", 10.0), (2, "hush", 20.0))
      .toDF("k", "pii", "amt"), t) // v1
    TxTable.dropColumn(spark, t, "pii") // v2
    assert(TxTable.read(spark, t).columns.toSeq === Seq("k", "amt"))
    // time travel below the drop still serves it (until vacuum)
    assert(TxTable.read(spark, t, asOf = Some(1)).columns.toSeq ===
      Seq("k", "pii", "amt"))
    // writing the dropped name is refused (reserved physical)
    val e = intercept[Exception] {
      TxTable.append(Seq((3, "x", 1.0)).toDF("k", "pii", "amt"), t) }
    assert(e.getMessage.contains("reserved"))
    // remap + re-add via the SQL ALTER path gives a FRESH column:
    // old files' bytes stay invisible
    TxTable.remapNewColumn(spark, t, "pii") // v3
    TxTable.append(Seq((3, "fresh", 1.0)).toDF("k", "pii", "amt"), t) // v4
    val got = TxTable.read(spark, t, mergeSchema = true)
      .select($"k", $"pii").as[(Int, String)].collect().toMap
    assert(got === Map(1 -> null, 2 -> null, 3 -> "fresh"),
      "dropped data resurfaced under the re-added name")
  }

  test("merge with a NEW column widens the table in one commit, old rows null") {
    val t = freshTable()
    TxTable.append(df(1 -> "a", 2 -> "b"), t) // v1: (k, v)
    // autoMerge shape: updates carry `score`; carried row 1 reads null
    TxTable.merge(spark, t,
      Seq((2, "B", 20L), (3, "c", 30L)).toDF("k", "v", "score"), "k") // v2
    val got = TxTable.read(spark, t)
      .select($"k", $"v", $"score").as[(Int, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((1, "a", None), (2, "B", Some(20L)),
      (3, "c", Some(30L))))
  }

  test("applyCdc follows merge's schema rule: a NEW column widens table and declaration") {
    val t = freshTable()
    TxTable.append(df(1 -> "a", 2 -> "b", 3 -> "c"), t) // v1: (k, v)
    TxTable.declareSchema(spark, t, TxTable.read(spark, t).schema)
    // the batch carries `score`: 2 updates, 3 deletes, 4 inserts;
    // carried row 1 reads null for it, and the op column never lands
    TxTable.applyCdc(spark, t, Seq[(Int, String, Option[Long], String)](
      (2, "B", Some(20L), "u"), (3, "c", None, "d"), (4, "d", Some(40L), "i"))
      .toDF("k", "v", "score", "op"), "k", "op") // v2
    val got = TxTable.read(spark, t)
      .select($"k", $"v", $"score").as[(Int, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((1, "a", None), (2, "B", Some(20L)),
      (4, "d", Some(40L))))
    assert(TxTable.declaredSchema(spark, t).get.fieldNames.toSeq ===
      Seq("k", "v", "score"))
  }

  test("vacuumOlderThan drops exactly the pre-cutoff prefix; head survives") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "a"), t) // v1
    TxTable.append(df(2 -> "b"), t) // v2
    Thread.sleep(15)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(15)
    TxTable.append(df(3 -> "c"), t) // v3
    TxTable.append(df(4 -> "d"), t) // v4
    val (m, _) = TxTable.vacuumOlderThan(spark, t, cutoff)
    assert(m === 2, s"expected v1+v2 dropped, got $m manifests")
    // retained versions still read exactly; dropped ones are gone
    assert(TxTable.read(spark, t).count() === 4) // head references all rows
    assert(TxTable.snapshot(spark, t, Some(2L)).isEmpty,
      "time travel to a vacuumed version must say so, not guess")
    assert(TxTable.snapshot(spark, t, Some(3L)).get.version === 3L)
    // cutoff before everything: only the mandatory head retention
    val t2 = freshTable()
    TxTable.overwrite(df(1 -> "a"), t2)
    val (m2, _) = TxTable.vacuumOlderThan(spark, t2, 0L)
    assert(m2 === 0 && TxTable.read(spark, t2).count() === 1)
    // cutoff after everything: head still survives
    TxTable.append(df(2 -> "b"), t2)
    val (m3, _) = TxTable.vacuumOlderThan(spark, t2,
      System.currentTimeMillis() + 60000)
    assert(m3 === 1 && TxTable.read(spark, t2).count() === 2)
  }

  test("TIMESTAMP AS OF: newest version at or before the target clock") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "a"), t) // v1
    val ts1 = TxTable.snapshot(spark, t).get.ts
    assert(ts1 > 0L, "commit must stamp a wall clock")
    Thread.sleep(15)
    TxTable.append(df(2 -> "b"), t) // v2
    val ts2 = TxTable.snapshot(spark, t).get.ts
    assert(ts2 >= ts1)
    Thread.sleep(15)
    TxTable.append(df(3 -> "c"), t) // v3
    // between v1 and v2 → v1; at v2's own stamp → v2; far future → head
    assert(TxTable.readAsOfTimestamp(spark, t, ts1).count() === 1)
    assert(TxTable.readAsOfTimestamp(spark, t, ts2).count() === 2)
    assert(TxTable.readAsOfTimestamp(spark, t, ts2 - 1).count() === 1)
    assert(TxTable
      .readAsOfTimestamp(spark, t, System.currentTimeMillis() + 60000)
      .count() === 3)
    // before the first commit: a named refusal, not a wrong read
    val e = intercept[IllegalArgumentException] {
      TxTable.readAsOfTimestamp(spark, t, ts1 - 60000)
    }
    assert(e.getMessage.contains("no committed version"))
    // SQL surface: TIMESTAMP AS OF through the catalog
    val root = t.stripSuffix("/t")
    graft.sources.TxSql.installCatalog(spark, "txts", root)
    val iso = new java.sql.Timestamp(ts2).toString
    assert(spark.sql(
      s"SELECT count(*) FROM txts.t TIMESTAMP AS OF '$iso'")
      .as[Long].head() === 2L)
    // history surfaces the commit clocks for the picker
    val hts = TxTable.history(spark, t).select($"commit_ts").as[Long]
      .collect().toSeq
    assert(hts.size === 3 && hts.forall(_ > 0))
  }

  test("incremental view maintenance: signed deltas; emptied groups leave") {
    import graft.sources.IncrementalView
    val src = freshTable()
    val dst = freshTable()
    TxTable.enableChangeFeed(spark, src)
    TxTable.append(Seq((1, "a", 10L), (2, "a", 20L), (3, "b", 5L))
      .toDF("k", "g", "v"), src)
    IncrementalView.maintain(spark, src, dst, "g", "v")
    def view(): Seq[(String, Long, Long)] =
      TxTable.read(spark, dst).as[(String, Long, Long)]
        .collect().sorted.toSeq
    assert(view() === Seq(("a", 2L, 30L), ("b", 1L, 5L)))
    // delete empties group b entirely; update moves a's sum
    TxTable.deleteWhere(spark, src, Seq(("k", 3.0, 3.0)))
    TxTable.updateWhere(spark, src, Seq(("k", 1.0, 1.0)), Nil,
      Map("v" -> ($"v" + 100L)))
    val consumed = IncrementalView.maintain(spark, src, dst, "g", "v")
    assert(consumed === 3L)
    assert(view() === Seq(("a", 2L, 130L)),
      "group b must LEAVE the view when its count reaches zero")
    // replay is a no-op: the marker in dst's manifest already covers it
    assert(IncrementalView.maintain(spark, src, dst, "g", "v") === 3L)
    assert(view() === Seq(("a", 2L, 130L)))
  }

  test("maintainPartitioned rewrites ONLY touched-key files; untouched carry") {
    import graft.sources.IncrementalView
    val src = freshTable()
    val dst = freshTable()
    TxTable.enableChangeFeed(spark, src)
    TxTable.append(Seq((1, "a", 10L), (2, "a", 20L), (3, "b", 5L),
      (4, "c", 7L), (5, "d", 9L)).toDF("k", "g", "v"), src) // v1
    IncrementalView.maintainPartitioned(spark, src, dst, "g", "v")
    def view(): Seq[(String, Long, Long)] =
      TxTable.read(spark, dst).as[(String, Long, Long)]
        .collect().sorted.toSeq
    assert(view() === Seq(("a", 2L, 30L), ("b", 1L, 5L),
      ("c", 1L, 7L), ("d", 1L, 9L)))
    val snap1 = TxTable.snapshot(spark, dst).get
    assert(snap1.fileValues.values.exists(_.contains("g")),
      "partitioned view must record per-file key value sets")
    // delta touches ONLY group a (update) and b (emptied by delete)
    TxTable.deleteWhere(spark, src, Seq(("k", 3.0, 3.0))) // v2
    TxTable.updateWhere(spark, src, Seq(("k", 1.0, 1.0)), Nil,
      Map("v" -> ($"v" + 100L))) // v3
    val consumed = IncrementalView.maintainPartitioned(
      spark, src, dst, "g", "v")
    assert(consumed === 3L)
    assert(view() === Seq(("a", 2L, 130L), ("c", 1L, 7L), ("d", 1L, 9L)),
      "b must leave; a must fold; c/d untouched")
    // files provably holding ONLY untouched keys carried byte-identical
    val snap2 = TxTable.snapshot(spark, dst).get
    val untouchedFiles = snap1.files.filter(f =>
      snap1.fileValues.get(f).flatMap(_.get("g"))
        .exists(vs => !vs("a") && !vs("b")))
    assert(untouchedFiles.nonEmpty, "test setup: no provably-untouched file")
    untouchedFiles.foreach(f => assert(snap2.files.contains(f),
      s"untouched-key file $f was rewritten by a 2-key delta"))
    // marker landed atomically: replay is a no-op
    assert(IncrementalView.maintainPartitioned(
      spark, src, dst, "g", "v") === 3L)
    assert(view() === Seq(("a", 2L, 130L), ("c", 1L, 7L), ("d", 1L, 9L)))
    // and the partial path computes the SAME view as the full path
    val dst2 = freshTable()
    IncrementalView.maintain(spark, src, dst2, "g", "v")
    assert(TxTable.read(spark, dst2).as[(String, Long, Long)]
      .collect().sorted.toSeq === view())
  }

  test("maintainMinMax: support-count tiers absorb extremum deletes; rescan only on tier exhaustion") {
    import graft.sources.IncrementalView
    val src = freshTable()
    val dst = freshTable()
    TxTable.enableChangeFeed(spark, src)
    // a: values 1..10; b: 5,6,7; m: duplicate support {5,5,9}
    val base = (1 to 10).map(i => (i, "a", i.toLong)) ++
      Seq((21, "b", 5L), (22, "b", 6L), (23, "b", 7L),
        (31, "m", 5L), (32, "m", 5L), (33, "m", 9L))
    TxTable.append(base.toDF("k", "g", "v"), src) // v1
    def view(): Seq[(String, Long, Long, Long)] =
      TxTable.read(spark, dst).select($"g", $"n", $"mn", $"mx")
        .as[(String, Long, Long, Long)].collect().sorted.toSeq
    def recompute(): Seq[(String, Long, Long, Long)] =
      TxTable.read(spark, src).groupBy($"g")
        .agg(count(lit(1)), min($"v"), max($"v"))
        .as[(String, Long, Long, Long)].collect().sorted.toSeq
    // bootstrap (k=2 tiers so exhaustion is reachable)
    val (c1, r1) = IncrementalView.maintainMinMax(
      spark, src, dst, "g", "v", k = 2)
    assert(c1 === 1L && r1 === 0L)
    assert(view() === recompute())
    assert(view().find(_._1 == "a").get === (("a", 10L, 1L, 10L)))
    // delete a's current max: the tier serves the next value, no rescan
    TxTable.deleteWhere(spark, src, Seq(("k", 10.0, 10.0))) // v2
    val (c2, r2) = IncrementalView.maintainMinMax(
      spark, src, dst, "g", "v", k = 2)
    assert(c2 === 2L && r2 === 0L,
      s"an in-tier extremum delete must not rescan (rescanned $r2)")
    assert(view() === recompute())
    assert(view().find(_._1 == "a").get === (("a", 9L, 1L, 9L)))
    // delete the REST of a's hi tier: exhaustion → rescan of a ONLY
    TxTable.deleteWhere(spark, src, Seq(("k", 9.0, 9.0))) // v3
    val (c3, r3) = IncrementalView.maintainMinMax(
      spark, src, dst, "g", "v", k = 2)
    assert(c3 === 3L && r3 === 1L,
      s"tier exhaustion must rescan exactly the one group (got $r3)")
    assert(view() === recompute())
    assert(view().find(_._1 == "a").get === (("a", 8L, 1L, 8L)))
    // batch: b empties (leaves the view), a gains a new min BELOW the
    // tier boundary, one of m's duplicate-support 5s goes (support
    // count 2→1 — min must NOT move)
    TxTable.deleteWhere(spark, src, Seq(("k", 21.0, 23.0))) // v4
    TxTable.append(Seq((40, "a", 0L)).toDF("k", "g", "v"), src) // v5
    TxTable.deleteWhere(spark, src, Seq(("k", 31.0, 31.0))) // v6
    val (c4, r4) = IncrementalView.maintainMinMax(
      spark, src, dst, "g", "v", k = 2)
    assert(c4 === 6L && r4 === 0L)
    assert(view() === recompute())
    assert(view() === Seq(("a", 9L, 0L, 8L), ("m", 2L, 5L, 9L)),
      "b must leave; a's new min lands; m's duplicate support holds")
    // replay is a no-op at the marker
    assert(IncrementalView.maintainMinMax(
      spark, src, dst, "g", "v", k = 2) === ((6L, 0L)))
    assert(view() === recompute())
  }

  test("maintainJoin: two-sided delta rule equals full recompute; replay no-op") {
    import graft.sources.IncrementalView
    val srcA = freshTable() // facts (k, v)
    val srcB = freshTable() // dims (k, g)
    val dst = freshTable()
    TxTable.enableChangeFeed(spark, srcA)
    TxTable.enableChangeFeed(spark, srcB)
    TxTable.append(Seq((1L, 10L), (2L, 20L), (3L, 5L), (4L, 7L))
      .toDF("k", "v"), srcA) // A v1
    TxTable.append(Seq((1L, "a"), (2L, "a"), (3L, "b"), (5L, "c"))
      .toDF("k", "g"), srcB) // B v1
    IncrementalView.maintainJoin(spark, srcA, srcB, dst, "k", "g", "v")
    def view(): Seq[(String, Long, Long)] =
      TxTable.read(spark, dst).as[(String, Long, Long)]
        .collect().sorted.toSeq
    // k=4 has no dim, k=5 has no fact
    assert(view() === Seq(("a", 2L, 30L), ("b", 1L, 5L)))
    // two-sided churn, including SAME-KEY changes on both sides (k=2
    // gains a fact while its dim moves group — the Δ⋈Δ term):
    TxTable.append(Seq((5L, 100L), (2L, 50L)).toDF("k", "v"), srcA) // A v2
    TxTable.deleteWhere(spark, srcA, Seq(("v", 5.0, 5.0)))          // A v3
    TxTable.updateWhere(spark, srcB, Seq(("k", 2.0, 2.0)), Nil,
      Map("g" -> lit("z")))                                         // B v2
    TxTable.deleteWhere(spark, srcB, Seq(("k", 1.0, 1.0)))          // B v3
    val consumed =
      IncrementalView.maintainJoin(spark, srcA, srcB, dst, "k", "g", "v")
    assert(consumed === (3L, 3L))
    // full recompute: facts {1→10, 2→20, 2→50, 4→7, 5→100},
    // dims {2→z, 3→b, 5→c} ⇒ z:(2,70), c:(1,100); a and b leave
    assert(view() === Seq(("c", 1L, 100L), ("z", 2L, 70L)),
      "join-IVM diverged from the full recompute")
    // replay is a no-op at both markers
    assert(IncrementalView.maintainJoin(
      spark, srcA, srcB, dst, "k", "g", "v") === (3L, 3L))
    assert(view() === Seq(("c", 1L, 100L), ("z", 2L, 70L)))
    // one-sided advance: only A moves; B's feed contributes nothing
    TxTable.append(Seq((5L, 1L)).toDF("k", "v"), srcA) // A v4
    assert(IncrementalView.maintainJoin(
      spark, srcA, srcB, dst, "k", "g", "v") === (4L, 3L))
    assert(view() === Seq(("c", 2L, 101L), ("z", 2L, 70L)))
  }

  test("maintainJoinPartitioned rewrites ONLY touched-group clusters") {
    import graft.sources.IncrementalView
    val srcA = freshTable()
    val srcB = freshTable()
    val dst = freshTable()
    TxTable.enableChangeFeed(spark, srcA)
    TxTable.enableChangeFeed(spark, srcB)
    TxTable.append(Seq((1L, 10L), (2L, 20L), (3L, 5L), (4L, 7L),
      (5L, 9L)).toDF("k", "v"), srcA) // A v1
    TxTable.append(Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"),
      (5L, "d")).toDF("k", "g"), srcB) // B v1
    IncrementalView.maintainJoinPartitioned(
      spark, srcA, srcB, dst, "k", "g", "v")
    def view(): Seq[(String, Long, Long)] =
      TxTable.read(spark, dst).as[(String, Long, Long)]
        .collect().sorted.toSeq
    assert(view() === Seq(("a", 2L, 30L), ("b", 1L, 5L),
      ("c", 1L, 7L), ("d", 1L, 9L)))
    val snap1 = TxTable.snapshot(spark, dst).get
    assert(snap1.fileValues.values.exists(_.contains("g")),
      "partitioned join view must record per-file group value sets")
    // delta touches ONLY group a (fact update via delete+append on
    // k=1) and b (emptied: its only fact deleted)
    TxTable.deleteWhere(spark, srcA, Seq(("k", 3.0, 3.0))) // A v2
    TxTable.deleteWhere(spark, srcA, Seq(("k", 1.0, 1.0))) // A v3
    TxTable.append(Seq((1L, 110L)).toDF("k", "v"), srcA)   // A v4
    val consumed = IncrementalView.maintainJoinPartitioned(
      spark, srcA, srcB, dst, "k", "g", "v")
    assert(consumed === (4L, 1L))
    assert(view() === Seq(("a", 2L, 130L), ("c", 1L, 7L), ("d", 1L, 9L)),
      "b must leave; a must fold; c/d untouched")
    // files provably holding ONLY untouched groups carried over
    val snap2 = TxTable.snapshot(spark, dst).get
    val untouched = snap1.files.filter(f =>
      snap1.fileValues.get(f).flatMap(_.get("g"))
        .exists(vs => !vs("a") && !vs("b")))
    assert(untouched.nonEmpty, "test setup: no provably-untouched file")
    untouched.foreach(f => assert(snap2.files.contains(f),
      s"untouched-group file $f was rewritten by a 2-group delta"))
    // replay no-op; partial path equals the full path
    assert(IncrementalView.maintainJoinPartitioned(
      spark, srcA, srcB, dst, "k", "g", "v") === (4L, 1L))
    val dst2 = freshTable()
    IncrementalView.maintainJoin(spark, srcA, srcB, dst2, "k", "g", "v")
    assert(TxTable.read(spark, dst2).as[(String, Long, Long)]
      .collect().sorted.toSeq === view())
  }

  test("maintainJoin over DV-DML'd sources: merge-on-read images fold exactly") {
    import graft.sources.IncrementalView
    val srcA = freshTable() // facts (k, v)
    val srcB = freshTable() // dims (k, g)
    val dst = freshTable()
    TxTable.enableChangeFeed(spark, srcA)
    TxTable.enableChangeFeed(spark, srcB)
    TxTable.enableDeletionVectors(spark, srcA)
    TxTable.enableDeletionVectors(spark, srcB)
    TxTable.append(Seq((1L, 10L), (2L, 20L), (3L, 5L))
      .toDF("k", "v"), srcA) // A v1
    TxTable.append(Seq((1L, "a"), (2L, "a"), (3L, "b"))
      .toDF("k", "g"), srcB) // B v1
    IncrementalView.maintainJoin(spark, srcA, srcB, dst, "k", "g", "v")
    def view(): Seq[(String, Long, Long)] =
      TxTable.read(spark, dst).as[(String, Long, Long)]
        .collect().sorted.toSeq
    assert(view() === Seq(("a", 2L, 30L), ("b", 1L, 5L)))
    // DV DML on BOTH sides: a merge-on-read DELETE on the fact and a
    // DV MERGE on the dim — the feeds record the same images as CoW,
    // so the fold must stay exact (and the A-side read is dv-aware)
    TxTable.deleteWhere(spark, srcA, Seq(("k", 1.0, 1.0)))   // A v2 (DV)
    TxTable.merge(spark, srcB,
      Seq((3L, "z")).toDF("k", "g"), "k")                    // B v2 (DV)
    assert(TxTable.snapshot(spark, srcA).get.dels.nonEmpty)
    assert(TxTable.snapshot(spark, srcB).get.dels.nonEmpty)
    val consumed =
      IncrementalView.maintainJoin(spark, srcA, srcB, dst, "k", "g", "v")
    assert(consumed === (2L, 2L))
    // recompute: facts {2→20, 3→5}, dims {1→a, 2→a, 3→z}
    assert(view() === Seq(("a", 1L, 20L), ("z", 1L, 5L)),
      "join-IVM over DV feeds diverged from the recompute")
    assert(IncrementalView.maintainJoin(
      spark, srcA, srcB, dst, "k", "g", "v") === (2L, 2L))
  }

  test("applyFeedBatch: exactly-once fold of a CDF micro-batch by epoch") {
    import graft.sources.IncrementalView
    val src = freshTable()
    val dst = freshTable()
    TxTable.enableChangeFeed(spark, src)
    TxTable.append(Seq((1, "a", 10L), (2, "b", 20L))
      .toDF("k", "g", "v"), src) // v1
    val batch1 = TxTable.changeFeed(spark, src, 0L, Some(1L))
    assert(IncrementalView.applyFeedBatch(batch1, dst, "g", "v", "q", 1L))
    // replayed epoch: returns false, view unchanged
    assert(!IncrementalView.applyFeedBatch(batch1, dst, "g", "v", "q", 1L))
    assert(TxTable.read(spark, dst).as[(String, Long, Long)]
      .collect().sorted.toSeq === Seq(("a", 1L, 10L), ("b", 1L, 20L)))
    TxTable.deleteWhere(spark, src, Seq(("k", 2.0, 2.0))) // v2
    val batch2 = TxTable.changeFeed(spark, src, 1L, Some(2L))
    assert(IncrementalView.applyFeedBatch(batch2, dst, "g", "v", "q", 2L))
    assert(TxTable.read(spark, dst).as[(String, Long, Long)]
      .collect().sorted.toSeq === Seq(("a", 1L, 10L)))
  }

  // ---- change data feed (Delta CDF analog) ----

  private def feedRows(t: String, from: Long): Seq[(Int, String, String, Long)] =
    TxTable.changeFeed(spark, t, from)
      .select($"k", $"v", col(TxTable.ChangeTypeCol),
        col(TxTable.CommitVersionCol))
      .as[(Int, String, String, Long)].collect().toSeq.sorted

  test("change feed: appends derive inserts; update/delete record images") {
    val t = freshTable()
    TxTable.enableChangeFeed(spark, t)
    TxTable.append(df(1 -> "a", 2 -> "b"), t) // v1
    TxTable.append(df(3 -> "c"), t) // v2
    TxTable.updateWhere(spark, t, Seq(("k", 2.0, 3.0)), Nil,
      Map("v" -> upper($"v"))) // v3
    TxTable.deleteWhere(spark, t, Seq(("k", 1.0, 1.0))) // v4
    assert(feedRows(t, 0L) === Seq(
      (1, "a", "delete", 4L),
      (1, "a", "insert", 1L),
      (2, "B", "update_postimage", 3L),
      (2, "b", "insert", 1L),
      (2, "b", "update_preimage", 3L),
      (3, "C", "update_postimage", 3L),
      (3, "c", "insert", 2L),
      (3, "c", "update_preimage", 3L)))
    // a consumer that already processed v2 sees only the DML delta
    assert(feedRows(t, 2L).map(_._4).forall(v => v == 3L || v == 4L))
    assert(feedRows(t, 2L).size === 5)
    // the head table itself is untouched by the recording
    assert(TxTable.read(spark, t).as[(Int, String)].collect().sorted
      .toSeq === Seq(2 -> "B", 3 -> "C"))
  }

  test("change feed: merge and applyCdc pair pre/post and split inserts") {
    val t = freshTable()
    TxTable.enableChangeFeed(spark, t)
    TxTable.append(df(1 -> "a", 2 -> "b"), t) // v1
    TxTable.merge(spark, t, df(2 -> "B", 3 -> "c"), key = "k") // v2
    assert(feedRows(t, 1L) === Seq(
      (2, "B", "update_postimage", 2L),
      (2, "b", "update_preimage", 2L),
      (3, "c", "insert", 2L)))
    val cdc = Seq((1, "x", "d"), (3, "C", "u"), (4, "d", "u"))
      .toDF("k", "v", "op")
    TxTable.applyCdc(spark, t, cdc, key = "k", opCol = "op") // v3
    assert(feedRows(t, 2L) === Seq(
      (1, "a", "delete", 3L),
      (3, "C", "update_postimage", 3L),
      (3, "c", "update_preimage", 3L),
      (4, "d", "insert", 3L)))
    assert(TxTable.read(spark, t).as[(Int, String)].collect().sorted
      .toSeq === Seq(2 -> "B", 3 -> "C", 4 -> "d"))
  }

  test("change feed: compact is silent; unrecorded DML and overwrite fail fast") {
    // compact changes no rows: the feed skips it and keeps working
    val t = freshTable()
    TxTable.enableChangeFeed(spark, t)
    TxTable.append(df(1 -> "a"), t)
    TxTable.append(df(2 -> "b"), t)
    TxTable.compact(spark, t, targetFiles = 1) // v3
    TxTable.append(df(3 -> "c"), t) // v4
    assert(feedRows(t, 0L).map(r => (r._1, r._3, r._4)) === Seq(
      (1, "insert", 1L), (2, "insert", 2L), (3, "insert", 4L)))
    // DML with the feed DISABLED leaves no record: reading across it
    // must fail loudly, never silently mis-deliver
    val t2 = freshTable()
    TxTable.append(df(1 -> "a", 2 -> "b"), t2)
    TxTable.deleteWhere(spark, t2, Seq(("k", 1.0, 1.0)))
    val e = intercept[IllegalArgumentException] { feedRows(t2, 0L) }
    assert(e.getMessage.contains("not recorded"))
    // overwrite with the feed ENABLED derives its delta from the
    // manifest: removed files feed deletes, added files feed inserts
    // (Delta CDF's overwrite discipline — r15 ADVICE)
    val t3 = freshTable()
    TxTable.enableChangeFeed(spark, t3)
    TxTable.append(df(1 -> "a"), t3)
    TxTable.overwrite(df(9 -> "z"), t3) // v2
    assert(feedRows(t3, 1L) === Seq(
      (1, "a", "delete", 2L), (9, "z", "insert", 2L)))
    // ... and restore derives the inverse images the same way
    TxTable.restore(spark, t3, 1) // v3: back to {1 -> a}
    assert(feedRows(t3, 2L) === Seq(
      (1, "a", "insert", 3L), (9, "z", "delete", 3L)))
    // with the feed DISABLED, overwrite still severs the feed loudly
    val t4 = freshTable()
    TxTable.append(df(1 -> "a"), t4)
    TxTable.overwrite(df(9 -> "z"), t4)
    val e2 = intercept[IllegalArgumentException] {
      TxTable.changeFeed(spark, t4, 0L).collect()
    }
    assert(e2.getMessage.contains("overwrite"))
  }

  test("change feed across schema evolution: old inserts surface null") {
    val t = freshTable()
    TxTable.enableChangeFeed(spark, t)
    TxTable.append(df(1 -> "a"), t) // v1: narrow schema (k, v)
    TxTable.append(Seq((2, "b", 99L)).toDF("k", "v", "extra"), t) // v2: wider
    TxTable.deleteWhere(spark, t, Seq(("k", 1.0, 1.0))) // v3: narrow images
    val feed = TxTable.changeFeed(spark, t, 0L)
    assert(feed.columns.contains("extra"),
      "the union feed must surface the evolved column")
    val rows = feed.select($"k", $"extra",
        col(TxTable.ChangeTypeCol), col(TxTable.CommitVersionCol))
      .as[(Int, Option[Long], String, Long)].collect().toSeq
      .sortBy(r => (r._4, r._1))
    assert(rows === Seq(
      (1, None, "insert", 1L),
      (2, Some(99L), "insert", 2L),
      (1, None, "delete", 3L)),
      s"evolved feed mismatch: $rows")
  }

  test("change feed: vacuum reclaims unreferenced change files, feed fails fast") {
    val t = freshTable()
    TxTable.enableChangeFeed(spark, t)
    TxTable.append(df(1 -> "a", 2 -> "b"), t) // v1
    TxTable.deleteWhere(spark, t, Seq(("k", 1.0, 1.0))) // v2: records changes
    TxTable.append(df(3 -> "c"), t) // v3
    // before vacuum the full feed reads
    assert(feedRows(t, 0L).size === 4)
    val fs = new org.apache.hadoop.fs.Path(t, "_changes")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(t, "_changes"))
      .exists(_.getPath.getName.endsWith(".parquet")))
    TxTable.vacuum(spark, t, retainLast = 1)
    // v2's change files are unreferenced by the retained head manifest
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(t, "_changes"))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(left === 0, s"$left change files survived vacuum")
    // and a consumer that lost its place is told so
    intercept[IllegalArgumentException] { feedRows(t, 0L) }
  }

  /** Jobs started by `body` on this thread. Listener events arrive
    * asynchronously, so a marker job is run after `body` and awaited:
    * once the listener has seen it, every earlier job start has been
    * delivered too. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val probe = s"construct-${java.util.UUID.randomUUID}"
    val marker = s"$probe-marker"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(probe, "construction probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(marker), "listener never saw the marker job")
      groups.toArray.count(_ == probe)
    } finally sc.removeSparkListener(listener)
  }

  test("constructing read / asOf / readRange / changeFeed frames runs no job") {
    val t = freshTable()
    TxTable.enableChangeFeed(spark, t)
    TxTable.overwriteIndexed((1 to 40).map(i => (i, s"v$i")).toDF("k", "v"), t, "k")
    TxTable.append(df(41 -> "x", 42 -> "y"), t)
    TxTable.updateWhere(spark, t, Seq(("k", 1.0, 5.0)), Nil,
      Map("v" -> lit("u")))
    val dv = freshTable()
    TxTable.enableDeletionVectors(spark, dv)
    TxTable.overwrite(df(1 -> "a", 2 -> "b", 3 -> "c"), dv)
    TxTable.deleteWhere(spark, dv, Seq(("k", 2.0, 2.0)))
    // more files than Spark's listing lists on the driver (32)
    val wide = freshTable()
    TxTable.overwrite(spark.range(0, 400, 1, 40).toDF("k"), wide)
    assert(TxTable.snapshot(spark, wide).get.files.size === 40)
    val root = new java.io.File(wide).getParent
    graft.sources.TxSql.installCatalog(spark, "txwide", root)
    val built = Seq(
      "read" -> (() => TxTable.read(spark, t)),
      "read(asOf)" -> (() => TxTable.read(spark, t, asOf = Some(1))),
      "readRange" -> (() => TxTable.readRange(spark, t, "k", 3.0, 12.0)),
      "changeFeed" -> (() => TxTable.changeFeed(spark, t, 0L)),
      "read with deletion vectors" -> (() => TxTable.read(spark, dv)),
      "read of 40 files" -> (() => TxTable.read(spark, wide)),
      "SQL scan of 40 files" -> (() => spark.sql("SELECT k FROM txwide.t")))
    built.foreach { case (name, make) =>
      var frame: org.apache.spark.sql.DataFrame = null
      val jobs = jobsDuring { frame = make() }
      assert(jobs === 0, s"constructing $name started $jobs job(s)")
      assert(frame.count() > 0, s"$name is empty — the probe is vacuous")
    }
  }

  test("scanFiles schema == Spark's inferred schema for every table-owned file set") {
    import graft.sources.IncrementalView
    def abs(t: String, fs: Seq[String]) =
      fs.map(new org.apache.hadoop.fs.Path(t, _).toString)
    def files(t: String) = abs(t, TxTable.snapshot(spark, t).get.files)
    def same(what: String, paths: Seq[String]) = {
      val got = TxTable.scanFiles(spark, paths).schema
      assert(got === spark.read.parquet(paths: _*).schema, what)
      got
    }
    // plain data files
    val plain = freshTable()
    TxTable.overwrite(df(1 -> "a", 2 -> "b"), plain)
    TxTable.append(df(3 -> "c"), plain)
    same("plain", files(plain))
    // change files carrying _change_type
    val cdf = freshTable()
    TxTable.enableChangeFeed(spark, cdf)
    TxTable.append(Seq((1, "a", 10L), (2, "b", 20L)).toDF("k", "g", "v"), cdf)
    TxTable.updateWhere(spark, cdf, Seq(("k", 1.0, 1.0)), Nil,
      Map("v" -> lit(11L)))
    val changes = abs(cdf, TxTable.snapshot(spark, cdf).get.changes)
    assert(changes.nonEmpty, "update recorded no change files")
    assert(same("change files", changes).fieldNames
      .contains(TxTable.ChangeTypeCol))
    // a maintainMinMax view (array tier columns)
    val view = freshTable()
    IncrementalView.maintainMinMax(spark, cdf, view, "g", "v")
    same("min/max view", files(view))
    // a column-mapped table: files speak physical names
    val mapped = freshTable()
    TxTable.overwrite(df(1 -> "a"), mapped)
    TxTable.renameColumn(spark, mapped, "v", "w")
    TxTable.append(Seq((2, "b")).toDF("k", "w"), mapped)
    same("column-mapped", files(mapped))
    // a table with deletion vectors
    val dv = freshTable()
    TxTable.enableDeletionVectors(spark, dv)
    TxTable.overwrite(df(1 -> "a", 2 -> "b", 3 -> "c"), dv)
    TxTable.deleteWhere(spark, dv, Seq(("k", 2.0, 2.0)))
    assert(TxTable.snapshot(spark, dv).get.dels.nonEmpty)
    same("deletion vectors", files(dv))
    // an evolved table: the first file by name decides, in either order
    val evolved = freshTable()
    TxTable.overwrite(df(1 -> "a"), evolved)
    TxTable.append(Seq((2, "b", 20L)).toDF("k", "v", "extra"), evolved)
    val before = TxTable.snapshot(spark, evolved, Some(1)).get.files.toSet
    val (oldF, newF) = TxTable.snapshot(spark, evolved).get.files
      .partition(before)
    val oldFirst = abs(evolved, oldF ++ newF)
    val newFirst = abs(evolved, newF ++ oldF)
    assert(spark.read.parquet(oldFirst.head).schema !=
      spark.read.parquet(newFirst.head).schema, "the append did not evolve")
    val evolvedSchema = same("evolved, old first", oldFirst)
    assert(same("evolved, new first", newFirst) === evolvedSchema)
    assert(evolvedSchema === spark.read.parquet(oldFirst.min).schema)
    // mergeSchema, by argument and by session conf: Spark's union
    Seq(oldFirst, newFirst).foreach { paths =>
      val merged =
        TxTable.scanFiles(spark, paths, mergeSchema = Some(true)).schema
      assert(merged === spark.read.option("mergeSchema", "true")
        .parquet(paths: _*).schema)
      assert(merged.fieldNames.contains("extra"))
      spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      try assert(same("merge by conf", paths) === merged)
      finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    }
  }

  test("read and DML keep their own mergeSchema over the session setting") {
    /** An evolved table read, then rewritten by an UPDATE touching
      * every file, with the session's mergeSchema on or off. */
    def readThenUpdate(sessionMerge: Boolean) = {
      val t = freshTable()
      TxTable.overwrite(df(1 -> "a", 2 -> "b"), t)
      TxTable.append(Seq((3, "c", 30L)).toDF("k", "v", "extra"), t)
      if (sessionMerge) spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      try {
        val schema = TxTable.read(spark, t).schema
        TxTable.updateWhere(spark, t, Seq(("k", 1.0, 3.0)), Nil,
          Map("v" -> lit("u")))
        (schema, TxTable.read(spark, t).schema,
          TxTable.read(spark, t).collect().map(_.toString).sorted.toSeq)
      } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    }
    val off = readThenUpdate(sessionMerge = false)
    // v1's file sorts first: its footer, without the added column
    assert(off._1.fieldNames.toSeq === Seq("k", "v"))
    assert(readThenUpdate(sessionMerge = true) === off)
  }

  // ---- the one parquet writer and the view folds it serves ----

  test("all four view folds keep ONE row per NULL key, equal to GROUP BY") {
    import graft.sources.IncrementalView
    val src = freshTable()
    val dim = freshTable()
    TxTable.enableChangeFeed(spark, src)
    TxTable.enableChangeFeed(spark, dim)
    TxTable.append(Seq((1, Some("x")), (2, None), (3, None), (4, None),
      (5, Some("x")), (6, Some("y"))).toDF("k", "grp"), dim)
    val (sumV, mmV, joinV, feedV) =
      (freshTable(), freshTable(), freshTable(), freshTable())
    def sortedRows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    def foldAndCheck(epoch: Long): Unit = {
      IncrementalView.maintain(spark, src, sumV, "g", "v")
      IncrementalView.maintainMinMax(spark, src, mmV, "g", "v")
      IncrementalView.maintainJoin(spark, src, dim, joinV, "k", "grp", "v")
      IncrementalView.applyFeedBatch(
        TxTable.changeFeed(spark, src, epoch - 1, Some(epoch)),
        feedV, "g", "v", "feed", epoch)
      val live = TxTable.read(spark, src)
      val sums = sortedRows(live.groupBy($"g")
        .agg(count(lit(1)).as("n"), sum($"v").as("s")))
      assert(sortedRows(TxTable.read(spark, sumV).select($"g", $"n", $"s"))
        === sums, s"maintain after fold $epoch")
      assert(sortedRows(TxTable.read(spark, feedV)
        .select($"g", $"n", $"s")) === sums,
        s"applyFeedBatch after fold $epoch")
      assert(sortedRows(TxTable.read(spark, mmV)
        .select($"g", $"n", $"mn", $"mx")) === sortedRows(live.groupBy($"g")
        .agg(count(lit(1)), min($"v"), max($"v"))),
        s"maintainMinMax after fold $epoch")
      assert(sortedRows(TxTable.read(spark, joinV)
        .select($"grp", $"n", $"s")) === sortedRows(
        live.join(TxTable.read(spark, dim), "k").groupBy($"grp")
          .agg(count(lit(1)), sum($"v"))),
        s"maintainJoin after fold $epoch")
    }
    TxTable.append(Seq((1, Some("a"), 5L), (2, None, 2L), (3, None, 3L))
      .toDF("k", "g", "v"), src) // v1
    foldAndCheck(1L)
    TxTable.append(Seq((4, None, 9L), (5, Some("a"), 1L), (6, Some("b"), 7L))
      .toDF("k", "g", "v"), src) // v2
    foldAndCheck(2L)
  }

  test("a count/sum fold runs 2 jobs, a min/max fold without rescan 2") {
    import graft.sources.IncrementalView
    val src = freshTable()
    val (sumV, mmV) = (freshTable(), freshTable())
    TxTable.enableChangeFeed(spark, src)
    TxTable.append((1 to 30).map(i => (i, s"g${i % 3}", i.toLong))
      .toDF("k", "g", "v"), src)
    IncrementalView.maintain(spark, src, sumV, "g", "v")
    IncrementalView.maintainMinMax(spark, src, mmV, "g", "v")
    TxTable.append((31 to 40).map(i => (i, s"g${i % 3}", i.toLong))
      .toDF("k", "g", "v"), src)
    // one aggregation (a shuffle-map job under AQE) + the write job
    assert(jobsDuring(IncrementalView.maintain(spark, src, sumV, "g", "v"))
      === 2)
    var rescanned = -1L
    assert(jobsDuring {
      rescanned = IncrementalView.maintainMinMax(spark, src, mmV, "g", "v")._2
    } === 2)
    assert(rescanned === 0L)
  }

  test("writes, DML, view folds, compaction and vacuum start no process") {
    import graft.sources.IncrementalView
    import jdk.jfr.consumer.RecordingStream
    val t = freshTable()
    val (sumV, mmV) = (freshTable(), freshTable())
    TxTable.enableChangeFeed(spark, t)
    TxTable.append((1 to 20).map(i => (i, s"v${i % 4}")).toDF("k", "v"), t)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val flushes = new java.util.concurrent.atomic.AtomicInteger
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => started.add(e.getString("command")))
      rs.onFlush(() => flushes.incrementAndGet())
      rs.startAsync()
      TxTable.append(df(21 -> "v1", 22 -> "v2"), t)
      TxTable.deleteWhere(spark, t, Seq(("k", 1.0, 3.0)))
      TxTable.merge(spark, t, df(4 -> "m", 30 -> "v3"), "k")
      IncrementalView.maintain(spark, t, sumV, "v", "k")
      IncrementalView.maintainMinMax(spark, t, mmV, "v", "k")
      TxTable.compact(spark, t, 1)
      TxTable.vacuum(spark, t, 1)
      // the probe's own process: the stream does see a fork
      new ProcessBuilder("true").start().waitFor()
      // every event committed so far is delivered by the second flush
      val seen = flushes.get
      val deadline = System.nanoTime() + 30000000000L
      while (flushes.get < seen + 2 && System.nanoTime() < deadline)
        Thread.sleep(20)
      val cmds = started.toArray.map(_.toString).toSeq
      assert(cmds.size === 1 && cmds.head.endsWith("true"),
        s"${cmds.size - 1} process(es) started by the table ops: " +
          cmds.take(5).mkString("; "))
    } finally rs.close()
  }

  /** (footer schema, Spark row metadata, codecs) of one parquet file. */
  private def footerOf(file: String): (String, String, Set[String]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file),
      spark.sparkContext.hadoopConfiguration))
    try {
      val f = r.getFooter
      (f.getFileMetaData.getSchema.toString,
        f.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"),
        f.getBlocks.asScala.flatMap(_.getColumns.asScala
          .map(_.getCodec.name)).toSet)
    } finally r.close()
  }

  test("writeFiles writes the footers and file counts of df.write.parquet") {
    import graft.sources.IncrementalView
    /** writeFiles' files and df.write.parquet's for the same frame. */
    def both(frame: org.apache.spark.sql.DataFrame,
        table: String = freshTable()): (Seq[String], Seq[String]) = {
      val ours = TxTable.writeFiles(frame, table, 99L).paths
        .map(f => new org.apache.hadoop.fs.Path(table, f).toString)
      val ref = Files.createTempDirectory("graft_ref_").toString + "/out"
      frame.write.parquet(ref)
      val refs = new java.io.File(ref).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).sorted.toSeq
      (ours, refs)
    }
    def sameFooters(what: String, frame: org.apache.spark.sql.DataFrame,
        table: String = freshTable()): Int = {
      val (ours, refs) = both(frame, table)
      assert(ours.size === refs.size, s"$what: file count")
      assert(ours.map(footerOf).toSet === refs.map(footerOf).toSet,
        s"$what: footers")
      ours.size
    }
    sameFooters("plain", (1 to 20).toDF("k")
      .select($"k", concat(lit("v"), $"k").as("v"), lit(3L).as("c")))
    // arrays: min/max view state
    val src = freshTable()
    TxTable.enableChangeFeed(spark, src)
    TxTable.append((1 to 12).map(i => (i, s"g${i % 2}", i.toLong))
      .toDF("k", "g", "v"), src)
    val view = freshTable()
    IncrementalView.maintainMinMax(spark, src, view, "g", "v")
    sameFooters("min/max view state", TxTable.read(spark, view))
    sameFooters("nested", (1 to 5).toDF("k").select($"k",
      struct($"k".as("a"), struct(lit("x").as("b")).as("in")).as("s"),
      array(struct($"k".as("e"))).as("arr"),
      map(lit("m"), $"k").as("mp")))
    // a column-mapped table: writeFiles stores the physical names,
    // exactly the frame the table's own files hold
    val mapped = freshTable()
    TxTable.overwrite(df(1 -> "a", 2 -> "b"), mapped)
    TxTable.renameColumn(spark, mapped, "v", "w")
    val (ours, _) = both(TxTable.read(spark, mapped), mapped)
    val physical = TxTable.scanFiles(spark,
      TxTable.snapshot(spark, mapped).get.files
        .map(f => new org.apache.hadoop.fs.Path(mapped, f).toString))
    val ref = Files.createTempDirectory("graft_ref_").toString + "/out"
    physical.coalesce(1).write.parquet(ref)
    assert(ours.map(footerOf).toSet === new java.io.File(ref).listFiles()
      .map(_.toString).filter(_.endsWith(".parquet")).map(footerOf).toSet,
      "column-mapped: footers")
    // an empty frame still leaves exactly one file carrying the schema
    assert(sameFooters("empty", df().limit(0)) === 1)
    assert(sameFooters("empty local", Seq.empty[(Int, String)]
      .toDF("k", "v")) === 1)
    // k non-empty partitions give k files; an empty partition 0 a file
    assert(sameFooters("4 partitions", spark.range(0, 40, 1, 4).toDF()) === 4)
    assert(sameFooters("sparse partitions",
      spark.range(0, 2, 1, 4).toDF()) === 3)
    // a NullType column and an unsupported type: each is written, or
    // rejected, exactly as Spark's own write does
    Seq("void" -> lit(null), "interval" -> expr("interval 1 day"))
      .foreach { case (what, c) =>
        val frame = df(1 -> "a").withColumn("z", c)
        val ref = scala.util.Try(frame.write.parquet(
          Files.createTempDirectory("graft_ref_").toString + "/out"))
        val ours = scala.util.Try(TxTable.writeFiles(frame, freshTable(), 1L))
        assert(ours.isSuccess === ref.isSuccess, what)
        ours.failed.foreach(e =>
          assert(e.getMessage === ref.failed.get.getMessage, what))
        if (ours.isSuccess) sameFooters(what, frame)
      }
  }

  test("a bucketed compact writes one file per bucket") {
    import graft.sources.TxSql
    val root = Files.createTempDirectory("graft_bucket_").toString
    TxSql.installCatalog(spark, "wbk", root)
    spark.sql("CREATE TABLE wbk.t (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    (1 to 3).foreach { b =>
      (1 to 40).map(i => ((b * 100 + i).toLong, s"v$i")).toDF("k", "v")
        .createOrReplaceTempView("wbk_src")
      spark.sql("INSERT INTO wbk.t SELECT k, v FROM wbk_src")
    }
    val t = s"$root/t"
    assert(TxTable.snapshot(spark, t).get.files.size > 4)
    TxTable.compact(spark, t, 1)
    val snap = TxTable.snapshot(spark, t).get
    val sets = snap.files.map(f =>
      snap.fileValues.get(f).flatMap(_.get("bucket(4,k)")))
    assert(snap.files.size === 4, s"files: ${snap.files}")
    assert(sets.forall(_.exists(_.size == 1)) &&
      sets.flatMap(_.get).flatten.toSet.size === 4, s"bucket sets: $sets")
    assert(TxTable.read(spark, t).count() === 120L)
  }

  test("a table whose data file is gone fails when the frame is built, naming the file") {
    val t = freshTable()
    TxTable.overwrite(df(1 -> "a", 2 -> "b"), t)
    val gone = TxTable.snapshot(spark, t).get.files.head
    assert(new java.io.File(t, gone).delete())
    val e = intercept[Exception](TxTable.read(spark, t))
    assert(e.getMessage.contains(gone.split('/').last), e.getMessage)
  }

  test("applyCdc records a key its NULL op hides as a change-feed delete") {
    Seq(false, true).foreach { dv =>
      val t = freshTable()
      TxTable.enableChangeFeed(spark, t)
      if (dv) TxTable.enableDeletionVectors(spark, t)
      TxTable.overwrite(df(1 -> "a", 2 -> "b", 3 -> "c"), t)
      val v = TxTable.applyCdc(spark, t,
        Seq((1, "A", "u"), (2, "B", null)).toDF("k", "v", "op"), "k", "op")
      assert(TxTable.read(spark, t).as[(Int, String)].collect().sorted.toSeq
        === Seq(1 -> "A", 3 -> "c"), s"dv=$dv: table")
      val feed = TxTable.changeFeed(spark, t, v - 1)
        .select($"k", $"v", col(TxTable.ChangeTypeCol))
        .as[(Int, String, String)].collect().sorted.toSeq
      assert(feed === Seq((1, "A", "update_postimage"),
        (1, "a", "update_preimage"), (2, "b", "delete")), s"dv=$dv: feed")
    }
  }

  test("DML and compaction on an evolved table keep the column an append added") {
    Seq(false, true).foreach { dv =>
      val t = freshTable()
      if (dv) TxTable.enableDeletionVectors(spark, t)
      TxTable.overwrite(df(1 -> "a", 2 -> "b"), t)
      TxTable.append(Seq((3, "c", 30L), (4, "d", 40L)).toDF("k", "v", "x"), t)
      // touches the file before the append and the file after it
      TxTable.updateWhere(spark, t, Seq(("k", 2.0, 3.0)), Nil,
        Map("v" -> lit("u")))
      def rows = TxTable.read(spark, t, mergeSchema = true)
        .select($"k", $"v", $"x").as[(Int, String, Option[Long])]
        .collect().sortBy(_._1).toSeq
      assert(rows === Seq((1, "a", None), (2, "u", None), (3, "u", Some(30L)),
        (4, "d", Some(40L))), s"dv=$dv: update")
      TxTable.deleteWhere(spark, t, Seq(("k", 1.0, 1.0)))
      assert(rows === Seq((2, "u", None), (3, "u", Some(30L)),
        (4, "d", Some(40L))), s"dv=$dv: delete")
      TxTable.merge(spark, t, Seq((2, "m", 20L)).toDF("k", "v", "x"), "k")
      TxTable.compact(spark, t, 1)
      assert(rows === Seq((2, "m", Some(20L)), (3, "u", Some(30L)),
        (4, "d", Some(40L))), s"dv=$dv: merge + compact")
    }
  }

  test("with the change feed on, an indexed update or delete commit is one job; compact at most 3") {
    val t = freshTable()
    TxTable.enableChangeFeed(spark, t)
    TxTable.overwriteIndexed((1 to 40).map(i => (i, s"v$i")).toDF("k", "v"),
      t, "k")
    val update = jobsDuring(TxTable.updateWhere(spark, t,
      Seq(("k", 1.0, 5.0)), Nil, Map("v" -> lit("u"))))
    val delete = jobsDuring(TxTable.deleteWhere(spark, t,
      Seq(("k", 30.0, 35.0))))
    val compact = jobsDuring(TxTable.compact(spark, t, 2))
    assert(update === 1, "update commit jobs")
    assert(delete === 1, "delete commit jobs")
    assert(compact <= 3, s"compact commit jobs: $compact")
    // the commits did their work and kept the index
    val snap = TxTable.snapshot(spark, t).get
    assert(TxTable.read(spark, t).count() === 34L)
    assert(TxTable.read(spark, t).filter($"v" === "u").count() === 5L)
    assert(snap.files.forall(snap.stats.contains), s"stats: ${snap.stats}")
    assert(TxTable.changeFeed(spark, t, 1L, Some(3L))
      .groupBy(col(TxTable.ChangeTypeCol)).count().as[(String, Long)]
      .collect().toMap === Map("update_preimage" -> 5L,
        "update_postimage" -> 5L, "delete" -> 6L))
  }

  test("overwriteIndexedBloom sizes its blooms without a count job; lookups still prune") {
    val t = freshTable()
    val src = spark.range(0, 5000)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
    val jobs = jobsDuring(TxTable.overwriteIndexedBloom(src, t, "k"))
    // the write (its shuffle stage and the write stage) and the bloom
    // build; the row total comes from the write tasks
    assert(jobs === 3, "overwriteIndexedBloom jobs")
    val snap = TxTable.snapshot(spark, t).get
    assert(snap.files.size >= 4 && snap.blooms.size === snap.files.size)
    val owner = TxTable.read(spark, t).filter($"k" === 1234L)
      .select(input_file_name()).as[String].collect().toSeq
      .map(_.split('/').last)
    val kept = TxTable.pruneFilesPoint(snap, "k", "1234")
    assert(kept.map(_.split('/').last).contains(owner.head) &&
      kept.size < snap.files.size, s"kept ${kept.size}/${snap.files.size}")
    assert(TxTable.readPoint(spark, t, "k", "1234")
      .select("v").as[Long].collect().toSeq === Seq(3702L))
  }

  test("racing maintainers: maintain, maintainPartitioned and maintainJoin apply every change once") {
    import graft.sources.IncrementalView
    val src = freshTable() // (k, g, v)
    val dim = freshTable() // (k, grp)
    val (sumV, partV, joinV) = (freshTable(), freshTable(), freshTable())
    TxTable.enableChangeFeed(spark, src)
    TxTable.enableChangeFeed(spark, dim)
    TxTable.append((1 to 12).map(i => (i.toLong, s"g${i % 4}", i * 10L))
      .toDF("k", "g", "v"), src)
    TxTable.append((1 to 12).map(i => (i.toLong, s"d${i % 3}"))
      .toDF("k", "grp"), dim)
    /** Both threads run `verb` at once; returns what each returned. */
    def race[T](verb: => T): Seq[T] = {
      val barrier = new CyclicBarrier(2)
      val tasks = (1 to 2).map { _ =>
        val ft = new java.util.concurrent.FutureTask(() => {
          barrier.await(); verb })
        new Thread(ft).start(); ft
      }
      tasks.map(_.get())
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long)].collect().sorted.toSeq
    def recomputed(df: org.apache.spark.sql.DataFrame, g: String) =
      rows(df.groupBy(col(g)).agg(count(lit(1)), sum(col("v"))))
    for (round <- 1 to 3) {
      // a burst of source commits: append, update, delete on both sides
      TxTable.append(Seq((100L + round, s"g$round", 7L * round),
        (200L + round, "g9", 1L)).toDF("k", "g", "v"), src)
      TxTable.updateWhere(spark, src, Seq(("k", round.toDouble,
        round.toDouble)), Nil, Map("v" -> ($"v" + 1000L)))
      TxTable.deleteWhere(spark, src, Seq(("k", round + 5.0, round + 5.0)))
      TxTable.updateWhere(spark, dim, Seq(("k", round + 2.0, round + 2.0)),
        Nil, Map("grp" -> lit(s"d$round")))
      val srcHead = TxTable.snapshot(spark, src).get.version
      val dimHead = TxTable.snapshot(spark, dim).get.version
      assert(race(IncrementalView.maintain(spark, src, sumV, "g", "v"))
        === Seq(srcHead, srcHead))
      assert(race(IncrementalView.maintainPartitioned(
        spark, src, partV, "g", "v")) === Seq(srcHead, srcHead))
      assert(race(IncrementalView.maintainJoin(
        spark, src, dim, joinV, "k", "grp", "v")) ===
        Seq((srcHead, dimHead), (srcHead, dimHead)))
      val expected = recomputed(TxTable.read(spark, src), "g")
      assert(rows(TxTable.read(spark, sumV)) === expected, s"maintain, round $round")
      assert(rows(TxTable.read(spark, partV)) === expected,
        s"maintainPartitioned, round $round")
      assert(rows(TxTable.read(spark, joinV)) === recomputed(
        TxTable.read(spark, src).join(TxTable.read(spark, dim), "k"), "grp"),
        s"maintainJoin, round $round")
      def marks(view: String) = TxTable.snapshot(spark, view).get.txns
      assert(marks(sumV) === Map("ivm" -> srcHead))
      assert(marks(partV) === Map("ivm" -> srcHead))
      assert(marks(joinV) === Map("ivmj:a" -> srcHead, "ivmj:b" -> dimHead))
    }
  }
}
