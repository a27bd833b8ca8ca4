package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{TxSql, TxTable}

/** SQL/DataFrame-reader surface over TxTable: the DSv2 catalog and
  * `spark.read.format("txtable")` must read exactly what the API
  * reads, time-travel through `VERSION AS OF`, and — the load-bearing
  * claim — prune files at PLAN time exactly as `readWhere`'s manifest
  * pruning does (asserted against the physical scan's input files,
  * not a unit of the translation). */
class TxSqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_txsql_").toString

  /** Distinct data-file names the executed plan actually scanned. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // final AQE plan
      case p => p
    }
    val scans = root.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, "expected a DSv2 BatchScanExec in the plan")
    scans.flatMap(_.inputPartitions).flatMap {
      case fp: FilePartition =>
        fp.files.map(f => f.urlEncodedPath.split('/').last)
      case _ => Nil
    }.toSet
  }

  private def seed(root: String): String = {
    val dir = s"$root/orders"
    val df = (1 to 4000).map { i =>
      (i.toLong, i % 97 * 1.0, if (i % 5 == 0) "URGENT" else "LOW")
    }.toDF("k", "amt", "prio")
    TxTable.overwriteIndexedMulti(df, dir,
      statCols = Seq("amt"), valueCols = Seq("prio"))
    dir
  }

  test("spark.read.format(txtable) reads the head and time-travels") {
    val root = freshRoot()
    val dir = s"$root/t"
    TxTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    TxTable.append(Seq((3, "c")).toDF("k", "v"), dir)
    val head = spark.read.format("txtable").load(dir)
    assert(head.count() === 3)
    val v1 = spark.read.format("txtable").option("version", 1).load(dir)
    assert(v1.count() === 2)
    assert(v1.select("v").as[String].collect().sorted.toSeq === Seq("a", "b"))
  }

  test("catalog: SELECT with predicates equals readWhere; VERSION AS OF works") {
    val root = freshRoot()
    val dir = seed(root)
    TxSql.installCatalog(spark, "txspec", root)
    val sql = spark.sql(
      "SELECT prio, count(*) AS n, sum(amt) AS total " +
        "FROM txspec.orders WHERE amt >= 20.0 AND amt <= 40.0 " +
        "AND prio = 'URGENT' GROUP BY prio")
    val api = TxTable.readWhere(spark, dir,
        Seq(("amt", 20.0, 40.0)), Seq(("prio", "URGENT")))
      .groupBy($"prio").agg(count(lit(1)).as("n"), sum($"amt").as("total"))
    assert(sql.collect().toSeq === api.collect().toSeq)

    // time travel: delete some rows, then read the pre-delete version
    val v1 = TxTable.snapshot(spark, dir).get.version
    TxTable.deleteWhere(spark, dir, Nil, Seq(("prio", "URGENT")))
    val nowN = spark.sql("SELECT count(*) AS n FROM txspec.orders")
      .as[Long].head()
    val oldN = spark.sql(
      s"SELECT count(*) AS n FROM txspec.orders VERSION AS OF $v1")
      .as[Long].head()
    assert(oldN === 4000L && nowN === 3200L)
  }

  test("SQL-path plan prunes files exactly as readWhere's manifest prune") {
    val root = freshRoot()
    val dir = seed(root)
    val snap = TxTable.snapshot(spark, dir).get
    val expected = TxTable.pruneFilesWhere(snap,
        Seq(("amt", 10.0, 20.0)), Seq(("prio", "URGENT")))
      .map(_.split('/').last).toSet
    assert(expected.size < snap.files.size,
      s"prune must skip files: ${expected.size} of ${snap.files.size}")
    // shuffle-free shape: AQE hides staged scans inside leaf
    // QueryStageExec nodes; the prune decision is identical either way
    val q = spark.read.format("txtable").load(dir)
      .filter($"amt" >= 10.0 && $"amt" <= 20.0 && $"prio" === "URGENT")
    q.collect()
    assert(scannedFiles(q) === expected)
  }

  test("unprunable predicates keep every file (fail-open translation)") {
    val root = freshRoot()
    val dir = seed(root)
    val snap = TxTable.snapshot(spark, dir).get
    val q = spark.read.format("txtable").load(dir)
      .filter(length($"prio") === 3) // not in the manifest's language
    q.collect()
    assert(scannedFiles(q) ===
      snap.files.map(_.split('/').last).toSet)
  }

  test("numeric-coerced string probe still prunes correctly via canonical form") {
    val root = freshRoot()
    val dir = s"$root/nums"
    val df = (1 to 2000).map(i => (i.toLong, (i % 7).toDouble))
      .toDF("k", "grp")
    TxTable.overwriteIndexedMulti(df, dir,
      statCols = Seq("k"), valueCols = Seq("grp"))
    // probe "3" against a double column whose value sets store "3.0":
    // canonicalization must keep the right files AND return the rows
    val got = TxTable.readWhere(spark, dir, Nil, Seq(("grp", "3")))
    assert(got.count() === df.filter($"grp" === 3.0).count())
  }

  test("unsupported DDL fails with a named error; drop of absent is false") {
    val root = freshRoot()
    seed(root)
    TxSql.installCatalog(spark, "txspec2", root)
    // ADD/RENAME/DROP COLUMN are supported now; retype stays refused
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE txspec2.orders ALTER COLUMN amt TYPE STRING")
    }
    // refused by Spark's analyzer (retype) or our catalog, either way named
    assert(e.getMessage.toLowerCase.contains("not supported") ||
      e.getMessage.toLowerCase.contains("unsupported alter"))
    // identity/days/months PARTITIONED BY are supported; other
    // transforms (bucket, hours, days-of-non-temporal) still refuse
    val e2 = intercept[Exception] {
      spark.sql(
        "CREATE TABLE txspec2.part (k INT, d DATE) PARTITIONED BY (days(k))")
    }
    assert(e2.getMessage.toLowerCase.contains("unsupported partitioning") ||
      Option(e2.getCause).exists(_.getMessage.toLowerCase
        .contains("unsupported partitioning")))
  }

  test("updateWhere SET expressions all see the pre-update row") {
    val dir = freshRoot() + "/swap"
    TxTable.overwrite(Seq((1L, 10.0, 100.0), (2L, 20.0, 200.0))
      .toDF("k", "a", "b"), dir)
    // SET a = b, b = a on k = 1 must SWAP (SQL UPDATE semantics),
    // not chain one assignment through the other
    TxTable.updateWhere(spark, dir, Seq(("k", 1.0, 1.0)), Nil,
      Map("a" -> col("b"), "b" -> col("a")))
    val got = TxTable.read(spark, dir).as[(Long, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 100.0, 10.0), (2L, 20.0, 200.0)))
  }

  test("append carries the bloom index forward; point reads stay pruned") {
    val dir = freshRoot() + "/bloomed"
    val base = (1 to 3000).map(i => (i.toLong, s"u$i")).toDF("id", "u")
    TxTable.overwriteIndexedBloom(base, dir, "id")
    val before = TxTable.snapshot(spark, dir).get
    assert(before.blooms.nonEmpty)
    TxTable.append(Seq((9001L, "new")).toDF("id", "u"), dir)
    val after = TxTable.snapshot(spark, dir).get
    assert(after.blooms.keySet === before.blooms.keySet &&
      after.blooms.forall { case (k, v) =>
        java.util.Arrays.equals(v, before.blooms(k))
      }, "append must carry existing blooms forward")
    // a point read still prunes indexed files AND sees appended rows
    val pruned = TxTable.pruneFilesPoints(after, "id", Seq("17"))
    assert(pruned.size < after.files.size)
    assert(TxTable.readPoint(spark, dir, "id", "9001").count() === 1)
    assert(TxTable.readPoints(spark, dir, "id", Seq("17", "9001"))
      .count() === 2)
  }

  test("SQL integral point-equality probes the bloom index at plan time") {
    val dir = freshRoot() + "/bloomsql"
    val base = (1 to 3000).map(i => (i.toLong, s"u$i")).toDF("id", "u")
    TxTable.overwriteIndexedBloom(base, dir, "id")
    val snap = TxTable.snapshot(spark, dir).get
    val df = spark.read.format("txtable").load(dir).filter($"id" === 17L)
    assert(df.count() === 1)
    val scanned = scannedFiles(df)
    val expected = TxTable.pruneFilesPoints(snap, "id", Seq("17"))
      .map(_.split('/').last).toSet
    assert(scanned === expected,
      s"SQL scan opened $scanned, bloom admits $expected")
    assert(scanned.size < snap.files.size,
      "the point equality must prune through the bloom index")
  }

  test("integral equality above 2^53 fails open (no lossy bloom probe)") {
    // 2^53 + 1 is the first long a Double cannot represent: the range
    // translation rounds it to 2^53, so a bloom probe built from the
    // rounded value would miss the stored key and wrongly prune the
    // file holding the row. The translation must skip the probe.
    val dir = freshRoot() + "/bigid"
    val big = (1L << 53) + 1L // 9007199254740993
    val ids = Seq(17L, 400L, big)
    val df = ids.map(i => (i, s"u$i")).toDF("id", "u")
    TxTable.overwriteIndexedBloom(df.repartition(3, $"id"), dir, "id")
    val got = spark.read.format("txtable").load(dir)
      .filter($"id" === big).select($"u").as[String].collect().toSeq
    assert(got === Seq(s"u$big"),
      "row with an id above 2^53 must survive SQL point-equality")
    // the safe regime (|id| <= 2^53) still prunes through the bloom
    val small = spark.read.format("txtable").load(dir).filter($"id" === 17L)
    assert(small.count() === 1)
  }

  test("a zero-file snapshot is still readable via SQL (empty frame)") {
    val dir = freshRoot() + "/emptied"
    TxTable.overwrite(Seq((1L, "a")).toDF("k", "v"), dir)
    TxTable.deleteWhere(spark, dir, Seq(("k", 1.0, 1.0)), Nil)
    val df = spark.read.format("txtable").load(dir)
    assert(df.count() === 0L)
  }

  test("narrowing casts never prune (truncation breaks range soundness)") {
    // CAST(amt AS INT) >= -4 is TRUE for amt = -4.2 (truncation toward
    // zero) but the naive range [-4, inf) would prune its file — the
    // translation must refuse to look through narrowing casts
    val dir = freshRoot() + "/narrow"
    val df = Seq((1L, -4.2), (2L, 10.0), (3L, -9.9)).toDF("k", "amt")
    TxTable.overwriteIndexedMulti(df.repartition(3, $"k"), dir,
      statCols = Seq("amt"), valueCols = Nil)
    val got = spark.read.format("txtable").load(dir)
      .filter(expr("CAST(amt AS INT) >= -4"))
      .select($"k").as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 2L),
      "narrowing-cast predicate must keep the -4.2 row")
    // and the safe widening coercion Catalyst inserts still prunes
    val widened = spark.read.format("txtable").load(dir)
      .filter($"amt" >= -4)
    assert(widened.select($"k").as[Long].collect().sorted.toSeq === Seq(2L))
  }

  test("INSERT INTO / INSERT OVERWRITE commit atomically through the catalog") {
    val root = freshRoot()
    val dir = s"$root/t"
    TxTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    TxSql.installCatalog(spark, "txw1", root)
    val v0 = TxTable.snapshot(spark, dir).get.version
    spark.sql("INSERT INTO txw1.t VALUES (3, 'c'), (4, 'd')")
    assert(TxTable.snapshot(spark, dir).get.version === v0 + 1,
      "one INSERT must be exactly one commit")
    // the API read sees what SQL wrote — one table, one log
    assert(TxTable.read(spark, dir).count() === 4)
    assert(spark.sql("SELECT v FROM txw1.t ORDER BY k")
      .as[String].collect().toSeq === Seq("a", "b", "c", "d"))
    spark.sql("INSERT OVERWRITE txw1.t VALUES (9, 'z')")
    assert(spark.sql("SELECT k, v FROM txw1.t").as[(Long, String)]
      .collect().toSeq === Seq((9L, "z")))
    // overwrite preserved history: the pre-overwrite version still reads
    assert(spark.sql(s"SELECT count(*) FROM txw1.t VERSION AS OF ${v0 + 1}")
      .as[Long].head() === 4L)
  }

  test("CREATE TABLE declares a schema readable before any row lands") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "txw2", root)
    spark.sql("CREATE TABLE txw2.fresh (k BIGINT, label STRING)")
    val empty = spark.sql("SELECT * FROM txw2.fresh")
    assert(empty.columns.toSeq === Seq("k", "label"))
    assert(empty.count() === 0L)
    spark.sql("INSERT INTO txw2.fresh VALUES (1, 'x')")
    assert(spark.sql("SELECT label FROM txw2.fresh").as[String]
      .collect().toSeq === Seq("x"))
    // a second CREATE of the same name fails as already-exists
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE txw2.fresh (k BIGINT)")
    }
    assert(e.getMessage.toUpperCase.contains("EXISTS"))
  }

  test("CTAS lands the query result as a committed snapshot") {
    val root = freshRoot()
    seed(root)
    TxSql.installCatalog(spark, "txw3", root)
    spark.sql(
      "CREATE TABLE txw3.urgent AS " +
        "SELECT k, amt FROM txw3.orders WHERE prio = 'URGENT'")
    assert(spark.sql("SELECT count(*) FROM txw3.urgent").as[Long].head()
      === 800L)
    // the CTAS result is a full TxTable: versioned, API-readable
    assert(TxTable.read(spark, s"$root/urgent").count() === 800L)
    spark.sql("DROP TABLE txw3.urgent")
    assert(!TxTable.snapshot(spark, s"$root/urgent").isDefined)
  }

  test("SQL DELETE: exact semantics incl. strict bounds, OR, IN, and nulls") {
    val root = freshRoot()
    val dir = s"$root/t"
    val src = Seq((1L, 5.0, "a"), (2L, 10.0, "b"), (3L, 15.0, "a"),
      (4L, 20.0, "c"), (5L, 25.0, "b")).toDF("k", "amt", "tag")
      .unionByName(Seq((6L, Option.empty[Double], "a"))
        .toDF("k", "amt", "tag"))
    TxTable.overwrite(src, dir)
    TxSql.installCatalog(spark, "txd1", root)
    // strict bound + OR tree — beyond the conjunctive API verbs; the
    // NULL-amt row must be KEPT (SQL WHERE semantics)
    spark.sql("DELETE FROM txd1.t WHERE amt > 10.0 OR tag = 'c'")
    assert(spark.sql("SELECT k FROM txd1.t ORDER BY k").as[Long]
      .collect().toSeq === Seq(1L, 2L, 6L))
    spark.sql("DELETE FROM txd1.t WHERE k IN (2, 99)")
    assert(spark.sql("SELECT k FROM txd1.t ORDER BY k").as[Long]
      .collect().toSeq === Seq(1L, 6L))
    // unconditional DELETE empties the table but keeps it readable
    spark.sql("DELETE FROM txd1.t")
    assert(spark.sql("SELECT count(*) FROM txd1.t").as[Long].head() === 0L)
    // and history is intact: the full table still time-travels
    assert(spark.sql("SELECT count(*) FROM txd1.t VERSION AS OF 1")
      .as[Long].head() === 6L)
  }

  test("SQL DELETE prunes files through the manifest on conjunctive hints") {
    val root = freshRoot()
    val dir = seed(root) // 4000 rows, amt stats + prio value sets
    TxSql.installCatalog(spark, "txd2", root)
    val before = TxTable.snapshot(spark, dir).get
    spark.sql(
      "DELETE FROM txd2.orders WHERE amt >= 10.0 AND amt <= 20.0 " +
        "AND prio = 'URGENT'")
    val after = TxTable.snapshot(spark, dir).get
    // untouched files carried over byte-identical (same names)
    val carried = after.files.toSet intersect before.files.toSet
    assert(carried.nonEmpty,
      "the conjunctive hints must prune: some file should carry over")
    val expect = 4000L - spark.sql(
      "SELECT count(*) FROM txd2.orders VERSION AS OF 1 " +
        "WHERE amt >= 10.0 AND amt <= 20.0 AND prio = 'URGENT'")
      .as[Long].head()
    assert(spark.sql("SELECT count(*) FROM txd2.orders").as[Long].head()
      === expect)
  }

  test("SQL UPDATE: matching rows change, others untouched, history intact") {
    val root = freshRoot()
    val dir = s"$root/t"
    TxTable.overwrite(Seq((1L, 10.0, "a"), (2L, 20.0, "b"),
      (3L, 30.0, "a")).toDF("k", "amt", "tag"), dir)
    TxSql.installCatalog(spark, "txu1", root)
    spark.sql("UPDATE txu1.t SET amt = amt * 2, tag = 'bumped' " +
      "WHERE tag = 'a' AND amt > 15.0")
    assert(spark.sql("SELECT k, amt, tag FROM txu1.t ORDER BY k")
      .as[(Long, Double, String)].collect().toSeq ===
      Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 60.0, "bumped")))
    // one statement = one commit; the pre-update version still reads
    assert(TxTable.snapshot(spark, dir).get.version === 2L)
    assert(spark.sql("SELECT sum(amt) FROM txu1.t VERSION AS OF 1")
      .as[Double].head() === 60.0)
    // API read agrees with SQL (one table, one log)
    assert(TxTable.read(spark, dir).count() === 3)
  }

  test("SQL MERGE INTO: matched update + not-matched insert in one commit") {
    val root = freshRoot()
    val dir = s"$root/t"
    TxTable.overwrite(Seq((1L, 100L), (2L, 200L), (3L, 300L))
      .toDF("k", "cents"), dir)
    TxSql.installCatalog(spark, "txm1", root)
    Seq((2L, 999L), (9L, 900L)).toDF("k", "cents")
      .createOrReplaceTempView("txm1_changes")
    spark.sql(
      """MERGE INTO txm1.t AS t USING txm1_changes AS c ON t.k = c.k
        |WHEN MATCHED THEN UPDATE SET cents = c.cents
        |WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (c.k, c.cents)
        |""".stripMargin)
    assert(spark.sql("SELECT k, cents FROM txm1.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 100L), (2L, 999L), (3L, 300L), (9L, 900L)))
    assert(TxTable.snapshot(spark, dir).get.version === 2L,
      "MERGE must be exactly one atomic commit")
  }

  test("SQL MERGE WHEN NOT MATCHED BY SOURCE: delete + update forms, mixed clauses") {
    val root = freshRoot()
    val dir = s"$root/t"
    TxTable.overwrite(
      Seq((1L, 100L, "keep"), (2L, 200L, "keep"), (3L, 300L, "keep"),
        (4L, 400L, "old"))
        .toDF("k", "cents", "tag"), dir)
    TxSql.installCatalog(spark, "txms", root)
    Seq((2L, 999L), (9L, 900L)).toDF("k", "cents")
      .createOrReplaceTempView("txms_src")
    // the CDC full-sync idiom: matched update, not-matched insert,
    // vanished-from-source DELETE — but only where tag = 'old' (the
    // conditional by-source form); unconditioned vanished rows get
    // the UPDATE-by-source flagging form
    spark.sql(
      """MERGE INTO txms.t AS t USING txms_src AS c ON t.k = c.k
        |WHEN MATCHED THEN UPDATE SET cents = c.cents
        |WHEN NOT MATCHED THEN INSERT (k, cents, tag) VALUES (c.k, c.cents, 'new')
        |WHEN NOT MATCHED BY SOURCE AND t.tag = 'old' THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'
        |""".stripMargin)
    assert(spark.sql("SELECT k, cents, tag FROM txms.t ORDER BY k")
      .as[(Long, Long, String)].collect().toSeq ===
      Seq((1L, 100L, "stale"), (2L, 999L, "keep"), (3L, 300L, "stale"),
        (9L, 900L, "new")))
    assert(TxTable.snapshot(spark, dir).get.version === 2L,
      "by-source MERGE must be exactly one atomic commit")
    // pure delete-by-source: drop everything the source no longer has
    Seq((2L, 0L)).toDF("k", "cents").createOrReplaceTempView("txms_src2")
    spark.sql(
      """MERGE INTO txms.t AS t USING txms_src2 AS c ON t.k = c.k
        |WHEN NOT MATCHED BY SOURCE THEN DELETE
        |""".stripMargin)
    assert(spark.sql("SELECT k, cents, tag FROM txms.t ORDER BY k")
      .as[(Long, Long, String)].collect().toSeq ===
      Seq((2L, 999L, "keep")))
  }

  test("SQL UPDATE prunes: untouched files carry over with their metadata") {
    val root = freshRoot()
    val dir = seed(root) // amt stats + prio value sets, multiple files
    TxSql.installCatalog(spark, "txu2", root)
    val before = TxTable.snapshot(spark, dir).get
    spark.sql("UPDATE txu2.orders SET amt = amt + 1000.0 " +
      "WHERE amt >= 10.0 AND amt <= 20.0 AND prio = 'URGENT'")
    val after = TxTable.snapshot(spark, dir).get
    val carried = after.files.toSet intersect before.files.toSet
    assert(carried.nonEmpty && carried.size < before.files.size,
      s"update must prune: carried ${carried.size}/${before.files.size}")
    // carried files keep their index metadata
    assert(carried.forall(f => after.multiStats.contains(f)),
      "untouched files must keep their stats")
    // exact semantics over the whole table
    val got = TxTable.read(spark, dir)
      .agg(sum($"amt"), count(lit(1))).as[(Double, Long)].head()
    val want = spark.sql(
      s"""SELECT sum(CASE WHEN amt >= 10.0 AND amt <= 20.0
         |  AND prio = 'URGENT' THEN amt + 1000.0 ELSE amt END), count(*)
         |FROM txu2.orders VERSION AS OF ${before.version}""".stripMargin)
      .as[(Double, Long)].head()
    assert(got._2 === want._2 && math.abs(got._1 - want._1) < 1e-6)
  }

  test("SQL UPDATE racing a concurrent append conflicts, never loses it") {
    val root = freshRoot()
    val dir = s"$root/t"
    TxTable.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "amt"), dir)
    TxSql.installCatalog(spark, "txu3", root)
    // analyze the UPDATE against v1, then land a concurrent append
    // BEFORE executing it: the replacement content is stale, so the
    // commit must conflict instead of silently dropping row 3
    val upd = spark.sql("EXPLAIN COST UPDATE txu3.t SET amt = 0.0 WHERE k = 1")
    // (EXPLAIN only analyzes; now build the real statement lazily is
    // not possible for DML — spark.sql executes eagerly — so race at
    // the catalog level instead: pin the table, append, then update
    // through a DIFFERENT catalog name whose table was loaded first)
    TxSql.installCatalog(spark, "txu3b", root)
    val pinned = spark.sessionState.catalogManager
      .catalog("txu3b")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty, "t"))
    TxTable.append(Seq((3L, 30.0)).toDF("k", "amt"), dir) // concurrent
    // drive the pinned table's row-level op directly: scan content ×
    // replace — the commit must see v1 != head v2 and throw
    val op = pinned
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]
      .newRowLevelOperationBuilder(
        new org.apache.spark.sql.connector.write.RowLevelOperationInfo {
          override def command() = org.apache.spark.sql.connector.write
            .RowLevelOperation.Command.UPDATE
          override def options() = new org.apache.spark.sql.util
            .CaseInsensitiveStringMap(java.util.Collections.emptyMap())
        }).build()
    val write = op.newWriteBuilder(
      new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def queryId(): String = "race"
        override def schema() = pinned.schema()
        override def options() = new org.apache.spark.sql.util
          .CaseInsensitiveStringMap(java.util.Collections.emptyMap())
      }).build().toBatch
    val e = intercept[graft.sources.TxTable.TxConflictException] {
      write.commit(Array.empty)
    }
    assert(e.getMessage.contains("changed since analysis"))
    // nothing visible changed; the append survived
    assert(TxTable.read(spark, dir).count() === 3)
  }

  test("CALL procedures: compact, history, restore, vacuum, checkpoint") {
    val root = freshRoot()
    val dir = s"$root/t"
    TxTable.overwrite(Seq((1L, "a")).toDF("k", "v"), dir)
    (2 to 6).foreach(i => TxTable.append(Seq((i.toLong, s"v$i")).toDF("k", "v"), dir))
    TxSql.installCatalog(spark, "txp1", root)
    // compact: 6 commits' files into 2, as one new version
    val c = spark.sql("CALL txp1.system.compact('t', 2)")
      .as[(Long, Long)].head()
    assert(c === ((7L, 2L)))
    assert(TxTable.read(spark, dir).count() === 6)
    // history surfaces one row per retained manifest
    val hist = spark.sql("CALL txp1.system.history('t')")
    assert(hist.columns.take(3).toSeq === Seq("version", "op", "n_files"))
    assert(hist.count() === 7)
    // restore rolls back to the 3-row version as a NEW commit
    spark.sql("CALL txp1.system.restore('t', 3)")
    assert(TxTable.read(spark, dir).count() === 3)
    assert(TxTable.snapshot(spark, dir).get.version === 8L)
    // checkpoint pins the resolution floor at the current head
    assert(spark.sql("CALL txp1.system.create_checkpoint('t')")
      .as[Long].head() === 8L)
    // vacuum reclaims everything but the head (the restored v3 files
    // are referenced by the head, so they survive)
    val (m, f) = spark.sql("CALL txp1.system.vacuum('t', 1)")
      .as[(Long, Long)].head()
    assert(m >= 6 && f >= 1, s"vacuum deleted ($m manifests, $f files)")
    assert(TxTable.read(spark, dir).count() === 3)
    // unknown procedure fails with a named error (Spark wraps ours in
    // FAILED_TO_LOAD_ROUTINE; the cause lists the available names)
    val e = intercept[Exception] {
      spark.sql("CALL txp1.system.frobnicate('t')")
    }
    assert(e.getMessage.contains("frobnicate"))
    def anyMentions(t: Throwable): Boolean = t != null &&
      (t.getMessage.contains("compact") || anyMentions(t.getCause))
    assert(anyMentions(e), "the cause chain must list available procedures")
  }

  test("racing SQL INSERTs: one winner per head, no lost or doubled rows") {
    val root = freshRoot()
    val dir = s"$root/race"
    TxTable.overwrite(Seq((0L, "base")).toDF("k", "v"), dir)
    TxSql.installCatalog(spark, "txw4", root)
    val n = 6
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val tasks = (1 to n).map { i =>
      val ft = new java.util.concurrent.FutureTask(() => {
        barrier.await()
        // un-retried: the SQL path must surface the commit conflict,
        // not absorb it into a silent lost update
        try { spark.sql(s"INSERT INTO txw4.race VALUES ($i, 'w$i')"); true }
        catch {
          case e: Throwable =>
            def isConflict(t: Throwable): Boolean = t != null &&
              (t.isInstanceOf[TxTable.TxConflictException] ||
                isConflict(t.getCause))
            assert(isConflict(e), s"non-conflict failure: $e")
            false
        }
      })
      new Thread(ft).start(); ft
    }
    val results = tasks.map(_.get())
    val wins = results.count(identity)
    assert(wins >= 1, "someone must win the race")
    assert(wins < n, "barrier-aligned racers must produce a conflict loser")
    // exactly the winners' rows are visible, each exactly once
    val vs = TxTable.read(spark, dir).select($"v").as[String].collect()
    assert(vs.count(_ == "base") === 1)
    for (i <- 1 to n) {
      val expectedTimes = if (results(i - 1)) 1 else 0
      assert(vs.count(_ == s"w$i") === expectedTimes,
        s"writer $i: success=${results(i - 1)} but visible " +
          s"${vs.count(_ == s"w$i")} times")
    }
  }

  test("PARTITIONED BY: dynamic INSERT OVERWRITE replaces only incoming partitions") {
    val root = freshRoot()
    val dir = s"$root/pt"
    TxSql.installCatalog(spark, "txpt", root)
    spark.sql("CREATE TABLE txpt.pt (k BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    // INSERT INTO a partitioned table records per-file value sets
    spark.sql("INSERT INTO txpt.pt VALUES (1, 'a'), (2, 'a'), (3, 'b'), " +
      "(4, 'c')")
    val snap1 = graft.sources.TxTable.snapshot(spark, dir).get
    assert(snap1.fileValues.nonEmpty,
      "partitioned INSERT INTO must record value sets")
    // dynamic overwrite: only partition b replaces; a and c carry
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE txpt.pt VALUES (30, 'b'), (31, 'b')")
      val got = spark.sql("SELECT k, seg FROM txpt.pt ORDER BY k")
        .as[(Long, String)].collect().toSeq
      assert(got === Seq((1L, "a"), (2L, "a"), (4L, "c"), (30L, "b"),
        (31L, "b")))
      // files provably outside partition b carried over untouched
      val snap2 = graft.sources.TxTable.snapshot(spark, dir).get
      val expectUntouched = snap1.files.filter(f =>
        snap1.fileValues.get(f).flatMap(_.get("seg"))
          .exists(vs => !vs("b")))
      assert(expectUntouched.nonEmpty &&
        expectUntouched.forall(snap2.files.toSet),
        "dynamic overwrite rewrote a provably-untouched partition")
      // the DataFrame API route forces dynamic regardless of the conf
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      Seq((50L, "c")).toDF("k", "seg").writeTo("txpt.pt")
        .overwritePartitions()
      assert(spark.sql("SELECT k FROM txpt.pt ORDER BY k")
        .as[Long].collect().toSeq === Seq(1L, 2L, 30L, 31L, 50L))
      // static INSERT OVERWRITE still truncates (unchanged semantics)
      spark.sql("INSERT OVERWRITE txpt.pt VALUES (99, 'z')")
      assert(spark.sql("SELECT k, seg FROM txpt.pt").as[(Long, String)]
        .collect().toSeq === Seq((99L, "z")))
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // unsupported transforms still refuse loudly (bucket() graduated
    // to a supported layout in r17 — SpjSpec owns it now)
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE txpt.bad (k BIGINT, seg STRING) " +
        "PARTITIONED BY (years(seg))")
    }
    assert(e.getMessage.contains("unsupported partitioning") ||
      Option(e.getCause).exists(_.getMessage
        .contains("unsupported partitioning")))
  }

  test("CHECK constraints via CALL procedures gate SQL INSERT") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "txck", root)
    spark.sql("CREATE TABLE txck.c (k BIGINT, amt DOUBLE)")
    spark.sql("INSERT INTO txck.c VALUES (1, 1.5)")
    spark.sql("CALL txck.system.add_constraint('c', 'amt_pos', 'amt > 0')")
    assert(spark.sql("CALL txck.system.constraints('c')")
      .as[(String, String)].collect().toSeq === Seq("amt_pos" -> "amt > 0"))
    // violating SQL INSERT fails at action time; nothing commits
    val e = intercept[Exception] {
      spark.sql("INSERT INTO txck.c VALUES (2, -1.0)") }
    def rootMsg(x: Throwable): String =
      Option(x.getCause).map(rootMsg).getOrElse(x.getMessage)
    assert(e.getMessage.contains("amt_pos") || rootMsg(e).contains("amt_pos"))
    assert(spark.sql("SELECT count(*) FROM txck.c").as[Long].head() === 1L)
    spark.sql("INSERT INTO txck.c VALUES (2, 2.5)")
    assert(spark.sql("SELECT count(*) FROM txck.c").as[Long].head() === 2L)
    // adding a constraint existing rows violate refuses with the count
    val e2 = intercept[Exception] {
      spark.sql("CALL txck.system.add_constraint('c', 'k1', 'k < 2')") }
    assert(e2.getMessage.contains("existing row") ||
      rootMsg(e2).contains("existing row"))
    assert(spark.sql("CALL txck.system.drop_constraint('c', 'amt_pos')")
      .as[Boolean].head())
  }

  test("PARTITIONED BY days(ts): dynamic overwrite replaces exactly the incoming days") {
    val root = freshRoot()
    val dir = s"$root/td"
    TxSql.installCatalog(spark, "txdays", root)
    spark.sql("CREATE TABLE txdays.td (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO txdays.td VALUES " +
      "(1, TIMESTAMP '2024-03-01 08:00:00'), " +
      "(2, TIMESTAMP '2024-03-01 23:59:59'), " +
      "(3, TIMESTAMP '2024-03-02 05:00:00'), " +
      "(4, TIMESTAMP '2024-03-03 12:00:00')")
    val snap1 = graft.sources.TxTable.snapshot(spark, dir).get
    assert(snap1.fileValues.values.exists(_.contains("days(ts)")),
      "partitioned INSERT must record days(ts) value sets")
    // replace exactly day 2024-03-02 (row-level timestamps differ —
    // the DAY is the partition) via the API route
    graft.sources.TxTable.overwritePartitions(
      Seq((30L, java.sql.Timestamp.valueOf("2024-03-02 18:30:00")))
        .toDF("k", "ts"), dir, "days(ts)")
    val got = spark.sql("SELECT k FROM txdays.td ORDER BY k")
      .as[Long].collect().toSeq
    assert(got === Seq(1L, 2L, 4L, 30L))
    // files provably outside the incoming day carried over untouched
    val snap2 = graft.sources.TxTable.snapshot(spark, dir).get
    val expectUntouched = snap1.files.filter(f =>
      snap1.fileValues.get(f).flatMap(_.get("days(ts)"))
        .exists(vs => !vs("2024-03-02")))
    assert(expectUntouched.nonEmpty &&
      expectUntouched.forall(snap2.files.toSet),
      "days() overwrite rewrote a provably-untouched day")
    // SQL INSERT OVERWRITE under dynamic mode routes the same way
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE txdays.td VALUES " +
        "(40, TIMESTAMP '2024-03-03 01:00:00')")
      assert(spark.sql("SELECT k FROM txdays.td ORDER BY k")
        .as[Long].collect().toSeq === Seq(1L, 2L, 30L, 40L))
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // months() parses and records month-truncated sets
    spark.sql("CREATE TABLE txdays.tm (k BIGINT, d DATE) " +
      "PARTITIONED BY (months(d))")
    spark.sql("INSERT INTO txdays.tm VALUES (1, DATE '2024-03-05'), " +
      "(2, DATE '2024-04-09')")
    val sm = graft.sources.TxTable.snapshot(spark, s"$root/tm").get
    assert(sm.fileValues.values.flatMap(_.get("months(d)")).flatten.toSet
      === Set("2024-03-01", "2024-04-01"))
    // hours() records hour-truncated sets and replaces exact hours
    spark.sql("CREATE TABLE txdays.th (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (hours(ts))")
    spark.sql("INSERT INTO txdays.th VALUES " +
      "(1, TIMESTAMP '2024-03-01 08:15:00'), " +
      "(2, TIMESTAMP '2024-03-01 09:45:00')")
    graft.sources.TxTable.overwritePartitions(
      Seq((20L, java.sql.Timestamp.valueOf("2024-03-01 09:01:00")))
        .toDF("k", "ts"), s"$root/th", "hours(ts)")
    assert(spark.sql("SELECT k FROM txdays.th ORDER BY k")
      .as[Long].collect().toSeq === Seq(1L, 20L))
    // hours() on a DATE column refuses (calendar hours need a ts)
    val eh = intercept[Exception] {
      spark.sql("CREATE TABLE txdays.bad (k BIGINT, d DATE) " +
        "PARTITIONED BY (hours(d))") }
    assert(eh.getMessage.contains("unsupported partitioning") ||
      Option(eh.getCause).exists(_.getMessage
        .contains("unsupported partitioning")))
  }

  test("timestamp range predicates prune days()-partitioned files at plan time") {
    // the generated-partition-filter derivation: `ts BETWEEN x AND y`
    // implies days(ts) ∈ [day(x), day(y)] — a plain time-range query
    // on a day-partitioned table opens only that window's files
    val root = freshRoot()
    val dir = s"$root/tr"
    TxSql.installCatalog(spark, "txtr", root)
    spark.sql("CREATE TABLE txtr.tr (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    val rows = (0 until 96).map(h => (h.toLong,
      java.sql.Timestamp.valueOf(
        f"2024-03-${1 + h / 24}%02d ${h % 24}%02d:30:00")))
    rows.toDF("k", "ts").createOrReplaceTempView("tr_src")
    spark.sql("INSERT INTO txtr.tr SELECT k, ts FROM tr_src")
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.fileValues.values.exists(_.contains("days(ts)")))
    val q = spark.sql("SELECT k FROM txtr.tr WHERE " +
      "ts >= TIMESTAMP '2024-03-02 00:00:00' AND " +
      "ts < TIMESTAMP '2024-03-03 00:00:00'")
    val got = q.as[Long].collect().sorted.toSeq
    assert(got === (24L until 48L), "wrong rows through the day prune")
    val opened = scannedFiles(q)
    val dayFiles = snap.files.filter(f =>
      snap.fileValues.get(f).flatMap(_.get("days(ts)"))
        .exists(_.contains("2024-03-02"))).map(_.split('/').last).toSet
    assert(opened.subsetOf(dayFiles),
      s"scan opened non-matching-day files: ${opened -- dayFiles}")
    assert(opened.size < snap.files.size,
      s"time-range query did not prune: ${opened.size}/${snap.files.size}")
  }

  test("partition-spec evolution: days -> hours, both generations prune in one query") {
    val root = freshRoot()
    val dir = s"$root/ev"
    TxSql.installCatalog(spark, "txevo", root)
    spark.sql("CREATE TABLE txevo.ev (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    // generation A (spec days): March 1-3, hourly rows
    val genA = (0 until 72).map(h => (h.toLong,
      java.sql.Timestamp.valueOf(
        f"2024-03-${1 + h / 24}%02d ${h % 24}%02d:30:00")))
    genA.toDF("k", "ts").createOrReplaceTempView("ev_a")
    spark.sql("INSERT INTO txevo.ev SELECT k, ts FROM ev_a")
    val snapA = TxTable.snapshot(spark, dir).get
    assert(snapA.fileValues.values.exists(_.contains("days(ts)")))
    // EVOLVE the live table: days(ts) -> hours(ts), zero rewrites
    val res = spark.sql(
      "CALL txevo.system.evolve_partitions('ev', 'hours(ts)')").head()
    assert(res.getAs[String]("previous") === "days(ts)")
    assert(res.getAs[String]("current") === "hours(ts)")
    assert(TxTable.snapshot(spark, dir).get.files === snapA.files,
      "evolution must not rewrite any data file")
    // generation B (spec hours): March 4, quarter-hour rows
    val genB = (0 until 96).map(i => (100 + i.toLong,
      java.sql.Timestamp.valueOf(
        f"2024-03-04 ${i / 4}%02d:${15 * (i % 4)}%02d:00")))
    genB.toDF("k", "ts").createOrReplaceTempView("ev_b")
    spark.sql("INSERT INTO txevo.ev SELECT k, ts FROM ev_b")
    val snapB = TxTable.snapshot(spark, dir).get
    val newFiles = snapB.files.filterNot(snapA.files.toSet)
    assert(newFiles.nonEmpty && newFiles.forall(f =>
      snapB.fileValues.get(f).exists(_.contains("hours(ts)"))),
      "post-evolution writes must record value sets under the NEW spec")
    assert(snapA.files.forall(f =>
      snapB.fileValues.get(f).exists(_.contains("days(ts)"))),
      "old-generation files must keep their old-spec value sets")
    // ONE query spanning the boundary: old files prune via days sets,
    // new files via hours sets — day 2024-03-02 + two hours of 03-04
    val q = spark.sql("SELECT k FROM txevo.ev WHERE " +
      "ts >= TIMESTAMP '2024-03-02 00:00:00' AND " +
      "ts < TIMESTAMP '2024-03-03 00:00:00' OR " +
      "ts >= TIMESTAMP '2024-03-04 05:00:00' AND " +
      "ts < TIMESTAMP '2024-03-04 07:00:00'")
    assert(q.as[Long].collect().sorted.toSeq ===
      ((24L until 48L) ++ (120L until 128L)))
    // a query INSIDE generation A must not open any new-gen file (the
    // hours sets exclude them) and prunes old-gen to the matching day
    val qa = spark.sql("SELECT k FROM txevo.ev WHERE " +
      "ts >= TIMESTAMP '2024-03-02 00:00:00' AND " +
      "ts < TIMESTAMP '2024-03-03 00:00:00'")
    assert(qa.as[Long].collect().sorted.toSeq === (24L until 48L))
    val openedA = scannedFiles(qa)
    val newNames = newFiles.map(_.split('/').last).toSet
    assert(openedA.intersect(newNames).isEmpty,
      "generation-A query opened new-generation files")
    assert(openedA.size < snapB.files.size)
    // a query INSIDE generation B: hours prune on new files, day
    // prune excludes every old file
    val qb = spark.sql("SELECT k FROM txevo.ev WHERE " +
      "ts >= TIMESTAMP '2024-03-04 05:00:00' AND " +
      "ts < TIMESTAMP '2024-03-04 07:00:00'")
    assert(qb.as[Long].collect().sorted.toSeq === (120L until 128L))
    val openedB = scannedFiles(qb)
    val oldNames = snapA.files.map(_.split('/').last).toSet
    assert(openedB.intersect(oldNames).isEmpty,
      "generation-B query opened old-generation files")
    // refusal paths, named
    val e1 = intercept[Exception](TxTable.evolvePartitions(spark, dir,
      Seq("days(nope)")))
    assert(e1.getMessage.contains("does not exist"))
    val e2 = intercept[Exception](TxTable.evolvePartitions(spark, dir,
      Seq("bucket(8,k)", "days(ts)")))
    assert(e2.getMessage.contains("only partition transform"))
    // zone continuity across a NON-TEMPORAL hop: days → bucket → days
    // must carry the ORIGINAL recording zone (re-stamping the session
    // zone would re-enable pruning over old sets' different calendar)
    val tz0 = TxTable.declaredPartitionTz(spark, dir)
    assert(tz0.isDefined, "temporal declaration must record a zone")
    TxTable.evolvePartitions(spark, dir, Seq("bucket(4, k)"))
    TxTable.evolvePartitions(spark, dir, Seq("days(ts)"))
    assert(TxTable.declaredPartitionTz(spark, dir) === tz0,
      "the recorded zone must survive a non-temporal evolution hop")
  }

  test("ALTER TABLE ADD COLUMN: old rows read null, next write populates") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "txalt", root)
    spark.sql("CREATE TABLE txalt.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO txalt.t VALUES (1, 'a')")
    spark.sql("ALTER TABLE txalt.t ADD COLUMN extra BIGINT")
    // the declared column surfaces immediately, null for old rows
    assert(spark.sql("SELECT k, v, extra FROM txalt.t")
      .as[(Long, String, Option[Long])].collect().toSeq ===
      Seq((1L, "a", None)))
    // the next write populates it; mixed files read consistently
    spark.sql("INSERT INTO txalt.t VALUES (2, 'b', 20)")
    assert(spark.sql("SELECT k, v, extra FROM txalt.t ORDER BY k")
      .as[(Long, String, Option[Long])].collect().toSeq ===
      Seq((1L, "a", None), (2L, "b", Some(20L))))
    // duplicate add refuses; retype refuses with a named error
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE txalt.t ADD COLUMN extra BIGINT")
    }
    assert(e.getMessage.contains("already exist") ||
      Option(e.getCause).exists(_.getMessage.contains("already exist")))
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE txalt.t ALTER COLUMN v TYPE BIGINT")
    }
    // Spark's analyzer refuses the retype before our catalog sees it
    assert(e2.getMessage.toLowerCase.contains("not supported") ||
      e2.getMessage.toLowerCase.contains("unsupported alter"))
  }

  test("SQL scan on a mapped table: manifest prune + pushdown under new names") {
    // stats rekeyed at rename + filter translation in the scan
    // wrapper compose: a range on the RENAMED column still prunes
    // files at plan time, and the parquet reader sees physical names
    val root = freshRoot()
    val dir = s"$root/mp"
    val grid = (1 to 40).map(i => (i.toLong, s"g${i % 4}")).toDF("x", "g")
    TxTable.overwriteIndexedMulti(grid, dir, statCols = Seq("x"))
    TxTable.renameColumn(spark, dir, "x", "xid")
    TxSql.installCatalog(spark, "txmp", root)
    val snap = TxTable.snapshot(spark, dir).get
    val q = spark.sql("SELECT xid, g FROM txmp.mp WHERE xid BETWEEN 1 AND 5")
    assert(q.as[(Long, String)].collect().map(_._1).sorted.toSeq ===
      (1L to 5L))
    val opened = scannedFiles(q)
    assert(opened.size < snap.files.size,
      s"mapped-table range did not prune: ${opened.size}/${snap.files.size}")
    // physical pushdown: the scan description carries the FILE name
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("x"),
      s"no pushed filters in:\n${plan.take(2000)}")
  }

  test("write-time schema evolution widens the declared schema in one step") {
    // the autoMerge shape: a 2-column append lands on a 1-column
    // DECLARED table; the declaration widens with the write, so SQL
    // serves the new column immediately — old rows null
    val root = freshRoot()
    val dir = s"$root/w"
    TxSql.installCatalog(spark, "txwiden", root)
    spark.sql("CREATE TABLE txwiden.w (k BIGINT)") // v1: declared (k)
    spark.sql("INSERT INTO txwiden.w VALUES (1), (2)") // v2
    TxTable.append(Seq((3L, "c")).toDF("k", "v"), dir) // v3: widens
    assert(spark.sql("SELECT k, v FROM txwiden.w ORDER BY k")
      .as[(Long, Option[String])].collect().toSeq ===
      Seq((1L, None), (2L, None), (3L, Some("c"))))
    // and the widened declaration accepts SQL INSERT of both columns
    spark.sql("INSERT INTO txwiden.w VALUES (4, 'd')") // v4
    assert(spark.sql(
      "SELECT count(*) FROM txwiden.w WHERE v IS NOT NULL")
      .as[Long].head() === 2L)
  }

  test("ALTER RENAME/DROP COLUMN: metadata-only, SQL reads/writes follow") {
    val root = freshRoot()
    val dir = s"$root/ev"
    TxSql.installCatalog(spark, "txev", root)
    spark.sql("CREATE TABLE txev.ev (k BIGINT, v STRING, amt DOUBLE)") // v1
    spark.sql("INSERT INTO txev.ev VALUES (1, 'a', 1.5), (2, 'b', 2.5)") // v2
    val files2 = TxTable.snapshot(spark, dir).get.files
    spark.sql("ALTER TABLE txev.ev RENAME COLUMN v TO label") // v3
    // zero data bytes moved
    assert(TxTable.snapshot(spark, dir).get.files === files2)
    // SELECT under the new name, with predicates reaching the scan
    assert(spark.sql(
      "SELECT k, label FROM txev.ev WHERE label = 'a'")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // INSERT under the new name lands physically-consistent files
    spark.sql("INSERT INTO txev.ev VALUES (3, 'c', 3.5)") // v4
    assert(spark.sql("SELECT k, label, amt FROM txev.ev ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq ===
      Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))
    // VERSION AS OF below the rename serves the OLD name
    assert(spark.sql("SELECT * FROM txev.ev VERSION AS OF 2")
      .columns.toSeq === Seq("k", "v", "amt"))
    // SQL DELETE works through the mapping (all-logical path)
    spark.sql("DELETE FROM txev.ev WHERE label = 'b'") // v5
    assert(spark.sql("SELECT k FROM txev.ev ORDER BY k")
      .as[Long].collect().toSeq === Seq(1L, 3L))
    // SQL UPDATE works through the mapping: the row-level scan reads
    // physical names, declares logical, and the replacement files
    // store physical — every other file still reads
    spark.sql("UPDATE txev.ev SET amt = amt + 0.5 WHERE label = 'a'")
    assert(spark.sql("SELECT amt FROM txev.ev WHERE k = 1")
      .as[Double].head() === 2.0)
    // SQL MERGE too (matched update + not-matched insert)
    Seq((3L, "C", 0.25), (9L, "i", 9.25)).toDF("k", "label", "amt")
      .createOrReplaceTempView("ev_updates")
    spark.sql(
      """MERGE INTO txev.ev t USING ev_updates u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET label = u.label, amt = u.amt
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT k, label, amt FROM txev.ev ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq ===
      Seq((1L, "a", 2.0), (3L, "C", 0.25), (9L, "i", 9.25)))
    // DROP COLUMN hides the column; re-ADD maps to a fresh physical
    spark.sql("ALTER TABLE txev.ev DROP COLUMN label") // v6
    assert(spark.sql("SELECT * FROM txev.ev").columns.toSeq ===
      Seq("k", "amt"))
    spark.sql("ALTER TABLE txev.ev ADD COLUMN label STRING") // v7 remap
    assert(spark.sql("SELECT k, label FROM txev.ev WHERE label IS NOT NULL")
      .count() === 0L, "dropped data resurfaced after re-ADD")
    spark.sql("INSERT INTO txev.ev VALUES (4, 9.0, 'fresh')") // v8
    assert(spark.sql(
      "SELECT k, label FROM txev.ev WHERE label IS NOT NULL")
      .as[(Long, String)].collect().toSeq === Seq((4L, "fresh")))
    // dropping a partition column refuses (different table)
    spark.sql("CREATE TABLE txev.pt (k BIGINT, d STRING) " +
      "PARTITIONED BY (d)")
    val ep = intercept[Exception] {
      spark.sql("ALTER TABLE txev.pt DROP COLUMN d") }
    assert(ep.getMessage.contains("partition") ||
      Option(ep.getCause).exists(_.getMessage.contains("partition")))
  }

  test("composite PARTITIONED BY (a, b): tuple-exact dynamic overwrite") {
    val root = freshRoot()
    val dir = s"$root/cp"
    TxSql.installCatalog(spark, "txcp", root)
    spark.sql("CREATE TABLE txcp.cp (k BIGINT, d STRING, r STRING) " +
      "PARTITIONED BY (d, r)")
    spark.sql("INSERT INTO txcp.cp VALUES " +
      "(1, 'd1', 'eu'), (2, 'd1', 'us'), (3, 'd2', 'eu'), (4, 'd2', 'us')")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // replace ONLY (d1, eu): (d1, us) and (d2, eu) share one column
      // value each with the incoming tuple and must SURVIVE — the
      // tuple-exact row routing, not per-column deletion
      spark.sql("INSERT OVERWRITE txcp.cp VALUES (10, 'd1', 'eu')")
      val got = spark.sql("SELECT k FROM txcp.cp ORDER BY k")
        .as[Long].collect().toSeq
      assert(got === Seq(2L, 3L, 4L, 10L),
        s"composite overwrite must replace only the (d1, eu) tuple: $got")
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // the API verb agrees on the composite key
    graft.sources.TxTable.overwritePartitionsMulti(
      Seq((20L, "d2", "us")).toDF("k", "d", "r"), dir, Seq("d", "r"))
    assert(spark.sql("SELECT k FROM txcp.cp ORDER BY k")
      .as[Long].collect().toSeq === Seq(2L, 3L, 10L, 20L))
  }

  test("CALL system.detail: one row of table-level operational facts") {
    val root = freshRoot()
    val dir = s"$root/dt"
    TxSql.installCatalog(spark, "txdt", root)
    spark.sql("CREATE TABLE txdt.dt (k BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    spark.sql("CALL txdt.system.enable_change_feed('dt')")
    spark.sql("INSERT INTO txdt.dt VALUES (1, 'a'), (2, 'b')")
    val r = spark.sql("CALL txdt.system.detail('dt')").collect().head
    assert(r.getLong(0) === 2L) // version (create + insert)
    assert(r.getString(1) === "append")
    assert(r.getLong(2) > 0L) // commit_ts stamped
    assert(r.getLong(3) > 0L && r.getLong(4) > 0L) // files + bytes
    assert(r.getString(5) === "seg")
    assert(r.getBoolean(6)) // change feed on
    TxTable.deleteWhere(spark, dir, Seq(("k", 1.0, 1.0)))
    val r2 = spark.sql("CALL txdt.system.detail('dt')").collect().head
    assert(r2.getString(1) === "delete" && r2.getLong(7) >= 1L)
  }

  test("change feed via SQL: enable procedure, DML records, changes view reads") {
    val root = freshRoot()
    val dir = s"$root/cf"
    TxSql.installCatalog(spark, "txcf", root)
    spark.sql("CREATE TABLE txcf.cf (k BIGINT, v STRING)") // v1: create
    assert(spark.sql("CALL txcf.system.enable_change_feed('cf')")
      .as[Boolean].head())
    spark.sql("INSERT INTO txcf.cf VALUES (1, 'a'), (2, 'b')") // v2: append
    spark.sql("INSERT INTO txcf.cf VALUES (3, 'c')") // v3: append
    spark.sql("DELETE FROM txcf.cf WHERE k = 2") // v4: recorded deletes
    TxSql.registerChangesView(spark, "cf_changes", dir, from = 0L)
    val got = spark.sql(
      """SELECT _commit_version, _change_type, count(*) AS n
        |FROM cf_changes GROUP BY 1, 2
        |ORDER BY _commit_version, _change_type""".stripMargin)
      .as[(Long, String, Long)].collect().toSeq
    assert(got === Seq((2L, "insert", 2L), (3L, "insert", 1L),
      (4L, "delete", 1L)))
    // the SQL row-level UPDATE types its NET delta (multiset diff of
    // the rewritten groups) as update_preimage/update_postimage —
    // the SAME dialect as the API verb updateWhere (r15 ADVICE), so
    // type-sensitive consumers see one history regardless of
    // surface. Unchanged carried rows cancel and record nothing.
    spark.sql("UPDATE txcf.cf SET v = 'X' WHERE k = 1") // v5: recorded
    val v5 = TxTable.changeFeed(spark, dir, 4L)
      .select($"k", $"v", col(TxTable.ChangeTypeCol))
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(v5 === Seq((1L, "X", "update_postimage"),
      (1L, "a", "update_preimage")))
    // history names every operation for provenance
    assert(spark.sql("CALL txcf.system.history('cf')")
      .select($"op").as[String].collect().toSeq ===
      Seq("create", "append", "append", "delete", "update"))
  }

  test("SQL UPDATE on an overwriteIndexed table: every live file keeps stats, readRange prunes") {
    val root = freshRoot()
    val dir = s"$root/t"
    TxTable.overwriteIndexed((1 to 40).map(i => (i.toLong, i * 10L))
      .toDF("k", "cents"), dir, "cents")
    val before = TxTable.snapshot(spark, dir).get
    assert(before.files.size > 2 && before.files.forall(before.stats.contains))
    TxSql.installCatalog(spark, "txidx", root)
    spark.sql("UPDATE txidx.t SET cents = cents + 1 WHERE cents <= 50")
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.files.toSet != before.files.toSet, "the update rewrote a file")
    assert(snap.files.forall(snap.stats.contains),
      s"files without stats: ${snap.files.filterNot(snap.stats.contains)}")
    // a range inside one untouched file opens that file alone
    assert(TxTable.pruneFiles(snap, "cents", 390.0, 400.0).size === 1)
    assert(TxTable.readRange(spark, dir, "cents", 390.0, 400.0)
      .as[(Long, Long)].collect().sorted.toSeq === Seq((39L, 390L), (40L, 400L)))
    assert(TxTable.readRange(spark, dir, "cents", 11.0, 51.0).count() === 5L)
  }

  test("SQL range scan of an overwriteIndexed table prunes by the single-column stats") {
    val root = freshRoot()
    val dir = s"$root/t"
    TxTable.overwriteIndexed((1 to 40).map(i => (i.toLong, i * 10L))
      .toDF("k", "cents"), dir, "cents")
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.files.size > 2 && snap.multiStats.isEmpty)
    TxSql.installCatalog(spark, "txidxscan", root)
    val q = spark.sql(
      "SELECT k, cents FROM txidxscan.t WHERE cents BETWEEN 390 AND 400")
    assert(q.as[(Long, Long)].collect().sorted.toSeq ===
      Seq((39L, 390L), (40L, 400L)))
    assert(scannedFiles(q) ===
      TxTable.pruneFiles(snap, "cents", 390.0, 400.0).map(_.split('/').last).toSet)
    assert(scannedFiles(q).size === 1)
  }
}
