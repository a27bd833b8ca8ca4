package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{TxSql, TxTable}

/** Round-17 hardening contract (the r16 ADVICE items, each pinned by
  * a spec so a regression is loud):
  *
  *   - CHECK constraints gate the V2 TASK-STAGED write paths (SQL
  *     UPDATE/MERGE ReplaceData, dynamic INSERT OVERWRITE, the native
  *     streaming sink) — previously only writeFiles' in-plan filter
  *     enforced them, so a violating V2 write committed silently;
  *   - an UNCOMMITTED `_mapping_v{head+1}` sidecar (in-flight or
  *     crashed ALTER) is inert — readers never honor it;
  *   - generated partition filters are gated on the WRITER-recorded
  *     timezone, and temporal-transform writes refuse a session zone
  *     that disagrees with the declared recording zone;
  *   - the checkpoint's embedded state slice is layout-anchored —
  *     drift reads as absent, never as a mis-sliced manifest;
  *   - `hours(ts)` tables prune from plain ts ranges (the half of the
  *     time-transform family r16 left unfinished).
  */
class TxHardeningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_txhard_").toString

  /** Distinct data-file names the executed plan actually scanned. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
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

  test("CHECK constraint gates SQL UPDATE (V2 ReplaceData path)") {
    val root = freshRoot()
    val dir = s"$root/u"
    TxSql.installCatalog(spark, "txhu", root)
    spark.sql("CREATE TABLE txhu.u (k BIGINT, amt DOUBLE)")
    spark.sql("INSERT INTO txhu.u VALUES (1, 5.0), (2, 7.0)")
    TxTable.addConstraint(spark, dir, "amt_pos", "amt > 0")
    // a violating UPDATE fails the statement — the table never sees it
    val e = intercept[Exception] {
      spark.sql("UPDATE txhu.u SET amt = -1.0 WHERE k = 1") }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("amt_pos")),
      s"expected the constraint name in: ${msgs(e).mkString(" | ")}")
    assert(spark.sql("SELECT k, amt FROM txhu.u ORDER BY k")
      .as[(Long, Double)].collect().toSeq === Seq((1L, 5.0), (2L, 7.0)),
      "violating UPDATE must leave the table unchanged")
    // version unchanged: the statement aborted before any commit
    assert(TxTable.snapshot(spark, dir).get.version === 2L)
    // a CONFORMING update still lands
    spark.sql("UPDATE txhu.u SET amt = 9.0 WHERE k = 1")
    assert(spark.sql("SELECT amt FROM txhu.u WHERE k = 1")
      .as[Double].head() === 9.0)
  }

  test("CHECK constraint gates dynamic INSERT OVERWRITE (V2 task-staged path)") {
    val root = freshRoot()
    val dir = s"$root/d"
    TxSql.installCatalog(spark, "txhd", root)
    spark.sql("CREATE TABLE txhd.d (k BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO txhd.d VALUES (1, 'a'), (2, 'b')")
    TxTable.addConstraint(spark, dir, "k_pos", "k > 0")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val e = intercept[Exception] {
        spark.sql("INSERT OVERWRITE txhd.d VALUES (-5, 'a')") }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: msgs(t.getCause)
      assert(msgs(e).exists(_.contains("k_pos")),
        s"expected the constraint name in: ${msgs(e).mkString(" | ")}")
      assert(spark.sql("SELECT k, part FROM txhd.d ORDER BY k")
        .as[(Long, String)].collect().toSeq ===
        Seq((1L, "a"), (2L, "b")),
        "violating dynamic overwrite must leave the table unchanged")
      // conforming dynamic overwrite still replaces exactly its day
      spark.sql("INSERT OVERWRITE txhd.d VALUES (10, 'a')")
      assert(spark.sql("SELECT k, part FROM txhd.d ORDER BY k")
        .as[(Long, String)].collect().toSeq ===
        Seq((2L, "b"), (10L, "a")))
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("CHECK constraint gates the native streaming sink per epoch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = freshRoot() + "/s"
    val ckpt = Files.createTempDirectory("graft_txhard_ckpt").toString
    TxTable.createEmpty(spark, t,
      org.apache.spark.sql.types.StructType.fromDDL("value BIGINT"))
    TxTable.addConstraint(spark, t, "v_pos", "value > 0")
    val in = MemoryStream[Long]
    val q = in.toDF().select(col("value"))
      .writeStream.format("txtable")
      .option("path", t).option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData(1L, 2L, 3L)
      q.processAllAvailable()
      assert(TxTable.read(spark, t).count() === 3L)
      in.addData(-4L) // violating micro-batch: the epoch must fail
      val e = intercept[Exception] { q.processAllAvailable() }
      def msgs(tt: Throwable): Seq[String] =
        if (tt == null) Nil else tt.getMessage +: msgs(tt.getCause)
      assert(msgs(e).exists(_.contains("v_pos")),
        s"expected the constraint name in: ${msgs(e).mkString(" | ")}")
    } finally q.stop()
    // the violating epoch never committed
    assert(TxTable.read(spark, t).as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L))
  }

  test("uncommitted mapping sidecar above the head is inert") {
    val t = freshRoot() + "/m"
    TxTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    // simulate an in-flight/crashed ALTER RENAME: the sidecar for
    // head+1 is staged but its manifest never commits
    val lp = new org.apache.hadoop.fs.Path(t, "_graft_log")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(lp, "_has_mapping"), true).close()
    val out = fs.create(new org.apache.hadoop.fs.Path(lp,
      "_mapping_v2.json"), true)
    out.write("""{"cols":[{"l":"renamed","p":"v","d":false}]}"""
      .getBytes("UTF-8"))
    out.close()
    // readers must serve the COMMITTED names, not the orphan's
    assert(TxTable.read(spark, t).columns.toSeq === Seq("k", "v"),
      "orphan sidecar leaked into reads")
    // a concurrent append physicalizes with the COMMITTED mapping
    // (identity) and claims v2 with op=append — the sidecar is now a
    // committed-but-not-alter version: still invalid
    TxTable.append(Seq((3L, "c")).toDF("k", "v"), t)
    assert(TxTable.read(spark, t).columns.toSeq === Seq("k", "v"))
    assert(TxTable.read(spark, t).count() === 3L)
    // a REAL rename afterwards works and wins
    TxTable.renameColumn(spark, t, "v", "label")
    assert(TxTable.read(spark, t).columns.toSeq === Seq("k", "label"))
  }

  test("manifest bodies of the previous writer decode and re-encode byte for byte") {
    import TxTable.{DelEntry, Snapshot}
    // bodies as the 12-parameter writer published them (ts included);
    // the checkpoint `state` slice and every retained manifest depend
    // on this layout staying put
    val (a, b, c) = ("data/a.parquet", "data/b.parquet", "data/c.parquet")
    val ins = Seq("k" -> Seq("1", "q\"uo\"te", "back\\slash"))
    val golden = Seq(
      """{"version":1,"files":["data/v1-a-0.parquet","data/v1-a-1.parquet"],"op":"append","ts":1792294450611,"cdc":["_changes/c1-a-0.parquet"],"txns":{"app:b":3,"ivm":7}}""" ->
        Snapshot(1L, Seq("data/v1-a-0.parquet", "data/v1-a-1.parquet"),
          txns = Map("ivm" -> 7L, "app:b" -> 3L), op = "append",
          changes = Seq("_changes/c1-a-0.parquet"), ts = 1792294450611L),
      """{"version":4,"files":["data/a.parquet","data/b.parquet","data/c.parquet"],"op":"overwrite","ts":1792294450663,"statscol":"k","stats":[{"path":"data/a.parquet","min":-1.5,"max":2.0},{"path":"data/b.parquet","min":3.0,"max":1.0E10}],"mstats":[{"path":"data/a.parquet","cols":{"k":[1.0,2.0],"x":[-3.25,0.0]},"vals":{"days(ts)":["2024-01-02"],"region":["eu","us"]}},{"path":"data/c.parquet","cols":{"k":[5.0,9.0]},"vals":{}}],"blooms":{"col":"id","files":[{"path":"data/b.parquet","b64":"AQID/w=="},{"path":"data/c.parquet","b64":"AA=="}]}}""" ->
        Snapshot(4L, Seq(a, b, c), statsCol = Some("k"),
          stats = Map(a -> (-1.5, 2.0), b -> (3.0, 1.0e10)),
          multiStats = Map(a -> Map("k" -> (1.0, 2.0), "x" -> (-3.25, 0.0)),
            c -> Map("k" -> (5.0, 9.0))),
          fileValues = Map(a -> Map("region" -> Set("eu", "us"),
            "days(ts)" -> Set("2024-01-02")), c -> Map.empty),
          bloomCol = Some("id"),
          blooms = Map(b -> Array[Byte](1, 2, 3, -1), c -> Array[Byte](0)),
          op = "overwrite", ts = 1792294450663L),
      """{"version":9,"files":["data/a.parquet","data/b.parquet","data/c.parquet"],"op":"merge","ts":1792294450675,"minReader":2,"dels":[{"paths":["data/a.parquet","data/b.parquet"],"r":[],"e":[],"i":[["k",["1","q\"uo\"te","back\\slash"]]]},{"paths":["data/c.parquet"],"r":[["x","-Infinity","4.5"]],"e":[["r","eu"]]},{"paths":["data/c.parquet"],"r":[],"e":[["r","new""" + "\\u000a" + """line"]]}]}""" ->
        Snapshot(9L, Seq(a, b, c), op = "merge", ts = 1792294450675L,
          dels = Seq(DelEntry(a, Nil, Nil, ins), DelEntry(b, Nil, Nil, ins),
            DelEntry(c, Seq(("x", Double.NegativeInfinity, 4.5)),
              Seq("r" -> "eu")),
            DelEntry(c, Nil, Seq("r" -> "new\nline")))))
    def norm(s: Snapshot) =
      (s.copy(blooms = Map.empty), s.blooms.view.mapValues(_.toSeq).toMap)
    golden.foreach { case (body, want) =>
      val got = TxTable.decodeManifest("t", want.version, body)
      assert(norm(got) == norm(want), body)
      assert(TxTable.encodeManifest(got) == body)
    }
    // the pre-r18 one-entry "path" deletion form still decodes, and
    // re-encodes in the shared-body form
    val legacy = """{"version":3,"files":["data/a.parquet"],"op":"delete","ts":1700000000000,"dels":[{"path":"data/a.parquet","r":[["k","1.0","5.0"]],"e":[]}]}"""
    val old = TxTable.decodeManifest("t", 3L, legacy)
    assert(old == Snapshot(3L, Seq(a), op = "delete", ts = 1700000000000L,
      dels = Seq(DelEntry(a, Seq(("k", 1.0, 5.0)), Nil))))
    assert(TxTable.encodeManifest(old) == """{"version":3,"files":["data/a.parquet"],"op":"delete","ts":1700000000000,"minReader":2,"dels":[{"paths":["data/a.parquet"],"r":[["k","1.0","5.0"]],"e":[]}]}""")
    // a pre-label manifest (no op, no ts) reads as op "write", ts 0
    assert(TxTable.decodeManifest("t", 2L,
      """{"version":2,"files":["data/a.parquet"]}""") == Snapshot(2L, Seq(a)))
  }

  test("checkpoint state slice is layout-anchored; drift reads absent") {
    val t = freshRoot() + "/c"
    // reach the checkpoint interval so _last_checkpoint embeds state
    (1 to 10).foreach(i => TxTable.append(Seq((i, s"r$i")).toDF("k", "v"), t))
    val lp = new org.apache.hadoop.fs.Path(t, "_graft_log")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = TxTable.readCheckpointState(fs, t)
    assert(st.isDefined, "expected embedded state at the interval")
    val (v, body) = st.get
    assert(v === 10L)
    // the slice is the exact manifest body: it must parse and carry
    // the version's files
    val parsed = graft.Json.parseObject(body)
    assert(parsed.get("version").contains(10L))
    // drift: a writer that appends a field after state must read as
    // ABSENT (fail-open to the listing), never as a mis-slice
    val cp = new org.apache.hadoop.fs.Path(lp, "_last_checkpoint")
    val raw = {
      val in = fs.open(cp)
      try {
        val o = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { o.write(buf, 0, n); n = in.read(buf) }
        new String(o.toByteArray, "UTF-8")
      } finally in.close()
    }
    val drifted = raw.dropRight(1) + ",\"extra\":1}"
    val out = fs.create(cp, true)
    out.write(drifted.getBytes("UTF-8")); out.close()
    assert(TxTable.readCheckpointState(fs, t).isEmpty,
      "drifted checkpoint must read absent, not mis-slice")
    // and the table still resolves through the listing fallback
    assert(TxTable.read(spark, t).count() === 10L)
  }

  test("temporal transforms refuse zone-mismatched writes; prune disabled for non-UTC recordings") {
    val root = freshRoot()
    val dir = s"$root/z"
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // declare + write under a NON-UTC zone: self-consistent, allowed
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      TxTable.declarePartitions(spark, dir, Seq("days(ts)"))
      val rows = (0 until 48).map(h => (h.toLong,
        java.sql.Timestamp.valueOf(f"2024-03-0${1 + h / 24} ${h % 24}%02d:30:00")))
      TxTable.overwritePartitions(
        rows.toDF("k", "ts"), dir, "days(ts)")
      // a ZONE-MISMATCHED write refuses with a named error
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val e = intercept[IllegalArgumentException] {
        TxTable.overwritePartitions(
          rows.take(2).toDF("k", "ts"), dir, "days(ts)") }
      assert(e.getMessage.contains("America/New_York"))
      // reads under UTC: the generated filter must NOT prune (the
      // recorded day strings are NY-calendar) — correctness first
      TxSql.installCatalog(spark, "txhz", root)
      val q = spark.sql("SELECT k FROM txhz.z WHERE " +
        "ts >= TIMESTAMP '2024-03-02 00:00:00' AND " +
        "ts < TIMESTAMP '2024-03-03 00:00:00'")
      assert(q.as[Long].collect().sorted.toSeq === (24L until 48L),
        "zone-mismatched prune dropped matching rows")
      val snap = TxTable.snapshot(spark, dir).get
      assert(scannedFiles(q).size === snap.files.size,
        "generated filter must be DISABLED for non-UTC recordings")
      // a rename under a UTC session must PRESERVE the recorded zone —
      // re-stamping the session's would re-enable the unsound prune
      // (r17 self-review finding)
      TxTable.renameColumn(spark, dir, "ts", "event_ts")
      assert(TxTable.declaredPartitions(spark, dir) ===
        Seq("days(event_ts)"))
      assert(TxTable.declaredPartitionTz(spark, dir) ===
        Some("America/New_York"),
        "rename re-stamped the recording zone")
      // and a shallow clone carries the SOURCE's zone, not the session's
      val dst = s"$root/zclone"
      TxTable.cloneShallow(spark, dir, dst)
      assert(TxTable.declaredPartitionTz(spark, dst) ===
        Some("America/New_York"),
        "clone re-stamped the recording zone")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("hours(ts) tables prune from plain ts ranges at plan time") {
    val root = freshRoot()
    val dir = s"$root/h"
    TxSql.installCatalog(spark, "txhh", root)
    spark.sql("CREATE TABLE txhh.h (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (hours(ts))")
    // 24 hours, 4 rows per hour
    val rows = (0 until 96).map(i => (i.toLong,
      java.sql.Timestamp.valueOf(f"2024-03-01 ${i / 4}%02d:${15 * (i % 4)}%02d:00")))
    rows.toDF("k", "ts").createOrReplaceTempView("hh_src")
    spark.sql("INSERT INTO txhh.h SELECT k, ts FROM hh_src")
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.fileValues.values.exists(_.contains("hours(ts)")),
      "hours() INSERT must record hour value sets")
    // a 2-hour half-open range opens only those hours' files
    val q = spark.sql("SELECT k FROM txhh.h WHERE " +
      "ts >= TIMESTAMP '2024-03-01 05:00:00' AND " +
      "ts < TIMESTAMP '2024-03-01 07:00:00'")
    assert(q.as[Long].collect().sorted.toSeq === (20L until 28L))
    val opened = scannedFiles(q)
    val hourFiles = snap.files.filter(f =>
      snap.fileValues.get(f).flatMap(_.get("hours(ts)")).exists(_.exists(h =>
        h == "2024-03-01 05:00:00" || h == "2024-03-01 06:00:00")))
      .map(_.split('/').last).toSet
    assert(opened.subsetOf(hourFiles),
      s"scan opened non-matching-hour files: ${opened -- hourFiles}")
    assert(opened.size < snap.files.size,
      s"hour-range query did not prune: ${opened.size}/${snap.files.size}")
  }

  test("years(ts) cycle: value sets, dynamic overwrite, generated-filter prune") {
    val root = freshRoot()
    val dir = s"$root/y"
    TxSql.installCatalog(spark, "txyy", root)
    spark.sql("CREATE TABLE txyy.y (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (years(ts))")
    // three years, 8 rows each
    val rows = for (y <- 2021 to 2023; i <- 0 until 8) yield
      ((y - 2021) * 8 + i.toLong,
        java.sql.Timestamp.valueOf(f"$y-0${1 + i % 9}-15 12:00:00"))
    rows.toDF("k", "ts").createOrReplaceTempView("yy_src")
    spark.sql("INSERT INTO txyy.y SELECT k, ts FROM yy_src")
    val snap1 = TxTable.snapshot(spark, dir).get
    assert(snap1.fileValues.values.exists(_.contains("years(ts)")),
      "years() INSERT must record year value sets")
    // a plain ts range inside ONE year opens only that year's files
    val q = spark.sql("SELECT k FROM txyy.y WHERE " +
      "ts >= TIMESTAMP '2022-01-01 00:00:00' AND " +
      "ts < TIMESTAMP '2023-01-01 00:00:00'")
    assert(q.as[Long].collect().sorted.toSeq === (8L until 16L))
    val opened = scannedFiles(q)
    val yearFiles = snap1.files.filter(f =>
      snap1.fileValues.get(f).flatMap(_.get("years(ts)"))
        .exists(_.contains("2022-01-01")))
      .map(_.split('/').last).toSet
    assert(opened.subsetOf(yearFiles),
      s"scan opened non-matching-year files: ${opened -- yearFiles}")
    assert(opened.size < snap1.files.size,
      s"year-range query did not prune: ${opened.size}/${snap1.files.size}")
    // dynamic overwrite replaces exactly the incoming year
    TxTable.overwritePartitions(
      Seq((100L, java.sql.Timestamp.valueOf("2022-06-01 00:00:00")))
        .toDF("k", "ts"), dir, "years(ts)")
    val got = spark.sql("SELECT k FROM txyy.y ORDER BY k")
      .as[Long].collect().toSeq
    assert(got === ((0L until 8L) ++ (16L until 24L) :+ 100L).sorted)
    val snap2 = TxTable.snapshot(spark, dir).get
    val untouched = snap1.files.filter(f =>
      snap1.fileValues.get(f).flatMap(_.get("years(ts)"))
        .exists(vs => !vs("2022-01-01")))
    assert(untouched.nonEmpty && untouched.forall(snap2.files.toSet),
      "years() overwrite rewrote a provably-untouched year")
  }

  test("truncate(w, col) cycle: prefix value sets, dynamic overwrite, equality prune") {
    val root = freshRoot()
    val dir = s"$root/t"
    TxSql.installCatalog(spark, "txtru", root)
    spark.sql("CREATE TABLE txtru.t (code STRING, v BIGINT) " +
      "PARTITIONED BY (truncate(4, code))")
    val rows = for (p <- Seq("AAAA", "BBBB", "CCCC"); i <- 0 until 6)
      yield (s"$p-$i", i.toLong)
    rows.toDF("code", "v").createOrReplaceTempView("tr_src")
    spark.sql("INSERT INTO txtru.t SELECT code, v FROM tr_src")
    val snap1 = TxTable.snapshot(spark, dir).get
    assert(snap1.fileValues.values.exists(_.contains("truncate(4,code)")),
      "truncate() INSERT must record prefix value sets")
    // a string equality prunes through the prefix generated filter
    val q = spark.sql("SELECT v FROM txtru.t WHERE code = 'BBBB-3'")
    assert(q.as[Long].collect().toSeq === Seq(3L))
    val opened = scannedFiles(q)
    val prefFiles = snap1.files.filter(f =>
      snap1.fileValues.get(f).flatMap(_.get("truncate(4,code)"))
        .exists(_.contains("BBBB")))
      .map(_.split('/').last).toSet
    assert(opened.subsetOf(prefFiles),
      s"scan opened non-matching-prefix files: ${opened -- prefFiles}")
    assert(opened.size < snap1.files.size,
      s"prefix-equality query did not prune: " +
        s"${opened.size}/${snap1.files.size}")
    // dynamic overwrite replaces exactly the incoming prefix
    TxTable.overwritePartitions(
      Seq(("BBBB-9", 99L)).toDF("code", "v"), dir, "truncate(4,code)")
    assert(spark.sql(
      "SELECT count(*) AS n FROM txtru.t WHERE code LIKE 'BBBB%'")
      .as[Long].head() === 1L)
    assert(spark.sql("SELECT count(*) AS n FROM txtru.t").as[Long]
      .head() === 13L)
    val snap2 = TxTable.snapshot(spark, dir).get
    val untouched = snap1.files.filter(f =>
      snap1.fileValues.get(f).flatMap(_.get("truncate(4,code)"))
        .exists(vs => !vs("BBBB")))
    assert(untouched.nonEmpty && untouched.forall(snap2.files.toSet),
      "truncate() overwrite rewrote a provably-untouched prefix")
    // non-string truncate refuses loudly at CREATE
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE txtru.bad (k BIGINT) PARTITIONED BY (truncate(4, k))"))
    assert(e.getMessage.contains("unsupported partitioning"))
  }

  test("truncate() prune is code-point-aware: non-BMP values never falsely prune") {
    // the recorded canonical prefix is substring(col, 1, w) — CODE
    // POINTS; a probe built with Scala's take(w) counts UTF-16 units,
    // so an emoji-bearing value (surrogate pair = 2 units, 1 point)
    // would probe a SHORTER prefix than recorded and falsely prune
    // the file, silently returning no rows
    val root = freshRoot()
    val dir = s"$root/t"
    TxSql.installCatalog(spark, "txtcp", root)
    spark.sql("CREATE TABLE txtcp.t (code STRING, v BIGINT) " +
      "PARTITIONED BY (truncate(2, code))")
    val emoji = new String(Character.toChars(0x1F600)) // non-BMP
    Seq((s"${emoji}A-1", 1L), (s"${emoji}A-2", 2L), ("BB-1", 3L))
      .toDF("code", "v").createOrReplaceTempView("tcp_src")
    spark.sql("INSERT INTO txtcp.t SELECT code, v FROM tcp_src")
    val snap = TxTable.snapshot(spark, dir).get
    // recorded form: 2 code points = emoji + 'A' (3 UTF-16 units)
    assert(snap.fileValues.values
      .exists(_.get("truncate(2,code)").exists(_.contains(s"${emoji}A"))),
      "canonical prefix must be code-point sliced")
    // equality through the generated filter must find the row
    assert(spark.sql(
      s"SELECT v FROM txtcp.t WHERE code = '${emoji}A-2'")
      .as[Long].collect().toSeq === Seq(2L))
    // and still PRUNE: the BB file stays unopened
    val q = spark.sql(s"SELECT v FROM txtcp.t WHERE code = '${emoji}A-1'")
    assert(q.as[Long].collect().toSeq === Seq(1L))
    val opened = scannedFiles(q)
    val bbFiles = snap.files.filter(f =>
      snap.fileValues.get(f).flatMap(_.get("truncate(2,code)"))
        .exists(_.contains("BB"))).map(_.split('/').last).toSet
    assert(opened.intersect(bbFiles).isEmpty,
      "emoji-prefix equality must still prune the other prefix's files")
  }

  test("reader-version gate: a manifest demanding a newer reader fails actionably") {
    val root = freshRoot()
    val dir = s"$root/t"
    TxTable.overwrite(Seq((1L, "a")).toDF("k", "v"), dir)
    // DV commits stamp the protocol floor; this build reads them
    TxTable.enableDeletionVectors(spark, dir)
    TxTable.deleteWhere(spark, dir, Seq(("k", 1.0, 1.0)))
    val head = TxTable.snapshot(spark, dir).get
    assert(head.dels.nonEmpty) // the level-2 feature round-trips
    // hand-write a FUTURE-level manifest: the reader must refuse with
    // an actionable message, not an opaque NoSuchElementException
    val log = new java.io.File(dir, "_graft_log")
    val next = head.version + 1
    val body = s"""{"version":$next,"files":[],"minReader":99,""" +
      """"futureFeature":{"x":1}}"""
    java.nio.file.Files.write(
      new java.io.File(log, s"v$next.json").toPath,
      body.getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      TxTable.snapshot(spark, dir))
    assert(e.getMessage.contains("newer writer") &&
      e.getMessage.contains("reader version 99"),
      s"unexpected error: ${e.getMessage}")
  }
}
