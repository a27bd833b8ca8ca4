package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks: every hand-rolled primitive against an
  * obviously-correct reference on randomized inputs. The JVM-pure
  * primitives (codegen helper objects, the PPM codec) get hundreds of
  * cases; the Spark-driven ones get a handful of randomized frames —
  * exact-math equivalences, so any failure is a real bug, not noise.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Base of every generator seed, fixed so a run is repeatable and a
    * failure replays. */
  private val baseSeed = 20261017L
  /** The running test's name and how many `cases` calls it has made. */
  private var current = ("", 0)

  override def withFixture(test: NoArgTest) = {
    current = (test.name, 0)
    super.withFixture(test)
  }

  /** `n` cases of `g`, seeded from (base seed, test name, call index):
    * a test's cases do not depend on which other tests ran. The seed
    * is logged with the test. */
  private def cases[A](g: Gen[A], n: Int): Seq[A] = {
    val (name, i) = current
    current = (name, i + 1)
    val seed = Seed(baseSeed).reseed(
      scala.util.hashing.MurmurHash3.stringHash(s"$name#$i").toLong)
    info(s"cases #$i: seed ${seed.toBase64}")
    Iterator.from(0)
      .flatMap(k => g(Gen.Parameters.default, seed.reseed(k.toLong)))
      .take(n).toSeq
  }

  test("LshUtil.buckets == per-plane sign-sum reference (300 random vectors)") {
    val genVec = for {
      n <- Gen.choose(1, 80)
      xs <- Gen.listOfN(n, Gen.choose(-5.0, 5.0))
    } yield xs.toArray
    for (v <- cases(genVec, 300)) {
      val got = graft.functions.LshUtil
        .buckets(new GenericArrayData(v), isFloat = false, 4, 16)
        .toLongArray()
      val want = (0 until 16).map { t =>
        (0 until 4).map { p =>
          val signs = graft.similarity.Similarity.planeSigns(t, p, v.length)
          val dot = v.indices.foldLeft(0.0)((a, i) => a + v(i) * signs(i))
          if (dot > 0) 1L << p else 0L
        }.sum
      }.toArray
      assert(got.toSeq == want.toSeq)
    }
  }

  test("ArrayPairsUtil.pairs == for-comprehension reference (300 random arrays)") {
    val genArr = for {
      n <- Gen.choose(0, 12)
      xs <- Gen.listOfN(n, Gen.choose(0L, 6L)) // small domain → many ties
    } yield xs.sorted.toArray
    for (a <- cases(genArr, 300); strict <- Seq(false, true)) {
      val got = graft.functions.ArrayPairsUtil
        .pairs(new GenericArrayData(a), isLong = true, strict)
        .array.toSeq.map { r =>
          val row = r.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
          (row.getLong(0), row.getLong(1))
        }
      val want = for {
        i <- a.indices; j <- (i + 1) until a.length
        if !strict || a(j) > a(i)
      } yield (a(i), a(j))
      assert(got == want, s"strict=$strict input=${a.toSeq}")
    }
  }

  test("KMeansUtil.nearest == sort-by-(negcos,cell) reference (200 random vectors)") {
    val k = 7
    val dim = 16
    val genVec = Gen.listOfN(dim, Gen.choose(-3.0, 3.0)).map(_.toArray)
    val cents = cases(genVec, k).toArray
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d, na, nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    for (v <- cases(genVec, 200); nprobe <- Seq(1, 3, k)) {
      val got = graft.functions.KMeansUtil
        .nearest(new GenericArrayData(v), isFloat = false, cents, nprobe)
        .toIntArray().toSeq
      val want = cents.indices
        .sortBy(c => (-cos(v, cents(c)), c)).take(nprobe)
      assert(got == want, s"nprobe=$nprobe")
    }
  }

  test("PpmCodec parse∘render recovers dims and channel sums for random ids") {
    import graft.multimodal.PpmCodec
    for (id <- cases(Gen.choose(0L, Long.MaxValue / 2), 100)) {
      val Some((w, h, sr, sg, sb)) = PpmCodec.parse(PpmCodec.render(id))
      assert(w == (id % 64 + 8).toInt && h == (id % 48 + 6).toInt)
      val s0 = (id % 256).toInt
      def ch(c: Int) =
        (0 until w * h).map(p => ((s0 + 3 * p + c) % 256).toLong).sum
      assert((sr, sg, sb) == ((ch(0), ch(1), ch(2))))
    }
  }

  test("WavCodec parse∘render recovers samples stats for random ids") {
    import graft.multimodal.WavCodec
    for (id <- cases(Gen.choose(0L, Long.MaxValue / 8), 100)) {
      val Some((nch, rate, frames, s0, s1, peak)) =
        WavCodec.parse(WavCodec.render(id))
      val n = (id % 384 + 64).toInt
      assert(nch == 2 && rate == 8000 && frames == n)
      def ch(c: Int) = (0 until n).map(k =>
        math.floorMod(id * 7 + 13L * k + 5L * c, 4096) - 2048)
      assert(s0 == ch(0).sum && s1 == ch(1).sum)
      assert(peak == (ch(0) ++ ch(1)).map(math.abs).max)
    }
  }

  test("codecs never throw on arbitrary bytes — reject or parse, only") {
    import graft.multimodal.{PpmCodec, WavCodec}
    val genBytes = for {
      n <- Gen.choose(0, 4096)
      bs <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield bs.toArray
    for (bs <- cases(genBytes, 400)) {
      PpmCodec.parse(bs) // must not throw
      WavCodec.parse(bs)
    }
    // adversarial prefixes: valid magic, garbage after
    for (bs <- cases(genBytes, 200)) {
      PpmCodec.parse("P6\n".getBytes ++ bs)
      WavCodec.parse("RIFF\u0000\u0000\u0000\u0000WAVE".getBytes ++ bs)
    }
    // truncations of VALID payloads at every boundary class
    val wav = WavCodec.render(7L)
    val ppm = PpmCodec.render(7L)
    for (cut <- Seq(0, 3, 11, 12, 35, 43, 44, wav.length - 1)) {
      WavCodec.parse(wav.take(cut)) // reject or parse, never throw
    }
    for (cut <- Seq(0, 1, 2, 5, 9, ppm.length - 1)) {
      PpmCodec.parse(ppm.take(cut))
    }
  }

  test("binnedIntervalJoin == naive BETWEEN join on random intervals (5 frames)") {
    import spark.implicits._
    val genFrame = for {
      nP <- Gen.choose(1, 200)
      nI <- Gen.choose(1, 40)
      bw <- Gen.choose(1L, 20L)
      ps <- Gen.listOfN(nP, Gen.choose(-100L, 100L))
      ivs <- Gen.listOfN(nI, for {
        lo <- Gen.choose(-100L, 100L)
        len <- Gen.choose(0L, 50L)
      } yield (lo, lo + len))
    } yield (ps, ivs, bw)
    for (((ps, ivs, bw), fi) <- cases(genFrame, 5).zipWithIndex) {
      val points = ps.zipWithIndex.toDF("p", "pid")
      val intervals = ivs.zipWithIndex.map { case ((lo, hi), i) => (lo, hi, i) }
        .toDF("lo", "hi", "iid")
      val got = graft.Util.binnedIntervalJoin(points, "p", intervals,
          "lo", "hi", bw)
        .select("pid", "iid").as[(Int, Int)].collect().sorted.toSeq
      val want = (for {
        (p, pid) <- ps.zipWithIndex
        ((lo, hi), iid) <- ivs.zipWithIndex
        if p >= lo && p <= hi
      } yield (pid, iid)).sorted
      assert(got == want, s"frame $fi (binWidth=$bw) diverged")
    }
  }

  test("Rank.runningSums == naive window on randomized tied data (5 frames)") {
    import spark.implicits._
    val genRows = for {
      n <- Gen.choose(1, 300)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b", "c")
        v <- Gen.choose(0, 9) // few distinct values → RANGE-frame peers
        w <- Gen.choose(1L, 5L)
      } yield (g, v, w))
    } yield rows
    for ((rows, i) <- cases(genRows, 5).zipWithIndex) {
      val df = rows.toDF("g", "v", "w")
        .withColumn("id", monotonically_increasing_id())
      val got = Rank12Helper.running(df)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"g").orderBy($"v") // RANGE frame: peers included
      val want = df.withColumn("rs", sum($"w").over(w))
        .withColumn("rs_total", sum($"w").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"g")))
        .select($"id", $"rs", $"rs_total")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want, s"frame $i (${rows.size} rows)")
    }
  }

  test("ExactPercentile.perGroup == built-in percentile on random frames (5 frames)") {
    import spark.implicits._
    val genRows = for {
      n <- Gen.choose(2, 400)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("x", "y")
        v <- Gen.choose(-100.0, 100.0)
      } yield (g, v))
    } yield rows
    for ((rows, i) <- cases(genRows, 5).zipWithIndex) {
      // every group needs ≥1 row; the generator may omit one
      val df = (rows ++ Seq(("x", 0.0), ("y", 0.0))).toDF("g", "v")
      val got = graft.operators.ExactPercentile
        .perGroup(df, "g", "v",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      val want = df.groupBy($"g").agg(
          expr("percentile(v, 0.25)"), expr("percentile(v, 0.5)"),
          expr("percentile(v, 0.75)"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      for (g <- got.keys) {
        val (a, b) = (got(g), want(g))
        assert(math.abs(a._1 - b._1) < 1e-9 &&
          math.abs(a._2 - b._2) < 1e-9 && math.abs(a._3 - b._3) < 1e-9,
          s"frame $i group $g: $a vs $b")
      }
    }
  }

  test("ExpectIncreasing == brute pairwise-lag reference (6 frames, both modes)") {
    // reference: sort non-null rows by (o, v), count adjacent
    // violations — exactly the oracle's lag-window definition. The
    // distributed evaluation (range buckets + in-bucket lag + HOF
    // edge fold) must agree on random frames with heavy duplicates.
    import spark.implicits._
    val genRows = for {
      n <- Gen.choose(0, 150)
      rows <- Gen.listOfN(n, for {
        o <- Gen.choose(0, 12)          // few order values → many ties
        v <- Gen.option(Gen.choose(0, 8)) // small domain → duplicate runs
      } yield (o, v))
    } yield rows
    for ((rows, i) <- cases(genRows, 6).zipWithIndex;
         strictly <- Seq(false, true)) {
      val df = rows.map { case (o, v) => (o.toLong, v.map(_.toDouble)) }
        .toDF("o", "v")
      val nn = rows.collect { case (o, Some(v)) => (o, v) }
        .sortBy(identity).map(_._2.toDouble)
      val wantViol = nn.zip(nn.drop(1)).count { case (p, c) =>
        if (strictly) c <= p else c < p
      }
      val rep = graft.quality.ExpectationSuite("t",
        Seq(graft.quality.ExpectIncreasing("v", "o", strictly)))
        .run(df).collect().head
      assert(rep.getAs[Double]("observed") == wantViol.toDouble,
        s"frame $i strictly=$strictly: got ${rep.getAs[Double]("observed")}" +
          s" want $wantViol (n=${nn.length})")
      val wantSuccess = if (wantViol == 0) 1L else 0L
      assert(rep.getAs[Long]("success") == wantSuccess)
    }
  }

  test("perGroupWeighted is exact on UNCONSOLIDATED histograms (5 frames)") {
    // duplicate (group, value) rows are the q_mad round-2 shape
    // (symmetric |v − med| collisions land as separate rows): the
    // ROWS-frame rank spans must keep them exact WITHOUT a defensive
    // re-group — split each value's weight across 1-3 rows at random
    // and demand equality with the consolidated form
    import spark.implicits._
    val genRows = for {
      n <- Gen.choose(2, 120)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("x", "y")
        v <- Gen.choose(-20, 20) // small domain → many duplicates
        splits <- Gen.choose(1, 3)
        w <- Gen.choose(1, 5)
      } yield (g, v.toDouble, splits, w.toLong))
    } yield rows
    for ((rows, i) <- cases(genRows, 5).zipWithIndex) {
      val expanded = (rows ++ Seq(("x", 0.0, 1, 1L), ("y", 0.0, 1, 1L)))
        .flatMap { case (g, v, s, w) => Seq.fill(s)((g, v, w)) }
      val dup = expanded.toDF("g", "v", "c")
      val consolidated = dup.groupBy($"g", $"v")
        .agg(org.apache.spark.sql.functions.sum($"c").as("c"))
      def run(h: org.apache.spark.sql.DataFrame): Map[String, (Double, Double)] =
        graft.operators.ExactPercentile
          .perGroupWeighted(h, "g", "v", "c",
            Seq("p30" -> 0.3, "p50" -> 0.5), unique = true)
          .collect().map(r => r.getString(0) ->
            (r.getDouble(1), r.getDouble(2))).toMap
      val a = run(dup)
      val b = run(consolidated)
      assert(a == b, s"frame $i: duplicated-row histogram diverged: $a vs $b")
    }
  }

  test("DV merge ≡ CoW merge on random tables and batches (8 cases)") {
    import graft.sources.TxTable
    import spark.implicits._
    // the merge-on-read path's whole contract in one property: for
    // ANY base table and ANY batch (overlapping keys, fresh keys,
    // duplicate batch keys, adversarial string values), the
    // DV-enabled merge must read back EXACTLY what the copy-on-write
    // twin reads. A candidate-prune bug (file skipped that held a
    // key), a canonical-form mismatch, or a resurrection through
    // fresh files all falsify it.
    val genVal = Gen.oneOf(Gen.alphaNumStr.map(_.take(8)),
      Gen.const("q\"uo\"te"), Gen.const("unié中"))
    val genCase = for {
      nBase <- Gen.choose(5, 40)
      base <- Gen.listOfN(nBase,
        Gen.zip(Gen.choose(0L, 30L), genVal))
      nBatch <- Gen.choose(1, 15)
      batch <- Gen.listOfN(nBatch,
        Gen.zip(Gen.choose(0L, 45L), genVal)) // overlaps + fresh keys
    } yield (base, batch)
    for (((base, batch), i) <- cases(genCase, 8).zipWithIndex) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_prop_mdv_$i").toString
      val (dvDir, cowDir) = (s"$root/dv", s"$root/cow")
      val baseDf = base.toDF("k", "v")
      val batchDf = batch.toDF("k", "v")
      for (d <- Seq(dvDir, cowDir))
        TxTable.overwriteIndexedMulti(baseDf, d, statCols = Seq("k"))
      TxTable.enableDeletionVectors(spark, dvDir)
      TxTable.merge(spark, dvDir, batchDf, "k")
      TxTable.merge(spark, cowDir, batchDf, "k")
      val got = TxTable.read(spark, dvDir)
        .as[(Long, String)].collect().sorted.toSeq
      val want = TxTable.read(spark, cowDir)
        .as[(Long, String)].collect().sorted.toSeq
      assert(got == want, s"case $i: DV merge diverged from CoW\n" +
        s"base=$base\nbatch=$batch\ndv=$got\ncow=$want")
      // and the DV side really was merge-on-read (an all-fresh-keys
      // batch legitimately prunes to ZERO candidates — no entry).
      // "Fresh" means NOT PRESENT IN THE BASE KEY SET — the old
      // `forall(_ > maxBase)` proxy was too strict and flaked on
      // random draws where a batch key fell inside the base's key
      // RANGE without matching any base row (no preimage to hide →
      // correctly no IN-set; the got == want gate above already
      // proved the semantics).
      val baseKeys = base.map(_._1).toSet
      assert(TxTable.snapshot(spark, dvDir).get.dels.nonEmpty ||
        !batch.exists(b => baseKeys(b._1)),
        s"case $i: merge did not record an IN-set")
    }
  }

  test("DelEntry manifest round-trip: random predicates survive commit -> snapshot exactly") {
    import graft.sources.TxTable
    // adversarial content: quotes, backslashes, control chars and
    // unicode in equality values; +/-Infinity and extreme magnitudes
    // in range bounds (serialized as Double.toString strings exactly
    // because bare JSON numbers cannot carry Infinity). NaN excluded:
    // a NaN bound matches no row and NaN != NaN breaks == round-trip.
    val genCol = Gen.identifier.map(_.take(12)).suchThat(_.nonEmpty)
    val genBound = Gen.oneOf(
      Gen.choose(-1e6, 1e6),
      Gen.oneOf(Double.NegativeInfinity, Double.PositiveInfinity,
        0.0, -0.0, 1.5e300, -2.2250738585072014e-308))
    val genVal = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(10)),
      Gen.const("q\"uo\"te"), Gen.const("back\\slash"),
      Gen.const("new\nline\ttab"), Gen.const("uni\u00e9\u4e2d"))
    val genEntry = for {
      i <- Gen.choose(0, 4)
      nr <- Gen.choose(0, 3)
      ne <- Gen.choose(0, 3)
      ni <- Gen.choose(0, 2)
      rs <- Gen.listOfN(nr, Gen.zip(genCol, genBound, genBound))
      es <- Gen.listOfN(ne, Gen.zip(genCol, genVal))
      is <- Gen.listOfN(ni, Gen.zip(genCol,
        Gen.choose(1, 4).flatMap(Gen.listOfN(_, genVal))))
      // an all-empty predicate would hide every row — the verbs never
      // produce one and DelEntry now refuses it at construction
      if rs.nonEmpty || es.nonEmpty || is.nonEmpty
    } yield TxTable.DelEntry(s"data/f$i.parquet", rs, es, is)
    val genEntries = Gen.choose(0, 5).flatMap(Gen.listOfN(_, genEntry))
    for ((entries, i) <- cases(genEntries, 60).zipWithIndex) {
      val t = java.nio.file.Files
        .createTempDirectory(s"graft_prop_dels_$i").toString + "/t"
      // every file an entry names is listed: commit keeps per-file
      // entries only for the files its snapshot lists
      TxTable.commit(spark, t, TxTable.Snapshot(1L,
        (0 to 4).map(i => s"data/f$i.parquet"), dels = entries))
      val got = TxTable.snapshot(spark, t).get.dels
      // MULTISET equality: the writer groups shared predicate bodies
      // under one "paths" list (sorted by head path), so entry ORDER
      // is not preserved — predicates are conjunctive, order never
      // affects visibility
      def ms(es0: Seq[TxTable.DelEntry]) =
        es0.groupBy(identity).view.mapValues(_.size).toMap
      assert(ms(got) == ms(entries), s"case $i: $got != $entries")
    }
  }

  test("manifest codec round-trip: decode(encode(s)) == s over random snapshots") {
    import graft.sources.TxTable
    import graft.sources.TxTable.{DelEntry, Snapshot}
    val genPath = Gen.oneOf(
      Gen.choose(0, 9).map(i => s"data/v$i-ab12cd34-$i-0.parquet"),
      Gen.const("file:/tmp/src/data/v1-x-0.parquet"))
    val genCol = Gen.oneOf(Gen.identifier.map(_.take(8)),
      Gen.const("days(ts)"), Gen.const("bucket(8,k)"))
    val genStr = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.const("q\"uo\"te"), Gen.const("back\\slash"),
      Gen.const("new\nline"), Gen.const("unié中"))
    // finite stats: bare JSON numbers carry no Infinity/NaN
    val genNum = Gen.oneOf(Gen.choose(-1e12, 1e12),
      Gen.oneOf(0.0, -3.25, 1.0e300, Double.MinPositiveValue))
    val genSpan = Gen.zip(genNum, genNum)
    // predicate bounds are strings, so they carry ±Infinity
    val genBound = Gen.oneOf(genNum,
      Gen.oneOf(Double.NegativeInfinity, Double.PositiveInfinity))
    def mapOf[V](keys: Gen[String], v: Gen[V], min: Int = 0) =
      Gen.choose(min, 3).flatMap(Gen.listOfN(_, Gen.zip(keys, v))).map(_.toMap)
    val genBody = for {
      nr <- Gen.choose(0, 2)
      rs <- Gen.listOfN(nr, Gen.zip(genCol, genBound, genBound))
      ne <- Gen.choose(0, 2)
      es <- Gen.listOfN(ne, Gen.zip(genCol, genStr))
      ni <- Gen.choose(if (nr + ne == 0) 1 else 0, 2)
      is <- Gen.listOfN(ni, Gen.zip(genCol,
        Gen.choose(1, 3).flatMap(Gen.listOfN(_, genStr))))
    } yield (rs, es, is)
    // dels in the writer's canonical order: one group per distinct
    // predicate body, groups in order of their (distinct) head paths
    def genDels(files: Seq[String]): Gen[Seq[DelEntry]] =
      if (files.isEmpty) Gen.const(Nil)
      else for {
        bodies <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, genBody))
        groups <- Gen.sequence[List[Seq[String]], Seq[String]](
          bodies.distinct.map(_ => Gen.someOf(files).suchThat(_.nonEmpty)
            .map(_.toSeq)))
      } yield bodies.distinct.zip(groups)
        .groupBy(_._2.head).values.map(_.head).toSeq.sortBy(_._2.head)
        .flatMap { case ((rs, es, is), ps) => ps.map(DelEntry(_, rs, es, is)) }
    val genSnap = for {
      version <- Gen.choose(1L, 1000000L)
      files <- Gen.listOf(genPath).map(_.distinct)
      txns <- mapOf(genStr, Gen.choose(0L, Long.MaxValue))
      statsCol <- Gen.option(genCol)
      stats <- if (statsCol.isEmpty || files.isEmpty) Gen.const(Map.empty[String, (Double, Double)])
        else mapOf(Gen.oneOf(files), genSpan, min = 1)
      mfiles <- Gen.someOf(files)
      ms <- Gen.sequence[List[Map[String, (Double, Double)]],
        Map[String, (Double, Double)]](mfiles.map(_ => mapOf(genCol, genSpan)))
      fv <- Gen.sequence[List[Map[String, Set[String]]], Map[String, Set[String]]](
        mfiles.map(_ => mapOf(genCol, Gen.listOf(genStr).map(_.toSet))))
      bloomCol <- Gen.option(genCol)
      blooms <- if (bloomCol.isEmpty || files.isEmpty) Gen.const(Map.empty[String, Array[Byte]])
        else mapOf(Gen.oneOf(files), Gen.listOf(Gen.choose(Byte.MinValue,
          Byte.MaxValue)).map(_.toArray), min = 1)
      op <- Gen.oneOf("write", "append", "merge", "alter_mapping", "q\"op")
      changes <- Gen.listOf(Gen.choose(0, 9).map(i => s"_changes/c$i-x-0.parquet"))
      ts <- Gen.choose(0L, Long.MaxValue)
      dels <- genDels(files)
    } yield Snapshot(version, files, txns,
      statsCol.filter(_ => stats.nonEmpty), stats,
      mfiles.toSeq.zip(ms).toMap, mfiles.toSeq.zip(fv).toMap,
      bloomCol.filter(_ => blooms.nonEmpty), blooms, op, changes, ts, dels)
    // blooms are byte arrays: compare their contents, not references
    def norm(s: Snapshot) =
      (s.copy(blooms = Map.empty), s.blooms.view.mapValues(_.toSeq).toMap)
    for ((s, i) <- cases(genSnap, 200).zipWithIndex) {
      val body = TxTable.encodeManifest(s)
      val got = TxTable.decodeManifest("t", s.version, body)
      assert(norm(got) == norm(s), s"case $i: $body")
      assert(TxTable.encodeManifest(got) == body, s"case $i re-encode")
      // the walk form decodes the same fields, skipping the index
      assert(TxTable.decodeManifest("t", s.version, body, full = false) ==
        Snapshot(s.version, s.files, op = s.op, changes = s.changes,
          ts = s.ts, dels = s.dels), s"case $i walk form")
    }
  }

  test("PartTransform name/parse round-trip over random columns and bucket widths") {
    import graft.sources.TxTable.PartTransform
    val genCol = Gen.identifier.map(_.take(16)).suchThat(_.nonEmpty)
    for (c <- cases(genCol, 200)) {
      for (t <- Seq(
        graft.sources.TxTable.PartIdentity(c),
        graft.sources.TxTable.PartDays(c),
        graft.sources.TxTable.PartMonths(c),
        graft.sources.TxTable.PartHours(c))) {
        assert(PartTransform.parse(t.name) == t, s"round-trip: ${t.name}")
      }
    }
    for ((c, n) <- cases(Gen.zip(genCol, Gen.choose(1, 4096)), 200)) {
      val b = graft.sources.TxTable.PartBucket(n, c)
      assert(PartTransform.parse(b.name) == b, s"round-trip: ${b.name}")
    }
  }
}


/** Helper keeping the runningSums call noise out of the property. */
private object Rank12Helper {
  def running(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    graft.operators.Rank
      .runningSums(df, Seq("g"), "v", Nil,
        Seq("rs" -> org.apache.spark.sql.functions.col("w")))
      .select("id", "rs", "rs_total")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
}

