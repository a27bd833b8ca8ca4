package graft.pipeline

import graft.QueryModule
import graft.Util.r4
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.4 #56c — the reference's OWN vendor datasets, end to end.
  *
  * The reference instantiates one identical Airflow DAG per vendor
  * dataset (cf. /root/reference/aws_infrastructure/airflow-setup.py:172-241)
  * over `source_data/datasets/{alitran,easy_destiny,to_my_place_ai}/
  * {train,test}.parquet`: ingest → validate (Great Expectations) →
  * transform → split → train → evaluate. Here all three vendor DAGs run
  * as ONE Spark job: the per-vendor stages become per-group aggregates,
  * so adding a vendor adds a group, not a pipeline.
  *
  * Schema (722 cols): `trip_duration` (label, double), `passenger_count`
  * (int64), `hour`, `distance` (double), 717 one-hot `uint8` columns
  * (`pickup_*` 384, `dropoff_*` 324, `weekday_*` 7, `Q_*` 2) and a
  * pandas `__index_level_0__` row id.
  *
  * Scale design: `pipe_vendor` prunes 722 → 6 columns at the scan
  * (ReadSchema asserted in VendorPipelineSpec); train/eval are grouped
  * aggregates + a broadcast of the 3-row model frame — nothing driver-
  * side, no per-vendor scans. The normal-equations solve is Cramer's
  * rule on z-scored features expressed as column arithmetic, so the
  * whole fit is ONE shuffle of 14 partial-aggregable stats per vendor
  * regardless of row count. The wide queries (`pipe_vendor_onehot`,
  * `pipe_vendor_top_pickup`) deliberately run below the
  * `spark.sql.codegen.maxFields` threshold — see [[allWide]] for the
  * measured wide-schema codegen tradeoff.
  */
object VendorPipeline extends QueryModule {

  /** Overridable to run the vendor keys on generated data: write
    * `perfbench/gen.py`'s `vendors(out, sizes, seed)` fixture and set
    * `-Dgraft.vendor.root=<out>/datasets` BEFORE first access — `root`
    * and the memoized `vendors` are both resolved lazily. Object
    * init reads no property and touches no file: a host without the
    * reference still builds the whole registry, and only the vendor
    * keys fail, by name, when they run. */
  lazy val root: String = sys.props.getOrElse("graft.vendor.root",
    "/root/reference/source_data/datasets")
  /** The merged all-vendor split (724 cols: + vendor_* dummies). */
  lazy val mergedRoot = "/root/reference/source_data"

  /** `<vendor>/<split>.parquet` under `root`: group 1 is the vendor
    * (the split file's parent directory), group 2 the split. The
    * trailing `(/[^/]*)?` also accepts a split written as a directory
    * of part files (a split Spark wrote). Java and RE2 read it alike,
    * so the engine and the DuckDB oracle share this one rule. */
  private val splitPath = """/([^/]+)/(train|test)\.parquet(/[^/]*)?$"""
  private def fromPath(group: Int): Column =
    regexp_extract(input_file_name(), splitPath, group)

  /** Listing-driven dataset discovery — the reference's dynamic-DAG
    * pattern: its Lambda copies whatever exists under the source-data
    * prefix (airflow-setup.py:239-241) and the Airflow deployment
    * generates one DAG per discovered dataset, so adding a vendor is
    * a data drop, not a code change. Same here: every subdirectory of
    * `root` that holds a train split is a vendor. Hadoop FS listing,
    * so the same code discovers S3/HDFS prefixes on a real cluster;
    * sorted for deterministic union order (the oracle gate hashes
    * row-order-independently, but deterministic plans are easier to
    * debug). Memoized: the listing is driver-side metadata; one RPC
    * per JVM, not one per query. */
  lazy val vendors: Seq[String] = discoverVendors()

  private def discoverVendors(): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val found = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(s"$root/$v/train.parquet")))
      .sorted
    require(found.nonEmpty, s"no vendor datasets discovered under $root")
    found
  }

  /** One vendor split, tagged. Wide (722-column) frame; select early. */
  private def vendorSplit(s: SparkSession, v: String, split: String): DataFrame = {
    val p = s"$root/$v/$split.parquet"
    s.read.schema(graft.Tables.schemaFor(s, p)).parquet(p)
      .withColumn("vendor", lit(v)).withColumn("split", lit(split))
  }

  /** All six files, wide (722 columns).
    *
    * Whole-stage codegen is deliberately NOT forced here: fusing a
    * 717-column projection into one `processNext()` exceeds Janino's
    * 64 KB method limit (measured — the compile fails and Spark burns
    * ~90 s attempting it before falling back). Below the
    * `spark.sql.codegen.maxFields` threshold Spark instead runs the
    * vectorized columnar scan + an operator-level codegen'd
    * `UnsafeProjection`, which CAN split its generated code into many
    * methods — the architecture wide schemas are supposed to use. */
  private def allWide(s: SparkSession): DataFrame =
    vendors.flatMap(v => Seq(vendorSplit(s, v, "train"), vendorSplit(s, v, "test")))
      .reduce(_.unionByName(_))

  /** The regression columns only — 722 → 4 pruned at the scan.
    *
    * Round-9 plan surgery (same as pipe_vendor_top_pickup): ONE
    * multi-file scan with a STATIC explicit schema — no per-file
    * schema inference (the old per-vendor unionByName paid 6 footer
    * inferences of the 722-column schema per call, and pipe_vendor
    * calls this three times), no wide children in Catalyst analysis,
    * one file listing. vendor/split are recovered from the path,
    * exactly as the reference's per-dataset DAG derives them from its
    * S3 prefixes. */
  private val narrowSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("trip_duration",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("passenger_count",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("hour",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("distance",
      org.apache.spark.sql.types.DoubleType)))
  private def allNarrow(s: SparkSession): DataFrame = {
    val allPaths = vendors.flatMap(v =>
      Seq("train", "test").map(sp => s"$root/$v/$sp.parquet"))
    s.read.schema(narrowSchema).parquet(allPaths: _*)
      .withColumn("vendor", fromPath(1))
      .withColumn("split", fromPath(2))
  }

  /** Per-vendor 3-feature fit over the train split: one grouped
    * aggregate of 14 partial-aggregable moments, then the z-scored
    * normal equations solved by Cramer's rule as column arithmetic
    * (same algebra, same evaluation order as the DuckDB oracle).
    * Output: (vendor, m1..m3, s1..s3, my, b1..b3) — 3 rows. Shared by
    * pipe_vendor and the artifact sink. */
  private def fitVendorModels(s: SparkSession): DataFrame = {
    import s.implicits._
    val tr = allNarrow(s).filter($"split" === "train")
    val st = tr.groupBy($"vendor").agg(
      avg($"passenger_count").as("m1"), avg($"hour").as("m2"),
      avg($"distance").as("m3"),
      sqrt(var_pop($"passenger_count")).as("s1"),
      sqrt(var_pop($"hour")).as("s2"),
      sqrt(var_pop($"distance")).as("s3"),
      covar_pop($"passenger_count", $"hour").as("c12"),
      covar_pop($"passenger_count", $"distance").as("c13"),
      covar_pop($"hour", $"distance").as("c23"),
      covar_pop($"passenger_count", $"trip_duration").as("c1y"),
      covar_pop($"hour", $"trip_duration").as("c2y"),
      covar_pop($"distance", $"trip_duration").as("c3y"),
      avg($"trip_duration").as("my"))
    // z-scored features ⇒ the Gram matrix is the correlation matrix
    st
      .withColumn("p12", $"c12" / ($"s1" * $"s2"))
      .withColumn("p13", $"c13" / ($"s1" * $"s3"))
      .withColumn("p23", $"c23" / ($"s2" * $"s3"))
      .withColumn("r1", $"c1y" / $"s1")
      .withColumn("r2", $"c2y" / $"s2")
      .withColumn("r3", $"c3y" / $"s3")
      .withColumn("det",
        ($"p23" * $"p23" * lit(-1) + 1) - $"p12" * ($"p12" - $"p23" * $"p13") +
          $"p13" * ($"p12" * $"p23" - $"p13"))
      .withColumn("b1",
        ($"r1" * ($"p23" * $"p23" * lit(-1) + 1) - $"p12" * ($"r2" - $"p23" * $"r3") +
          $"p13" * ($"r2" * $"p23" - $"r3")) / $"det")
      .withColumn("b2",
        (($"r2" - $"p23" * $"r3") - $"r1" * ($"p12" - $"p23" * $"p13") +
          $"p13" * ($"p12" * $"r3" - $"r2" * $"p13")) / $"det")
      .withColumn("b3",
        (($"r3" - $"r2" * $"p23") - $"p12" * ($"p12" * $"r3" - $"r2" * $"p13") +
          $"r1" * ($"p12" * $"p23" - $"p13")) / $"det")
      .select($"vendor", $"m1", $"m2", $"m3", $"s1", $"s2", $"s3", $"my",
        $"b1", $"b2", $"b3")
  }

  /** Score the test split against a model frame (freshly fitted OR
    * reloaded from an artifact — any frame carrying the fit columns):
    * broadcast the 3-row model, one grouped metrics aggregate. */
  private def evalOnTest(s: SparkSession, model: DataFrame): DataFrame = {
    import s.implicits._
    val pred = $"my" + $"b1" * ($"passenger_count" - $"m1") / $"s1" +
      $"b2" * ($"hour" - $"m2") / $"s2" +
      $"b3" * ($"distance" - $"m3") / $"s3"
    val res = $"trip_duration" - $"pred"
    allNarrow(s).filter($"split" === "test")
      .join(broadcast(model.select($"vendor", $"m1", $"m2", $"m3",
        $"s1", $"s2", $"s3", $"my", $"b1", $"b2", $"b3")), Seq("vendor"))
      .withColumn("pred", pred)
      .groupBy($"vendor").agg(
        count(lit(1)).as("n_test"),
        sqrt(avg(res * res)).as("rmse_raw"),
        avg(abs(res)).as("mae_raw"),
        (lit(1.0) - sum(res * res) /
          (var_pop($"trip_duration") * count(lit(1)))).as("r2_raw"))
  }

  val queries: Map[String, Q] = Map(
    // validate → scale (z-score on train stats) → train (3-feature
    // normal equations per vendor) → evaluate (RMSE/MAE/R² on test).
    "pipe_vendor" -> ((s, _) => {
      import s.implicits._
      val narrow = allNarrow(s)

      // -- validate (GX stage): null label / negative distance / counts
      val dq = narrow.groupBy($"vendor").agg(
        count_if($"split" === "train").as("n_train"),
        count_if($"split" === "test").as("n_test"),
        count_if($"trip_duration".isNull).as("n_null_label"),
        count_if($"distance" < 0).as("n_neg_dist"))

      val model = fitVendorModels(s)
      val ev = evalOnTest(s, model).drop("n_test")

      dq.join(broadcast(model), Seq("vendor")).join(broadcast(ev), Seq("vendor"))
        .select($"vendor", $"n_train", $"n_test", $"n_null_label", $"n_neg_dist",
          r4($"b1").as("b_pc"), r4($"b2").as("b_hour"), r4($"b3").as("b_dist"),
          r4($"my").as("intercept"),
          r4($"rmse_raw").as("rmse"), r4($"mae_raw").as("mae"),
          r4($"r2_raw").as("r2"))
        .orderBy($"vendor")
    }),

    // Train/eval ARTIFACT persistence + reload-and-score — the
    // reference DAG's terminal stage (persist model + metrics, then a
    // later scoring job consumes the artifact alone). Constructing
    // this DataFrame runs the sink eagerly (fit → eval → parquet
    // write partitioned by (run_id, vendor)) — a sink is an action by
    // nature and this is documented, unlike a query that hides scans
    // behind plan construction. The RETURNED plan reads only the
    // reloaded artifact: coefficients come off the artifact scan and
    // the test metrics are re-scored from those reloaded (bit-exact)
    // doubles, proving the scoring path needs no access to the
    // training pipeline.
    "pipe_vendor_artifact" -> ((s, _) => {
      import s.implicits._
      val dir = sys.props("java.io.tmpdir") + "/graft_vendor_artifacts"
      val model = fitVendorModels(s)
      val metrics = evalOnTest(s, model)
      ModelArtifacts.write(model.join(metrics, Seq("vendor")), dir, "run_0001")
      val art = ModelArtifacts.load(s, dir, "run_0001")
      evalOnTest(s, art)
        .join(broadcast(art.select($"vendor", $"b1", $"b2", $"b3", $"my")),
          Seq("vendor"))
        .select($"vendor", $"n_test",
          r4($"b1").as("b_pc"), r4($"b2").as("b_hour"), r4($"b3").as("b_dist"),
          r4($"my").as("intercept"),
          r4($"rmse_raw").as("rmse"), r4($"mae_raw").as("mae"),
          r4($"r2_raw").as("r2"))
        .orderBy($"vendor")
    }),

    // one-hot conformance over the real 717 dummy columns: per vendor,
    // rows whose pickup/dropoff/weekday/quarter dummies don't sum to 1.
    //
    // Round-6 plan: COLUMN-GROUP scans. A single 722-column scan can
    // never return columnar batches (`supportBatch` gates on schema ≤
    // spark.sql.codegen.maxFields = 100, and forcing maxFields=800
    // blows Janino's 64 KB fusion limit — measured in round 4, pinned
    // in VendorPipelineSpec), so the old one-pass audit ran the
    // row-based reader. Instead the dummies are read in ⌈717/96⌉ = 8
    // scans of ≤ 97 fields each — every scan vectorized + inside
    // whole-stage codegen — emitting per-row PARTIAL family sums;
    // parquet is columnar so the 8 scans decode each column exactly
    // once (same total IO, batch decoding back). A union +
    // (vendor, split, rid) re-group reassembles the full horizontal
    // sums: the exchange carries rows × groups small fixed-width
    // tuples — linear, shuffle-friendly at any scale — rather than
    // any wide row ever existing.
    "pipe_vendor_onehot" -> ((s, _) => {
      import s.implicits._
      val fams = Seq("pickup_" -> "ps", "dropoff_" -> "ds",
        "weekday_" -> "ws", "Q_" -> "qs")
      // balanced add tree: a left-nested reduce over ~100 columns is
      // that many frames deep and stresses Catalyst's recursive
      // transforms; pairwise grouping keeps depth at log₂(n) ≈ 7.
      def balanced(cs: Seq[Column]): Column =
        if (cs.size == 1) cs.head
        else balanced(cs.grouped(2).map(_.reduce(_ + _)).toSeq)
      // ONE footer read for the shared schema (all six files come
      // from the reference's generator). Each group branch then reads
      // ALL SIX files in a single scan with an explicitly NARROW
      // (≤ 97-field) schema — vendor/split are recovered from the
      // file path — so the whole audit is 8 branches of 8 scan nodes
      // total. Two earlier shapes measured worse: per-(file × group)
      // reads paid 48 × 722-column schema inference (7.4 s), and
      // branching 8 group projections off six wide relations still
      // paid Catalyst analysis against 722-attribute children every
      // pass (6.0 s). Narrow relations make both the analysis and the
      // scan (Batched: true) cheap.
      // the shared 722-column footer read rides the Tables schema
      // cache (r19 verdict #1): inferred once per JVM, not per call
      // every vendor's train split carries the same 722 columns: read
      // the first discovered vendor's footer, whatever the vendor names
      val sch =
        graft.Tables.schemaFor(s, s"$root/${vendors.head}/train.parquet")
      val dummyCols = sch.fieldNames
        .filter(c => fams.exists { case (p, _) => c.startsWith(p) })
      val allPaths = vendors.flatMap(v =>
        Seq("train", "test").map(sp => s"$root/$v/$sp.parquet"))
      val partials = dummyCols.grouped(96).toSeq.map { cols =>
        val gsch = org.apache.spark.sql.types.StructType(
          (cols :+ "__index_level_0__").map(sch(_)))
        val outCols =
          fromPath(1).as("vendor") +: fromPath(2).as("split") +:
          col("__index_level_0__").as("rid") +:
          fams.map { case (p, a) =>
            val fs = cols.filter(_.startsWith(p)).map(col(_).cast("long"))
            (if (fs.isEmpty) lit(0L) else balanced(fs.toSeq)).as(a)
          }
        s.read.schema(gsch).parquet(allPaths: _*).select(outCols: _*)
      }
      partials.reduce(_.unionByName(_))
        .groupBy($"vendor", $"split", $"rid")
        .agg(sum($"ps").as("ps"), sum($"ds").as("ds"),
          sum($"ws").as("ws"), sum($"qs").as("qs"))
        .groupBy($"vendor").agg(
          count(lit(1)).as("n_rows"),
          count_if($"ps" =!= 1).as("pickup_bad"),
          count_if($"ds" =!= 1).as("dropoff_bad"),
          count_if($"ws" =!= 1).as("weekday_bad"),
          count_if($"qs" =!= 1).as("quarter_bad"))
        .orderBy($"vendor")
    }),

    // Fixed-effects (within-group) pooled regression over the
    // reference's MERGED all-vendor split (source_data/{train,test}
    // .parquet, 724 cols incl. vendor_* dummies): shared slopes, one
    // intercept per vendor. The entity effects are absorbed
    // analytically — pooled within-covariances are the n-weighted
    // average of per-group covariances, so the whole fit is ONE
    // grouped aggregate + tiny-frame algebra. This is the only shape
    // that survives high-cardinality entities at 100 TB: a 1M-entity
    // one-hot never enters the normal equations (3×3 here, k×k never).
    // Finding it surfaces on this data: easy_destiny's R² drops
    // 0.88 → 0.37 under shared slopes — the vendors' distance
    // coefficients genuinely differ (5759/1023/4467), which is why
    // pipe_vendor fits per-vendor models.
    "ml_fixed_effects" -> ((s, _) => {
      import s.implicits._
      val vendorOf = when($"vendor_alitran" === 1, "alitran")
        .when($"vendor_easy_destiny" === 1, "easy_destiny")
        .otherwise("to_my_place_ai")
      def merged(split: String) = {
        // 724-column merged footer: infer once per JVM (schema cache)
        val p = s"$mergedRoot/$split.parquet"
        s.read.schema(graft.Tables.schemaFor(s, p)).parquet(p)
          .select(vendorOf.as("vendor"), $"trip_duration",
            $"passenger_count", $"hour", $"distance")
      }
      val st = merged("train").groupBy($"vendor").agg(
        count(lit(1)).as("n"),
        avg($"passenger_count").as("m1"), avg($"hour").as("m2"),
        avg($"distance").as("m3"),
        var_pop($"passenger_count").as("v1"), var_pop($"hour").as("v2"),
        var_pop($"distance").as("v3"),
        covar_pop($"passenger_count", $"hour").as("c12"),
        covar_pop($"passenger_count", $"distance").as("c13"),
        covar_pop($"hour", $"distance").as("c23"),
        covar_pop($"passenger_count", $"trip_duration").as("c1y"),
        covar_pop($"hour", $"trip_duration").as("c2y"),
        covar_pop($"distance", $"trip_duration").as("c3y"),
        avg($"trip_duration").as("my"))
      // pooled WITHIN-group moments (n-weighted per-group covariances)
      val pool = st.agg(
        (sum($"n" * $"v1") / sum($"n")).as("v1"),
        (sum($"n" * $"v2") / sum($"n")).as("v2"),
        (sum($"n" * $"v3") / sum($"n")).as("v3"),
        (sum($"n" * $"c12") / sum($"n")).as("c12"),
        (sum($"n" * $"c13") / sum($"n")).as("c13"),
        (sum($"n" * $"c23") / sum($"n")).as("c23"),
        (sum($"n" * $"c1y") / sum($"n")).as("c1y"),
        (sum($"n" * $"c2y") / sum($"n")).as("c2y"),
        (sum($"n" * $"c3y") / sum($"n")).as("c3y"))
      // 3×3 Cramer on the pooled moments (same algebra as the oracle)
      val det = $"v1" * ($"v2" * $"v3" - $"c23" * $"c23") -
        $"c12" * ($"c12" * $"v3" - $"c23" * $"c13") +
        $"c13" * ($"c12" * $"c23" - $"v2" * $"c13")
      val model = pool
        .withColumn("b1", ($"c1y" * ($"v2" * $"v3" - $"c23" * $"c23") -
          $"c12" * ($"c2y" * $"v3" - $"c23" * $"c3y") +
          $"c13" * ($"c2y" * $"c23" - $"v2" * $"c3y")) / det)
        .withColumn("b2", ($"v1" * ($"c2y" * $"v3" - $"c23" * $"c3y") -
          $"c1y" * ($"c12" * $"v3" - $"c23" * $"c13") +
          $"c13" * ($"c12" * $"c3y" - $"c2y" * $"c13")) / det)
        .withColumn("b3", ($"v1" * ($"v2" * $"c3y" - $"c2y" * $"c23") -
          $"c12" * ($"c12" * $"c3y" - $"c2y" * $"c13") +
          $"c1y" * ($"c12" * $"c23" - $"v2" * $"c13")) / det)
        .select($"b1", $"b2", $"b3")
      // per-vendor intercepts absorb the entity effects
      val fe = st.select($"vendor", $"n".as("n_train"),
          $"my", $"m1", $"m2", $"m3")
        .crossJoin(broadcast(model))
        .withColumn("icept",
          $"my" - $"b1" * $"m1" - $"b2" * $"m2" - $"b3" * $"m3")
      val pred = $"icept" + $"b1" * $"passenger_count" +
        $"b2" * $"hour" + $"b3" * $"distance"
      val res = $"trip_duration" - pred
      val ev = merged("test").join(broadcast(fe), Seq("vendor"))
        .groupBy($"vendor").agg(
          count(lit(1)).as("n_test"),
          sqrt(avg(res * res)).as("rmse_raw"),
          avg(abs(res)).as("mae_raw"),
          (lit(1.0) - sum(res * res) /
            (var_pop($"trip_duration") * count(lit(1)))).as("r2_raw"))
      fe.join(broadcast(ev), Seq("vendor"))
        .select($"vendor", $"n_train", $"n_test",
          r4($"b1").as("b_pc"), r4($"b2").as("b_hour"), r4($"b3").as("b_dist"),
          r4($"icept").as("fe_intercept"),
          r4($"rmse_raw").as("rmse"), r4($"mae_raw").as("mae"),
          r4($"r2_raw").as("r2"))
        .orderBy($"vendor")
    }),

    // wide-to-long: top-5 pickup locations per vendor by trip count.
    // One-hot INVERSION instead of a 384-way unpivot: the unpivot
    // multiplies every row 384× and drops 383/384 of them on `v = 1`;
    // each row explodes only its hot pickup dummies (one on a one-hot
    // row, as pipe_vendor_onehot audits; each of them on a multi-hot
    // row, as the oracle's UNPIVOT counts it), then a plain narrow
    // grouped aggregation — no 384× row fanout at any scale. Round-9
    // plan surgery: ONE multi-file scan with an EXPLICIT 385-field
    // schema (vendor recovered from the path) replaces the old
    // per-vendor unionByName of six 722-column relations — Catalyst no
    // longer analyzes wide children, the six files are listed once,
    // and no schema inference runs. (A column-group vertical-sum
    // variant — 4 vectorized scans + per-vendor Σdummy / Σ td·dummy —
    // measured the same ~2 s: this query's floor is stage scheduling,
    // not decode, so the fewest-stage plan wins.) The ranking window
    // input is schema-bounded (≤384 rows/vendor).
    "pipe_vendor_top_pickup" -> ((s, _) => {
      import s.implicits._
      // every vendor's train split carries the same 722 columns: read
      // the first discovered vendor's footer, whatever the vendor names
      val sch =
        graft.Tables.schemaFor(s, s"$root/${vendors.head}/train.parquet")
      val pickupCols = sch.fieldNames.filter(_.startsWith("pickup_")).toSeq
      val allPaths = vendors.flatMap(v =>
        Seq("train", "test").map(sp => s"$root/$v/$sp.parquet"))
      val gsch = org.apache.spark.sql.types.StructType(
        (pickupCols :+ "trip_duration").map(sch(_)))
      val hot = filter(array(pickupCols.map(c =>
        when(col(c).cast("int") === 1, lit(c.stripPrefix("pickup_")))): _*),
        _.isNotNull)
      val w = Window.partitionBy($"vendor").orderBy($"trips".desc, $"loc".asc)
      s.read.schema(gsch).parquet(allPaths: _*)
        .withColumn("vendor", fromPath(1))
        .select($"vendor", explode(hot).as("loc"), $"trip_duration")
        .groupBy($"vendor", $"loc").agg(
          count(lit(1)).as("trips"),
          r4(avg($"trip_duration")).as("avg_duration"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 5)
        .select($"vendor", $"loc", $"trips", $"avg_duration", $"rk")
        .orderBy($"vendor", $"rk")
    })
  )

  /** All vendor splits as ONE DuckDB scan: a glob per split over
    * `root` (absolute paths — the oracle reads the same read-only
    * parquet as the engine), with `vendor` and `split` taken from each
    * row's file name by the engine's own [[splitPath]] rule. No listing
    * happens here, so building the oracle strings is free of I/O.
    * `cols` never sees `filename`: pass `* EXCLUDE (filename)` for
    * every data column. */
  private def rawUnion(cols: String): String =
    s"""SELECT regexp_extract(filename, '$splitPath', 1) AS vendor,
       |  regexp_extract(filename, '$splitPath', 2) AS split, $cols
       |FROM read_parquet(['$root/*/train.parquet', '$root/*/test.parquet'],
       |  filename = true)""".stripMargin

  private val narrowCols =
    """trip_duration, passenger_count, "hour", distance"""
  private val allCols = "* EXCLUDE (filename)"

  /** Per-family one-hot row sums via UNPIVOT (DuckDB has no horizontal
    * sum over a column pattern, so each family melts then re-groups on
    * the pandas row id). */
  private def famBad(prefix: String, alias: String): String =
    s"""$alias AS (
       |  SELECT vendor, count(*) FILTER (s <> 1) AS bad FROM (
       |    SELECT vendor, split, rid, sum(v) AS s FROM (
       |      SELECT vendor, split, "__index_level_0__" AS rid, COLUMNS('$prefix.*')
       |      FROM raw) UNPIVOT (v FOR c IN (COLUMNS('$prefix.*')))
       |    GROUP BY vendor, split, rid)
       |  GROUP BY vendor)""".stripMargin

  lazy val oracles: Map[String, String] = Map(
    "pipe_vendor" ->
      s"""WITH raw AS (
         |${rawUnion(narrowCols)}),
         |dq AS (
         |  SELECT vendor,
         |    count(*) FILTER (split = 'train') AS n_train,
         |    count(*) FILTER (split = 'test') AS n_test,
         |    count(*) FILTER (trip_duration IS NULL) AS n_null_label,
         |    count(*) FILTER (distance < 0) AS n_neg_dist
         |  FROM raw GROUP BY vendor),
         |st AS (
         |  SELECT vendor,
         |    avg(passenger_count) AS m1, avg("hour") AS m2, avg(distance) AS m3,
         |    sqrt(var_pop(passenger_count)) AS s1, sqrt(var_pop("hour")) AS s2,
         |    sqrt(var_pop(distance)) AS s3,
         |    covar_pop(passenger_count, "hour") AS c12,
         |    covar_pop(passenger_count, distance) AS c13,
         |    covar_pop("hour", distance) AS c23,
         |    covar_pop(passenger_count, trip_duration) AS c1y,
         |    covar_pop("hour", trip_duration) AS c2y,
         |    covar_pop(distance, trip_duration) AS c3y,
         |    avg(trip_duration) AS my
         |  FROM raw WHERE split = 'train' GROUP BY vendor),
         |rho AS (
         |  SELECT vendor, m1, m2, m3, s1, s2, s3, my,
         |    c12/(s1*s2) AS p12, c13/(s1*s3) AS p13, c23/(s2*s3) AS p23,
         |    c1y/s1 AS r1, c2y/s2 AS r2, c3y/s3 AS r3
         |  FROM st),
         |model AS (
         |  SELECT vendor, m1, m2, m3, s1, s2, s3, my,
         |    (r1*(-1*p23*p23 + 1) - p12*(r2 - p23*r3) + p13*(r2*p23 - r3))
         |      / ((-1*p23*p23 + 1) - p12*(p12 - p23*p13) + p13*(p12*p23 - p13)) AS b1,
         |    ((r2 - p23*r3) - r1*(p12 - p23*p13) + p13*(p12*r3 - r2*p13))
         |      / ((-1*p23*p23 + 1) - p12*(p12 - p23*p13) + p13*(p12*p23 - p13)) AS b2,
         |    ((r3 - r2*p23) - p12*(p12*r3 - r2*p13) + r1*(p12*p23 - p13))
         |      / ((-1*p23*p23 + 1) - p12*(p12 - p23*p13) + p13*(p12*p23 - p13)) AS b3
         |  FROM rho),
         |ev AS (
         |  SELECT r.vendor,
         |    sqrt(avg((trip_duration - (my + b1*(passenger_count - m1)/s1 + b2*("hour" - m2)/s2 + b3*(distance - m3)/s3))
         |            *(trip_duration - (my + b1*(passenger_count - m1)/s1 + b2*("hour" - m2)/s2 + b3*(distance - m3)/s3)))) AS rmse_raw,
         |    avg(abs(trip_duration - (my + b1*(passenger_count - m1)/s1 + b2*("hour" - m2)/s2 + b3*(distance - m3)/s3))) AS mae_raw,
         |    1.0 - sum((trip_duration - (my + b1*(passenger_count - m1)/s1 + b2*("hour" - m2)/s2 + b3*(distance - m3)/s3))
         |             *(trip_duration - (my + b1*(passenger_count - m1)/s1 + b2*("hour" - m2)/s2 + b3*(distance - m3)/s3)))
         |        / (var_pop(trip_duration) * count(*)) AS r2_raw
         |  FROM raw r JOIN model USING (vendor) WHERE split = 'test' GROUP BY r.vendor)
         |SELECT dq.vendor, n_train, n_test, n_null_label, n_neg_dist,
         |  round(b1, 4) AS b_pc, round(b2, 4) AS b_hour, round(b3, 4) AS b_dist,
         |  round(my, 4) AS intercept,
         |  round(rmse_raw, 4) AS rmse, round(mae_raw, 4) AS mae,
         |  round(r2_raw, 4) AS r2
         |FROM dq JOIN model ON dq.vendor = model.vendor
         |  JOIN ev ON dq.vendor = ev.vendor
         |ORDER BY dq.vendor""".stripMargin,

    // The artifact round-trips doubles bit-exactly, so rescoring from
    // the reloaded artifact equals direct fit-and-score — the oracle
    // is pipe_vendor's algebra without the dq stage.
    "pipe_vendor_artifact" ->
      s"""WITH raw AS (
         |${rawUnion(narrowCols)}),
         |st AS (
         |  SELECT vendor,
         |    avg(passenger_count) AS m1, avg("hour") AS m2, avg(distance) AS m3,
         |    sqrt(var_pop(passenger_count)) AS s1, sqrt(var_pop("hour")) AS s2,
         |    sqrt(var_pop(distance)) AS s3,
         |    covar_pop(passenger_count, "hour") AS c12,
         |    covar_pop(passenger_count, distance) AS c13,
         |    covar_pop("hour", distance) AS c23,
         |    covar_pop(passenger_count, trip_duration) AS c1y,
         |    covar_pop("hour", trip_duration) AS c2y,
         |    covar_pop(distance, trip_duration) AS c3y,
         |    avg(trip_duration) AS my
         |  FROM raw WHERE split = 'train' GROUP BY vendor),
         |rho AS (
         |  SELECT vendor, m1, m2, m3, s1, s2, s3, my,
         |    c12/(s1*s2) AS p12, c13/(s1*s3) AS p13, c23/(s2*s3) AS p23,
         |    c1y/s1 AS r1, c2y/s2 AS r2, c3y/s3 AS r3
         |  FROM st),
         |model AS (
         |  SELECT vendor, m1, m2, m3, s1, s2, s3, my,
         |    (r1*(-1*p23*p23 + 1) - p12*(r2 - p23*r3) + p13*(r2*p23 - r3))
         |      / ((-1*p23*p23 + 1) - p12*(p12 - p23*p13) + p13*(p12*p23 - p13)) AS b1,
         |    ((r2 - p23*r3) - r1*(p12 - p23*p13) + p13*(p12*r3 - r2*p13))
         |      / ((-1*p23*p23 + 1) - p12*(p12 - p23*p13) + p13*(p12*p23 - p13)) AS b2,
         |    ((r3 - r2*p23) - p12*(p12*r3 - r2*p13) + r1*(p12*p23 - p13))
         |      / ((-1*p23*p23 + 1) - p12*(p12 - p23*p13) + p13*(p12*p23 - p13)) AS b3
         |  FROM rho),
         |ev AS (
         |  SELECT r.vendor, count(*) AS n_test,
         |    sqrt(avg((trip_duration - (my + b1*(passenger_count - m1)/s1 + b2*("hour" - m2)/s2 + b3*(distance - m3)/s3))
         |            *(trip_duration - (my + b1*(passenger_count - m1)/s1 + b2*("hour" - m2)/s2 + b3*(distance - m3)/s3)))) AS rmse_raw,
         |    avg(abs(trip_duration - (my + b1*(passenger_count - m1)/s1 + b2*("hour" - m2)/s2 + b3*(distance - m3)/s3))) AS mae_raw,
         |    1.0 - sum((trip_duration - (my + b1*(passenger_count - m1)/s1 + b2*("hour" - m2)/s2 + b3*(distance - m3)/s3))
         |             *(trip_duration - (my + b1*(passenger_count - m1)/s1 + b2*("hour" - m2)/s2 + b3*(distance - m3)/s3)))
         |        / (var_pop(trip_duration) * count(*)) AS r2_raw
         |  FROM raw r JOIN model USING (vendor) WHERE split = 'test' GROUP BY r.vendor)
         |SELECT model.vendor, n_test,
         |  round(b1, 4) AS b_pc, round(b2, 4) AS b_hour, round(b3, 4) AS b_dist,
         |  round(my, 4) AS intercept,
         |  round(rmse_raw, 4) AS rmse, round(mae_raw, 4) AS mae,
         |  round(r2_raw, 4) AS r2
         |FROM model JOIN ev ON model.vendor = ev.vendor
         |ORDER BY model.vendor""".stripMargin,

    "ml_fixed_effects" -> {
      val vcase = "CASE WHEN vendor_alitran = 1 THEN 'alitran' " +
        "WHEN vendor_easy_destiny = 1 THEN 'easy_destiny' " +
        "ELSE 'to_my_place_ai' END"
      s"""WITH tr AS (
         |  SELECT $vcase AS vendor, trip_duration, passenger_count, "hour", distance
         |  FROM read_parquet('$mergedRoot/train.parquet')),
         |te AS (
         |  SELECT $vcase AS vendor, trip_duration, passenger_count, "hour", distance
         |  FROM read_parquet('$mergedRoot/test.parquet')),
         |st AS (
         |  SELECT vendor, count(*) AS n,
         |    avg(passenger_count) AS m1, avg("hour") AS m2, avg(distance) AS m3,
         |    var_pop(passenger_count) AS v1, var_pop("hour") AS v2,
         |    var_pop(distance) AS v3,
         |    covar_pop(passenger_count, "hour") AS c12,
         |    covar_pop(passenger_count, distance) AS c13,
         |    covar_pop("hour", distance) AS c23,
         |    covar_pop(passenger_count, trip_duration) AS c1y,
         |    covar_pop("hour", trip_duration) AS c2y,
         |    covar_pop(distance, trip_duration) AS c3y,
         |    avg(trip_duration) AS my
         |  FROM tr GROUP BY vendor),
         |pool AS (
         |  SELECT sum(n*v1)/sum(n) AS v1, sum(n*v2)/sum(n) AS v2, sum(n*v3)/sum(n) AS v3,
         |    sum(n*c12)/sum(n) AS c12, sum(n*c13)/sum(n) AS c13, sum(n*c23)/sum(n) AS c23,
         |    sum(n*c1y)/sum(n) AS c1y, sum(n*c2y)/sum(n) AS c2y, sum(n*c3y)/sum(n) AS c3y
         |  FROM st),
         |model AS (
         |  SELECT
         |    (c1y*(v2*v3 - c23*c23) - c12*(c2y*v3 - c23*c3y) + c13*(c2y*c23 - v2*c3y))
         |      / (v1*(v2*v3 - c23*c23) - c12*(c12*v3 - c23*c13) + c13*(c12*c23 - v2*c13)) AS b1,
         |    (v1*(c2y*v3 - c23*c3y) - c1y*(c12*v3 - c23*c13) + c13*(c12*c3y - c2y*c13))
         |      / (v1*(v2*v3 - c23*c23) - c12*(c12*v3 - c23*c13) + c13*(c12*c23 - v2*c13)) AS b2,
         |    (v1*(v2*c3y - c2y*c23) - c12*(c12*c3y - c2y*c13) + c1y*(c12*c23 - v2*c13))
         |      / (v1*(v2*v3 - c23*c23) - c12*(c12*v3 - c23*c13) + c13*(c12*c23 - v2*c13)) AS b3
         |  FROM pool),
         |fe AS (
         |  SELECT s.vendor, s.n AS n_train,
         |    s.my - m.b1*s.m1 - m.b2*s.m2 - m.b3*s.m3 AS icept, m.b1, m.b2, m.b3
         |  FROM st s CROSS JOIN model m),
         |ev AS (
         |  SELECT t.vendor, count(*) AS n_test,
         |    sqrt(avg((trip_duration - (icept + b1*passenger_count + b2*"hour" + b3*distance))
         |            *(trip_duration - (icept + b1*passenger_count + b2*"hour" + b3*distance)))) AS rmse_raw,
         |    avg(abs(trip_duration - (icept + b1*passenger_count + b2*"hour" + b3*distance))) AS mae_raw,
         |    1.0 - sum((trip_duration - (icept + b1*passenger_count + b2*"hour" + b3*distance))
         |             *(trip_duration - (icept + b1*passenger_count + b2*"hour" + b3*distance)))
         |        / (var_pop(trip_duration) * count(*)) AS r2_raw
         |  FROM te t JOIN fe ON t.vendor = fe.vendor GROUP BY t.vendor)
         |SELECT fe.vendor, fe.n_train, ev.n_test,
         |  round(fe.b1, 4) AS b_pc, round(fe.b2, 4) AS b_hour,
         |  round(fe.b3, 4) AS b_dist,
         |  round(fe.icept, 4) AS fe_intercept,
         |  round(ev.rmse_raw, 4) AS rmse, round(ev.mae_raw, 4) AS mae,
         |  round(ev.r2_raw, 4) AS r2
         |FROM fe JOIN ev ON fe.vendor = ev.vendor ORDER BY fe.vendor""".stripMargin
    },

    "pipe_vendor_onehot" ->
      s"""WITH raw AS (
         |${rawUnion(allCols)}),
         |${famBad("pickup_", "pb")},
         |${famBad("dropoff_", "db")},
         |${famBad("weekday_", "wb")},
         |n AS (SELECT vendor, count(*) AS n_rows,
         |  count(*) FILTER (Q_1 + Q_2 <> 1) AS quarter_bad
         |  FROM raw GROUP BY vendor)
         |SELECT n.vendor, n.n_rows, pb.bad AS pickup_bad, db.bad AS dropoff_bad,
         |  wb.bad AS weekday_bad, n.quarter_bad
         |FROM n JOIN pb ON n.vendor = pb.vendor JOIN db ON n.vendor = db.vendor
         |  JOIN wb ON n.vendor = wb.vendor
         |ORDER BY n.vendor""".stripMargin,

    "pipe_vendor_top_pickup" ->
      s"""WITH raw AS (
         |${rawUnion(allCols)}),
         |u AS (
         |  SELECT vendor, substr(c, 8) AS loc, trip_duration FROM (
         |    SELECT vendor, trip_duration, COLUMNS('pickup_.*') FROM raw)
         |  UNPIVOT (v FOR c IN (COLUMNS('pickup_.*')))
         |  WHERE v = 1),
         |g AS (
         |  SELECT vendor, loc, count(*) AS trips,
         |    round(avg(trip_duration), 4) AS avg_duration
         |  FROM u GROUP BY vendor, loc)
         |SELECT vendor, loc, trips, avg_duration, rk FROM (
         |  SELECT vendor, loc, trips, avg_duration,
         |    row_number() OVER (PARTITION BY vendor
         |      ORDER BY trips DESC, loc ASC) AS rk
         |  FROM g)
         |WHERE rk <= 5 ORDER BY vendor, rk""".stripMargin
  )
}
