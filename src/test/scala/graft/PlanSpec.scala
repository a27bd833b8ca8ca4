package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the physical plans the operators are
  * designed around must actually materialize — broadcasts broadcast,
  * codegen spans exist, salted joins spread keys. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString

  test("star join broadcasts the dimension tables") {
    val p = plan("q_star_join")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"dimension join degenerated to sort-merge:\n$p")
  }

  test("pricing summary stays inside whole-stage codegen") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, TestSpark.sf)
    df.collect() // finalize the adaptive plan so codegen spans appear
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"no codegen span:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
    assert(p.contains("partial_sum"), s"no map-side partial aggregation:\n$p")
  }

  test("dedup_edit evaluates guards before bag bound before the DP") {
    // Catalyst pushes the predicate into the join condition and
    // evaluates conjuncts in the order the filter tree handed them
    // over. A refactor back to stacked filters re-landed the
    // levenshtein DP BEFORE the cheap guards on every raw joined row
    // (measured 3.3 → 18 s) — pin the cheap-to-expensive order.
    val p = plan("dedup_edit")
    val cond = p.linesIterator
      .find(l => l.contains("levenshtein") && l.contains("arrayl1"))
      .getOrElse(fail(s"no join condition carries both predicates:\n$p"))
    val idPos = cond.indexOf("<")
    val bagPos = cond.indexOf("arrayl1")
    val dpPos = cond.indexOf("levenshtein")
    assert(idPos >= 0 && bagPos >= 0 && dpPos >= 0, cond)
    assert(bagPos < dpPos,
      s"bag bound must precede the DP in the conjunction: $cond")
    assert(idPos < bagPos,
      s"cheap guards must precede the bag bound: $cond")
  }

  test("semi and anti joins plan as join types, not subquery rewrites") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("expectation suite is a single aggregation over the table") {
    val p = plan("dq_not_null")
    // one scan of orders, one aggregate pair (partial+final)
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"suite scanned the table more than once:\n$p")
  }

  test("corpus funnel is one aggregation pass over one documents scan") {
    val p = plan("pipe_text_corpus")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"funnel re-scanned documents:\n$p")
  }

  test("skyline plans without a cartesian product") {
    val p = plan("q_skyline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"skyline fell back to pairwise dominance:\n$p")
  }

  test("chi-square expected grid builds from broadcasts, not shuffled joins") {
    val p = plan("q_chisq")
    assert(!p.contains("SortMergeJoin"),
      s"marginal grid shuffled instead of broadcasting:\n$p")
  }

  test("kNN corpus side broadcasts the query batch") {
    val p = plan("sim_knn")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query batch not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"kNN planned a shuffled cartesian:\n$p")
  }

  test("contamination check reads the corpus once and builds shingles once") {
    val p = plan("text_contamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"contamination degenerated to pairwise:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"corpus scanned more than once:\n$p")
    assert("zip_with".r.findAllIn(p).size <= TextAnalysis_shingleRefs,
      s"shingle pipeline duplicated into scan filters:\n$p")
  }
  // shingles(n=5) composes 4 zip_with calls; one evaluation site only
  private val TextAnalysis_shingleRefs = 4

  test("vendor top-pickup is ONE multi-file scan, not per-vendor unions") {
    // round-9 surgery: the per-vendor unionByName of six 722-column
    // relations (18 schema inferences per construction) must not come
    // back — one explicit-schema scan node reads all six files
    TestSpark.assumeVendorFiles("pipe_vendor_top_pickup")
    val p = plan("pipe_vendor_top_pickup")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"top_pickup regressed to multiple scans:\n${p.take(4000)}")
    assert(!p.contains("Union"), s"per-vendor union came back:\n${p.take(4000)}")
  }

  test("vendor narrow pipeline scans carry the pinned 4-field schema") {
    TestSpark.assumeVendorFiles("pipe_vendor")
    val p = plan("pipe_vendor")
    assert(p.contains("struct<trip_duration:double,passenger_count:bigint," +
      "hour:double,distance:double>"),
      s"allNarrow not reading the explicit narrow schema:\n${p.take(4000)}")
    assert(!p.contains("Union"), s"per-vendor union came back:\n${p.take(4000)}")
  }

  test("spearman has no row-level shuffle join against a rank frame") {
    // round-9 shape: rows broadcast-join the tiny x-rank frame and
    // collapse straight to the (f, y) grid; the old plan's sort-merge
    // join of all rows against the y-rank frame must not return.
    // collect() first: AQE rightly plans prefixDotSums' groups×buckets
    // offsets self-join as broadcast once sizes are known, so any
    // surviving SMJ would be the row-level one.
    val df = SparkEntry.queries("q_spearman")(spark, TestSpark.sf)
    df.collect()
    // AdaptiveSparkPlan.toString appends the pre-AQE "Initial Plan"
    // (where the tiny offsets self-join legitimately starts as SMJ);
    // only the Final Plan section is what actually ran
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin"),
      s"row-level rank join came back:\n${p.take(4000)}")
  }

  test("rank-filter top-k plans the WindowGroupLimit pushdown") {
    // Spark's InferWindowGroupLimit must keep kicking in: partial
    // per-partition top-k before the shuffle (the map-side bounded
    // heap), then the final limit — without it every group's FULL
    // sorted contents cross the exchange
    val p = plan("q_topk_per_group")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"rank filter no longer pushes partial group limits:\n${p.take(2500)}")
  }

  test("tpch q4 EXISTS plans as a left-semi join") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), s"EXISTS did not decorrelate:\n$p")
  }

  test("tpch q19 disjunction pushes per-side conjuncts into both scans") {
    // executedPlan.toString elides long FileScan fields — use the
    // formatted explain, which prints PushedFilters in full
    val p = SparkEntry.queries("q_tpch_q19")(spark, TestSpark.sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // lineitem scan gets the quantity-range OR, part scan the
    // brand/size OR — Catalyst extracts each side's common factor
    // from the cross-table disjunction
    assert(p.contains("PushedFilters") &&
      p.contains("l_quantity,1.0") && p.contains("p_brand,Brand#12"),
      s"disjunctive predicates not pushed to the scans:\n${p.take(6000)}")
    assert(!p.contains("SortMergeJoin"),
      s"part side not broadcast:\n${p.take(4000)}")
  }

  test("semdedup pair search joins on the cell key, never cross") {
    val p = plan("dedup_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"within-cell pair search degenerated to all-pairs:\n${p.take(4000)}")
  }

  test("unpartitioned windows only ever read day-grain aggregates") {
    // The repo-wide invariant behind the WindowExec "No Partition
    // Defined" warnings these queries emit: a single-partition window
    // is acceptable ONLY over a bounded-cardinality input, and the
    // bound here is the day grain (one row per calendar day, ~365/yr
    // regardless of data volume). Pin it structurally so a refactor
    // can't silently slide an unbounded (per-event, per-order) input
    // under one of these windows.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    Seq("dq_volume_anomaly", "q_autocorr").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, TestSpark.sf)
        .queryExecution.optimizedPlan
      val unpart = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(unpart.nonEmpty, s"$name: expected an unpartitioned window")
      unpart.foreach { w =>
        val aggs = w.child.collect { case a: Aggregate => a }
        assert(aggs.nonEmpty,
          s"$name: unpartitioned window over a NON-aggregated input — " +
            s"unbounded at scale:\n${w.treeString.take(2000)}")
        // the optimizer may hoist the grouping key into a projected
        // _groupingexpression alias, so grep the aggregate SUBTREE for
        // the day-grain derivation rather than the key list alone
        val grain = aggs.head.treeString.toLowerCase
        assert(grain.contains("date_trunc") || grain.contains("as date") ||
            grain.contains("orderdate"),
          s"$name: window input not day grain:\n${grain.take(2000)}")
      }
    }
    // q_seasonality reaches the same day series with no window at all
    val p = SparkEntry.queries("q_seasonality")(spark, TestSpark.sf)
      .queryExecution.optimizedPlan
    assert(p.collect { case w: LWindow => w }.isEmpty,
      "q_seasonality grew a window node")
  }

  test("salted join matches plain join results and spreads the key") {
    val li = Tables.lineitem(spark, TestSpark.sf)
    val supp = Tables.supplier(spark, TestSpark.sf)
    val plainCount = li.join(supp, Seq("s_suppkey").map(_ => col("l_suppkey") === col("s_suppkey")).head).count()
    val salted = Util.saltedJoin(
      li.withColumnRenamed("l_suppkey", "s_suppkey"), supp,
      key = "s_suppkey", saltFrom = "l_orderkey", salts = 8)
    assert(salted.count() == plainCount)
    // every salt bucket participates for the hottest key
    val spread = li.withColumn("__salt",
        pmod(xxhash64(col("l_orderkey")), lit(8)))
      .groupBy("l_suppkey").agg(countDistinct("__salt").as("n"))
      .agg(min("n")).head.getLong(0)
    assert(spread == 8, s"salt only hit $spread of 8 buckets")
  }

  test("binned interval join replaces the nested loop with an equi join") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // sparkPlan, not executedPlan: AQE's AdaptiveSparkPlanExec hides
    // its children from collect until execution
    def nestedLoops(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case b: BroadcastNestedLoopJoinExec => b
      }.size
    val epoch = to_date(lit("1992-01-01"))
    val windows = Tables.orders(spark, TestSpark.sf)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), datediff(col("o_orderdate"), epoch).as("lo"))
      .withColumn("hi", col("lo") + 7)
    val items = Tables.lineitem(spark, TestSpark.sf)
      .select(datediff(col("l_shipdate"), epoch).as("p"),
        col("l_extendedprice"))
    // keyless BETWEEN join: Spark has nothing to hash on
    val naive = items.join(windows,
      col("p") >= col("lo") && col("p") <= col("hi"))
    assert(nestedLoops(naive) == 1, "expected the naive nested loop")
    // the binned rewrite hash-joins on the bin and matches exactly
    val binned = Util.binnedIntervalJoin(items, "p", windows,
      "lo", "hi", binWidth = 7)
    assert(nestedLoops(binned) == 0, "bin rewrite must not nested-loop")
    assert(binned.count() == naive.count())
  }

  test("MIPS broadcasts the query side; one corpus scan, no shuffle join") {
    val p = plan("sim_mips")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"MIPS corpus scoring degenerated to a shuffled join:\n$p")
  }

  test("calibration deciles ride Rank, not a single-partition window sort") {
    // the global ntile trap: Window.orderBy with no partition spec
    // plans Sort over Exchange SinglePartition — ALL rows through one
    // task. The scalar fit's one-ROW SinglePartition final aggregate
    // is fine; what must not exist is a SORT fed by a single
    // partition of row-scale data.
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.SortExec
    val df = SparkEntry.queries("ml_calibration")(spark, TestSpark.sf)
    val offenders = df.queryExecution.sparkPlan.collect {
      case s: SortExec if s.child.outputPartitioning == SinglePartition => s
    }
    assert(offenders.isEmpty,
      s"single-partition sort in the decile path:\n${offenders.mkString}")
  }

  test("graph-family broadcast guard: hint below threshold, none above") {
    // PageRank's measured-count discipline applied to the graph
    // queries (judge r15): below BcastMaxRows the node frame carries
    // a broadcast hint; above it the frame is returned unhinted so
    // planning falls back to observed sizes — a 100×-scale part
    // catalog degrades to a shuffle join, not an executor OOM.
    import spark.implicits._
    val nodes = Seq((1L, 2L), (2L, 3L)).toDF("v", "deg")
    val small = operators.GraphQueries.guarded(nodes, 10L)
    val big = operators.GraphQueries
      .guarded(nodes, operators.GraphQueries.BcastMaxRows + 1)
    assert(small.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "sub-threshold frame lost its broadcast hint")
    assert(!big.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "over-threshold frame still forces a broadcast hint")
    // and the real below-threshold plan does broadcast the degrees
    val p = plan("q_assortativity")
    assert(p.contains("BroadcastHashJoin"),
      s"assortativity degree join not broadcast at test scale:\n$p")
  }
}
