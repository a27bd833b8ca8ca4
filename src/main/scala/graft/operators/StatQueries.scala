package graft.operators

import graft.{QueryModule, Tables => T}
import graft.Util.r4
import org.apache.spark.sql.functions._

/** Hypothesis-test / survival statistics over aggregates.
  *
  * Every statistic here reduces the fact table to a frame whose size
  * is bounded by the SCHEMA (a contingency grid, a 2×2 conversion
  * table, a month-granularity event timeline) before any ordered or
  * quadratic work happens — the same decomposition discipline as
  * [[DriftQueries]]: scans stay linear and map-side combinable at any
  * scale, and only schema-bounded frames are sorted.
  */
object StatQueries extends QueryModule {

  val queries: Map[String, Q] = Map(
    // Cramér's V association between two categoricals (order
    // priority × order status): chi-square over the r×c contingency
    // grid (marginal-count decomposition, broadcast everywhere — the
    // q_chisq shape), normalized by n·min(r−1, c−1) into [0, 1].
    "q_cramers_v" -> ((s, d) => {
      import s.implicits._
      val cells = T.orders(s, d)
        .select($"o_orderpriority".as("a"), $"o_orderstatus".as("b"))
      val obs = cells.groupBy($"a", $"b").agg(count(lit(1)).as("o"))
      val rowt = cells.groupBy($"a").agg(count(lit(1)).as("rt"))
      val colt = cells.groupBy($"b").agg(count(lit(1)).as("ct"))
      val n = cells.agg(count(lit(1)).as("n"))
      val grid = broadcast(rowt).crossJoin(broadcast(colt))
        .join(obs, Seq("a", "b"), "left")
        .crossJoin(broadcast(n))
        .select($"a", $"b", coalesce($"o", lit(0L)).as("o"),
          ($"rt" * $"ct" / $"n").cast("double").as("e"), $"n")
      grid.agg(
          sum(pow($"o" - $"e", 2) / $"e").as("chi2"),
          countDistinct($"a").as("r"), countDistinct($"b").as("c"),
          first($"n").as("n"))
        .select(r4($"chi2").as("chisq"),
          (($"r" - 1) * ($"c" - 1)).as("dof"),
          r4(sqrt($"chi2" /
            ($"n" * least($"r" - 1, $"c" - 1)))).as("cramers_v"))
    }),

    // Two-proportion z-test (A/B shape): high-ticket conversion rate
    // of BUILDING vs MACHINERY customers, pooled-variance normal
    // statistic. ONE aggregation pass over the broadcast-joined scan
    // produces all four counts; the z arithmetic is a scalar select.
    // Welch's unequal-variance two-sample t-test (BUILDING vs
    // MACHINERY order totals): one grouped aggregate produces
    // (n, mean, sample variance) per arm, the statistic and the
    // Welch–Satterthwaite degrees of freedom are closed-form driver
    // arithmetic over TWO rows. The p-value needs a t-CDF neither
    // engine exposes in SQL, so the contract is (t, dof) — what a
    // caller feeds any CDF. Scan is linear + map-side combinable.
    "q_ttest" -> ((s, d) => {
      import s.implicits._
      val arms = T.orders(s, d)
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .filter($"c_mktsegment".isin("BUILDING", "MACHINERY"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).cast("double").as("n"),
          avg($"o_totalprice").as("m"),
          var_samp($"o_totalprice").as("v"))
      val a = arms.filter($"c_mktsegment" === "BUILDING")
        .select($"n".as("na"), $"m".as("ma"), $"v".as("va"))
      val b = arms.filter($"c_mktsegment" === "MACHINERY")
        .select($"n".as("nb"), $"m".as("mb"), $"v".as("vb"))
      a.crossJoin(broadcast(b))
        .select(
          $"na".cast("long").as("n_a"), $"nb".cast("long").as("n_b"),
          r4($"ma" - $"mb").as("mean_diff"),
          r4(($"ma" - $"mb") /
            sqrt($"va" / $"na" + $"vb" / $"nb")).as("t_stat"),
          r4(pow($"va" / $"na" + $"vb" / $"nb", 2) /
            (pow($"va" / $"na", 2) / ($"na" - 1) +
              pow($"vb" / $"nb", 2) / ($"nb" - 1))).as("welch_dof"))
    }),

    // Minimal detectable effect for a two-arm experiment per market
    // segment: MDE = (z_{α/2} + z_β)·σ·sqrt(2/n_arm) at α = 0.05,
    // power = 0.80 (the z quantiles are closed-form literals — no
    // CDF needed in either engine), with n_arm = half the segment.
    // The experiment-SIZING step the A/B family (q_prop_ztest,
    // q_cuped, q_ttest) runs before any test: one grouped aggregate,
    // linear and map-side combinable.
    "q_mde" -> ((s, d) => {
      import s.implicits._
      val z = 1.9599639845400545 + 0.8416212335729143
      T.orders(s, d)
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          stddev_samp($"o_totalprice").as("sd"))
        .select($"c_mktsegment", $"n",
          r4($"sd").as("sd"),
          r4(lit(z) * $"sd" *
            sqrt(lit(2.0) / floor($"n" / 2))).as("mde"))
        .orderBy($"c_mktsegment")
    }),

    // Brown–Forsythe (median-based Levene) variance-equality test
    // across all 5 market segments' order totals: per-group medians
    // from the scalable exact-percentile machinery, broadcast back
    // onto the rows for |x − med|, then the F statistic from two
    // grouped aggregates — no per-group buffering anywhere, linear
    // at any scale.
    "q_levene" -> ((s, d) => {
      import s.implicits._
      val rows = T.orders(s, d)
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .select($"c_mktsegment".as("g"), $"o_totalprice".cast("double").as("x"))
      // few-group literal path (5 segments — r19 verdict #3): the
      // medians come back driver-side and fold into the |x − med|
      // projection as literals — no generic percentile chain, no
      // broadcast join. The z aggregation below is unchanged (same
      // per-row float math), so the statistic is bit-identical.
      val hist = rows
        .groupBy($"g", $"x".as("v")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val med = ExactPercentile.perGroupWeightedLocal(hist,
        "g", "v", "c", Seq("med" -> 0.5))
      val medC = ExactPercentile.litCol(
        med.map { case (g, m) => g -> m("med") }, $"g")
      // NULL segments are no group: the oracle's inner join to `med`
      // drops them, so they count in neither n_rows nor k_groups
      val z = rows.filter($"g".isNotNull)
        .select($"g", abs($"x" - medC).as("z"))
      val per = z.groupBy($"g")
        .agg(count(lit(1)).cast("double").as("n"), avg($"z").as("zb"),
          // Σ (z − z̄_j)² via the moment identity, one pass
          (sum($"z" * $"z") - count(lit(1)) * pow(avg($"z"), 2)).as("ssw"))
      per.agg(
          sum($"n").as("nn"), count(lit(1)).cast("double").as("k"),
          sum($"n" * $"zb").as("szb"), sum($"ssw").as("ssw"),
          sum($"n" * $"zb" * $"zb").as("szb2"))
        .select(
          $"nn".cast("long").as("n_rows"), $"k".cast("long").as("k_groups"),
          r4((($"nn" - $"k") / ($"k" - 1)) *
            (($"szb2" - $"szb" * $"szb" / $"nn") / $"ssw")).as("bf_stat"))
    }),

    "q_prop_ztest" -> ((s, d) => {
      import s.implicits._
      val seg = T.orders(s, d)
        .join(broadcast(T.customer(s, d)
            .filter($"c_mktsegment".isin("BUILDING", "MACHINERY"))
            .select($"c_custkey", $"c_mktsegment")),
          $"o_custkey" === $"c_custkey")
        .select(($"c_mktsegment" === "BUILDING").as("a"),
          ($"o_totalprice" > 150000).as("conv"))
      seg.agg(
          count_if($"a").as("na"), count_if($"a" && $"conv").as("xa"),
          count_if(!$"a").as("nb"), count_if(!$"a" && $"conv").as("xb"))
        .select($"na", $"nb",
          r4($"xa".cast("double") / $"na").as("p_a"),
          r4($"xb".cast("double") / $"nb").as("p_b"),
          r4(($"xa".cast("double") / $"na" - $"xb".cast("double") / $"nb") /
            sqrt((($"xa" + $"xb").cast("double") / ($"na" + $"nb")) *
              (lit(1.0) - ($"xa" + $"xb").cast("double") / ($"na" + $"nb")) *
              (lit(1.0) / $"na" + lit(1.0) / $"nb"))).as("z"))
    }),

    // Theil inequality index of customer spend — the entropy-based
    // complement to q_gini, and unlike Gini it needs NO ordered pass
    // at all: T = Σ(x·ln x)/Σx − ln(Σx/n) decomposes into three
    // map-side-combinable sums over the per-customer totals.
    "q_theil" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d).groupBy($"o_custkey")
        .agg(sum($"o_totalprice").as("x"))
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"x" * log($"x")).as("sxlx"))
        .select($"n".as("n_customers"),
          r4($"sxlx" / $"sx" - log($"sx" / $"n")).as("theil"))
    }),

    // CUPED variance-reduced A/B means: per-unit pre-period covariate
    // x and experiment metric y, θ = cov(y,x)/var(x) fitted on ALL
    // units (a 1-row broadcast), adjusted metric y − θ(x − x̄) per
    // arm. Var_ratio reports 1 − ρ² — on this synthetic data pre and
    // post spend are uncorrelated, so the honest answer is ≈1.0 (no
    // reduction); the operator's value is the machinery: two
    // aggregation passes, no shuffle beyond the unit rollup.
    "q_cuped" -> ((s, d) => {
      import s.implicits._
      val cut = lit("1997-01-01").cast("date")
      val unit = T.orders(s, d).groupBy($"o_custkey").agg(
          sum(when($"o_orderdate" < cut, $"o_totalprice")
            .otherwise(lit(0.0))).as("x"),
          sum(when($"o_orderdate" >= cut, $"o_totalprice")
            .otherwise(lit(0.0))).as("y"))
        .select(($"o_custkey" % 2).as("arm"), $"x", $"y")
      val th = unit.agg(
        (covar_pop($"y", $"x") / var_pop($"x")).as("theta"),
        avg($"x").as("mx"))
      val adj = $"y" - $"theta" * ($"x" - $"mx")
      unit.crossJoin(broadcast(th))
        .groupBy($"arm").agg(
          count(lit(1)).as("n_units"),
          r4(avg($"y")).as("mean_y"),
          r4(avg(adj)).as("mean_y_cuped"),
          r4(var_pop(adj) / var_pop($"y")).as("var_ratio"))
        .orderBy($"arm")
    }),

    // Difference-in-differences: the 2×2 (treated × pre/post) mean
    // grid and the DiD effect in ONE aggregation pass over the
    // broadcast-joined scan — four conditional means, zero shuffles
    // beyond the partial agg.
    "q_diff_in_diff" -> ((s, d) => {
      import s.implicits._
      val seg = T.orders(s, d)
        .join(broadcast(T.customer(s, d)
            .filter($"c_mktsegment".isin("BUILDING", "MACHINERY"))
            .select($"c_custkey", $"c_mktsegment")),
          $"o_custkey" === $"c_custkey")
        .select(($"c_mktsegment" === "BUILDING").as("treat"),
          ($"o_orderdate" >= lit("1997-01-01").cast("date")).as("post"),
          $"o_totalprice".as("y"))
      def m(c: org.apache.spark.sql.Column) = avg(when(c, $"y"))
      seg.agg(
          m($"treat" && !$"post").as("tpre"), m($"treat" && $"post").as("tpost"),
          m(!$"treat" && !$"post").as("cpre"), m(!$"treat" && $"post").as("cpost"))
        .select(r4($"tpre").as("treat_pre"), r4($"tpost").as("treat_post"),
          r4($"cpre").as("ctrl_pre"), r4($"cpost").as("ctrl_post"),
          r4(($"tpost" - $"tpre") - ($"cpost" - $"cpre")).as("did"))
    }),

    // Kaplan-Meier survival curve over customer lifetimes (months
    // from first to last order; churn event = last order before the
    // censoring cutoff). The cutoff (1998-06-01) sits INSIDE the
    // data's date range, so customers still ordering near the end of
    // the data are right-censored — they leave the at-risk pool
    // without an event, which is the estimator's whole point (a
    // cutoff past max(o_orderdate) would censor nobody and
    // degenerate KM into a plain ECDF). The timeline is
    // month-granular, so the ranked frame is TIME-bounded (~80 rows
    // at any data scale) —
    // the bounded-domain case where buckets=1 is the right call
    // (same reasoning as q_spearman's quantity side). Two rank
    // passes: cumulative counts give the at-risk pool, then the
    // running log-sum turns the KM product into exp(Σ ln(1 − d/r)).
    "q_survival_km" -> ((s, d) => {
      import s.implicits._
      val cust = T.orders(s, d).groupBy($"o_custkey").agg(
        floor(datediff(max($"o_orderdate"), min($"o_orderdate")) / 30.0)
          .cast("long").as("t"),
        (max($"o_orderdate") < lit("1998-06-01").cast("date")).as("ev"))
      val perT = cust.groupBy($"t")
        .agg(count(lit(1)).as("c"), count_if($"ev").as("d"))
      val atRisk = Rank
        .runningSums(perT, Nil, "t", Nil, Seq("cum_le" -> $"c"), 1)
        .select($"t", $"d",
          ($"cum_le_total" - $"cum_le" + $"c").as("r"))
        .filter($"d" > 0)
      Rank.runningSums(
          atRisk.withColumn("lnterm",
            log(lit(1.0) - $"d".cast("double") / $"r")),
          Nil, "t", Nil, Seq("logcum" -> $"lnterm"), 1)
        .select($"t".as("month"), $"r".as("at_risk"), $"d".as("events"),
          r4(exp($"logcum")).as("survival"))
        .orderBy($"month")
    })
  )

  val oracles: Map[String, String] = Map(
    "q_mde" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  round(stddev_samp(o_totalprice), 4) AS sd,
        |  round((1.9599639845400545 + 0.8416212335729143)
        |    * stddev_samp(o_totalprice)
        |    * sqrt(2.0 / floor(count(*) / 2)), 4) AS mde
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    "q_levene" ->
      """WITH rows_ AS (
        |  SELECT c_mktsegment AS g, o_totalprice::DOUBLE AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |med AS (SELECT g, quantile_cont(x, 0.5) AS m FROM rows_ GROUP BY 1),
        |z AS (SELECT rows_.g, abs(x - m) AS z
        |      FROM rows_ JOIN med ON rows_.g = med.g),
        |per AS (SELECT g, count(*)::DOUBLE AS n, avg(z) AS zb,
        |    sum(z*z) - count(*) * pow(avg(z), 2) AS ssw
        |  FROM z GROUP BY 1),
        |agg AS (SELECT sum(n) AS nn, count(*)::DOUBLE AS k,
        |    sum(n*zb) AS szb, sum(ssw) AS ssw, sum(n*zb*zb) AS szb2
        |  FROM per)
        |SELECT CAST(nn AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS k_groups,
        |  round(((nn - k) / (k - 1)) *
        |    ((szb2 - szb*szb/nn) / ssw), 4) AS bf_stat
        |FROM agg""".stripMargin,

    "q_ttest" ->
      """WITH arm AS (
        |  SELECT c_mktsegment, count(*)::DOUBLE AS n,
        |    avg(o_totalprice) AS m, var_samp(o_totalprice) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |  GROUP BY 1),
        |a AS (SELECT n AS na, m AS ma, v AS va FROM arm
        |      WHERE c_mktsegment = 'BUILDING'),
        |b AS (SELECT n AS nb, m AS mb, v AS vb FROM arm
        |      WHERE c_mktsegment = 'MACHINERY')
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(ma - mb, 4) AS mean_diff,
        |  round((ma - mb) / sqrt(va/na + vb/nb), 4) AS t_stat,
        |  round(pow(va/na + vb/nb, 2) /
        |    (pow(va/na, 2)/(na - 1) + pow(vb/nb, 2)/(nb - 1)), 4)
        |    AS welch_dof
        |FROM a, b""".stripMargin,

    "q_theil" ->
      """WITH cust AS (SELECT o_custkey, sum(o_totalprice) AS x
        |  FROM orders GROUP BY 1),
        |agg AS (SELECT count(*) AS n, sum(x) AS sx,
        |    sum(x * ln(x)) AS sxlx FROM cust)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  round(sxlx / sx - ln(sx / n), 4) AS theil FROM agg""".stripMargin,

    "q_cuped" ->
      """WITH unit AS (SELECT o_custkey % 2 AS arm,
        |    sum(CASE WHEN o_orderdate < DATE '1997-01-01'
        |      THEN o_totalprice ELSE 0 END) AS x,
        |    sum(CASE WHEN o_orderdate >= DATE '1997-01-01'
        |      THEN o_totalprice ELSE 0 END) AS y
        |  FROM orders GROUP BY o_custkey),
        |th AS (SELECT covar_pop(y, x) / var_pop(x) AS theta,
        |    avg(x) AS mx FROM unit)
        |SELECT arm, count(*) AS n_units,
        |  round(avg(y), 4) AS mean_y,
        |  round(avg(y - theta * (x - mx)), 4) AS mean_y_cuped,
        |  round(var_pop(y - theta * (x - mx)) / var_pop(y), 4) AS var_ratio
        |FROM unit CROSS JOIN th
        |GROUP BY arm, theta, mx ORDER BY arm""".stripMargin,

    "q_diff_in_diff" ->
      """WITH seg AS (SELECT (c_mktsegment = 'BUILDING') AS treat,
        |    (o_orderdate >= DATE '1997-01-01') AS post, o_totalprice AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY'))
        |SELECT
        |  round(avg(y) FILTER (treat AND NOT post), 4) AS treat_pre,
        |  round(avg(y) FILTER (treat AND post), 4) AS treat_post,
        |  round(avg(y) FILTER (NOT treat AND NOT post), 4) AS ctrl_pre,
        |  round(avg(y) FILTER (NOT treat AND post), 4) AS ctrl_post,
        |  round((avg(y) FILTER (treat AND post)
        |      - avg(y) FILTER (treat AND NOT post))
        |    - (avg(y) FILTER (NOT treat AND post)
        |      - avg(y) FILTER (NOT treat AND NOT post)), 4) AS did
        |FROM seg""".stripMargin,

    "q_cramers_v" ->
      """WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b
        |  FROM orders),
        |obs AS (SELECT a, b, count(*) AS o FROM cells GROUP BY 1, 2),
        |rowt AS (SELECT a, count(*) AS rt FROM cells GROUP BY 1),
        |colt AS (SELECT b, count(*) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM cells),
        |grid AS (SELECT r.a, c.b, coalesce(o.o, 0) AS o,
        |    CAST(r.rt * c.ct AS DOUBLE) / n.n AS e, n.n
        |  FROM rowt r CROSS JOIN colt c CROSS JOIN n
        |  LEFT JOIN obs o ON o.a = r.a AND o.b = c.b)
        |SELECT round(sum((o - e) * (o - e) / e), 4) AS chisq,
        |  CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT) AS dof,
        |  round(sqrt(sum((o - e) * (o - e) / e) /
        |    (max(n) * least(count(DISTINCT a) - 1,
        |      count(DISTINCT b) - 1))), 4) AS cramers_v
        |FROM grid""".stripMargin,

    "q_prop_ztest" ->
      """WITH seg AS (SELECT (c_mktsegment = 'BUILDING') AS a,
        |    (o_totalprice > 150000) AS conv
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY'))
        |SELECT count(*) FILTER (a) AS na, count(*) FILTER (NOT a) AS nb,
        |  round(CAST(count(*) FILTER (a AND conv) AS DOUBLE)
        |    / count(*) FILTER (a), 4) AS p_a,
        |  round(CAST(count(*) FILTER (NOT a AND conv) AS DOUBLE)
        |    / count(*) FILTER (NOT a), 4) AS p_b,
        |  round((CAST(count(*) FILTER (a AND conv) AS DOUBLE)
        |      / count(*) FILTER (a)
        |    - CAST(count(*) FILTER (NOT a AND conv) AS DOUBLE)
        |      / count(*) FILTER (NOT a)) /
        |    sqrt((CAST(count(*) FILTER (conv) AS DOUBLE) / count(*)) *
        |      (1 - CAST(count(*) FILTER (conv) AS DOUBLE) / count(*)) *
        |      (1.0 / count(*) FILTER (a) + 1.0 / count(*) FILTER (NOT a))), 4)
        |    AS z
        |FROM seg""".stripMargin,

    "q_survival_km" ->
      """WITH cust AS (SELECT o_custkey,
        |    CAST(floor(date_diff('day', min(o_orderdate),
        |      max(o_orderdate)) / 30.0) AS BIGINT) AS t,
        |    (max(o_orderdate) < DATE '1998-06-01') AS ev
        |  FROM orders GROUP BY 1),
        |per_t AS (SELECT t, count(*) AS c, count(*) FILTER (ev) AS d
        |  FROM cust GROUP BY 1),
        |rk AS (SELECT t, c, d, sum(c) OVER (ORDER BY t) AS cum_le,
        |    (SELECT count(*) FROM cust) AS n FROM per_t),
        |surv AS (SELECT t, d, n - cum_le + c AS r,
        |    exp(sum(ln(1 - CAST(d AS DOUBLE) / (n - cum_le + c)))
        |      OVER (ORDER BY t)) AS s
        |  FROM rk WHERE d > 0)
        |SELECT t AS month, CAST(r AS BIGINT) AS at_risk,
        |  CAST(d AS BIGINT) AS events, round(s, 4) AS survival
        |FROM surv ORDER BY month""".stripMargin
  )
}
