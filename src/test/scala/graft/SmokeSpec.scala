package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must execute at sf0.001 — the cheap net that
  * catches plan-time and runtime errors across the whole inventory. */
class SmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle or is explicitly rows-only") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // keep this list in sync with SURVEY.md §2 (🟡 rows)
    // q_approx_quantile_sketch: sketch-only timed plan — the sketch
    // picks data values at approximate ranks DuckDB cannot reproduce;
    // its 1% closeness assertion lives in ApproxQuantileSpec and the
    // oracle-checked exact+sketch pairing is q_approx_quantile.
    // sim_pq_topk / sim_ivfpq_topk: the PQ and IVF-PQ paths' timed
    // twins (ADC codes DuckDB cannot reproduce); quality is
    // oracle-gated via sim_pq_recall / sim_ivfpq_recall and the
    // equivalence/recall specs in SimilaritySpec.
    val expectedRowsOnly =
      Set("q_approx_quantile_sketch", "sim_pq_topk", "sim_ivfpq_topk")
    assert(rowsOnly == expectedRowsOnly,
      s"oracle coverage drifted: rows-only = $rowsOnly")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes") {
      TestSpark.assumeVendorFiles(name)
      val df = fn(spark, TestSpark.sf)
      assert(df.count() >= 0)
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1)
    .filterNot(q => Set("q_anti_join", "dedup_simhash").contains(q._1))
    .foreach { case (name, fn) =>
      test(s"$name is non-empty at sf0.001") {
        TestSpark.assumeVendorFiles(name)
        assert(fn(spark, TestSpark.sf).limit(1).count() > 0,
          s"$name returned 0 rows — vacuous correctness check")
      }
    }
}
