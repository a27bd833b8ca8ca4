package graft

import graft.operators.StatQueries
import org.scalatest.funsuite.AnyFunSuite

/** Statistical invariants of the StatQueries module that the oracle
  * hash-compare can't express: Kaplan-Meier's structural monotonicity
  * and the bounded ranges of the association statistics. */
class StatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("Kaplan-Meier curve is monotone: survival falls, at-risk shrinks") {
    val rows = StatQueries.queries("q_survival_km")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.sliding(2).foreach { case Array((t0, r0, _, s0), (t1, r1, _, s1)) =>
      assert(t0 < t1, "event months strictly increase")
      assert(r1 <= r0, s"at-risk pool grew at month $t1")
      assert(s1 <= s0 + 1e-9, s"survival rose at month $t1")
    }
    rows.foreach { case (_, r, d, s) =>
      assert(d > 0 && d <= r, "events bounded by the at-risk pool")
      assert(s >= 0.0 && s <= 1.0, "survival is a probability")
    }
  }

  test("Cramér's V lands in [0, 1] with the right dof") {
    val r = StatQueries.queries("q_cramers_v")(spark, sf).collect().head
    val (chisq, dof, v) = (r.getDouble(0), r.getLong(1), r.getDouble(2))
    assert(chisq >= 0.0)
    assert(dof == 8, "5 priorities x 3 statuses -> (5-1)*(3-1)")
    assert(v >= 0.0 && v <= 1.0)
  }

  test("two-proportion z-test: proportions in [0,1], z sign matches their order") {
    val r = StatQueries.queries("q_prop_ztest")(spark, sf).collect().head
    val (na, nb) = (r.getLong(0), r.getLong(1))
    val (pa, pb, z) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(na > 0 && nb > 0)
    assert(pa >= 0.0 && pa <= 1.0 && pb >= 0.0 && pb <= 1.0)
    // pa/pb are 4dp-rounded while z is computed unrounded, so only
    // check the sign when the rounded gap is resolvable
    assert(math.abs(pa - pb) < 2e-4 || math.signum(z) == math.signum(pa - pb))
  }

  test("q_levene counts only non-NULL segments, like the oracle's inner join") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // a corpus copy whose first ordering customer has a NULL segment
    val dir = java.nio.file.Files.createTempDirectory("graft_levene_")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/orders.parquet"),
      dir.resolve("orders.parquet"))
    val victim = Tables.orders(spark, dir.toString)
      .select(col("o_custkey")).head().get(0)
    Tables.customer(spark, sf)
      .withColumn("c_mktsegment", when(col("c_custkey") === lit(victim),
        lit(null).cast("string")).otherwise(col("c_mktsegment")))
      .write.parquet(dir.resolve("customer.parquet").toString)
    val joined = Tables.orders(spark, dir.toString)
      .join(Tables.customer(spark, dir.toString),
        col("o_custkey") === col("c_custkey"))
    assert(joined.filter(col("c_mktsegment").isNull).count() > 0)
    val grouped = joined.filter(col("c_mktsegment").isNotNull)
    val r = StatQueries.queries("q_levene")(spark, dir.toString)
      .collect().head
    assert(r.getLong(0) == grouped.count(), "n_rows counted NULL-group rows")
    assert(r.getLong(1) ==
      grouped.select(col("c_mktsegment")).distinct().count(),
      "k_groups counted the NULL group")
  }
}
