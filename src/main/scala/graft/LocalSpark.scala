package graft

import org.apache.spark.sql.SparkSession

/** The one local session of the library's mains (`Bench`, `Verify`,
  * `text.BpeTrainMain`, `tools.Probe`): `local[n]` with n =
  * `SPARK_GRAFT_CPUS` (default 4) and as many shuffle partitions, AQE
  * on, UTC session time zone, no UI. */
object LocalSpark {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def session(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the generated-code cache defaults to 100 entries; a full
      // registry sweep holds far more distinct codegen units, so every
      // pass recompiled every plan — the heavy multi-stage queries
      // measured 30-40% slower in-sweep than isolated purely from that
      // thrash. Static conf: must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
