package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare and status.json, one entry
  * per key: "ok" or "failed: <message>". Exits 1 when any key failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args = run only these queries (local dev loop)
    val only = args.drop(2).toSet
    val spark = LocalSpark.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    val status = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        name -> (try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          "ok"
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          e.printStackTrace()
          s"failed: ${e.getMessage}"
        })
      }
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    // bench-only timed twins (no oracle BY DESIGN): lets a mechanical
    // correctness scan resolve their `no_oracle` entries against the
    // twin's verdict instead of flagging them
    Files.writeString(Paths.get(s"$outDir/timed_twins.json"), obj(SparkEntry.timedTwinOf))
    Files.writeString(Paths.get(s"$outDir/status.json"), obj(status))
    spark.stop()
    val failed = status.collect { case (k, v) if v != "ok" => k }
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${status.size} " +
        s"keys failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
