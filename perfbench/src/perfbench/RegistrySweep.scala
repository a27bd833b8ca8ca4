package perfbench

import graft.{QueryModule, SparkEntry}

/** registry_sweep: one op is one registry key, built and then written
  * to the `noop` sink (so the full plan runs, projections included).
  * The key set is fixed by perfbench/registry_keys.txt; each pass
  * visits it in a seed-shuffled order, and each key weighs as many
  * keys of the timed registry as it stands for (see [[mix]]). Each key is one span on the
  * layer named after its module's package. */
final class RegistrySweep(c: Ctx, keysFile: String) extends Workload(c) {
  private val keys: Seq[String] = Files.read(keysFile).linesIterator
    .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  private val WarmPasses = 2
  private lazy val queries = SparkEntry.queries
  private def dump = s"${ctx.work}/dump"

  private def runKey(k: String): Unit = {
    ctx.op("key", k) { _ =>
      ctx.tracer.span(RegistrySweep.layerOf(k), k) {
        val df = ctx.tracer.constructing(queries(k)(spark, ctx.corpus))
        df.write.format("noop").mode("overwrite").save()
      }
    }
    // cached/checkpointed blocks a key leaves behind would otherwise
    // press on the keys after it (outside the op's time)
    ctx.dropPersisted()
  }

  def setup(): Unit = {
    queries.size // the registry builds every module on first touch
    val missing = keys.filterNot(queries.contains)
    require(missing.isEmpty, s"registry keys not found: ${missing.mkString(", ")}")
    require(keys.forall(RegistrySweep.layerOf.contains))
  }

  /** The first warm-up pass doubles as the output check's dump: each
    * key is built and written once for the DuckDB oracle compare that
    * perfbench/run.py runs after the JVM exits. Untimed passes like
    * the timed ones follow: a key's first runs are still JIT- and
    * codegen-bound (after one such pass, keys still ran 20-30 % faster
    * on each of the next passes), and timing them made the sweep
    * track where the run started more than the engine. */
  def warmup(): Unit = {
    dumpAll()
    (1 to WarmPasses).foreach(_ => shuffled(keys).foreach(runKey))
  }

  private def dumpAll(): Unit = {
    val oracles = SparkEntry.oracleSql
    for (k <- keys) {
      try {
        queries(k)(spark, ctx.corpus).coalesce(1).write.mode("overwrite")
          .parquet(s"$dump/$k")
        if (!oracles.contains(k)) {
          val n = spark.read.parquet(s"$dump/$k").count()
          ctx.check(s"rows:$k", n > 0, s"$n rows")
        }
      } catch {
        case e: Throwable =>
          ctx.check(s"dump:$k", ok = false, e.getClass.getName + ": " + e.getMessage)
      }
      ctx.dropPersisted()
    }
    Files.write(s"$dump/oracle_sql.json", keys.flatMap(k => oracles.get(k).map(k -> _))
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
  }

  def pass(deadline: Long): Boolean = {
    for (k <- shuffled(keys)) {
      if (System.nanoTime() >= deadline) return false
      runKey(k)
    }
    true
  }

  def check(): Unit = ()

  /** Each sampled key stands for its package's share of the timed
    * registry: the package's timed keys over its sampled keys. The op
    * mix then estimates the full sweep, not the sample. */
  def mix: Map[String, Double] = {
    val size = RegistrySweep.timedKeys.groupBy(_._2).map { case (l, ks) => l -> ks.size }
    val sampled = keys.groupBy(RegistrySweep.layerOf).map { case (l, ks) => l -> ks.size }
    keys.map { k =>
      val l = RegistrySweep.layerOf(k)
      s"key:$k" -> size.getOrElse(l, 0).toDouble / sampled(l)
    }.toMap
  }
}

object RegistrySweep {
  /** key -> layer: the package of the registry module that defines it. */
  lazy val layerOf: Map[String, String] = {
    val m = SparkEntry.getClass.getDeclaredMethods.find(_.getName.endsWith("modules")).get
    m.setAccessible(true)
    m.invoke(SparkEntry).asInstanceOf[Seq[QueryModule]].flatMap { mod =>
      val layer = mod.getClass.getPackage.getName.stripPrefix("graft.")
      mod.queries.keys.map(_ -> layer)
    }.toMap
  }

  /** The timed registry (all keys minus benchExclude), by layer. */
  def timedKeys: Seq[(String, String)] =
    layerOf.toSeq.filterNot(kv => SparkEntry.benchExclude(kv._1)).sortBy(kv => (kv._2, kv._1))
}
