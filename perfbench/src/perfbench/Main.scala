package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One benchmark run of one workload against the engine's public API.
  *
  *   perfbench.Main --workload <vendor_dag|registry_sweep|table_writes>
  *     --seed <n> --seconds <s> --trace <0|1> --data <dir> --work <dir>
  *     --keys <file> --out <result.json> [--trace-out <trace.json>]
  *
  * Closed loop: one client thread issues the next op when the previous
  * one returns, for `seconds` of wall time after set-up and warm-up.
  * Output checks run after the timed region. Everything measured goes
  * to `--out` as JSON; perfbench/run.py turns it into the metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val ticksStart = Host.cpuTicks
    val ctx = new Ctx(a("seed").toLong, a("data"), a("work"), a("trace") == "1")
    // the vendor registry resolves its root lazily on first touch: point
    // it at the generated fixture before anything references it
    System.setProperty("graft.vendor.root", s"${ctx.data}/datasets")
    if (workload == "list_keys") {
      RegistrySweep.timedKeys.foreach { case (k, l) => println(s"$l\t$k") }
      return
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${ctx.work}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ctx.spark = spark
    ctx.tracer = new Tracer(spark, ctx.traced)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w: Workload = workload match {
      case "vendor_dag" => new VendorDag(ctx)
      case "registry_sweep" => new RegistrySweep(ctx, a("keys"))
      case "table_writes" => new TableWrites(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.tracer.phase("setup")
    val ts = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - ts) / 1e9
    ctx.tracer.phase("warmup")
    val tw = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupSteal = Host.busySteal(ticksStart, Host.cpuTicks)

    ctx.tracer.phase("timed")
    val loadBefore = Host.loadavg
    val cpu0 = Host.cpuTicks
    ctx.timed = true
    val t0 = Tracer.nowUs()
    val start = System.nanoTime()
    val deadline = start + (a("seconds").toDouble * 1e9).toLong
    val passes = ArrayBuffer.empty[Double]
    // at least one complete pass, so every op of the mix has a sample
    while (System.nanoTime() < deadline || passes.isEmpty) {
      val tp = System.nanoTime()
      if (w.pass(if (passes.isEmpty) Long.MaxValue else deadline))
        passes += (System.nanoTime() - tp) / 1e9
    }
    val timedS = (System.nanoTime() - start) / 1e9
    val t1 = Tracer.nowUs()
    val stealPct = Host.stealPct(cpu0, Host.cpuTicks)
    ctx.timed = false

    ctx.tracer.phase("check")
    w.check()
    val traceJson = ctx.tracer.json((t0, t1), ctx.cores)
    a.get("trace-out").foreach(p => Files.write(p, traceJson))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val out =
      s"""{"workload":${Json.str(workload)},"seed":${ctx.seed},"traced":${ctx.traced},""" +
      s""""host":{"nproc":${ctx.cores},"heap_mb":${Runtime.getRuntime.maxMemory >> 20},""" +
      s""""spark":${Json.str(spark.version)},"java":${Json.str(sys.props("java.version"))},""" +
      s""""loadavg_before_timed":${Json.str(loadBefore)},"steal_pct_timed":${Json.num(stealPct)}},""" +
      s""""session_s":$sessionS,"setup_s":$setupS,""" +
      s""""warmup_s":$warmupS,"setup_steal":$setupSteal,"timed_s":$timedS,"passes_s":[${passes.mkString(",")}],""" +
      s""""ops":[${ctx.ops.map(_.json).mkString(",")}],""" +
      s""""checks":[${ctx.checks.map(_.json).mkString(",")}],""" +
      s""""mix":{${w.mix.map { case (k, n) => s"${Json.str(k)}:${Json.num(n)}" }.mkString(",")}},""" +
      s""""extra":{${w.extra.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")}},""" +
      s""""peak_rss_mb":${Host.peakRssMb},"retained_heap_mb":${Host.retainedHeapMb}}"""
    Files.write(a("out"), out)
    spark.stop()
  }
}

/** State shared by a run: session, tracer, and what was measured. */
final class Ctx(val seed: Long, val data: String, val work: String,
    val traced: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val corpus: String = s"$data/corpus"
  var spark: SparkSession = _
  var tracer: Tracer = _
  /** True inside the timed region: only its ops give latency samples.
    * Ops of every phase count as attempted, and failed if they fail. */
  var timed = false
  val ops = ArrayBuffer.empty[OpRec]
  val checks = ArrayBuffer.empty[CheckRec]
  private var nextOp = 0

  /** Run one client op. A throwing op is recorded as failed with its
    * exception class (never as a silent sentinel time), printed, and
    * left out of the latency samples by the reader. */
  def op[T](kind: String, name: String)(body: OpRec => T): Option[T] = {
    tracer.op = nextOp
    nextOp += 1
    val rec = new OpRec(kind, name, timed)
    val ticks0 = Host.cpuTicks
    val cpu0 = Host.processCpuNs
    val t0 = System.nanoTime()
    val res = try Some(body(rec)) catch { case e: Throwable => rec.fail(e); None }
    rec.ms = (System.nanoTime() - t0) / 1e6
    rec.cpuMs = (Host.processCpuNs - cpu0) / 1e6
    rec.steal = Host.busySteal(ticks0, Host.cpuTicks)
    ops += rec
    res
  }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += new CheckRec(name, ok, detail)
    if (!ok) println(s"[fail] check $name: $detail")
  }

  def dropPersisted(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}

final class OpRec(val kind: String, val name: String, val timed: Boolean) {
  var ms = 0.0
  /** CPU time of the whole JVM (all threads) during the op. */
  var cpuMs = 0.0
  /** Share of the guest's busy CPU time the hypervisor stole during the op. */
  var steal = 0.0
  var ok = true
  var err = ""
  /** Op outputs the reader checks or reports (JSON values). */
  val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
  def fail(e: Throwable): Unit =
    fail(e.getClass.getName + ": " + String.valueOf(e.getMessage).linesIterator
      .take(1).mkString.take(300))
  /** Mark the op failed: printed by workload, op and cause, left out of
    * the latency samples, counted in `failed`. */
  def fail(msg: String): Unit = {
    ok = false
    err = msg
    println(s"[fail] op $kind $name $err")
  }
  def json: String =
    s"""{"kind":${Json.str(kind)},"name":${Json.str(name)},"timed":$timed,"ms":$ms,"cpu_ms":$cpuMs,""" +
      s""""steal":${Json.num(steal)},"ok":$ok,""" +
      s""""err":${Json.str(err)},"out":{${out.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")}}}"""
}

final class CheckRec(val name: String, val ok: Boolean, val detail: String) {
  def json: String =
    s"""{"name":${Json.str(name)},"ok":$ok,"detail":${Json.str(detail)}}"""
}

/** A workload: set-up, untimed warm-up, timed passes, output checks. */
abstract class Workload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  def setup(): Unit
  def warmup(): Unit
  /** One pass over the workload's fixed op set, in a seed-shuffled
    * order; stops starting ops at `deadline`. True if it completed. */
  def pass(deadline: Long): Boolean
  def check(): Unit
  /** The weight of each op type ("kind:name") in one pass: how often it
    * occurs, or how many ops of the full op set it stands for. */
  def mix: Map[String, Double]
  /** Workload-level measurements (JSON values by name). */
  def extra: Map[String, String] = Map.empty

  private var passNo = 0
  protected def shuffled[T](xs: Seq[T]): Seq[T] = {
    passNo += 1
    new scala.util.Random(ctx.seed * 1000003L + passNo).shuffle(xs)
  }
}

object Host {
  /** Heap still in use after full collections: what the engine retains.
    * Spark releases weakly held state (shuffles, broadcasts, blocks) in
    * its context cleaner only after a collection finds it, so this
    * collects until a collection frees less than 1 MB (at most 8). */
  def retainedHeapMb: Double = {
    val rt = Runtime.getRuntime
    def used = rt.totalMemory - rt.freeMemory
    var before = Long.MaxValue
    var n = 0
    while (n < 8 && before - used > (1L << 20)) {
      before = used
      System.gc()
      Thread.sleep(100)
      n += 1
    }
    used / 1048576.0
  }
  def loadavg: String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }
  /** The aggregate `cpu` line of /proc/stat (user nice system idle
    * iowait irq softirq steal ...), in ticks. */
  def cpuTicks: Array[Long] =
    try scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      .drop(1).map(_.toLong)
    catch { case _: Throwable => Array.empty }
  private def delta(a: Array[Long], b: Array[Long]): Option[Array[Long]] =
    if (a.length < 8 || b.length < 8) None
    else Some(b.zip(a).take(8).map { case (x, y) => x - y })
  /** Share of all CPU time the hypervisor gave to other guests between
    * two samples: host contention no code change can cause. */
  def stealPct(a: Array[Long], b: Array[Long]): Double =
    delta(a, b).fold(Double.NaN)(d => 100.0 * d(7) / math.max(1L, d.sum))
  /** Steal as a share of the time the guest wanted to run (idle and
    * iowait excluded): the fraction by which a runnable thread slowed. */
  def busySteal(a: Array[Long], b: Array[Long]): Double =
    delta(a, b).fold(0.0) { d =>
      val busy = d.sum - d(3) - d(4)
      if (busy <= 0) 0.0 else d(7).toDouble / busy
    }
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }
}

object Files {
  def write(path: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.toAbsolutePath.getParent)
    java.nio.file.Files.writeString(p, s)
  }
  def read(path: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(path))
  /** (files, bytes) under a directory tree. */
  def du(path: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L)
    val st = java.nio.file.Files.walk(root)
    try {
      val fs = st.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
      (fs.size.toLong, fs.map(java.nio.file.Files.size).sum)
    } finally st.close()
  }
}
