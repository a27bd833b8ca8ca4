package graft.tools

import java.util.concurrent.{Semaphore, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.{LocalSpark, SparkEntry}

/** Dev probe over the query registry. Not part of the driver contract.
  *
  *   runMain graft.tools.Probe <time|jobs|explain> <sfDir> <key> [<key> ...]
  *
  *  - `time`: per key one warm-up, then 3 noop-sink passes; prints the
  *    min of the 3 and the warm-up, in seconds.
  *  - `jobs`: per key one warm-up and one measured pass; prints the
  *    measured pass's seconds, jobs and stages, then per completed
  *    stage its wall ms, tasks, task-run ms, CPU ms and longest task.
  *  - `explain`: the formatted physical plan of each key.
  *
  * Each mode is a function of a session; `main` runs it on
  * [[graft.LocalSpark]]'s and stops it. */
object Probe {
  def main(args: Array[String]): Unit = {
    val modes = Map[String, (SparkSession, String, Seq[String]) => Unit](
      "time" -> time, "jobs" -> (jobs(_, _, _)), "explain" -> explain)
    require(args.length >= 3 && modes.contains(args(0)),
      "usage: Probe <time|jobs|explain> <sfDir> <key> [<key> ...]")
    val spark = LocalSpark.session(s"graft-probe-${args(0)}")
    try modes(args(0))(spark, args(1), args.drop(2).toSeq)
    finally spark.stop()
  }

  /** One pass of `key` through the noop sink, which runs the full plan
    * (`count()` would let Catalyst prune columns), in seconds. Then
    * drops the pass's persistent RDDs outside the timer, as Bench does
    * between queries. */
  private def pass(spark: SparkSession, sfDir: String, key: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(key)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    sec
  }

  def time(spark: SparkSession, sfDir: String, keys: Seq[String]): Unit =
    keys.foreach { k =>
      val runs = (0 to 3).map(_ => pass(spark, sfDir, k))
      println(f"TIME $k%-24s min=${runs.tail.min}%.2f warm=${runs.head}%.2f")
    }

  def explain(spark: SparkSession, sfDir: String, keys: Seq[String]): Unit =
    keys.foreach { k =>
      println(s"===== $k")
      SparkEntry.queries(k)(spark, sfDir).explain("formatted")
    }

  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int,
      runMs: Long, cpuMs: Long, longestTaskMs: Long)
  final case class Jobs(key: String, seconds: Double, jobs: Int, stages: Seq[Stage])

  /** Job description of the one-task job that closes each pass. */
  val Fence = "graft probe fence"

  def jobs(spark: SparkSession, sfDir: String, keys: Seq[String]): Seq[Jobs] = {
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    try keys.map { k =>
      pass(spark, sfDir, k)
      fence(spark, ledger)
      val sec = pass(spark, sfDir, k)
      val (n, stages) = fence(spark, ledger)
      // clearCache too: unpersisting RDDs leaves CacheManager entries
      // behind, so a later key whose plan matches an earlier .cache()d
      // relation would reuse its InMemoryRelation
      spark.catalog.clearCache()
      val r = Jobs(k, sec, n, stages)
      println(f"== $k total=$sec%.2fs jobs=$n stages=${stages.size}")
      stages.foreach { s =>
        println(f"   stage ${s.id}%4d ${s.wallMs}%6d ms ${s.tasks}%4d tasks  run=${s.runMs}%6d" +
          f" cpu=${s.cpuMs}%6d longest=${s.longestTaskMs}%6d ms  ${s.name}")
      }
      r
    } finally spark.sparkContext.removeSparkListener(ledger)
  }

  /** Runs a one-task job described as [[Fence]] and waits until the
    * ledger has seen it end. Listener events arrive in order on one
    * queue, so by then every event of the work before the fence has
    * been delivered; returns the jobs and completed stages the ledger
    * saw between the previous fence and this one. */
  private def fence(spark: SparkSession, ledger: Ledger): (Int, Seq[Stage]) = {
    val sc = spark.sparkContext
    val desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Fence)
    try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(desc)
    require(ledger.fenced.tryAcquire(5, TimeUnit.MINUTES),
      "the listener bus never delivered the probe's fence job")
    ledger.closed
  }

  /** Fed on the listener bus thread only; the caller reads `closed`
    * after `fenced` is released. */
  private final class Ledger extends SparkListener {
    val fenced = new Semaphore(0)
    var closed: (Int, Seq[Stage]) = (0, Nil)
    private var fenceJob = -1
    private var jobs = 0
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val longest = mutable.Map.empty[Int, Long].withDefaultValue(0L)

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (Option(j.properties).exists(_.getProperty("spark.job.description") == Fence)) {
        fenceJob = j.jobId
        closed = (jobs, stages.sortBy(_.id).toSeq)
      } else jobs += 1

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (j.jobId == fenceJob) {
        fenceJob = -1; jobs = 0; stages.clear(); longest.clear()
        fenced.release()
      }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      longest(t.stageId) = longest(t.stageId).max(t.taskInfo.duration)

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = Option(si.taskMetrics)
      stages += Stage(si.stageId, si.name.split(" ").head,
        (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L),
        si.numTasks, m.fold(0L)(_.executorRunTime),
        m.fold(0L)(_.executorCpuTime / 1000000L), longest(si.stageId))
    }
  }
}
