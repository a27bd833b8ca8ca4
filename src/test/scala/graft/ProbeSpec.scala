package graft

import java.io.ByteArrayOutputStream
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** The dev probe's three modes, run on the shared test session (which
  * they must leave running). */
class ProbeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val key = "q1_pricing_summary"

  private def printed[A](f: => A): (A, Seq[String]) = {
    val buf = new ByteArrayOutputStream()
    val a = Console.withOut(buf)(f)
    (a, buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty))
  }

  test("jobs reports the measured pass's job count, as a separate listener counts it") {
    // every job start in bus order, true for the probe's fence jobs:
    // warm-up jobs, fence, measured jobs, fence
    val starts = new ConcurrentLinkedQueue[Boolean]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.add(Option(j.properties)
          .exists(_.getProperty("spark.job.description") == Probe.Fence))
    }
    spark.sparkContext.addSparkListener(listener)
    val (reports, lines) =
      try printed(Probe.jobs(spark, TestSpark.sf, Seq(key)))
      finally spark.sparkContext.removeSparkListener(listener)
    val seen = starts.asScala.toSeq
    assert(seen.count(identity) === 2)
    val measured = seen.dropWhile(!_).tail.takeWhile(!_).size
    val Seq(r) = reports
    assert(r.key === key)
    assert(r.jobs >= 1)
    assert(r.jobs === measured)
    assert(r.stages.nonEmpty && r.stages.forall(_.tasks >= 1))
    assert(lines.head.startsWith(s"== $key total="))
    assert(lines.head.endsWith(s" jobs=${r.jobs} stages=${r.stages.size}"))
    assert(lines.size === 1 + r.stages.size)
    assert(!spark.sparkContext.isStopped)
  }

  test("explain prints the formatted physical plan") {
    val (_, lines) = printed(Probe.explain(spark, TestSpark.sf, Seq(key)))
    assert(lines.head === s"===== $key")
    assert(lines.contains("== Physical Plan =="))
  }

  test("time prints one line per key") {
    val keys = Seq(key, "q_filter_project")
    val (_, lines) = printed(Probe.time(spark, TestSpark.sf, keys))
    assert(lines.size === keys.size)
    lines.zip(keys).foreach { case (l, k) =>
      assert(l.matches(s"TIME $k +min=\\d+\\.\\d\\d warm=\\d+\\.\\d\\d"), l)
    }
    assert(!spark.sparkContext.isStopped)
  }
}
