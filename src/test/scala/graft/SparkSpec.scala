package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork —
  * getOrCreate reuses the session across suites).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** A fresh scratch directory, removed when the JVM exits ([[Harness.tmp]]). */
  def tmp(prefix: String): String = Harness.tmp(prefix)

  /** The Spark jobs `f` starts from this thread. */
  def jobs(f: => Any): Int = {
    val sc = spark.sparkContext
    val id = s"graft-job-budget-${SparkSpec.group.incrementAndGet()}"
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == id))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(id, "job budget")
    try { f; ListenerDrain.drain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    n.get
  }
}

object SparkSpec {
  private val group = new AtomicInteger(0)
  lazy val session: SparkSession = Harness.session(4)
}
