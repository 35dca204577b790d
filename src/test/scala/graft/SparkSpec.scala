package graft

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

  /** `f`'s result and the Spark work it starts from this thread ([[Harness.meter]]). */
  def meter[T](f: => T): (T, Harness.Cost) = Harness.meter(spark)(f)

  /** The Spark jobs `f` starts from this thread. */
  def jobs(f: => Any): Int = meter(f)._2.jobs
}

object SparkSpec {
  lazy val session: SparkSession = Harness.session(4)
}
