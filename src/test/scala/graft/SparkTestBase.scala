package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites (one per suite). */
trait SparkTestBase extends AnyFunSuite {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  // One JVM-wide session across suites: sbt forks a single test JVM and
  // Spark local sessions are expensive to spin up per suite.
  lazy val session: SparkSession = {
    val s = LocalSession.builder("graft-test", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
