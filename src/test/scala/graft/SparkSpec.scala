package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's single test JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    // The Verify/Bench session config (storage-partitioned execution
    // enabled up front, so plan pins are independent of which test touched
    // the conf first) at a fixed local[4].
    val s = Session.builder("4")
      .appName("graft-test")
      // The deployment-config path for the library's Catalyst extensions
      // (static conf — must be set when the first session is built).
      // ExtensionsSpec asserts the injection took effect.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf
}
