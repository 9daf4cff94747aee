package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object TestSession {
  lazy val spark: SparkSession =
    Harness.session(4, "spark.sql.warehouse.dir" -> "/tmp/graft_test_warehouse")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val testdataRoot = "/root/testdata"
  val sfDir = s"$testdataRoot/sf0.001"
  /** The larger scale point for the few specs that need a regime the
    * tiny default can't produce; `assume` on this so such specs skip
    * cleanly (not fail) on a checkout without the bigger dataset. */
  val sfDirBig = s"$testdataRoot/sf0.1"
}
