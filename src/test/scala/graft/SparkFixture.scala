package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session (Spark
  * sessions are expensive; ScalaTest may run suites concurrently, and
  * `getOrCreate` makes this race-safe). Config is the mains' own
  * ([[Session.builder]]) over 4 cores. */
object SparkFixture {
  lazy val spark: SparkSession = Session.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      System.getProperty("java.io.tmpdir") + "/graft_warehouse")
    .getOrCreate()
}

abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkFixture.spark
  val sf0001 = "/root/testdata/sf0.001"
}
