package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session): the
  * session every main runs, at a fixed width of 4. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = BenchEnv.benchSessionBuilder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf = "/root/testdata/sf0.001"
}
