package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, sbt forks once). */
object TestSpark {
  lazy val spark: SparkSession = Graft.session("graft-test", 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}

/** JVM reference of [[graft.functions.HashFunctions.mix64]] — ONE copy for
  * every suite that replays hashing on the driver, so the constants cannot
  * drift between test-side reimplementations. */
object HashRef {
  def mix64(z: Long): Long = {
    var x = z + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
