package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one JVM-wide session): the
  * adopter's [[Engine.session]], so every suite runs the configuration
  * that ships.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Engine.session(4, appName = "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
