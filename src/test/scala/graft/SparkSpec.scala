package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared local session for all suites (one forked JVM → one session). */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.build(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001  = "/root/testdata/sf0.01"
}
