package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for Spark-backed suites (one per suite, lazy). */
trait SparkSuite { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession = GraftSession.get(GraftSession.builder(cpus = 4))
}
