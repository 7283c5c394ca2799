package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession per test JVM (suites share it — Spark startup is the
  * dominant test cost). */
object TestSpark {
  lazy val spark: SparkSession = Session.local("local[4]", "4")
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
