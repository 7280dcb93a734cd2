package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A suite on the shared test session: [[Sessions.local]] at four cores. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
}
