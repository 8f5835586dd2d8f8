package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session: one per suite (lazy), UTC, small shuffle width. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = localSession(4)

  val sf: String = "/root/testdata/sf0.001"

  def q(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)
}
