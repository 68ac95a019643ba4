package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs, built by [[Sessions]] so plan pins
  * run under the same session policy as the bench and the collector. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.builder("local[4]", "4").getOrCreate()
}
