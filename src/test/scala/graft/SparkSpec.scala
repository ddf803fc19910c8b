package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one forked JVM; getOrCreate
  * reuses the session, so suites must not stop it). It is the shipped
  * `GraftSession.create` session; the longer metadata strings only let
  * plan-shape tests read whole scan descriptions.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.create("local[4]", 4, "graft-test")
    s.conf.set("spark.sql.maxMetadataStringLength", "2000")
    s
  }

  val sf = "/root/testdata/sf0.001"
}
