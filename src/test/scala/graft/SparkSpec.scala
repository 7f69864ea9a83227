package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The [[graft.tools.Harness]] session, shared by every suite, at a fixed
  * 4 cores whatever SPARK_GRAFT_CPUS says. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.tools.Harness.session(4)

  val sfSmoke = "/root/testdata/sf0.001"
}
