package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The [[graft.tools.Harness]] session, shared by every suite, at a fixed
  * 4 cores whatever SPARK_GRAFT_CPUS says. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.tools.Harness.session(4)

  val sfSmoke = "/root/testdata/sf0.001"

  /** Run `body` under pin strategy `s`, restoring the previous strategy
    * afterwards (the strategy is process-wide). */
  def withStrategy[T](s: graft.ops.Materialize.Strategy)(body: => T): T = {
    val saved = graft.ops.Materialize.strategy
    graft.ops.Materialize.strategy = s
    try body
    finally graft.ops.Materialize.strategy = saved
  }
}
