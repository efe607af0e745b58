package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites, from the production builder: the
  * JVM-wide generated-code cache is sized by the first session that
  * generates code, so no suite may build its own first.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local("graft-test", 8)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
