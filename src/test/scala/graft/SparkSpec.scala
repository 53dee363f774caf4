package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: a fixed local[4], whatever the
  * box, so plan-shape specs see the same shuffle width everywhere. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"
}
