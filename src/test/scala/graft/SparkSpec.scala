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

  /** Run `body` with system property `key` set to `value`; the previous
    * value (or its absence) is restored afterwards. */
  def withSysProp[T](key: String, value: String)(body: => T): T = {
    val prev = sys.props.get(key)
    sys.props(key) = value
    try body
    finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }

  /** A routing law ([[graft.Route]]): `body` under default routing, where
    * spec-sized inputs take the driver twins, equals `body` with every
    * route forced distributed. Returns the default-routing result. */
  def routeLaw[T](body: => T): T = {
    val routed = body
    val distributed = withSysProp("graft.route.distributed", "true")(body)
    assert(routed === distributed)
    routed
  }
}
