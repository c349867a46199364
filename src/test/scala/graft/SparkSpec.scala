package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (guide: lazy val) —
  * built by [[Session]], so specs run the session Bench and Verify run. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.start(Session.builder(4).appName("graft-test"))
}

object SparkSpec {
  /** Stop `s` and forget it, so the next suite builds its own session. */
  def release(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
