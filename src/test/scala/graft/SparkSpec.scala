package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // the factory session Verify/Bench run under — regressions in the
    // injected extension rules surface here
    val s = Session.local(4, "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def ts(epochSeconds: Long): java.sql.Timestamp =
    new java.sql.Timestamp(epochSeconds * 1000L)
}
