package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session;
  * `getOrCreate` makes suites reuse it regardless of load order). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the shipped `file` scheme, but none of the rest of Confs.tuned:
      // its AQE and committer settings would move ShuffleDriftSpec's pins
      .config(Confs.localFileSystem)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
