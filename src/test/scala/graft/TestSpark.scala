package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites, built by the engine's
  * own factory: every suite sees its confs from the first use. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build("local[8]", "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
