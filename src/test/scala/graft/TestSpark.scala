package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assume
import graft.operators.RetailQueries

/** One shared local SparkSession for all suites, built by the engine's
  * own factory: every suite sees its confs from the first use. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build("local[8]", "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** The reference's seed CSVs (FIXTURES.md §A.1–A.3). */
  private val RetailSeedCsvs =
    Seq("customer.csv", "products_info.csv", "zipcode.csv")

  /** Cancels the calling test unless every retail seed CSV is a regular
    * file under [[RetailQueries.DataDir]], the path the retail golden
    * tests and q164–q167 read; the message names the missing files.
    * Those tests assert the reference's exact rows, so no other input
    * can stand in. Call it first, before any temp dir or frame. */
  def assumeRetailSeedCsvs(): Unit = {
    val missing = RetailSeedCsvs.map(Paths.get(RetailQueries.DataDir, _))
      .filterNot(Files.isRegularFile(_))
    assume(missing.isEmpty,
      s"retail seed CSVs absent: ${missing.mkString(", ")}")
  }
}
