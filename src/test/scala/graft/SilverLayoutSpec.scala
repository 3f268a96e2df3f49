package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The retail silver write's one-file-per-partition-dir contract must
  * survive the r16 narrow-fact exchange (the fact is shuffled on the
  * partition columns BEFORE the broadcast dim joins and the sink takes
  * the frame pre-partitioned) — if a silver join ever stops
  * broadcasting, rows for one dir would spread over many tasks and
  * this spec catches the file blowup. */
class SilverLayoutSpec extends AnyFunSuite {
  import TestSpark.spark
  test("silver write keeps one file per partition dir") {
    TestSpark.assumeRetailSeedCsvs()
    val wh = java.nio.file.Files.createTempDirectory("retail_layout_").toString
    try {
      graft.etl.RetailPipeline.run(spark,
        graft.operators.RetailQueries.DataDir, wh, 200000L)
      val root = java.nio.file.Paths.get(s"$wh/silver/purchase_all_info")
      val dirs = java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          java.nio.file.Files.isRegularFile(p))
        .toSeq.groupBy(_.getParent.toString)
      val counts = dirs.values.map(_.size)
      info(s"dirs=${dirs.size} maxFilesPerDir=${counts.max} total=${counts.sum}")
      assert(counts.max == 1,
        s"expected one file per dir, got max ${counts.max}")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(wh)).deleteRecursively(); ()
    }
  }
}
