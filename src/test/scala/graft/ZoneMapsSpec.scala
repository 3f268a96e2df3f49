package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable
import graft.sources.GraftTableSource

/** The one zone-map translation (`format.ZoneMaps`) through every
  * reader and mutation: IN lists of any length prune by value or by
  * the set's envelope, a table emptied by a delete still resolves its
  * columns, and resolving a predicate lists no data file. */
class ZoneMapsSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private val fmt = classOf[GraftTableSource].getName

  /** `files` files of 1,000 rows, one per `spark.range` slice: file i
    * holds k = 10000·i + 10, …, 10000·i + 10000 (step 10), so the
    * envelopes are disjoint. */
  private def keyed(root: String, files: Int = 16): GraftTable =
    GraftTable.create(spark, root,
      spark.range(0, files * 1000L, 1, files).select(
        ((col("id") + 1) * 10).cast("int").as("k"),
        concat(lit("s"), col("id").cast("string")).as("s")),
      Seq("k"), numFiles = 0)

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.select("k").as[Int].collect().toSet

  private val all = (10 to 160000 by 10).toSet
  // 10,000 int values; their envelope [15001, 25000] meets files 1 and
  // 2, and 1,000 keys match
  private val big = 15001 to 25000
  private val hits = (15010 to 25000 by 10).toSet
  private def bigIn = col("k").isin(big: _*)

  test("prunedWhere with a 10,000-value IN opens the 2 files the " +
      "set's envelope meets and returns exactly its keys") {
    val t = keyed(tempDir("graft_zonemaps_"))
    val (rows, opened, total) = t.prunedWhere(bigIn)
    assert(total == 16 && opened == 2, s"opened $opened of $total")
    assert(keys(rows) == hits)
  }

  test("deleteWhere with a 10,000-value IN audits 2 of 16 files") {
    val t = keyed(tempDir("graft_zonemaps_"))
    t.deleteWhere(bigIn)
    assert(t.lastAuditTotal == 16 && t.lastAuditScanned == 2,
      s"audited ${t.lastAuditScanned} of ${t.lastAuditTotal}")
    assert(keys(t.read()) == all -- hits)
  }

  test("deleteWhereMor with a 10,000-value IN audits 2 of 16 files") {
    val t = keyed(tempDir("graft_zonemaps_"))
    t.deleteWhereMor(bigIn)
    assert(t.lastAuditTotal == 16 && t.lastAuditScanned == 2,
      s"audited ${t.lastAuditScanned} of ${t.lastAuditTotal}")
    assert(keys(t.read()) == all -- hits)
  }

  test("a DSv2 scan with a 10,000-value IN plans 2 of 16 files") {
    val root = tempDir("graft_zonemaps_")
    keyed(root)
    val got = keys(spark.read.format(fmt).load(root).where(bigIn))
    assert(GraftTableSource.lastLiveFiles == 16 &&
      GraftTableSource.lastPlannedFiles == 2,
      s"planned ${GraftTableSource.lastPlannedFiles} of " +
        s"${GraftTableSource.lastLiveFiles}")
    assert(got == hits)
  }

  test("SQL DELETE with a 10,000-value IN rewrites only the 2 files " +
      "the set's envelope meets") {
    val wh = tempDir("graft_zonemaps_wh_")
    spark.conf.set("spark.sql.catalog.zm",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.zm.warehouse", wh)
    val t = keyed(s"$wh/big_in")
    val before = t.manifest().select("path").as[String].collect().toSet
    spark.sql(s"DELETE FROM zm.big_in WHERE k IN (${big.mkString(", ")})")
    val after = t.manifest().select("path").as[String].collect().toSet
    assert((before -- after).size == 2,
      "the 14 files outside the envelope carry forward")
    assert(keys(spark.table("zm.big_in")) == all -- hits)
  }

  test("NULLs in an IN list carry no pruning information: an all-NULL " +
      "list opens no file") {
    val t = keyed(tempDir("graft_zonemaps_"), files = 4)
    val (none, opened0, total) = t.prunedWhere(col("k").isin(null, null))
    assert(total == 4 && opened0 == 0 && none.count() == 0)
    val (one, opened1, _) = t.prunedWhere(col("k").isin(null, 20))
    assert(opened1 == 1 && keys(one) == Set(20))
  }

  test("a table emptied by a delete keeps its recorded schema: " +
      "prunedWhere reads no rows, deleteWhere commits a no-op and " +
      "replaceWhere writes the replacement") {
    val t = keyed(tempDir("graft_zonemaps_"), files = 2)
    t.deleteWhere(col("k") > 0)
    assert(t.fileCount() == 0)
    val read = t.read()
    assert(read.columns.toSeq == Seq("k", "s"))
    assert(read.where(col("k") === 10).count() == 0)
    val (rows, opened, total) = t.prunedWhere(col("k") === 10)
    assert(opened == 0 && total == 0)
    assert(rows.columns.toSeq == Seq("k", "s") && rows.count() == 0)
    val v = t.currentVersion
    assert(t.deleteWhere(col("k") === 10) == v + 1)
    assert(t.fileCount() == 0)
    t.replaceWhere(col("k") === 10, Seq((10, "new")).toDF("k", "s"),
      numFiles = 1)
    assert(t.read().as[(Int, String)].collect().toSeq == Seq((10, "new")))
  }

  test("prunedWhere, deleteWhere and replaceWhere on a 40-file table " +
      "start no file-listing job") {
    val t = keyed(tempDir("graft_zonemaps_"), files = 40)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val (_, opened, total) = t.prunedWhere(col("k") === 20)
      assert(opened == 1 && total == 40)
      t.deleteWhere(col("k") === 30)
      t.replaceWhere(col("k") === 40, Seq((40, "new")).toDF("k", "s"),
        numFiles = 1)
      // the listener bus is async: wait until the job count is stable
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        if (jobs.size == last) stable += 1 else { last = jobs.size; stable = 0 }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val listings = jobs.asScala.filter(_.contains("Listing leaf files"))
    assert(listings.isEmpty, listings.mkString("; "))
    assert(t.read().count() == 39999)
  }
}
