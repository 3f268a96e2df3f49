package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable
import graft.sources.GraftTableSource

/** RESTORE (snapshot rollback) and CLUSTERED WRITES
  * (`write.cluster-by`): the two table-management verbs a production
  * lakehouse reaches for after "a bad job corrupted the table" and
  * "our inserts produced an unprunable layout". Restore must be
  * metadata-only and exact (manifest + deletion vector + schema AS OF
  * the target); clustered writes must make plain INSERTs produce
  * disjoint per-file stats envelopes so zone-map pruning works with
  * no per-job ceremony. */
class RestoreClusteredSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_restore_") + "/t"

  private def dataFiles(root: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(s"$root/data"))
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
  }

  test("restore is metadata-only and exact: bad append + MOR delete " +
      "roll back to the good snapshot; no data file written or removed") {
    val root = tmp()
    val t = GraftTable.create(spark, root, (1L to 100L).toDF("k"),
      Seq("k"), numFiles = 2)                        // v1 good
    t.append((101L to 200L).toDF("k"), numFiles = 1) // v2 bad load
    t.deleteWhereMor(col("k") % 2 === 0)             // v3 bad delete
    val filesBefore = dataFiles(root)
    val v = t.restore(1)
    assert(v == 4, "restore is a NEW commit, not a history rewind")
    assert(dataFiles(root) == filesBefore,
      "restore must not write or delete any data file")
    assert(t.read().select("k").as[Long].collect().sorted.toSeq
      == (1L to 100L))
    assert(!t.hasDeletionVectors(),
      "deletions that postdate the restored version must not survive")
    assert(t.metadataAggregates().select("n_rows").head().getLong(0)
      == 100)
    // the mis-steps stay time-travelable until vacuumed
    assert(t.read(3).count() == 100) // v3 = 200 rows minus evens
    assert(t.read(2).count() == 200)
  }

  test("restore to a DV-carrying version reinstates exactly that DV; " +
      "restore reverts later ADD COLUMNs; vacuumed targets refuse") {
    val root = tmp()
    val t = GraftTable.create(spark, root, (1L to 100L).toDF("k"),
      Seq("k"), numFiles = 2)
    t.deleteWhereMor(col("k") <= 10)                 // v2: DV(1..10)
    t.deleteWhereMor(col("k") > 90)                  // v3: DV(1..10,91..100)
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.StringType))))    // v4
    t.restore(2)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq
      == (11L to 100L), "the v3 deletions must be rolled back")
    assert(t.hasDeletionVectors(), "v2's DV must be reinstated")
    assert(!t.read().columns.contains("extra"),
      "restore reverts the recorded schema to the target version's")
    intercept[IllegalArgumentException](t.restore(99))
  }

  test("write.cluster-by: CTAS and INSERT INTO range-cluster + sort, " +
      "per-commit file envelopes are disjoint, windowed scans prune") {
    val wh = tempDir("graft_cluster_wh_")
    spark.conf.set("spark.sql.catalog.rcs",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rcs.warehouse", wh)
    // shuffled input: without clustering every file would span the
    // whole key range and nothing could prune
    spark.range(1, 10001).select(
        (col("id") * 2654435761L % 10000L).as("k"), col("id").as("v"))
      .createOrReplaceTempView("rcs_src")
    spark.sql("""CREATE TABLE rcs.t
                 TBLPROPERTIES('statsCols'='k', 'write.cluster-by'='k')
                 AS SELECT * FROM rcs_src""")
    spark.sql("INSERT INTO rcs.t SELECT k + 10000, v FROM rcs_src")
    val t = GraftTable.forPath(spark, s"$wh/t")
    // each commit's files must cover disjoint k-ranges
    val env = t.manifest().select("path", "min_k", "max_k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(env.length >= 4, s"expected several clustered files, " +
      s"got ${env.length}")
    def commitOf(p: String) = p.split("/")(1)
    env.groupBy(e => commitOf(e._1)).foreach { case (_, fs) =>
      val sorted = fs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 <= b._2,
          s"files overlap on k: $a vs $b — insert did not cluster")
        case _ =>
      }
    }
    // a windowed read plans only the window's files
    GraftTableSource.lastPlannedFiles = -1
    val n = spark.table("rcs.t").where(col("k").between(0, 1200)).count()
    assert(n > 0)
    assert(GraftTableSource.lastPlannedFiles < env.length,
      s"windowed scan planned ${GraftTableSource.lastPlannedFiles} of " +
        s"${env.length} files — clustering should have pruned")
    // values exact: both commits landed completely
    assert(spark.table("rcs.t").count() == 20000)
  }

  test("path writes honor .option(\"clusterBy\", ...) the same way") {
    val root = tmp()
    spark.range(1, 5001).select(
        (col("id") * 40503L % 5000L).as("k"), col("id").as("v"))
      .write.format("gtable").mode("append")
      .option("statsCols", "k").option("clusterBy", "k")
      .option("numFiles", "5")
      .save(root)
    val t = GraftTable.forPath(spark, root)
    val env = t.manifest().select("min_k", "max_k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(env.length == 5)
    env.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._1,
        s"files overlap on k: $a vs $b")
      case _ =>
    }
    assert(t.read().count() == 5000)
  }
}
