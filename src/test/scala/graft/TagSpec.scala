package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable

/** Immutable snapshot TAGS — the dataset-pinning primitive a
  * training-data pipeline needs: "the exact bytes model X trained
  * on" survives later mutations AND vacuum. Pins: put-if-absent
  * immutability, every read surface (API, SQL VERSION AS OF 'name',
  * path option), and the vacuum protection that makes the pin a
  * promise rather than a race against retention. */
class TagSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_tag_spec_") + "/t"

  test("a tag pins a version across mutations: API read, SQL VERSION " +
      "AS OF 'name', and the path option all resolve it; tags are " +
      "immutable until deleted") {
    val wh = tempDir("graft_tag_wh_")
    spark.conf.set("spark.sql.catalog.tagc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.tagc.warehouse", wh)
    val root = s"$wh/pinned"
    val t = GraftTable.create(spark, root,
      (1L to 1000L).toDF("k"), Seq("k"), numFiles = 2)
    spark.sql("CALL tagc.system.tag('pinned', 'train_v1')")
    t.deleteWhere(col("k") <= 500)
    t.append((1001L to 1100L).toDF("k"))
    assert(t.read().count() == 600)
    // all three read surfaces resolve the tag to the pinned content
    assert(t.read(t.versionForTag("train_v1")).count() == 1000)
    assert(spark.sql(
      "SELECT count(*) FROM tagc.pinned VERSION AS OF 'train_v1'")
      .head().getLong(0) == 1000)
    assert(spark.read.format("gtable")
      .option("versionAsOf", "train_v1").load(root).count() == 1000)
    // immutable: re-tagging the name fails loudly
    intercept[IllegalStateException](t.tag("train_v1"))
    // CALL tags lists it; drop_tag releases the name for re-tagging
    val listed = spark.sql("CALL tagc.system.tags('pinned')")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(listed.toSeq == Seq(("train_v1", 1L)))
    spark.sql("CALL tagc.system.drop_tag('pinned', 'train_v1')")
    t.tag("train_v1") // now points at the current version
    assert(t.read(t.versionForTag("train_v1")).count() == 600)
  }

  test("vacuum PROTECTS tagged versions outside its horizon: the " +
      "pinned snapshot stays readable while untagged expired history " +
      "is reclaimed; dropping the tag releases it") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 1)
    t.tag("gold", 1L)
    // churn: replace the content twice (v1's files become unreferenced
    // by any retained snapshot — only the tag holds them)
    t.overwrite((201L to 300L).toDF("k"), numFiles = 1) // v2
    t.overwrite((301L to 400L).toDF("k"), numFiles = 1) // v3
    val reclaimed1 = t.vacuum(retainLast = 1, minOrphanAgeMs = 0L)
    // v2's file is expired-and-untagged → reclaimed; v1's is tagged
    assert(reclaimed1 == 1,
      s"only the untagged expired file may go, reclaimed $reclaimed1")
    assert(t.read(1).count() == 100,
      "the tagged snapshot must remain fully readable after vacuum")
    assert(t.read().count() == 100 &&
      t.read().agg(min(col("k"))).head().getLong(0) == 301)
    // releasing the tag makes the version ordinary expired history
    t.deleteTag("gold")
    assert(t.vacuum(retainLast = 1, minOrphanAgeMs = 0L) == 1,
      "the untagged v1 file must now be reclaimed")
    assert(t.read().count() == 100)
  }

  test("tagging a vacuumed version or an out-of-range version fails " +
      "explicitly; unknown tags resolve to a clear error") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 10L).toDF("k"), Seq("k"), numFiles = 1)
    intercept[IllegalArgumentException](t.tag("x", 5L))
    intercept[IllegalArgumentException](t.versionForTag("nope"))
    t.overwrite((11L to 20L).toDF("k"), numFiles = 1)
    t.vacuum(retainLast = 1, minOrphanAgeMs = 0L) // v1 record gone
    intercept[IllegalArgumentException](t.tag("x", 1L))
  }

  test("tags carry provenance — message and creation time ride the " +
      "tag file and surface through CALL system.tags") {
    val wh = tempDir("graft_tag_wh2_")
    spark.conf.set("spark.sql.catalog.tagp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.tagp.warehouse", wh)
    val root = s"$wh/prov"
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 1)
    val before = System.currentTimeMillis()
    t.tag("train_v1", message = "frozen for model A run 42")
    spark.sql(
      "CALL tagp.system.tag('prov', 'train_v2', message => 'hotfix')")
    val infos = t.tagInfos
    assert(infos.map(_.name) == Seq("train_v1", "train_v2"))
    val v1 = infos.head
    assert(v1.message == "frozen for model A run 42")
    assert(v1.createdMs >= before &&
      v1.createdMs <= System.currentTimeMillis())
    val rows = spark.sql("CALL tagp.system.tags('prov')")
      .orderBy("name").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("train_v1", "train_v2"))
    assert(rows(0).getString(3) == "frozen for model A run 42")
    assert(rows(1).getString(3) == "hotfix")
    assert(rows(0).getTimestamp(2) != null)
    // provenance does not disturb resolution surfaces
    assert(t.versionForTag("train_v1") == 1L)
    assert(spark.read.format("gtable")
      .option("versionAsOf", "train_v1").load(root).count() == 100)
  }

  test("SELECT * FROM table_changes(root, from[, to]) — the change " +
      "feed as a SQL table-valued function, update kinds included") {
    GraftExtensions.register(spark)
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 50L).map(k => (k, k * 10L)).toDF("k", "v"),
      Seq("k"), numFiles = 2)                       // v1
    t.deleteWhereMor(col("k") <= 5)                 // v2
    t.mergeMor(Seq((10L, 111L), (99L, 990L)).toDF("k", "v"),
      Seq("k"))                                     // v3
    val tc = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM table_changes('$root', 1) " +
        "GROUP BY 1 ORDER BY 1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tc == Map("delete" -> 5L, "insert" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L), s"got $tc")
    // explicit to-version bounds the window
    assert(spark.sql(
      s"SELECT count(*) FROM table_changes('$root', 1, 2)")
      .head().getLong(0) == 5L)
    // initial snapshot (from = 0) folds to the live table
    assert(spark.sql(
      s"""SELECT count(*) FROM (
         |  SELECT k FROM table_changes('$root', 0)
         |  GROUP BY k
         |  HAVING sum(CASE WHEN _change_type IN
         |    ('insert','update_postimage') THEN 1 ELSE -1 END) > 0)"""
        .stripMargin).head().getLong(0) == t.read().count())
  }

  test("table_changes by CATALOG NAME and by TIMESTAMP bounds " +
      "(VERDICT r12 #5): the feed is reachable without physical " +
      "paths, and bounds resolve timestampAsOf-style") {
    GraftExtensions.register(spark)
    val wh = tempDir("graft_tvfname_")
    spark.conf.set("spark.sql.catalog.tvfn",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.tvfn.warehouse", wh)
    val root = s"$wh/t"
    val t = GraftTable.create(spark, root,
      (1L to 50L).toDF("k"), Seq("k"), numFiles = 1)   // v1
    Thread.sleep(1100) // snapshot mtimes have second granularity
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(1100)
    t.append((51L to 60L).toDF("k"), numFiles = 1)     // v2
    t.deleteWhereMor(col("k") <= 3)                    // v3

    // by qualified catalog name
    val byName = spark.sql(
      "SELECT _change_type, count(*) AS n " +
        "FROM table_changes('tvfn.t', 1) GROUP BY 1 ORDER BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName == Map("insert" -> 10L, "delete" -> 3L), s"$byName")

    // a timestamp FROM bound between v1 and v2 resolves to v1 →
    // window (v1, current] — same events as above
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    val tsStr = fmt.format(new java.util.Date(betweenMs))
    val byTs = spark.sql(
      s"SELECT count(*) FROM table_changes('tvfn.t', '$tsStr')")
      .head().getLong(0)
    assert(byTs == 13L, s"timestamp from-bound saw $byTs events")

    // a non-path, non-catalog name refuses with guidance
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('no.such.cat', 1)")
        .collect()
    }
    assert(e.getMessage.contains("table root path") ||
      e.getMessage.contains("no committed gtable"),
      s"unhelpful error: ${e.getMessage}")
  }
}
