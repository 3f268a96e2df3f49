package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable

/** The NAME half of the lakehouse: a `TableCatalog` plugin resolving
  * GraftTables by identifier — `spark.table("lake.t")`, SQL reads,
  * INSERT INTO / INSERT OVERWRITE riding the atomic commit write
  * path, CTAS with statsCols TBLPROPERTIES, VERSION AS OF time
  * travel, DROP/RENAME/list. The catalog state IS the warehouse
  * directory — no metastore process. */
class GraftCatalogSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  private lazy val warehouse: String = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_catalog_wh_").toString
    spark.conf.set("spark.sql.catalog.lake",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.lake.warehouse", wh)
    wh
  }

  private def orders = Tables.load(spark, sfDir, "orders")

  test("DROP TABLE invalidates the session planning caches: a table " +
      "recreated at the same root reads ITS content, not the dropped " +
      "table's memoized file list") {
    GraftTable.create(spark, s"$warehouse/phoenix",
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 2)
    // populate the (root, version) caches
    assert(spark.table("lake.phoenix").count() == 100)
    spark.sql("DROP TABLE lake.phoenix")
    GraftTable.create(spark, s"$warehouse/phoenix",
      (1L to 30L).toDF("k"), Seq("k"), numFiles = 1)
    // stale cached paths would point at the deleted table's
    // UUID-named data files → FileNotFound or the old count
    assert(spark.table("lake.phoenix").count() == 30)
    assert(GraftTable.forPath(spark, s"$warehouse/phoenix")
      .read(1).count() == 30)
  }

  test("a table written by the Scala API resolves BY NAME: " +
      "spark.table, SQL aggregate, and SQL VERSION AS OF time travel") {
    val t = GraftTable.create(spark, s"$warehouse/orders_api",
      orders.where(col("o_orderkey") <= 2000), Seq("o_orderkey"))
    t.append(orders.where(col("o_orderkey") > 2000))
    assert(spark.table("lake.orders_api").count() == orders.count())
    assert(spark.sql(
      "SELECT count(*) FROM lake.orders_api").head().getLong(0) ==
      orders.count())
    assert(spark.sql(
      "SELECT count(*) FROM lake.orders_api VERSION AS OF 1")
      .head().getLong(0) ==
      orders.where(col("o_orderkey") <= 2000).count())
  }

  test("INSERT INTO appends one atomic snapshot; INSERT OVERWRITE " +
      "replaces content; both visible by name immediately") {
    GraftTable.create(spark, s"$warehouse/kv",
      (1L to 50L).map(k => (k, k * 2)).toDF("k", "v"), Seq("k"),
      numFiles = 1)
    spark.sql("INSERT INTO lake.kv SELECT id AS k, id * 2 AS v " +
      "FROM range(51, 101)")
    assert(spark.table("lake.kv").count() == 100)
    assert(GraftTable.forPath(spark, s"$warehouse/kv")
      .currentVersion == 2, "one INSERT = one snapshot")
    // INSERT OVERWRITE semantics depend on the session's
    // partition-overwrite mode: STATIC (Spark's default) routes
    // through the atomic truncate overwrite; DYNAMIC plans
    // OverwritePartitionsDynamic, which has no V1 exec — the
    // connector declines it with Spark's standard clean error rather
    // than guessing (gtables carry no directory partitions, so
    // dynamic mode buys nothing here anyway). Pin both, explicitly —
    // the shared session starts in dynamic mode (GraftSession.defaults).
    val prevMode = spark.conf
      .getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("INSERT OVERWRITE lake.kv SELECT id AS k, id AS v " +
          "FROM range(1, 11)")
      }
      assert(e.getMessage.contains("dynamic overwrite"),
        s"dynamic mode must decline cleanly: ${e.getMessage}")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      spark.sql("INSERT OVERWRITE lake.kv SELECT id AS k, id AS v " +
        "FROM range(1, 11)")
    } finally prevMode match {
      case Some(m) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    assert(spark.table("lake.kv").count() == 10)
    // overwrite is a new snapshot, not a wipe: v2 stays readable
    assert(GraftTable.forPath(spark, s"$warehouse/kv")
      .read(2).count() == 100)
  }

  test("CREATE TABLE AS SELECT with statsCols TBLPROPERTIES builds a " +
      "zone-mapped table; DROP removes it; listTables sees it") {
    spark.sql("CREATE TABLE lake.ctas TBLPROPERTIES " +
      "('statsCols'='o_orderkey') AS SELECT o_orderkey, o_totalprice " +
      "FROM parquet.`" + sfDir + "/orders.parquet` " +
      "WHERE o_orderkey <= 3000")
    val expected = orders.where(col("o_orderkey") <= 3000).count()
    assert(spark.table("lake.ctas").count() == expected)
    val t = GraftTable.forPath(spark, s"$warehouse/ctas")
    assert(t.statsCols == Seq("o_orderkey"),
      "TBLPROPERTIES statsCols must reach the manifest")
    assert(spark.sql("SHOW TABLES IN lake").collect()
      .map(_.getString(1)).contains("ctas"))
    spark.sql("DROP TABLE lake.ctas")
    assert(!new java.io.File(s"$warehouse/ctas").exists())
  }

  test("SQL DELETE runs the NULL-safe stats-pruned COW path as one " +
      "atomic snapshot; TRUNCATE TABLE empties the table; history " +
      "stays time-travelable") {
    GraftTable.create(spark, s"$warehouse/delsql",
      (1L to 100L).map(k =>
        (k, if (k % 10 == 0) None else Some(k))).toDF("k", "x"),
      Seq("k"), numFiles = 2)
    spark.sql("DELETE FROM lake.delsql WHERE x > 50")
    val t = GraftTable.forPath(spark, s"$warehouse/delsql")
    assert(t.currentVersion == 2, "one DELETE = one snapshot")
    // rows where x IS TRUE-ly > 50 go; the 10 NULL-x rows all stay
    assert(spark.table("lake.delsql").count() == 100 - 45)
    assert(spark.table("lake.delsql")
      .where(col("x").isNull).count() == 10)
    spark.sql("TRUNCATE TABLE lake.delsql")
    assert(spark.table("lake.delsql").count() == 0)
    assert(t.read(2).count() == 55, "pre-truncate history survives")
  }

  test("namespaced tables map to directories: create, insert, read " +
      "by lake.db.t") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
    spark.sql("CREATE TABLE lake.db.t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('statsCols'='k')")
    spark.sql("INSERT INTO lake.db.t VALUES (1, 'a'), (2, 'b')")
    assert(spark.table("lake.db.t").count() == 2)
    assert(new java.io.File(s"$warehouse/db/t/_log").isDirectory)
    assert(GraftTable.forPath(spark, s"$warehouse/db/t")
      .statsCols == Seq("k"))
  }

  test("read-only probes do NOT mutate the warehouse: tableExists / " +
      "failed loadTable leave no _log behind, and an empty namespace " +
      "still drops non-cascade (ADVICE r9)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.emptyns")
    // existence probe of a table that was never created
    assert(spark.catalog.tableExists("lake.emptyns.ghost") == false)
    intercept[Exception] { spark.table("lake.emptyns.ghost").count() }
    assert(!new java.io.File(s"$warehouse/emptyns/ghost").exists(),
      "a probe must not materialize <warehouse>/<ns>/<name>/_log")
    // the namespace is still genuinely empty → non-cascade DROP works
    assert(spark.sql("SHOW TABLES IN lake.emptyns").count() == 0)
    spark.sql("DROP NAMESPACE lake.emptyns")
    assert(!new java.io.File(s"$warehouse/emptyns").exists())
  }

  test("SELECT from a created-but-empty table answers zero rows " +
      "(ADVICE r9: version-0 scan must not fail on the missing " +
      "snapshot file)") {
    spark.sql("CREATE TABLE lake.empty0 (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('statsCols'='k')")
    assert(spark.table("lake.empty0").count() == 0)
    assert(spark.sql("SELECT * FROM lake.empty0 WHERE k > 3").count() == 0)
    // an aggregate over the empty table: pushdown declines (no
    // manifest), the plain scan answers 0 / null
    val r = spark.sql(
      "SELECT count(*) AS n, min(k) AS mn FROM lake.empty0").head()
    assert(r.getLong(0) == 0L && r.isNullAt(1))
    spark.sql("DROP TABLE lake.empty0")
  }

  test("TIMESTAMP AS OF skips vacuumed snapshots and raises an " +
      "explicit error for a timestamp older than retained history " +
      "(ADVICE r9: a missing file's mtime=0 must not win)") {
    val root = s"$warehouse/tt"
    val t = GraftTable.create(spark, root,
      Seq((1L, "a")).toDF("k", "s"), Seq("k"), numFiles = 1)
    t.append(Seq((2L, "b")).toDF("k", "s"), numFiles = 1)
    t.append(Seq((3L, "c")).toDF("k", "s"), numFiles = 1)
    // expire v1+v2 history; only v3 remains on disk
    t.vacuum(retainLast = 1, minOrphanAgeMs = 0L)
    assert(!new java.io.File(s"$root/_log/snapshot-v1.txt").isFile)
    // timestamp far in the past: older than every RETAINED snapshot →
    // explicit error, not a NoSuchFileException from resolving v1
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM lake.tt TIMESTAMP AS OF " +
        "'1999-01-01 00:00:00'").count()
    }
    def causes(x: Throwable): List[Throwable] =
      if (x == null) Nil else x :: causes(x.getCause)
    assert(causes(e).exists(c =>
        Option(c.getMessage).exists(_.contains("retained"))),
      s"expected the explicit no-retained-snapshot error, got: $e")
    // a timestamp in the future resolves the newest retained version
    assert(spark.sql("SELECT count(*) FROM lake.tt TIMESTAMP AS OF " +
      "'2100-01-01 00:00:00'").head().getLong(0) == 3L)
  }

  test("TBLPROPERTIES('delete.mode'='mor') routes SQL DELETE through " +
      "deletion vectors — no data file rewritten — and ALTER TABLE " +
      "SET TBLPROPERTIES flips an existing table") {
    def files(root: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$root/data"))
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    }
    val root = s"$warehouse/mor_del" // registers the catalog conf
    spark.sql("""CREATE TABLE lake.mor_del
      TBLPROPERTIES('statsCols'='k', 'delete.mode'='mor')
      AS SELECT id AS k, id * 2 AS v FROM range(1000)""")
    val before = files(root)
    // filter-translatable predicate → the SupportsDelete path, which
    // delete.mode=mor routes through the deletion vector (an
    // untranslatable predicate falls back to the row-level COW
    // rewrite — same result, rewrite cost)
    spark.sql("DELETE FROM lake.mor_del WHERE k >= 100 AND k < 200")
    assert(files(root) == before,
      "delete.mode=mor must not rewrite or drop any data file")
    assert(GraftTable.forPath(spark, root).hasDeletionVectors())
    assert(spark.table("lake.mor_del").count() == 900)
    assert(spark.sql(
      "SELECT count(*) FROM lake.mor_del WHERE k >= 100 AND k < 200")
      .head().getLong(0) == 0L)
    // default (no property) stays COW
    spark.sql("""CREATE TABLE lake.cow_del TBLPROPERTIES('statsCols'='k')
      AS SELECT id AS k FROM range(100)""")
    spark.sql("DELETE FROM lake.cow_del WHERE k < 50")
    assert(!GraftTable.forPath(spark, s"$warehouse/cow_del")
      .hasDeletionVectors())
    assert(spark.table("lake.cow_del").count() == 50)
    // flip an existing table to MOR
    spark.sql(
      "ALTER TABLE lake.cow_del SET TBLPROPERTIES('delete.mode'='mor')")
    val cowFiles = files(s"$warehouse/cow_del")
    spark.sql("DELETE FROM lake.cow_del WHERE k >= 50 AND k < 60")
    assert(files(s"$warehouse/cow_del") == cowFiles,
      "post-ALTER delete must be MOR")
    assert(GraftTable.forPath(spark, s"$warehouse/cow_del")
      .hasDeletionVectors())
    assert(spark.table("lake.cow_del").count() == 40)
  }

  test("delete.mode=mor routes SQL MERGE / UPDATE / arbitrary-" +
      "predicate DELETE through position deltas (WriteDelta): matched " +
      "rows join the DV, inserts append, no existing file rewritten") {
    def files(root: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$root/data"))
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    }
    val root = s"$warehouse/mor_rowlevel" // registers the catalog conf
    spark.sql("""CREATE TABLE lake.mor_rowlevel
      TBLPROPERTIES('statsCols'='k', 'delete.mode'='mor')
      AS SELECT id AS k, CAST(id * 2 AS BIGINT) AS v FROM range(1000)""")
    val v1Files = files(root)

    // MERGE: 2 updates, 1 insert — every pre-existing file must
    // survive byte-identical; only the writers' new files appear
    spark.sql("""MERGE INTO lake.mor_rowlevel t
      USING (SELECT * FROM VALUES (10L, 111L), (20L, 222L),
             (2000L, 333L) AS s(k, v)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(v1Files.subsetOf(files(root)),
      "MOR MERGE must not rewrite or drop any pre-existing file")
    assert(GraftTable.forPath(spark, root).hasDeletionVectors())
    val afterMerge = spark.table("lake.mor_rowlevel")
      .select("k", "v").as[(Long, Long)].collect().toMap
    assert(afterMerge.size == 1001)
    assert(afterMerge(10L) == 111L && afterMerge(20L) == 222L &&
      afterMerge(2000L) == 333L && afterMerge(30L) == 60L)

    // UPDATE with an arithmetic predicate (untranslatable → delta
    // path, not SupportsDelete)
    val v2Files = files(root)
    spark.sql("UPDATE lake.mor_rowlevel SET v = v + 1 WHERE k % 100 = 7")
    assert(v2Files.subsetOf(files(root)),
      "MOR UPDATE must not rewrite any existing file")
    val afterUpd = spark.table("lake.mor_rowlevel")
      .select("k", "v").as[(Long, Long)].collect().toMap
    assert(afterUpd(7L) == 15L && afterUpd(107L) == 215L &&
      afterUpd(8L) == 16L && afterUpd.size == 1001)

    // DELETE with an arithmetic predicate — pure delete: file set
    // unchanged entirely
    val v3Files = files(root)
    spark.sql("DELETE FROM lake.mor_rowlevel WHERE k % 10 = 3")
    assert(files(root) == v3Files,
      "MOR DELETE must write no data file at all")
    assert(spark.table("lake.mor_rowlevel").count() == 901)
    assert(spark.sql(
      "SELECT count(*) FROM lake.mor_rowlevel WHERE k % 10 = 3")
      .head().getLong(0) == 0L)
    // compaction materializes the whole MOR history away
    GraftTable.forPath(spark, root).compact(numFiles = 2)
    assert(!GraftTable.forPath(spark, root).hasDeletionVectors())
    assert(spark.table("lake.mor_rowlevel").count() == 901)
  }

  test("appending a re-cased column does not duplicate the recorded " +
      "schema field under case-insensitive resolution (ADVICE r9)") {
    val root = s"$warehouse/recase"
    val t = GraftTable.create(spark, root,
      Seq((1L, "a")).toDF("k", "name"), Seq("k"), numFiles = 1)
    t.append(Seq((2L, "B")).toDF("k", "NAME"), numFiles = 1)
    val rec = t.recordedSchema().get
    assert(rec.fieldNames.count(_.equalsIgnoreCase("name")) == 1,
      s"recorded schema must carry ONE name field, got $rec")
    assert(spark.table("lake.recase").columns.toSeq == Seq("k", "name"))
    assert(spark.table("lake.recase").count() == 2)
  }
}
