package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.format.GraftTable

/** Log-level schema evolution beyond ADD COLUMN (VERDICT r10 #5):
  * RENAME (column-mapping metadata, zero data movement), DROP (dead
  * physical names recorded against resurrection), and WIDENING type
  * changes (int→long, float→double — old files keep the narrow
  * physical type, reads promote). All three must hold through every
  * read path (API, zone-map pruning, connector SQL, old files),
  * every write path (API append/merge, SQL INSERT), and time travel.
  * A 100 TB table cannot rewrite for a rename — these specs pin that
  * none of these ops touches a data file. */
class SchemaEvolutionSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_evo_spec_") + "/t"

  private def dataFiles(root: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(s"$root/data"))
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
  }

  test("renameColumn is metadata-only: no data file moves, old files " +
      "read under the new name, appends after the rename land in the " +
      "same physical column, time travel shows the old name") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, s"u$k")).toDF("k", "name"),
      Seq("k"), numFiles = 2)
    val before = dataFiles(root)
    t.renameColumn("name", "username")
    assert(dataFiles(root) == before, "a rename must move zero bytes")
    assert(t.read().columns.toSeq == Seq("k", "username"))
    assert(t.read().where(col("username") === "u7").count() == 1,
      "old files must surface their values under the NEW name")
    // writes after the rename translate to the original physical name
    t.append((101L to 110L).map(k => (k, s"u$k")).toDF("k", "username"),
      numFiles = 1)
    assert(t.read().count() == 110)
    assert(t.read().where(col("username") === "u105").count() == 1)
    // time travel: v1 still reads with the pre-rename schema
    assert(t.read(1).columns.toSeq == Seq("k", "name"))
    // the rename survives a re-open from disk
    val re = GraftTable.forPath(spark, root)
    assert(re.read().columns.toSeq == Seq("k", "username"))
  }

  test("zone-map pruning and COW/MOR mutations keep working on a " +
      "RENAMED stats column — predicates use the logical name, the " +
      "manifest keeps the physical one") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 1000L).toDF("k").repartitionByRange(8, col("k")),
      Seq("k"), numFiles = 0)
    t.renameColumn("k", "id")
    val (rows, opened, total) =
      t.prunedRead("id", lit(1), lit(100))
    assert(rows.count() == 100)
    assert(opened * 2 <= total,
      s"zone maps must still skip: opened $opened of $total")
    val (rows2, opened2, _) = t.prunedWhere(col("id") <= 50)
    assert(rows2.count() == 50)
    assert(opened2 * 2 <= total)
    // stats-pruned COW delete through the logical name
    t.deleteWhere(col("id") <= 100)
    assert(t.lastAuditScanned < t.lastAuditTotal,
      "the delete audit must stay envelope-pruned after the rename")
    assert(t.read().count() == 900)
    assert(t.read().agg(min(col("id"))).head().getLong(0) == 101)
    // MOR delete + merge on the renamed key
    t.deleteWhereMor(col("id") > 950)
    assert(t.read().count() == 850)
    t.merge((101L to 105L).toDF("id"), Seq("id"))
    assert(t.read().count() == 850, "merge must update, not duplicate")
    // metadata-only aggregates surface the LOGICAL name
    val agg = t.metadataAggregates()
    assert(agg.columns.contains("min_id") &&
      !agg.columns.contains("min_k"))
  }

  test("widenColumn int→long / float→double: old narrow files read " +
      "at the wide type through API and pruning; appends write wide") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1 to 100).map(k => (k, k.toFloat / 4f)).toDF("k", "score"),
      Seq("k"), numFiles = 2)
    t.widenColumn("k", LongType)
    t.widenColumn("score", DoubleType)
    val s = t.read().schema
    assert(s("k").dataType == LongType)
    assert(s("score").dataType == DoubleType)
    assert(t.read().agg(sum(col("k"))).head().getLong(0) == 5050L,
      "narrow int32 pages must decode and promote exactly")
    // long-typed rows append into the widened column
    t.append(Seq((200L, 2.5d)).toDF("k", "score"), numFiles = 1)
    assert(t.read().count() == 101)
    assert(t.read().where(col("k") === 200L).count() == 1)
    // pruning across mixed narrow/wide envelopes (manifest union
    // coerces int min/max with long) stays correct
    val (rows, _, _) = t.prunedWhere(col("k") >= 150L)
    assert(rows.count() == 1)
    // narrowing refused
    intercept[IllegalArgumentException](
      t.widenColumn("score", FloatType))
  }

  test("dropColumn removes the field everywhere; re-adding the same " +
      "name maps to a FRESH physical column — dropped values never " +
      "resurrect") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 50L).map(k => (k, s"secret$k")).toDF("k", "pii"),
      Seq("k"), numFiles = 1)
    t.dropColumn("pii")
    assert(t.read().columns.toSeq == Seq("k"))
    // re-add the SAME logical name, then append: old files must show
    // null (their on-disk 'pii' bytes belong to the dropped column)
    t.addColumns(StructType(Seq(StructField("pii", StringType))))
    t.append(Seq((51L, "fresh")).toDF("k", "pii"), numFiles = 1)
    val r = t.read()
    assert(r.count() == 51)
    assert(r.where(col("pii").isNotNull).count() == 1,
      "only the post-re-add row may carry a value")
    assert(r.where(col("pii") === "fresh").count() == 1)
    assert(r.where(col("pii").startsWith("secret")).count() == 0,
      "dropped values must NOT resurrect through the re-added column")
    // time travel to v1 still shows the original column + values
    assert(t.read(1).where(col("pii") === "secret7").count() == 1)
    // appending a colliding column WITHOUT ALTER ADD COLUMN first is
    // refused loudly — writing it under the stale physical name would
    // silently null every appended value on read
    val t2root = tmp()
    val t2 = GraftTable.create(spark, t2root,
      (1L to 10L).map(k => (k, s"x$k")).toDF("k", "pii"),
      Seq("k"), numFiles = 1)
    t2.dropColumn("pii")
    intercept[IllegalArgumentException](
      t2.append(Seq((11L, "boom")).toDF("k", "pii"), numFiles = 1))
  }

  test("connector: SQL ALTER TABLE RENAME/DROP/TYPE evolve a catalog " +
      "table; SELECT reads old files correctly (vectorized path) and " +
      "INSERT writes the physical column") {
    val wh = tempDir("graft_evo_wh_")
    spark.conf.set("spark.sql.catalog.evo",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.evo.warehouse", wh)
    GraftTable.create(spark, s"$wh/m",
      (1 to 100).map(k => (k, s"u$k")).toDF("k", "name"),
      Seq("k"), numFiles = 2)
    spark.sql("ALTER TABLE evo.m RENAME COLUMN name TO username")
    spark.sql("ALTER TABLE evo.m ALTER COLUMN k TYPE BIGINT")
    val df = spark.table("evo.m")
    assert(df.columns.toSeq == Seq("k", "username"))
    assert(df.schema("k").dataType == LongType)
    assert(df.count() == 100)
    assert(df.where(col("username") === "u42").count() == 1,
      "the connector must read old files' values under the new name")
    assert(spark.sql("SELECT sum(k) FROM evo.m").head().getLong(0)
      == 5050L, "vectorized decode must promote int32 pages to long")
    // filter pushdown on the renamed/widened stats column still
    // prunes and still answers exactly
    assert(spark.sql("SELECT count(*) FROM evo.m WHERE k <= 10")
      .head().getLong(0) == 10L)
    spark.sql("INSERT INTO evo.m VALUES (200L, 'fresh')")
    assert(spark.table("evo.m").count() == 101)
    assert(spark.table("evo.m")
      .where(col("username") === "fresh").count() == 1)
    spark.sql("ALTER TABLE evo.m DROP COLUMN username")
    assert(spark.table("evo.m").columns.toSeq == Seq("k"))
    assert(spark.sql("SELECT count(*) FROM evo.m").head().getLong(0)
      == 101L)
  }
}
