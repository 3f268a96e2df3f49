package graft

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.format.GraftTable
import graft.sources.GraftTableSource

/** Regression pins for ADVICE r11: the null-envelope state a manifest
  * dir enters when it predates a stats column (list union null-fills
  * min_/max_) must be handled by EVERY consumer of the envelope —
  * pruning already keeps such files; these specs pin that (1) the
  * mergeMor key probe keeps them too (else matched rows silently
  * duplicate), (2) metadata-only MIN/MAX declines rather than
  * silently skipping their values, (3) the connector write path
  * refuses dead-physical-name collisions like the V1 path, and
  * (4) a multi-change ALTER is one atomic commit. */
class AdviceR11Spec extends AnyFunSuite with BeforeAndAfterEach {
  import TestSpark.spark
  import spark.implicits._

  private val fmt = classOf[GraftTableSource].getName

  private val dirs = scala.collection.mutable.Buffer.empty[String]

  /** A table root in a temp dir of its own, deleted after the test. */
  private def tmp(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_advice11_")
      .toString
    dirs += dir
    dir + "/t"
  }

  override def afterEach(): Unit =
    try super.afterEach()
    finally {
      dirs.foreach(d => new scala.reflect.io.Directory(new java.io.File(d))
        .deleteRecursively())
      dirs.clear()
    }

  /** A table whose FIRST dir predates the `k` stats column: created
    * with no stats, then re-opened declaring stats on `k` and
    * appended — the manifest union null-fills min_k/max_k for dir 1
    * while dir 2 carries real envelopes. */
  private def nullEnvelopeTable(root: String): GraftTable = {
    GraftTable.create(spark, root,
      (1L to 50L).map(k => (k, s"old$k")).toDF("k", "v"),
      statsCols = Nil, numFiles = 1)
    val t = GraftTable.openOrCreate(spark, root, statsCols = Seq("k"))
    t.append((51L to 100L).map(k => (k, s"new$k")).toDF("k", "v"),
      numFiles = 1)
    t
  }

  test("mergeMor probes files with a NULL stats envelope: matched " +
      "keys living in a pre-stats dir enter the deletion vector " +
      "instead of silently duplicating") {
    val root = tmp()
    val t = nullEnvelopeTable(root)
    assert(t.incompleteEnvelopeCols().contains("k"),
      "fixture must actually produce a null envelope on k")
    // keys 10 and 20 live ONLY in the null-envelope dir; an unguarded
    // candidate predicate (min_k <= hi AND max_k >= lo, NULL stats)
    // prunes that file, leaving old rows live alongside the upserts
    t.mergeMor(Seq((10L, "upd10"), (20L, "upd20")).toDF("k", "v"),
      Seq("k"))
    val out = t.read()
    assert(out.count() == 100, "upsert must not change row count")
    assert(out.where(col("k") === 10).count() == 1 &&
      out.where(col("k") === 20).count() == 1,
      "matched keys must not duplicate")
    assert(out.where(col("k") === 10).head().getString(1) == "upd10")
    assert(out.where(col("k") === 20).head().getString(1) == "upd20")
  }

  test("metadata-only MIN/MAX declines on an incomplete envelope: " +
      "the API answers NULL and the connector agg pushdown falls " +
      "back to a data scan that returns the TRUE extremes") {
    val root = tmp()
    val t = nullEnvelopeTable(root)
    // the table's true min lives in the null-envelope dir (k=1); the
    // manifest fold alone would answer 51
    val m = t.metadataAggregates().head()
    assert(m.getAs[Long]("n_rows") == 100L,
      "counts stay exact (row_count is always recorded)")
    assert(m.isNullAt(m.fieldIndex("min_k")) &&
      m.isNullAt(m.fieldIndex("max_k")),
      "an incomplete envelope must answer NULL, not a wrong extreme")
    val viaSrc = spark.read.format(fmt).load(root)
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi")).head()
    assert(viaSrc.getLong(0) == 1L && viaSrc.getLong(1) == 100L,
      "pushdown must decline and scan, not skip the pre-stats dir")
    // a complete envelope still pushes down exactly
    val root2 = tmp()
    GraftTable.create(spark, root2,
      (1L to 100L).map(k => (k, s"u$k")).toDF("k", "v"), Seq("k"))
    val t2 = GraftTable.forPath(spark, root2)
    assert(t2.incompleteEnvelopeCols().isEmpty)
    val m2 = t2.metadataAggregates().head()
    assert(m2.getAs[Long]("min_k") == 1L &&
      m2.getAs[Long]("max_k") == 100L)
  }

  test("connector write path refuses a new column colliding with a " +
      "dropped column's physical name (same refusal as the V1 path)") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 10L).map(k => (k, s"u$k", k * 2)).toDF("k", "v", "c"),
      Seq("k"))
    t.dropColumn("c")
    // re-adding `c` through ALTER assigns a fresh physical name — fine
    // — but a raw write carrying `c` directly would land bytes under
    // the DEAD physical name while the commit records a fresh one
    val bad = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("c", LongType)))
    val e = intercept[IllegalArgumentException] {
      graft.sources.GraftParquetIO.physSchema(root, bad)
    }
    assert(e.getMessage.contains("collides"))
    // non-colliding evolved translation still works
    t.renameColumn("v", "name")
    val ok = graft.sources.GraftParquetIO.physSchema(root,
      StructType(Seq(StructField("k", LongType),
        StructField("name", StringType))))
    assert(ok.fieldNames.toSeq == Seq("k", "v"),
      "renamed column must translate to its physical name")
  }

  test("multi-change ALTER is atomic: a refused widen fails the " +
      "whole change set — earlier renames/drops are NOT applied") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1 to 20).map(k => (k, s"u$k", k.toLong)).toDF("a", "b", "c"),
      Seq("a"), bloomCols = Seq("a"))
    val v0 = t.currentVersion
    // widen on a bloom-indexed column is refused; the rename and drop
    // in the same change set must not survive the failure
    intercept[IllegalArgumentException] {
      t.evolveSchema(renames = Seq("b" -> "bb"), drops = Seq("c"),
        widens = Seq("a" -> LongType))
    }
    assert(t.currentVersion == v0, "failed ALTER must commit nothing")
    assert(t.read().columns.toSeq == Seq("a", "b", "c"))
    // the valid subset applies as ONE commit
    val v1 = t.evolveSchema(renames = Seq("b" -> "bb"),
      drops = Seq("c"))
    assert(v1 == v0 + 1, "multi-change ALTER is one snapshot")
    assert(t.read().columns.toSeq == Seq("a", "bb"))
    assert(t.read().where(col("bb") === "u7").count() == 1)
  }
}
