package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import graft.format.GraftTable
import graft.sources.{GraftTableFilePartition, GraftTablePackedPartition, GraftTableSource}

/** Bin-packed scan partitions (round 13): small files coalesce into
  * multi-file tasks via manifest `size_bytes`, mirroring Spark's own
  * FilePartition packing — a table of streaming micro-commits costs
  * tasks ~ bytes/target, not tasks = file count, while every per-file
  * semantic (DV slice, `_file` constant, `_pos` ordinal) is preserved
  * by the chained readers. Also pins the new `size_bytes` manifest
  * stat on both write paths and the post-prune CBO sizeInBytes. */
class PackedScanSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_packed_") + "/t"

  private def numParts(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("size_bytes is recorded by the one-pass writer and matches " +
      "the on-disk file size") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 500L).map(k => (k, s"v$k")).toDF("k", "v"),
      Seq("k"), numFiles = 3)
    val m = t.manifest().select("path", "size_bytes").collect()
    assert(m.nonEmpty && m.forall(!_.isNullAt(1)),
      "every one-pass entry must record size_bytes")
    m.foreach { r =>
      val f = new java.io.File(s"$root/${r.getString(0)}")
      assert(f.isFile && f.length() == r.getLong(1),
        s"manifest size must equal the file's bytes for ${r.getString(0)}")
    }
  }

  test("size_bytes is recorded by the two-pass (bloom) writer too") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 500L).map(k => (k, k % 11)).toDF("k", "b"),
      Seq("k"), numFiles = 3, bloomCols = Seq("b"))
    val m = t.manifest().select("path", "size_bytes").collect()
    assert(m.nonEmpty && m.forall(!_.isNullAt(1)))
    m.foreach { r =>
      val f = new java.io.File(s"$root/${r.getString(0)}")
      assert(f.isFile && f.length() == r.getLong(1))
    }
  }

  test("many small files pack into fewer partitions with identical " +
      "results; the kill-switch restores per-file planning") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, k * 2)).toDF("k", "v"),
      Seq("k"), numFiles = 1)
    (1 to 24).foreach { i =>
      t.append((1L to 10L).map(k => (i * 1000L + k, k)).toDF("k", "v"),
        numFiles = 1)
    }
    val df = spark.read.format("gtable").load(root)
    val files = t.fileCount()
    assert(files == 25L)
    val got = numParts(df)
    assert(got < files,
      s"packing must plan fewer partitions than files ($got vs $files)")
    assert(df.count() == 340L)
    assert(df.agg(sum("k")).head().getLong(0) ==
      (1L to 100L).sum + (1 to 24).map(i =>
        (1L to 10L).map(_ + i * 1000L).sum).sum)
    // kill-switch: per-file planning returns
    spark.conf.set("graft.scan.pack.enabled", "false")
    try {
      val unpacked = spark.read.format("gtable").load(root)
      assert(numParts(unpacked) == files)
      assert(unpacked.count() == 340L)
    } finally spark.conf.unset("graft.scan.pack.enabled")
  }

  test("packed partitions preserve per-file DV slices, _file and " +
      "row ordinals") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 50L).map(k => (k, k)).toDF("k", "v"), Seq("k"),
      numFiles = 1)
    (1 to 19).foreach(i =>
      t.append((1L to 50L).map(k => (i * 100L + k, k)).toDF("k", "v"),
        numFiles = 1))
    t.deleteWhereMor(col("k") % 10L === 3L)
    val df = spark.read.format("gtable").load(root)
    assert(numParts(df) < 20, "small files must pack")
    // 20 files x 50 rows, minus 5 deleted per file
    assert(df.count() == 900L)
    assert(df.where(col("k") % 10L === 3L).count() == 0L)
    // `_file` stays a per-file constant through the chain
    val metaDf = spark.read.format("gtable").load(root)
      .select(col("_file"), col("k"))
    assert(metaDf.select("_file").distinct().count() == 20L)
    // `_pos` forces the row reader; ordinals restart per file, so no
    // file may exceed its own row count
    val pos = spark.read.format("gtable").load(root)
      .groupBy(col("_file")).agg(max(col("_pos")).as("mx"),
        countDistinct(col("_pos")).as("n")).collect()
    assert(pos.length == 20)
    pos.foreach { r =>
      assert(r.getLong(1) <= 49L, "_pos must stay file-local")
      assert(r.getLong(2) == 45L)
    }
  }

  test("packPartitions math: unknown sizes keep their own partition, " +
      "large files never merge, small ones pack to the target") {
    def fp(n: String) = GraftTableFilePartition(n)
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val big = spark.sessionState.conf.filesMaxPartitionBytes
    // 64 tiny files + 1 legacy (-1) + 1 jumbo: with local[8]
    // parallelism the target lands well under maxPartitionBytes, so
    // tiny files share and the jumbo/legacy files ride alone
    val parts =
      (1 to 64).map(i => (fp(s"s$i"), 1000L)).toArray ++
        Array((fp("legacy"), -1L), (fp("jumbo"), big))
    val packed = GraftTableSource.packPartitions(parts)
    assert(packed.length < parts.length)
    val singles = packed.collect { case p: GraftTableFilePartition => p.file }
    assert(singles.contains("legacy"),
      "unknown-size files must not share a task")
    val grouped = packed.collect { case p: GraftTablePackedPartition => p }
    assert(grouped.nonEmpty, "tiny files must share tasks")
    // every input file appears across the plan; the jumbo file may
    // split into ranges, each other file exactly once and whole
    val all = packed.flatMap {
      case p: GraftTablePackedPartition => p.parts
      case p: GraftTableFilePartition => Array(p)
    }
    val jumboLen = all.filter(_.file == "jumbo").map { s =>
      assert(s.splitLength >= 0L, "an over-target file must split")
      s.splitLength
    }.sum
    assert(jumboLen == big, "jumbo ranges must cover the file")
    val others = all.filter(_.file != "jumbo")
    assert(others.forall(_.splitLength == -1L),
      "under-target files stay whole")
    assert(others.map(_.file).sorted.toSeq ==
      parts.map(_._1.file).filter(_ != "jumbo").sorted.toSeq)
    // no packed group exceeds the target budget
    val minParts = spark.sessionState.conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val total = parts.map { case (_, sz) =>
      (if (sz >= 0) sz else big) + openCost }.sum
    val target = math.min(big, math.max(openCost,
      total / math.max(1, minParts)))
    grouped.foreach { g =>
      assert(g.parts.length * (1000L + openCost) <= target ||
        g.parts.length == 1)
    }
  }

  test("SPJ scans skip packing: every partition keeps its key") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      Seq((1L, 10L), (1L, 11L)).toDF("k", "v"), Seq("k"), numFiles = 1)
    t.append(Seq((2L, 20L), (2L, 21L)).toDF("k", "v"), numFiles = 1)
    t.append(Seq((3L, 30L)).toDF("k", "v"), numFiles = 1)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = spark.read.format("gtable").load(root).select("k", "v")
      // value-pure per-file `k` → KeyGroupedPartitioning; Spark groups
      // by key itself, so the scan must emit per-file partitions
      assert(df.groupBy("k").agg(sum("v")).collect().length == 3)
    } finally
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
  }

  test("packPartitions splits a known-size jumbo file into disjoint " +
      "covering byte ranges; unknown sizes never split") {
    def fp(n: String) = GraftTableFilePartition(n)
    val big = spark.sessionState.conf.filesMaxPartitionBytes
    val parts = Array((fp("jumbo"), big * 3L + 7L), (fp("legacy"), -1L))
    val packed = GraftTableSource.packPartitions(parts)
    val splits = packed.collect {
      case p: GraftTableFilePartition if p.file == "jumbo" => p
      case p: GraftTablePackedPartition =>
        assert(!p.parts.exists(_.file == "jumbo"),
          "a full-size split must not share a task"); null
    }.filter(_ != null).sortBy(_.splitStart)
    assert(splits.length >= 4, "3x+ max bytes must plan several ranges")
    assert(splits.head.splitStart == 0L)
    splits.sliding(2).filter(_.length == 2).foreach { w =>
      assert(w(0).splitStart + w(0).splitLength == w(1).splitStart,
        "ranges must be contiguous")
    }
    assert(splits.map(_.splitLength).sum == big * 3L + 7L,
      "ranges must cover the file exactly")
    val legacy = packed.collect {
      case p: GraftTableFilePartition if p.file == "legacy" => p }
    assert(legacy.length == 1 && legacy.head.splitLength == -1L,
      "unknown-size files stay whole")
  }

  test("a multi-row-group file reads identically through ranged " +
      "splits — DV, _pos and _file stay file-global") {
    val root = tmp()
    // ~64 KB row groups → a dozen groups in one file; then plan with
    // a small target so the file genuinely splits
    System.setProperty("graft.parquet.rowgroup.bytes", "65536")
    try {
      val t = GraftTable.create(spark, root,
        (1L to 40000L).map(k => (k, s"pad-$k-${"y" * 30}")).toDF("k", "s"),
        Seq("k"), numFiles = 1)
      assert(t.fileCount() == 1L)
      val fileBytes = t.manifest().agg(sum("size_bytes")).head().getLong(0)
      spark.conf.set("spark.sql.files.maxPartitionBytes",
        (fileBytes / 6L).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "4096")
      try {
        val df = spark.read.format("gtable").load(root)
        assert(numParts(df) > 1, "the jumbo file must split")
        assert(df.count() == 40000L)
        assert(df.agg(sum("k")).head().getLong(0) ==
          (1L to 40000L).sum)
        // row ordinals stay file-global and unique through the ranges
        val pos = spark.read.format("gtable").load(root)
          .select(col("_pos")).collect().map(_.getLong(0))
        assert(pos.length == 40000 && pos.toSet.size == 40000)
        assert(pos.min == 0L && pos.max == 39999L)
        // MOR delete: the DV applies exactly once across the splits
        t.deleteWhereMor(col("k") % 100L === 7L)
        val afterDel = spark.read.format("gtable").load(root)
        assert(afterDel.count() == 39600L)
        assert(afterDel.where(col("k") % 100L === 7L).count() == 0L)
        assert(afterDel.select("_file").distinct().count() == 1L)
      } finally {
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
      }
    } finally System.clearProperty("graft.parquet.rowgroup.bytes")
  }

  test("a small gtable join side auto-broadcasts WITHOUT a hint off " +
      "the reported physical bytes") {
    val bigRoot = tmp(); val dimRoot = tmp()
    GraftTable.create(spark, bigRoot,
      (1L to 50000L).map(k => (k, k % 997)).toDF("k", "fk"),
      Seq("k"), numFiles = 4)
    GraftTable.create(spark, dimRoot,
      (0L to 996L).map(d => (d, s"dim-$d")).toDF("d", "name"),
      Seq("d"), numFiles = 1)
    val big = spark.read.format("gtable").load(bigRoot)
    val dim = spark.read.format("gtable").load(dimRoot)
    val joined = big.join(dim, big("fk") === dim("d"))
    // static plan (pre-AQE): only the reported sizeInBytes can put
    // the dim side under the broadcast threshold — without it a DSv2
    // relation defaults to "huge" and plans a sort-merge join
    assert(joined.queryExecution.sparkPlan.toString
      .contains("BroadcastHashJoin"),
      "the sub-threshold gtable side must auto-broadcast:\n" +
        joined.queryExecution.sparkPlan)
    assert(joined.count() == 50000L)
  }

  test("an initial-snapshot stream over a micro-file table packs its " +
      "seed batch and folds to the exact live content") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 40L).map(k => (k, k * 10L)).toDF("k", "v"),
      Seq("k"), numFiles = 1)
    (1 to 19).foreach(i =>
      t.append((1L to 40L).map(k => (i * 1000L + k, k)).toDF("k", "v"),
        numFiles = 1))
    t.deleteWhereMor(col("k") % 10L === 7L)
    val from = t.currentVersion
    val out = s"$root-snapseed"
    val ckpt = tempDir("graft_packseed_ckpt_")
    val q = spark.readStream.format("gtable")
      .option("startingVersion", from.toString)
      .option("initialSnapshot", "true")
      .load(root)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          df.write.mode("append").parquet(out); ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val seeded = spark.read.parquet(out)
    val live = t.read()
    assert(seeded.count() == live.count())
    assert(seeded.agg(sum("v")).head().getLong(0) ==
      live.agg(sum("v")).head().getLong(0))
    assert(seeded.where(col("k") % 10L === 7L).count() == 0L,
      "DV'd rows must not be re-seeded")
  }

  test("post-prune CBO stats report physical sizeInBytes off the " +
      "manifest") {
    val root = tmp()
    // range-disjoint files so a k-predicate genuinely prunes
    val t = GraftTable.create(spark, root,
      (1L to 500L).map(k => (k, s"pad-$k-${"x" * 40}")).toDF("k", "s"),
      Seq("k"), numFiles = 1)
    (1 to 3).foreach(i => t.append(
      (i * 500L + 1L to i * 500L + 500L)
        .map(k => (k, s"pad-$k-${"x" * 40}")).toDF("k", "s"),
      numFiles = 1))
    val totalBytes = t.manifest().agg(sum("size_bytes")).head().getLong(0)
    val df = spark.read.format("gtable").load(root)
    val full = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(full == BigInt(totalBytes),
      s"full-scan sizeInBytes must be the manifest sum ($full vs $totalBytes)")
    // a pruned scan reports only the kept slice
    val pruned = spark.read.format("gtable").load(root)
      .where(col("k") <= 500L)
    val prunedStats = pruned.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.stats.sizeInBytes
    }.get
    assert(prunedStats < BigInt(totalBytes),
      "stats-pruned scan must report fewer physical bytes")
  }
}
