package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 READ PATH for [[graft.format.GraftTable]] — the
  * format becomes a first-class `spark.read.format(...)` source
  * instead of an API-only layer (VERDICT r8 #3):
  *
  * {{{
  * spark.read.format("graft.sources.gtable")
  *   .option("versionAsOf", 2)      // time travel (default: current)
  *   .load(root)
  * }}}
  *
  * The connector owns three engine-level behaviors:
  *  - **Manifest-pruned planning**: pushed filters are translated
  *    against the manifest's per-file [min,max] stats by the same
  *    conservative envelope test as [[graft.format.GraftTable
  *    .prunedWhere]] ([[graft.format.ZoneMaps]]), so
  *    `planInputPartitions` lists ONLY stats-intersecting files — a
  *    key-range scan on a clustered 100 TB table plans the window's
  *    files, not the table's. Every filter is also returned for
  *    re-evaluation (pruning is a superset guarantee, Spark applies
  *    the exact predicate row-level).
  *  - **Column pruning**: the required schema reaches the parquet
  *    readers, which project at the page level (a 2-column read of a
  *    16-column table decodes 2 columns).
  *  - **Stats reporting**: `estimateStatistics` answers post-prune
  *    row counts AND physical bytes from the manifest alone
  *    (metadata-only, feeds the CBO/AQE the same way a catalog
  *    table's stats would — a windowed side under the broadcast
  *    threshold auto-broadcasts without a hint).
  *
  * Partitions plan at BYTE granularity off the manifest's
  * `size_bytes` (round 13 — Spark's own FilePartition math restated
  * over pure metadata): small files bin-pack into multi-file tasks
  * served by chained readers, over-target files split into row-group
  * byte ranges, so scan parallelism tracks bytes/target at both
  * extremes (10⁴ micro-commits ≠ 10⁴ tasks; one 10 GB file ≠ 1
  * task). SPJ, row-level-op and CDC scans keep one partition per
  * file by construction. Readers use parquet-hadoop's Group
  * API (per-file footers, so SCHEMA EVOLUTION works: a column missing
  * from an old file surfaces as null, matching [[graft.format
  * .GraftTable.readMerged]]). The reference has no table format at
  * all (raw S3 parquet + crawler, SURVEY §1.2) — extension tier;
  * q198's eventlog connector is the in-repo template this follows. */
class GraftTableSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  /** Service-loader registration: `spark.read.format("gtable")` and
    * SQL's ``gtable.`/path` `` both resolve here. */
  override def shortName(): String = "gtable"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTableSource.resolve(options)._3

  /** Writes carry the incoming DataFrame's schema (a brand-new table
    * root has nothing to infer from). */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (root, version, _) = GraftTableSource.resolve(opts)
    new GraftTableV2(root, version, schema, opts)
  }
}

object GraftTableSource {

  /** Short alias usable as `format("gtable")` via fully-qualified
    * class name in tests; kept here for docs. */
  val Name = "graft.sources.gtable"

  /** (planned files, live files at the planned version) of the most
    * recent scan planning in this JVM — spec hook pinning that pushed
    * key-range filters shrink `planInputPartitions` below the file
    * total. */
  @volatile var lastPlannedFiles: Long = -1L
  @volatile var lastLiveFiles: Long = -1L

  /** InputPartitions of the most recent batch planning — ≤ planned
    * files once bin-packing coalesces small files into shared tasks
    * (spec hook for PackedScanSpec). */
  @volatile var lastPlannedPartitions: Long = -1L

  /** Kill-switch for scan bin-packing/splitting: session conf
    * `graft.scan.pack.enabled` first, then the JVM property of the
    * same name (so an ops A/B needs only `-Dgraft.scan.pack.enabled=
    * false`), default on. Per-file planning is always recoverable for
    * debugging a task-granularity issue. */
  def packEnabled: Boolean =
    SparkSession.active.conf
      .get("graft.scan.pack.enabled",
        System.getProperty("graft.scan.pack.enabled", "true"))
      .equalsIgnoreCase("true")

  /** Row ordinals before a split's byte offset: row counts of the
    * row groups whose MIDPOINT (`startingPos + compressedSize/2` —
    * parquet-mr's `filterFileMetaDataByMidpoint` rule, the same one a
    * ranged read selects row groups by) falls before `offset`. One
    * footer read; DV'd or `_pos`-projecting splits pay it to keep
    * file-global ordinals exact. */
  private[sources] def rowsBeforeOffset(
      path: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration,
      offset: Long): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    try {
      var n = 0L
      r.getFooter.getBlocks.forEach { b =>
        if (b.getStartingPos + b.getCompressedSize / 2 < offset)
          n += b.getRowCount
      }
      n
    } finally r.close()
  }

  /** Spark's own `FilePartition` packing restated over manifest
    * `size_bytes` (no FS listing — planning stays a metadata job):
    * target = min(maxPartitionBytes, max(openCostInBytes,
    * totalBytes/defaultParallelism)), files first-fit-packed in
    * descending size order after charging each the open cost. Files
    * whose manifest entry predates size recording (size −1) are
    * charged the full target, i.e. they keep a partition each — the
    * pre-packing behavior, never a mis-sized task. At 10⁴ one-row
    * streaming micro-files this is ~300 tasks instead of 10⁴; at
    * 100 TB of 100 MB files packing is a no-op (every file already
    * fills a task), so the plan converges to Spark's parquet source
    * shape at both extremes. */
  private[graft] def packPartitions(
      parts: Array[(GraftTableFilePartition, Long)])
      : Array[InputPartition] = {
    if (parts.isEmpty) return Array.empty
    val spark = SparkSession.active
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val defaultMax = conf.filesMaxPartitionBytes
    val minParts = conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val sized = parts.map { case (p, sz) =>
      (p.copy(sizeBytes = sz), if (sz >= 0L) sz else defaultMax,
        sz >= 0L) }
    val total = sized.iterator.map(_._2 + openCost).sum
    val target = math.min(defaultMax,
      math.max(openCost, total / math.max(1, minParts)))
    // SPLIT first: a known-size file larger than the target plans as
    // byte-range partitions (row groups assigned by parquet's
    // midpoint rule — disjoint, covering), so one post-compaction
    // 10 GB file parallelizes like Spark's own parquet source instead
    // of serializing a task. Unknown-size files never split (charged
    // the full target, one partition each — the legacy behavior).
    val expanded = sized.flatMap { case (p, sz, known) =>
      if (!known || sz <= target) Array((p, sz))
      else {
        val n = ((sz + target - 1L) / target).toInt
        Array.tabulate(n) { i =>
          val off = i.toLong * target
          val len = math.min(target, sz - off)
          (p.copy(splitStart = off, splitLength = len), len)
        }
      }
    }
    val out = Array.newBuilder[InputPartition]
    val cur = scala.collection.mutable.ArrayBuffer
      .empty[GraftTableFilePartition]
    var bytes = 0L
    def close(): Unit = if (cur.nonEmpty) {
      out += (if (cur.length == 1) cur.head
              else GraftTablePackedPartition(cur.toArray))
      cur.clear(); bytes = 0L
    }
    for ((p, sz) <- expanded.sortBy(-_._2)) {
      if (cur.nonEmpty && bytes + sz + openCost > target) close()
      cur += p; bytes += sz + openCost
    }
    close()
    out.result()
  }

  /** Logical→physical column-name map of an EVOLVED table at
    * `version` (empty for never-evolved tables — the common case pays
    * one boolean). Scans translate pushed-filter/stats references
    * through it and readers request files' physical columns; entries
    * exist only where the names differ, so `getOrElse` is identity
    * everywhere else. */
  private[sources] def logToPhys(root: String, version: Long)
      : Map[String, String] =
    if (version <= 0) Map.empty
    // metadata-only handle: the evolved flag and recorded schema live
    // in the (memoized) snapshot record — never pay forPath's
    // manifest schema probe on this per-scan path
    else graft.format.GraftTable.readOnly(SparkSession.active, root)
      .logToPhys(version)

  /** A pushed V1 filter as a Column predicate — the connector's one
    * conversion, shared by SQL DELETE / overwrite (`deleteWhere`,
    * `replaceWhere` through the table API) and the scan's file
    * planning. None for a filter it cannot express. */
  private[sources] def filterCond(f: sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.not
    f match {
      case sources.EqualTo(a, v) => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v) => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => Some(col(a).isNull)
      case sources.IsNotNull(a) => Some(col(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case sources.StringContains(a, v) => Some(col(a).contains(v))
      case sources.And(l, r) =>
        for (lc <- filterCond(l); rc <- filterCond(r)) yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- filterCond(l); rc <- filterCond(r)) yield lc || rc
      case sources.Not(x) => filterCond(x).map(not)
      case _: sources.AlwaysTrue => Some(lit(true))
      case _: sources.AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** Files ADDED between two snapshots (fromV exclusive, toV
    * inclusive; 0 = before the first commit) — absolute paths.
    * Manifest-sized work; shared by the CDC batch scan and the
    * streaming source. */
  /** Files an incremental reader must surface for `(fromV, toV]` —
    * commit-kind-aware: reorganization commits (compact/zorder) are
    * SKIPPED (their rewritten survivors are not new data) and a COW
    * rewrite in the window refuses loudly (GraftTable.changeVersions).
    * `fromV <= 0` is the initial snapshot: every live file, no walk. */
  private[sources] def addedFiles(t: graft.format.GraftTable,
      fromV: Long, toV: Long): Array[String] = {
    if (toV <= 0) return Array.empty
    if (fromV <= 0)
      t.manifest(toV).select("path")
        .collect().map(r => s"${t.root}/${r.getString(0)}")
    else t.changeVersions(fromV, toV).flatMap(t.addedPathsAt)
      .map(p => s"${t.root}/$p").toArray
  }

  /** `.option("timestampAsOf", …)` accepts a SQL timestamp/date
    * string or epoch millis. */
  private[graft] def parseTsMillis(s: String): Long = {
    val t = s.trim
    if (t.matches("\\d{13,}")) t.toLong
    else if (t.matches("\\d{4}-\\d{2}-\\d{2}"))
      java.sql.Date.valueOf(t).getTime
    else java.sql.Timestamp.valueOf(t).getTime
  }

  /** Newest version committed at or before `tsMillis` — vacuumed
    * snapshots skipped; older than all retained history is an
    * explicit error. Shared by the catalog's `TIMESTAMP AS OF` and
    * the path read's `.option("timestampAsOf", …)`.
    *
    * FAST PATH (VERDICT r13 #7): snapshot records carry their commit
    * wall-clock since r14, so resolution BINARY-SEARCHES O(log V)
    * ~1 KB records (plus O(log V) exists probes for the oldest
    * retained version) instead of LISTing the whole `_log` dir — at
    * 10⁶ commits an object-store LIST pages 1000 keys/call, making
    * the listing itself a thousand requests. Commit stamps are
    * non-decreasing up to cross-writer clock skew (commits linearize
    * through the conditional PUT; same caveat Delta documents).
    * Tables with pre-r14 records, or vacuum holes from tag-pinned old
    * versions, fall back to the exact mtime-listing walk. */
  /** Resolution is EXACT against the recorded stamps: the newest
    * version with `ts <= tsMillis`, no forward slack (ADVICE r14: a
    * +15 ms slack applied to every cutoff let a user-supplied exact
    * timestamp resolve to a version committed AFTER it — two commits
    * within the slack made TIMESTAMP AS OF non-deterministically
    * read future data; Delta/reference semantics are `ts <= t`).
    * Callers whose cutoff derives from a snapshot file's MTIME (the
    * kernel's coarse clock, which can lag the precise recorded stamp
    * by a few ms) must add their own slack at the call site — no
    * such caller exists in the library today. */
  private[graft] def versionAtTimestamp(root: String,
      tsMillis: Long): Long = {
    val cur = graft.format.GraftTable.versionAt(root)
    val cutRec = tsMillis // recorded-stamp cutoff, exact
    val fast: Option[Long] =
      if (cur == 0) None
      else {
        val t = graft.format.GraftTable
          .forPath(SparkSession.active, root)
        def ts(v: Long): Option[Long] =
          try t.commitTsMillis(v)
          catch { case _: java.nio.file.NoSuchFileException => None }
        ts(cur) match {
          case Some(tc) if tc <= cutRec => Some(cur)
          case Some(_) =>
            // oldest retained version via exists probes (existence is
            // monotone unless a tag pinned an older snapshot across a
            // vacuum — any hole lands in the fallback below)
            val ls = graft.format.LogStore.forRoot(root)
            var lo = 1L; var hi = cur
            while (lo < hi) {
              val mid = (lo + hi) / 2
              if (ls.exists(s"$root/_log/snapshot-v$mid.txt")) hi = mid
              else lo = mid + 1
            }
            ts(lo) match {
              case Some(to) if to <= cutRec =>
                // invariant: ts(a) <= cutoff < ts(b)
                var a = lo; var b = cur
                var holed = false
                while (!holed && b - a > 1) {
                  val mid = (a + b) / 2
                  ts(mid) match {
                    case Some(tm) =>
                      if (tm <= cutRec) a = mid else b = mid
                    case None => holed = true
                  }
                }
                if (holed) None else Some(a)
              case _ => None // older than retained, legacy, or a hole
            }
          case None => None
        }
      }
    fast.getOrElse {
      // one listing serves every probe (name → mtime); missing files
      // (vacuumed snapshots) simply aren't in the map
      val mtimes = graft.format.LogStore.forRoot(root)
        .list(s"$root/_log")
        .map(e => e.name -> e.mtimeMs).toMap
      def recTs(v: Long): Option[Long] =
        try graft.format.GraftTable.forPath(SparkSession.active, root)
          .commitTsMillis(v)
        catch { case _: java.nio.file.NoSuchFileException => None }
      (1L to cur).reverse.find { v =>
        // prefer the recorded commit stamp (what the fast path
        // compares) over the file mtime so both paths agree
        mtimes.get(s"snapshot-v$v.txt").exists(mt =>
          recTs(v).map(_ <= cutRec).getOrElse(mt <= tsMillis))
      }.getOrElse(throw new IllegalArgumentException(
        s"no retained snapshot of $root at or before $tsMillis ms — " +
          "history before the oldest retained snapshot may have been " +
          "vacuumed"))
    }
  }

  private[sources] def resolve(options: CaseInsensitiveStringMap)
      : (String, Long, StructType) = {
    val root = Option(options.get("path")).getOrElse(
      sys.error("gtable source requires .load/.save(<table root>)"))
    // READ-ONLY probe (ADVICE r9): resolving a path must not create
    // <root>/_log — only the write path materializes directories
    if (graft.format.GraftTable.versionAt(root) == 0)
      // a brand-new root (write target): schema comes from the write
      return (root, 0L, new StructType())
    val t = graft.format.GraftTable.forPath(SparkSession.active, root)
    val version = Option(options.get("versionAsOf"))
      // a number is a snapshot version; anything else resolves as an
      // immutable TAG name
      .map(v => v.toLongOption.getOrElse(t.versionForTag(v)))
      .orElse(Option(options.get("timestampAsOf"))
        .map(ts => versionAtTimestamp(root, parseTsMillis(ts))))
      .getOrElse(t.currentVersion)
    // the snapshot's recorded schema (log-level evolution: appends
    // union new columns) — no data-file footer is opened to plan a
    // query. Footer-merge fallback only for pre-schema-record tables.
    // ALL-NULLABLE on read: files committed before a column existed
    // surface it as null, so a writer-side nullable=false must not
    // let Catalyst fold IsNull away (same contract as spark.read
    // .parquet, which treats every column as nullable).
    val schema = t.recordedSchema(version)
      .getOrElse(t.readMerged(version).schema)
    val base = StructType(schema.fields.map(_.copy(nullable = true)))
    // CHANGE-DATA-FEED streams surface every event with its type:
    // the table schema gains the `_change_type` column ('insert' |
    // 'delete') the CDC partitions fill as a per-partition constant
    (root, version,
      if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
        base.add("_change_type", org.apache.spark.sql.types.StringType)
      else base)
  }
}

class GraftTableV2(root: String, version: Long, schema0: StructType,
    options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import org.apache.spark.sql.connector.write._

  /** `_file` metadata column (root-relative data file path — the
    * connector twin of `input_file_name()`). Selectable on any scan,
    * and the hinge of row-level-operation GROUP FILTERING: Spark's
    * RowLevelOperationRuntimeGroupFiltering plans a subquery for the
    * DISTINCT `_file`s holding matched rows and runtime-filters the
    * main COW scan down to exactly those files — a MERGE touching one
    * key window rewrites that window's files, never the table. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType =
        StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "root-relative path of the data file holding the row"
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      // `_pos` = the row's physical ordinal within `_file` — with
      // `_file` it forms the STABLE ROW ID (parquet files are
      // immutable) that position-delta row-level operations key their
      // deletion-vector entries on
      override def name(): String = "_pos"
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "physical row ordinal within _file (stable row id)"
    })

  /** SQL `MERGE INTO lake.t USING …` / `UPDATE lake.t SET …` (and
    * DELETE with an untranslatable condition, e.g. a subquery):
    * GROUP-BASED copy-on-write through Spark's row-level-operation
    * framework. Spark plans `ReplaceData`: the operation's scan reads
    * the candidate files (manifest-stats-pruned — the rewrite rule
    * pushes the command condition for GROUP pruning only, rows stay
    * unfiltered), the merge/update logic runs as an ordinary
    * distributed plan, and the operation's write commits ONE atomic
    * snapshot replacing exactly the scanned files with the executor
    * writers' output. Untouched files carry forward by reference —
    * at 100 TB a key-window MERGE rewrites the window's files, never
    * the table. Simple equality/range DELETEs still take the
    * metadata-only `SupportsDelete` path (Spark's
    * OptimizeMetadataOnlyDeleteFromTable picks it when the condition
    * translates). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    val statsCols =
      if (version > 0)
        graft.format.GraftTable.forPath(SparkSession.active, root).statsCols
      else Option(options.get("statsCols")).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        // `delete.mode=mor` switches the whole row-level surface to
        // POSITION DELTAS (SupportsDelta → WriteDelta): matched rows
        // enter the deletion vector, updates/inserts append — no file
        // rewrite. Default stays group-based COW (ReplaceData).
        if ("mor".equalsIgnoreCase(options.get("deleteMode")))
          new GraftDeltaOperation(root, version, schema0, statsCols,
            info.command())
        else
          new GraftRowLevelOperation(root, version, schema0, statsCols,
            info.command())
    }
  }

  /** SQL `DELETE FROM lake.t WHERE …` (and `TRUNCATE TABLE`, which
    * rides `SupportsDeleteV2`'s default): pushed filters translate to
    * a Column predicate and run through [[graft.format.GraftTable
    * .deleteWhere]] — the NULL-safe, stats-pruned, file-granular COW
    * path — or [[graft.format.GraftTable.deleteWhereMor]] (deletion
    * vectors, no rewrite) when the table carries
    * `TBLPROPERTIES('delete.mode'='mor')`. Untranslatable filters
    * make `canDeleteWhere` false; Spark then falls back to the
    * row-level-operation COW rewrite (same result, rewrite cost),
    * never a wrong answer. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    version > 0 && filters.forall(GraftTableSource.filterCond(_).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    val cond = filters.flatMap(GraftTableSource.filterCond(_))
      .reduceOption(_ && _).getOrElse(lit(true))
    val t = graft.format.GraftTable.forPath(SparkSession.active, root)
    // `TBLPROPERTIES('delete.mode'='mor')` routes through deletion
    // vectors — O(matched rows) commit, no file rewrite
    if ("mor".equalsIgnoreCase(options.get("deleteMode")))
      t.deleteWhereMor(cond)
    else t.deleteWhere(cond)
    ()
  }

  override def name(): String = s"gtable($root@v$version)"
  override def schema(): StructType = schema0

  /** `SHOW TBLPROPERTIES` / `DESCRIBE EXTENDED` surface: the
    * catalog-persisted properties under their public names. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    def put(opt: String, pub: String): Unit =
      Option(options.get(opt)).foreach(v => m.put(pub, v))
    put("statsCols", "statsCols")
    put("deleteMode", "delete.mode")
    put("clusterBy", "write.cluster-by")
    put("bloomCols", "bloom.cols")
    put("bloomBits", "bloom.bits")
    put("checkConstraint", "check.constraint")
    put("notNullCols", "not.null.cols")
    m
  }
  // BATCH_WRITE gates DataFrameWriter's v2 routing; V1_BATCH_WRITE
  // routes the physical plan to the V1 fallback exec that understands
  // the InsertableRelation this table's Write produces.
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    Option(options.get("readChangesFrom")) match {
      case Some(fromV) =>
        val toV = Option(options.get("readChangesTo"))
          .map(_.toLong).getOrElse(version)
        new GraftTableChangesScanBuilder(root, fromV.toLong, toV, schema0)
      case None =>
        val startingVersion = Option(options.get("startingVersion"))
          .map(_.toLong).getOrElse(0L)
        new GraftTableScanBuilder(root, version, schema0, startingVersion,
          cdcFeed =
            Option(options.get("readChangeFeed")).exists(_.toBoolean),
          initialSnapshot =
            Option(options.get("initialSnapshot")).exists(_.toBoolean),
          maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger"))
            .map(_.toLong).getOrElse(0L),
          maxVersionsPerTrigger =
            Option(options.get("maxVersionsPerTrigger"))
              .map(_.toLong).getOrElse(0L),
          maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger"))
            .map(org.apache.spark.network.util.JavaUtils
              .byteStringAsBytes).getOrElse(0L))
    }

  /** The WRITE path rides the format's own commit protocol: append =
    * one atomic snapshot, overwrite (SupportsTruncate) = one atomic
    * whole-table replace — `df.write.format(...).mode(...).save(root)`
    * gives a user the exact semantics of the Scala API. Stats columns
    * for a NEW table come from `.option("statsCols", "a,b")`; an
    * existing table keeps the columns its manifest already carries.
    * Executed as a V1Write (driver-orchestrated InsertableRelation):
    * the heavy lifting — distributed file write + the one-aggregate
    * stats collection — is the same Spark job the API path runs, and
    * the commit stays the one put-if-absent snapshot create.
    *
    * REPLACE-WHERE (the reference's load-bearing "replace only the
    * touched window" shape, `jb_de_enhancement_t0_fact_d2s.py:23`,
    * restated as Delta's replaceWhere): two spellings, one path —
    *  - `.option("replaceWhere", "d >= '…' AND d < '…'")` with
    *    `SaveMode.Overwrite` on a classic writer;
    *  - `df.writeTo("lake.t").overwrite(cond)` — SupportsOverwrite
    *    translates the pushed filters to a Column predicate.
    * Both run [[graft.format.GraftTable.replaceWhere]]: delete the
    * window + insert the new rows in ONE atomic snapshot, no-hit
    * files carried forward by reference. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwrite {
      private var doTruncate = false
      private var overwriteCond: Option[org.apache.spark.sql.Column] = None
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def canOverwrite(filters: Array[sources.Filter]): Boolean =
        filters.forall(GraftTableSource.filterCond(_).isDefined)
      override def overwrite(filters: Array[sources.Filter])
          : WriteBuilder = {
        if (filters.isEmpty ||
            filters.forall(_.isInstanceOf[sources.AlwaysTrue]))
          doTruncate = true
        else overwriteCond = Some(
          filters.flatMap(GraftTableSource.filterCond(_)).reduce(_ && _))
        this
      }
      override def build(): Write = new V1Write {
        /** `df.writeStream.format("gtable").start(root)`: per-epoch
          * atomic append with the epoch id in the applied-batch
          * ledger — exactly-once under replay (q210's recipe as a
          * first-class sink). */
        override def toStreaming: org.apache.spark.sql.connector
            .write.streaming.StreamingWrite = {
          val statsCols =
            if (graft.format.GraftTable.versionAt(root) > 0)
              graft.format.GraftTable
                .forPath(SparkSession.active, root).statsCols
            else Option(options.get("statsCols")).toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
          new GraftStreamingWrite(root, info.schema(), statsCols)
        }
        override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
          new org.apache.spark.sql.sources.InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              val statsCols = {
                if (graft.format.GraftTable.versionAt(root) > 0)
                  graft.format.GraftTable
                    .forPath(SparkSession.active, root).statsCols
                else Option(options.get("statsCols")).toSeq
                  .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
              }
              // bloom index declaration (new tables): `.option(
              // "bloomCols", "c1,c2")` / TBLPROPERTIES('bloom.cols');
              // an EXISTING table opens via forPath so it keeps
              // maintaining its manifest's bloom_* columns at their
              // recorded width (probe compatibility)
              val t =
                if (graft.format.GraftTable.versionAt(root) > 0)
                  graft.format.GraftTable.forPath(SparkSession.active, root)
                else {
                  val bloomCols = Option(options.get("bloomCols")).toSeq
                    .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
                  val bloomBits = Option(options.get("bloomBits"))
                    .map(_.toInt)
                    .getOrElse(graft.functions.BloomFilterIndex.DefaultBits)
                  graft.format.GraftTable.openOrCreate(
                    SparkSession.active, root, statsCols,
                    bloomCols, bloomBits)
                }
              val numFiles0 = Option(options.get("numFiles"))
                .map(_.toInt).getOrElse(4)
              // WRITE-TIME DATA QUALITY (Delta's invariants):
              // `TBLPROPERTIES('check.constraint'='expr')` and
              // column-level NOT NULL both guard INSIDE the write job
              // — a `cond OR raise_error(...)` filter, one codegen'd
              // pass, no extra scan of the incoming data. A violating
              // row fails the job before the commit exists (the
              // atomic-snapshot protocol means a failed write leaves
              // only invisible garbage, never a partial table).
              val guards =
                Option(info.options.get("checkConstraint"))
                  .orElse(Option(options.get("checkConstraint")))
                  .map(c => s"(($c) IS NOT FALSE) OR raise_error(" +
                    "'gtable CHECK constraint violated')").toSeq ++
                Option(options.get("notNullCols")).toSeq
                  .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
                  .filter(data.columns.contains)
                  .map(c => s"($c IS NOT NULL) OR raise_error(" +
                    s"'gtable NOT NULL constraint violated: $c')")
              val data0 = guards.foldLeft(data)((d, g) =>
                d.where(org.apache.spark.sql.functions.expr(g)))
              // CLUSTERED WRITES (`TBLPROPERTIES('write.cluster-by'=
              // 'k')` or `.option("clusterBy", "k")`): range-partition
              // + sort the incoming frame on the cluster columns and
              // write one file per range (numFiles = 0 preserves the
              // partitioning), so per-file stats envelopes are
              // DISJOINT on the key. This is what arms zone-map
              // pruning and storage-partitioned joins for plain
              // `INSERT INTO` — without it a hash-partitioned insert
              // spreads every key range across every file and the
              // manifest stats prune nothing.
              val clusterCols = Option(info.options.get("clusterBy"))
                .orElse(Option(options.get("clusterBy"))).toSeq
                .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
              val (data1, numFiles) =
                if (clusterCols.isEmpty) (data0, numFiles0)
                else {
                  val cs = clusterCols.map(data0.col)
                  (data0.repartitionByRange(math.max(numFiles0, 1), cs: _*)
                    .sortWithinPartitions(cs: _*), 0)
                }
              val replaceWhere =
                Option(info.options.get("replaceWhere"))
                  .orElse(Option(options.get("replaceWhere")))
                  .map(org.apache.spark.sql.functions.expr)
                  .orElse(overwriteCond)
              replaceWhere match {
                case Some(cond)
                    if doTruncate || overwrite || overwriteCond.isDefined =>
                  t.replaceWhere(cond, data1, numFiles)
                case Some(_) => throw new IllegalArgumentException(
                  "gtable: .option(\"replaceWhere\", …) requires " +
                    "SaveMode.Overwrite (append would silently drop " +
                    "the window-replace semantics)")
                case None =>
                  if (doTruncate || overwrite) t.overwrite(data1, numFiles)
                  else t.append(data1, numFiles)
              }
              ()
            }
          }
      }
    }
}

/** One SQL row-level statement (MERGE / UPDATE / group-based DELETE)
  * in flight: the shared object through which the operation's SCAN
  * tells its WRITE which files it planned — the write replaces
  * exactly that set. Scan and write live in the same driver-side
  * query execution, so a plain volatile field carries the handoff;
  * the commit re-validates the table version underneath
  * ([[graft.format.GraftTable]] `commitReplaceFiles` fails on a
  * concurrent advance rather than rebasing a stale rewrite). */
class GraftRowLevelOperation(root: String,
    private[sources] val tableVersion: Long,
    tableSchema: StructType, statsCols: Seq[String],
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, Write, WriteBuilder, BatchWrite}

  /** Root-relative paths of the files the LAST scan planning pass
    * selected (post manifest pruning) — the replace set. */
  @volatile private[sources] var scannedFiles: Array[String] = Array.empty

  private[sources] def opName: String = cmd match {
    case RowLevelOperation.Command.DELETE => "delete"
    case RowLevelOperation.Command.UPDATE => "update"
    case _ => "merge"
  }

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"gtable($root) COW $cmd"

  /** Requiring `_file` puts the rewrite on the metadata-aware path
    * (projected data rows reach the writer) AND arms runtime group
    * filtering — without it Spark would hand the writer the raw
    * rewrite rows, operation column included. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftTableScanBuilder(root, tableVersion, tableSchema,
      recorder = Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def description(): String =
          s"gtable($root) COW $cmd replace-files"
        override def toBatch: BatchWrite =
          new GraftReplaceFilesBatchWrite(root, info.schema(), statsCols,
            GraftRowLevelOperation.this)
      }
    }
}

/** CDC batch read: `option("readChangesFrom", v1)` (exclusive) +
  * optional `readChangesTo` (inclusive, default current) restricts the
  * scan to files ADDED between the two snapshots — the connector twin
  * of [[graft.format.GraftTable.readChanges]], so an incremental
  * consumer reads only the delta through plain
  * `spark.read.format(...)`. The file-set diff is manifest-sized. */
class GraftTableChangesScanBuilder(root: String, fromV: Long, toV: Long,
    full: StructType) extends ScanBuilder
    with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val known = full.fieldNames.toSet
    required = StructType(requiredSchema.fields.filter(f =>
      known.contains(f.name) || f.name == "_file" || f.name == "_pos"))
  }
  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"gtable($root) CHANGES v$fromV→v$toV"
    override def planInputPartitions(): Array[InputPartition] = {
      val t = graft.format.GraftTable.forPath(SparkSession.active, root)
      val added = GraftTableSource.addedFiles(t, fromV, toV)
      GraftTableSource.lastPlannedFiles = added.length.toLong
      GraftTableSource.lastLiveFiles =
        if (toV <= 0) 0L else t.fileCount(toV)
      added.map(f => GraftTableFilePartition(f): InputPartition)
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftTableReaderFactory(root, required,
        GraftTableSource.logToPhys(root, toV))
  }
}

class GraftTableScanBuilder(root: String, version: Long,
    full: StructType, startingVersion: Long = 0L,
    recorder: Option[GraftRowLevelOperation] = None,
    cdcFeed: Boolean = false,
    initialSnapshot: Boolean = false,
    maxFilesPerTrigger: Long = 0L,
    maxVersionsPerTrigger: Long = 0L,
    maxBytesPerTrigger: Long = 0L) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference

  private var required: StructType = full
  private var filters: Array[sources.Filter] = Array.empty
  private var pushedAgg: Option[Aggregation] = None

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val known = full.fieldNames.toSet
    // `_file`/`_pos` (metadata columns) survive pruning — the reader
    // emits `_file` as a per-file constant and `_pos` as the running
    // row ordinal, no pages decoded for either. Data columns first,
    // metadata last: the columnar reader appends its per-file
    // constant vector after the decoded columns, and readSchema must
    // match the batch layout positionally (`_pos` forces the row
    // reader — an ordinal is not a constant vector).
    val meta = Set("_file", "_pos")
    val kept = requiredSchema.fields.filter(f =>
      known.contains(f.name) || meta(f.name))
    required = StructType(
      kept.filterNot(f => meta(f.name)) ++ kept.filter(f => meta(f.name)))
  }

  /** Accept every filter for PLANNING (manifest prune) but return all
    * of them as residuals: envelope skipping is a conservative
    * superset, the exact row-level predicate must re-apply. */
  override def pushFilters(fs: Array[sources.Filter])
      : Array[sources.Filter] = { filters = fs; fs }

  override def pushedFilters(): Array[sources.Filter] = filters

  /** METADATA-ONLY AGGREGATES through SQL: an ungrouped, unfiltered
    * COUNT(*) / MIN / MAX over stats columns is answered from the
    * manifest alone — the commit protocol records exact per-file row
    * counts and typed envelopes, so the fold is exact (the
    * Delta/Iceberg `SELECT count(*)` petabyte trick, surfaced through
    * `SupportsPushDownAggregates`). Anything else is declined and
    * scans normally. Exactness caveat honored: MIN/MAX envelopes are
    * exact because writeData computes them from the written rows —
    * this is not a parquet-footer approximation. */
  private def answerable(agg: Aggregation): Boolean = {
    // aggregates name LOGICAL columns; stats live under physical names
    lazy val l2p = GraftTableSource.logToPhys(root, version)
    def statsCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Boolean = e match {
      case f: NamedReference => f.fieldNames.length == 1 && {
        val p = l2p.getOrElse(f.fieldNames.head, f.fieldNames.head)
        // an incomplete envelope (non-empty file with null stats —
        // its dir predates the column) would make a metadata-only
        // MIN/MAX skip real values: decline and scan
        statsColsOf.contains(p) && !incompleteEnvelopes.contains(p)
      }
      case _ => false
    }
    filters.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => statsCol(m.column)
        case m: Max => statsCol(m.column)
        case _ => false
      }
  }

  private lazy val statsColsOf: Set[String] =
    if (version == 0) Set.empty
    else graft.format.GraftTable.forPath(SparkSession.active, root)
      .statsCols.toSet

  // computed at most once per scan build, only when an agg is pushed
  private lazy val incompleteEnvelopes: Set[String] =
    if (version == 0) Set.empty
    else graft.format.GraftTable.forPath(SparkSession.active, root)
      .incompleteEnvelopeCols(version)

  // a DELETION VECTOR breaks metadata exactness: counts are
  // recoverable (physical − n_dels) but MIN/MAX envelopes can name a
  // deleted extreme — decline the whole pushdown and scan (the scan
  // itself DV-filters); compaction restores the metadata-only path
  private lazy val versionHasDv: Boolean =
    version > 0 && graft.format.GraftTable
      .forPath(SparkSession.active, root).hasDeletionVectors(version)

  // version 0 (CREATE TABLE, nothing written): no manifest to answer
  // from — decline and let the regular scan return its zero rows
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    version > 0 && !versionHasDv && answerable(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    // cdcFeed: never push — the CDC guard must reach toBatch
    if (version == 0 || versionHasDv || cdcFeed || !answerable(agg)) false
    else { pushedAgg = Some(agg); true }

  override def build(): Scan = pushedAgg match {
    case Some(agg) => new GraftTableAggScan(root, version, agg, full)
    case None =>
      new GraftTableScan(root, version, required, filters,
        startingVersion, recorder, cdcFeed, initialSnapshot,
        maxFilesPerTrigger, maxVersionsPerTrigger, maxBytesPerTrigger)
  }
}

/** The manifest-only scan a completely-pushed aggregate builds: ONE
  * partition, ONE row, ZERO data files opened — counts sum and
  * envelopes fold over the manifest (GtableSourceSpec proves it by
  * deleting every data file first). */
class GraftTableAggScan(root: String, version: Long,
    agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
    full: StructType) extends Scan with Batch {
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference

  private def colName(
      e: org.apache.spark.sql.connector.expressions.Expression): String =
    e.asInstanceOf[NamedReference].fieldNames.head

  override def readSchema(): StructType = StructType(
    agg.aggregateExpressions.zipWithIndex.map {
      case (_: CountStar, i) =>
        StructField(s"count_$i", LongType, nullable = false)
      case (m: Min, i) => StructField(s"min_$i",
        full(colName(m.column)).dataType)
      case (m: Max, i) => StructField(s"max_$i",
        full(colName(m.column)).dataType)
      case (other, _) => sys.error(s"unreachable: $other")
    })

  override def toBatch: Batch = this
  override def description(): String =
    s"gtable($root@v$version) METADATA-ONLY agg=[${
      agg.aggregateExpressions.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    // fold the manifest on the driver (metadata-sized) and ship the
    // one result row inside the partition
    val t = graft.format.GraftTable.forPath(SparkSession.active, root)
    val m = t.metadataAggregates(version).head()
    val values: Array[Any] = agg.aggregateExpressions.map {
      case _: CountStar => m.getAs[Any]("n_rows")
      case mi: Min => m.getAs[Any](s"min_${colName(mi.column)}")
      case ma: Max => m.getAs[Any](s"max_${colName(ma.column)}")
      case other => sys.error(s"unreachable: $other")
    }
    // external → Catalyst internal representation (Date → days, …)
    val internal = values.zip(readSchema().fields).map { case (v, f) =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToCatalyst(v) match {
        case x => x
      }
    }
    GraftTableSource.lastPlannedFiles = 0L
    GraftTableSource.lastLiveFiles =
      t.manifest(version).count()
    Array(GraftTableAggPartition(internal))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftTableAggReaderFactory
}

case class GraftTableAggPartition(values: Array[Any])
    extends InputPartition

class GraftTableAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val vs = partition.asInstanceOf[GraftTableAggPartition].values
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): InternalRow =
        InternalRow.fromSeq(vs.toIndexedSeq)
      override def close(): Unit = ()
    }
  }
}

class GraftTableScan(root: String, version: Long, required: StructType,
    filters: Array[sources.Filter], startingVersion: Long = 0L,
    recorder: Option[GraftRowLevelOperation] = None,
    cdcFeed: Boolean = false,
    initialSnapshot: Boolean = false,
    maxFilesPerTrigger: Long = 0L,
    maxVersionsPerTrigger: Long = 0L,
    maxBytesPerTrigger: Long = 0L)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning {

  override def readSchema(): StructType = required
  override def toBatch: Batch = {
    if (cdcFeed) throw new UnsupportedOperationException(
      "readChangeFeed is a STREAMING option (readStream.format" +
        "(\"gtable\")); batch CDC reads use readChangesFrom/To")
    this
  }
  override def description(): String =
    s"gtable($root@v$version) filters=[${filters.mkString(", ")}]"

  // ---- runtime filtering (DPP for the format) ----------------------
  // A broadcast join whose build side resolves to an IN-set over a
  // stats column re-plans this scan at runtime: Spark hands the set
  // to `filter(...)` and the NEXT planInputPartitions prunes the
  // manifest with it — dynamic FILE pruning, the v2 twin of dynamic
  // partition pruning, with no directory scheme required. At 100 TB a
  // fact⋈dim join on a clustered key reads only the dim-selected
  // files.
  private var runtimeFilters: Array[sources.Filter] = Array.empty

  /** Row-level (COW) scans advertise ONLY `_file`: the group-filter
    * subquery then arrives as a plain `_file IN (…)` — translatable
    * to a V1 filter and exact (just the matched files). Advertising
    * stats columns TOO makes Spark build a multi-attribute
    * `named_struct(_file, k) IN subquery` host expression, which no
    * V1/V2 translation can deliver — the filter silently drops and
    * the MERGE rewrites every candidate file. Ordinary scans keep
    * stats columns for classic DPP. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // An SPJ-reporting scan declines runtime filtering: a runtime
    // file prune could shrink the partition-value set AFTER the
    // KeyGroupedPartitioning was reported, and the two must agree.
    // (SPJ already restricts the scan to co-grouped keys; DPP's win
    // largely overlaps it.)
    if (spj.isDefined) return Array.empty
    // Only PROJECTED columns — PartitionPruning resolves these
    // against the scan OUTPUT and fails on an absent column, so a
    // stats column the projection pruned away must not be advertised
    // (a join on a non-stats column with stats columns unprojected
    // crashed here, PackedScanSpec's auto-broadcast case). Row-level
    // scans always project `_file` (requiredMetadataAttributes).
    val fileAttr =
      if (required.fieldNames.contains("_file")) Seq("_file") else Nil
    val names =
      if (recorder.isDefined) fileAttr
      else {
        // stats cols are PHYSICAL names; the scan output is logical
        val p2l = l2pScan.map(_.swap)
        fileAttr ++ statsCols.map(c => p2l.getOrElse(c, c))
          .filter(required.fieldNames.contains)
      }
    names.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.column(c))
      .toArray
  }

  override def filter(fs: Array[sources.Filter]): Unit = {
    runtimeFilters = fs
  }

  private lazy val table =
    graft.format.GraftTable.forPath(SparkSession.active, root)

  private lazy val statsCols: Seq[String] =
    if (version == 0) Nil else table.statsCols

  /** Scans name LOGICAL columns; manifest stats/bloom columns and
    * file columns live under PHYSICAL names (identical unless the table
    * was rename-evolved). */
  private lazy val l2pScan: Map[String, String] =
    GraftTableSource.logToPhys(root, version)

  /** Filters converted by the connector's one conversion
    * ([[GraftTableSource.filterCond]]) and resolved against the
    * version's recorded schema. A filter that does not convert, or
    * names a column the schema lacks (`_file`, `_pos`, the change
    * feed's `_change_type`), is left out, so it keeps every file. */
  private def dataCond(fs: Array[sources.Filter])
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    def key(c: String) = c.toLowerCase(java.util.Locale.ROOT)
    val known = table.readSchema(version).fieldNames.map(key).toSet
    fs.filter(_.references.forall(c => known(key(c))))
      .flatMap(GraftTableSource.filterCond)
      .reduceOption(_ && _).map(table.resolve(_, version))
  }

  // the pushed filters resolve once per scan; runtime filters arrive
  // between planning passes and resolve on each
  private lazy val pushedCond = dataCond(filters)

  /** Filters as one manifest KEEP predicate: `_file` filters (runtime
    * group filtering hands back the matched groups' file set) test the
    * manifest path itself, the rest ([[dataCond]] as `cond`) the
    * [[graft.format.ZoneMaps]] translation — `blooms = false` tests the
    * envelopes alone. */
  private def keepOf(fs: Array[sources.Filter],
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      blooms: Boolean): org.apache.spark.sql.Column =
    (fs.toSeq.collect {
      case sources.In("_file", vs) => col("path").isin(vs.toIndexedSeq: _*)
      case sources.EqualTo("_file", v) => col("path") === lit(v)
    } ++ cond.map(table.manifestTests(_, version, blooms = blooms)._1))
      .reduceOption(_ && _).getOrElse(lit(true))

  /** (root-relative path, size_bytes or −1 when the entry predates
    * size recording) per planned file — the −1s keep legacy files
    * un-packable (each gets its own partition, the old behavior).
    * Recomputed per planning pass (NOT cached): runtime filters can
    * arrive between an initial plan and an AQE re-plan, and each pass
    * must see the tightest file set. The manifest scan is
    * metadata-sized. */
  private def plannedFiles: Array[(String, Long)] = {
    if (version == 0) {
      // CREATE TABLE before first INSERT: zero files, zero rows —
      // a SELECT must answer empty, not fail on the missing snapshot
      // (ADVICE r9)
      recorder.foreach(_.scannedFiles = Array.empty)
      GraftTableSource.lastPlannedFiles = 0L
      GraftTableSource.lastLiveFiles = 0L
      return Array.empty
    }
    // live count off the SNAPSHOT RECORD (per-dir entry counts ride
    // it) — zero jobs; previously a count() job per planning pass
    val live = table.fileCount(version)
    // NOT cached: the filter job reads each referenced column once —
    // caching would materialize the manifest's bloom arrays (MBs per
    // thousand files) into the block manager on every planning pass
    val m = table.manifest(version)
    val pred = keepOf(filters, pushedCond, blooms = true) &&
      keepOf(runtimeFilters, dataCond(runtimeFilters), blooms = true)
    val sizeCol =
      if (m.columns.contains("size_bytes"))
        org.apache.spark.sql.functions
          .coalesce(col("size_bytes"), lit(-1L))
      else lit(-1L)
    val sel = m.where(pred).select(col("path"), sizeCol.as("sz"))
    // BATCHED PLANNING (VERDICT r12 #1): the InputPartition array is
    // the DSv2 contract, but collect()'s transient Row/batch buffers
    // are not — past the collect limit, stream partition-by-partition
    val rel =
      if (live <= graft.format.GraftTable.PlanCollectLimit)
        sel.collect().map(r => (r.getString(0), r.getLong(1)))
      else {
        val b = Array.newBuilder[(String, Long)]
        sel.toLocalIterator().forEachRemaining(r =>
          b += ((r.getString(0), r.getLong(1))))
        b.result()
      }
    // row-level operation scan: the planned set IS the replace set
    recorder.foreach(_.scannedFiles = rel.map(_._1))
    GraftTableSource.lastPlannedFiles = rel.length.toLong
    GraftTableSource.lastLiveFiles = live
    rel
  }

  // ---- storage-partitioned joins (SPJ) -----------------------------

  /** STORAGE-PARTITIONED JOIN reporting: when the session opts into
    * v2 bucketing (`spark.sql.sources.v2.bucketing.enabled`) and
    * EVERY planned file is VALUE-PURE — non-null min == max — on one
    * or more projected stats columns, the scan reports
    * `KeyGroupedPartitioning` over those columns: each file partition
    * carries its key (`HasPartitionKey`), Spark groups same-key files
    * into one task, and a join or aggregate clustered on those
    * columns plans with NO exchange on this side. Two gtables
    * co-clustered on a key therefore join 100 TB to 100 TB without
    * shuffling either side — Iceberg's SPJ story, driven entirely by
    * the manifest envelopes (value purity is checked per scan, so a
    * table that drifted impure silently degrades to a normal shuffle
    * plan, never a wrong answer). Purity is judged AFTER manifest
    * pruning: a windowed scan of a value-pure window reports SPJ even
    * if the whole table is mixed. */
  private def spjEnabled: Boolean =
    recorder.isEmpty && version > 0 &&
      SparkSession.active.conf
        .get("spark.sql.sources.v2.bucketing.enabled", "false")
        .equalsIgnoreCase("true")

  /** (clustering column names, their key types, per-file key tuples)
    * — None unless every planned file is pure on ≥1 projected col. */
  private lazy val spj: Option[(Seq[String], Seq[DataType],
      Map[String, Seq[Any]])] = {
    if (!spjEnabled) None
    else {
      // stats cols are physical; the projection and the reported
      // partitioning use logical names
      val p2l = l2pScan.map(_.swap)
      def logNm(p: String): String = p2l.getOrElse(p, p)
      val cands = statsCols.filter(p =>
        required.fieldNames.contains(logNm(p)))
      if (cands.isEmpty) None
      else {
        // envelope-only: the bloom test would re-read every file's
        // bloom array for a purity probe the envelopes answer alone
        val pred = keepOf(filters, pushedCond, blooms = false)
        val cols = col("path") +: cands.flatMap(c =>
          Seq(col(s"min_$c"), col(s"max_$c")))
        val mDf = table.manifest(version).where(pred).select(cols: _*)
        val types = cands.indices
          .map(i => mDf.schema.fields(1 + 2 * i).dataType)
        val rows = mDf.collect()
        if (rows.isEmpty) None
        else {
          val pureIdx = cands.indices.filter { i =>
            // a WIDENED column's envelopes carry the narrow type —
            // its partition-key values would mismatch the read
            // schema, so it declines (SPJ degrades, never mis-plans)
            required(logNm(cands(i))).dataType == types(i) &&
            rows.forall { r =>
              val lo = r.get(1 + 2 * i); val hi = r.get(2 + 2 * i)
              lo != null && lo == hi
            }
          }
          if (pureIdx.isEmpty) None
          else Some((
            pureIdx.map(i => logNm(cands(i))),
            pureIdx.map(types(_)),
            rows.map(r => r.getString(0) ->
              pureIdx.map(i => r.get(1 + 2 * i)).toSeq).toMap))
        }
      }
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spj match {
      case Some((cols, _, fileKeys)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            cols.map(c => org.apache.spark.sql.connector.expressions
              .Expressions.identity(c): org.apache.spark.sql.connector
              .expressions.Expression).toArray,
            fileKeys.values.toSet.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Whether the scanned version carries a deletion vector (decides
    * whether partition planning must load the DV at all). The read
    * path stays COLUMNAR either way: DV-free files pass vectorized
    * batches through untouched, and files with deleted ordinals get
    * their batches compacted by [[DvFilteredBatchReader]] — so one
    * MOR delete no longer taxes a whole 100 TB scan with row-at-a-
    * time decode (Spark requires every partition of a scan to agree
    * on row-vs-columnar, so the per-file fallback alternative would
    * have forced the whole scan to rows). */
  private lazy val scanHasDv: Boolean =
    version > 0 && table.hasDeletionVectors(version)

  override def planInputPartitions(): Array[InputPartition] = {
    val files = plannedFiles
    val dvMap: Map[String, Array[Long]] =
      if (!scanHasDv) Map.empty
      else table.deletionVectors(version).collect()
        .groupBy(_.getString(0))
        .map { case (p, rs) => p -> rs.map(_.getLong(1)).sorted }
    // partition keys for SPJ grouping: the file's (pure) stats values,
    // converted to Catalyst representation
    val keyOf: String => InternalRow = spj match {
      case Some((_, types, fileKeys)) =>
        val convs = types.map(org.apache.spark.sql.catalyst
          .CatalystTypeConverters.createToCatalystConverter)
        rel => fileKeys.get(rel) match {
          case Some(vals) =>
            new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(
                vals.zip(convs).map { case (v, c) => c(v) }.toArray)
          case None => null
        }
      case None => _ => null
    }
    val parts = files.map { case (rel, sz) =>
      (GraftTableFilePartition(s"$root/$rel",
        dvMap.getOrElse(rel, Array.empty), keyOf(rel),
        sizeBytes = sz), sz)
    }
    // BIN-PACKED PARTITIONS: small files coalesce into multi-file
    // tasks, mirroring Spark's own FilePartition packing (the same
    // maxPartitionBytes / openCostInBytes / minPartitionNum math), so
    // a table of streaming micro-commits costs tasks ~ bytes/128 MB,
    // not tasks = file count. Skipped when the scan reports
    // KeyGroupedPartitioning (Spark groups same-key files itself —
    // packing across keys would break SPJ alignment), for row-level
    // operation scans (the replace set stays per-file), and for CDC
    // scans (per-file change semantics ride the partition).
    if (spj.isDefined || recorder.nonEmpty || cdcFeed ||
        !GraftTableSource.packEnabled) {
      GraftTableSource.lastPlannedPartitions = parts.length.toLong
      parts.map(_._1: InputPartition)
    } else {
      val packed = GraftTableSource.packPartitions(parts)
      GraftTableSource.lastPlannedPartitions = packed.length.toLong
      packed
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftTableReaderFactory(root, required, l2pScan)

  /** The STREAMING half: committed VERSIONS are the log. An offset is
    * "versions consumed so far"; each micro-batch plans exactly the
    * files added between two snapshots (the same manifest diff
    * [[graft.format.GraftTable.readChanges]] exposes) — so a
    * downstream pipeline `readStream`s a table and incrementally
    * folds every commit as it lands, Delta's streaming-source
    * contract restated. Exactly-once for the source side falls out of
    * offset checkpointing; per-version work is delta-sized. Under COW
    * rewrites the post-image files replay (documented readChanges
    * caveat — stream from append-only tables). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftTableMicroBatchStream(root, required, startingVersion,
      cdcFeed, initialSnapshot, maxFilesPerTrigger,
      maxVersionsPerTrigger, maxBytesPerTrigger)

  /** Metadata-only stats, POST-PRUNE: row counts summed over exactly
    * the manifest entries the pushed filters keep (the same envelope
    * test planning uses), so the CBO sees the windowed scan's true
    * cardinality, not the table total — at 100 TB that's the
    * difference between a broadcast and a 100 TB shuffle on the
    * filtered side. Still a driver-side manifest aggregate;
    * conservative (superset) because envelope pruning is. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val (rows, bytes): (Long, Option[Long]) =
      if (version == 0) (0L, Some(0L))
      else {
        // envelope-only: stats are a conservative superset by contract,
        // and skipping the bloom test here means the CBO estimate never
        // pays a second full read of the manifest's bloom arrays
        val keptM = table.manifest(version)
          .where(keepOf(filters, pushedCond, blooms = false))
        // size_bytes rides the same single agg job: post-prune
        // physical bytes, reported only when EVERY kept entry records
        // a size (a null would understate the scan and could flip a
        // 100 TB side to broadcast — conservative silence instead)
        val hasSize = keptM.columns.contains("size_bytes")
        val aggCols = org.apache.spark.sql.functions
          .coalesce(org.apache.spark.sql.functions.sum(col("row_count")),
            lit(0L)) +: (
          if (hasSize)
            Seq(org.apache.spark.sql.functions
                .coalesce(org.apache.spark.sql.functions
                  .sum(col("size_bytes")), lit(0L)),
              org.apache.spark.sql.functions
                .count(lit(1)) - org.apache.spark.sql.functions
                .count(col("size_bytes")))
          else Nil)
        val r = keptM.agg(aggCols.head, aggCols.tail: _*).head()
        val phys = r.getLong(0)
        // size_bytes is COMPRESSED on-disk parquet; Spark's own
        // FileScan scales file sizes by fileCompressionFactor before
        // the autoBroadcastJoinThreshold comparison — reporting raw
        // bytes would understate in-memory size and auto-broadcast a
        // side several times larger than the threshold intends
        // (ADVICE r13)
        val sz =
          if (hasSize && r.getLong(2) == 0L)
            Some((r.getLong(1) * SparkSession.active.sessionState.conf
              .fileCompressionFactor).toLong)
          else None
        // subtract the deletion-vector entries that fall in kept files
        val dels =
          if (!scanHasDv) 0L
          else table.deletionVectors(version)
            .join(keptM.select("path"), Seq("path"), "left_semi")
            .count()
        (phys - dels, sz)
      }
    override def sizeInBytes(): util.OptionalLong =
      bytes.map(util.OptionalLong.of)
        .getOrElse(util.OptionalLong.empty())
    override def numRows(): util.OptionalLong =
      util.OptionalLong.of(rows)
  }
}

/** One data file per partition; `dvPos` carries the file's deleted
  * row ordinals (sorted) when the scanned version has a deletion
  * vector — the reader skips them during decode, exchange-free. The
  * positions ride the partition the way Delta ships its DV blob
  * descriptor with the scan file: DV size is bounded by deletes since
  * the last compaction, and a table whose DV has grown large should
  * `compact()` (which materializes deletions away).
  *
  * `key` is the file's partition-value tuple when the scan reports
  * `KeyGroupedPartitioning` (storage-partitioned joins) — Spark
  * groups same-key files into one task and aligns both join sides by
  * value. null when the scan reports Unknown partitioning, in which
  * case `partitionKey` is never consulted. */
case class GraftTableFilePartition(file: String,
    dvPos: Array[Long] = Array.empty,
    key: InternalRow = null,
    // CHANGE-DATA-FEED fields: `changeType` rides the `_change_type`
    // constant column; a non-empty `emitPos` INVERTS the reader —
    // emit ONLY these ordinals (the rows that joined the deletion
    // vector in the stream window) instead of skipping dvPos
    changeType: String = null,
    emitPos: Array[Long] = Array.empty,
    // ROW-GROUP SPLIT range: a large file plans as several byte-range
    // partitions; parquet's midpoint rule assigns each row group to
    // exactly one range, so the splits cover the file disjointly.
    // `splitLength` −1 = whole file (the default everywhere splitting
    // does not apply). Readers recover the split's starting ROW
    // ordinal from the footer's block metadata, so DV skipping and
    // `_pos` stay file-global and exact.
    splitStart: Long = 0L,
    splitLength: Long = -1L,
    // known on-disk size off the manifest (−1 = unknown): whole-file
    // columnar reads build their split from it instead of paying a
    // getFileStatus per micro-file
    sizeBytes: Long = -1L) extends InputPartition
    with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Several bin-packed small files served by ONE task — the readers
  * chain per-file (each keeps its own DV slice, `_file` constant and
  * `_pos` ordinal, so every per-file semantic is preserved verbatim).
  * Never used for SPJ scans (no partition key) or CDC scans. */
case class GraftTablePackedPartition(
    parts: Array[GraftTableFilePartition]) extends InputPartition

/** Sequential reader chain over a packed partition's files: at most
  * one inner reader open at a time, each created lazily when the
  * previous file drains (so a LIMIT that stops early never opens the
  * tail files at all). */
class GraftChainedReader[T](
    makers: Array[() => PartitionReader[T]])
    extends PartitionReader[T] {
  private var i = 0
  private var cur: PartitionReader[T] = _

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (i >= makers.length) return false
        cur = makers(i)(); i += 1
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false // unreachable
  }

  override def get(): T = cur.get()

  override def close(): Unit = {
    if (cur != null) { cur.close(); cur = null }
    i = makers.length
  }
}

case class GraftTableOffset(version: Long, snap: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String =
    if (snap) s"""{"version":$version,"snap":true}"""
    else s"""{"version":$version}"""
}

class GraftTableMicroBatchStream(root: String, required: StructType,
    startingVersion: Long, cdcFeed: Boolean = false,
    initialSnapshot: Boolean = false,
    maxFilesPerTrigger: Long = 0L,
    maxVersionsPerTrigger: Long = 0L,
    maxBytesPerTrigger: Long = 0L)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def table =
    graft.format.GraftTable.forPath(SparkSession.active, root)

  // ---- admission control (round 13) --------------------------------
  // A restarted stream against a deep backlog must NOT plan the whole
  // gap as one giant micro-batch: `maxVersionsPerTrigger` caps the
  // versions consumed per batch, `maxFilesPerTrigger` caps by added
  // file count (snapshot-record arithmetic via addedEntryCountAt —
  // zero jobs; version granularity, so one batch may overshoot by at
  // most the last version's files). Delta's rate-limit contract
  // restated. Trigger.AvailableNow is first-class: the target version
  // is pinned once at prepare time, then the engine drains to it in
  // rate-limited batches and terminates.

  @volatile private var availableNowCap: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = table.currentVersion
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger > 0)
      ReadLimit.maxFiles(
        math.min(maxFilesPerTrigger, Int.MaxValue.toLong).toInt)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftTableOffset]
    val cur =
      if (availableNowCap >= 0)
        math.min(availableNowCap, table.currentVersion)
      else table.currentVersion
    // a pending initial snapshot seeds ALONE: the full-table batch is
    // indivisible, so deltas wait for the next trigger
    if (s.snap) return GraftTableOffset(s.version)
    if (cur <= s.version) return GraftTableOffset(s.version)
    var end = cur
    if (maxVersionsPerTrigger > 0)
      end = math.min(end, s.version + maxVersionsPerTrigger)
    if (maxFilesPerTrigger > 0 || maxBytesPerTrigger > 0) {
      val t = table
      var files = 0L
      var bytes = 0L
      var v = s.version + 1
      var chosen = s.version
      while (v <= end && (chosen == s.version ||
          ((maxFilesPerTrigger <= 0 || files < maxFilesPerTrigger) &&
           (maxBytesPerTrigger <= 0 || bytes < maxBytesPerTrigger)))) {
        if (maxFilesPerTrigger > 0) files += t.addedEntryCountAt(v)
        if (maxBytesPerTrigger > 0) bytes += t.addedBytesAt(v)
        chosen = v
        v += 1
      }
      end = chosen
    }
    GraftTableOffset(end)
  }

  /** `startingVersion=N, initialSnapshot=true` (VERDICT r12 #7 — the
    * restart verb the COW-rewrite refusal message promises): the
    * FIRST micro-batch materializes the full LIVE content of version
    * N (DV'd rows skipped, `_change_type='insert'` under the CDC
    * flag), and subsequent batches stream deltas from `(N, …]` — so a
    * feed refused at a rewrite resumes by re-seeding downstream state
    * instead of hand-rolling the catch-up. The snap marker lives only
    * in the initial offset; once the first batch commits, checkpoints
    * carry plain version offsets. */
  override def initialOffset(): Offset =
    GraftTableOffset(startingVersion,
      snap = initialSnapshot && startingVersion > 0)

  override def latestOffset(): Offset =
    GraftTableOffset(table.currentVersion)

  override def deserializeOffset(json: String): Offset =
    GraftTableOffset("\"version\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(sys.error(s"bad gtable offset: $json")),
      snap = json.contains("\"snap\":true"))

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val so = start.asInstanceOf[GraftTableOffset]
    val s0 = so.version
    val e0 = end.asInstanceOf[GraftTableOffset].version
    val t = table
    // initial-snapshot batch: full content of v s0 as inserts (live
    // rows only — DV ordinals ride dvPos and are skipped like any
    // batch read), then the normal delta walk from (s0, e0]
    val snapParts: Array[InputPartition] =
      if (!so.snap || s0 <= 0) Array.empty
      else {
        val dvMap = t.deletionVectors(s0).collect()
          .groupBy(_.getString(0))
          .map { case (p, rs) => p -> rs.map(_.getLong(1)).sorted }
        val m = t.manifest(s0)
        val szCol =
          if (m.columns.contains("size_bytes"))
            org.apache.spark.sql.functions
              .coalesce(col("size_bytes"), lit(-1L))
          else lit(-1L)
        val fileParts = m.select(col("path"), szCol).collect().map { r =>
          val rel = r.getString(0)
          (GraftTableFilePartition(s"${t.root}/$rel",
            dvPos = dvMap.getOrElse(rel, Array.empty),
            changeType = if (cdcFeed) "insert" else null),
            r.getLong(1))
        }
        // the snapshot batch is a full batch scan in disguise — the
        // same bin-packing/splitting applies (a re-seeded feed over a
        // micro-file table must not cost one task per file); chained
        // readers keep per-file changeType/DV semantics
        if (GraftTableSource.packEnabled)
          GraftTableSource.packPartitions(fileParts)
        else fileParts.map(_._1: InputPartition)
      }
    val inserts = snapParts ++ GraftTableSource.addedFiles(t, s0, e0)
      .map(f => GraftTableFilePartition(f,
        changeType = if (cdcFeed) "insert" else null): InputPartition)
    if (!cdcFeed) return inserts
    // CHANGE DATA FEED: also emit a 'delete' event for every row
    // whose (file, ordinal) joined the deletion vector inside
    // (s0, e0] — the streaming twin of readCdc, commit-kind-aware:
    // each data-changing commit contributes its OWN new DV entries
    // (its delta dirs), so a compaction inside the window emits
    // nothing and a COW rewrite refuses (addedFiles already walked
    // changeVersions). Window-deletes-sized; per-file sorted ordinals
    // ride the partitions and the emit-only reader materializes
    // exactly those rows. Streaming emits fold-equivalent insert/
    // delete for MERGE commits; the batch readCdc distinguishes
    // update_preimage/update_postimage.
    if (e0 <= 0) return inserts
    val dvNew =
      if (s0 <= 0) t.deletionVectors(e0) // initial snapshot
      else t.changeVersions(s0, e0).map(t.newDvEntriesAt)
        .reduceOption(_ unionByName _)
        .getOrElse(t.deletionVectors(e0).limit(0))
    val deletes = dvNew
      .groupBy(col("path"))
      .agg(org.apache.spark.sql.functions
        .sort_array(org.apache.spark.sql.functions.collect_list("pos"))
        .as("ps"))
      .collect()
      .map { r =>
        GraftTableFilePartition(s"$root/${r.getString(0)}",
          changeType = "delete",
          emitPos = r.getSeq[Long](1).toArray): InputPartition
      }
    inserts ++ deletes
  }

  // resolved ONCE at stream start (like `required` itself): a rename/
  // drop committed mid-stream must not retroactively re-map batches of
  // older versions — mid-stream evolution needs a stream restart, the
  // standard lakehouse-streaming contract
  private val streamL2p: Map[String, String] =
    GraftTableSource.logToPhys(root,
      graft.format.GraftTable.versionAt(root))

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftTableReaderFactory(root, required, streamL2p)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Per-file parquet reader on parquet-hadoop's Group API: reads THIS
  * file's footer (projection = required ∩ file schema, so old files
  * surface later-added columns as null), decodes only the projected
  * pages, and converts to Spark internal values. Scalar types only —
  * the format layer's tables are relational (SURVEY §1.3); nested
  * columns would route through the main parquet source. */
class GraftTableReaderFactory(root: String, required: StructType,
    l2p: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {

  import org.apache.spark.sql.vectorized.ColumnarBatch

  /** Physical (file) column name of a requested logical field —
    * identity unless the table was rename-evolved. Readers request
    * files by PHYSICAL name; batches/rows are positional, so the
    * scan's logical `readSchema` applies unchanged on top. */
  private def physOf(name: String): String = l2p.getOrElse(name, name)

  private def dataFields: Array[StructField] =
    required.fields.filterNot(f => f.name == "_file" ||
      f.name == "_pos" || f.name == "_change_type")

  /** ONE Hadoop conf per deserialized factory (= per task), shared by
    * every file the task's chained reader opens: the columnar conf is
    * file-independent, and even the template CLONE plus the requested-
    * schema JSON re-serialization cost ~100 µs per file — real money
    * at 2e4 chained micro-files (r14 bench). The vectorized reader
    * treats the conf read-only; files within a task open sequentially. */
  @transient private lazy val columnarConf = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    val conf = GraftParquetIO.freshConf
    // raw local FS: the checksummed default probes a .crc sidecar on
    // EVERY open (our format never writes them) — one failed stat per
    // micro-file; scheme'd paths are unaffected
    conf.set("fs.file.impl",
      classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    // request files' PHYSICAL columns (logical readSchema rides the
    // positional batch); Spark 4's vectorized reader also handles the
    // widening promotions (int32→long, float→double) the format allows
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      StructType(dataFields.map(f => f.copy(name = physOf(f.name)))).json)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat
      .READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf
  }

  /** VECTORIZED READ (VERDICT r9 missing #3): decode through Spark's
    * own `VectorizedParquetRecordReader` — columnar batches straight
    * off the pages, no per-row object conversion, the same ~10×
    * decode path Spark's native parquet scan gets. The requested
    * Spark schema rides the standard conf key, so schema evolution
    * (requested column absent from an old file) surfaces as null
    * vectors exactly like the native source; `_file` is attached as a
    * constant "partition" vector. Files carrying MOR deletion-vector
    * entries stay on this path too: [[DvFilteredBatchReader]] compacts
    * their batches (deleted ordinals dropped, survivors copied into
    * fresh vectors) so a sparse delete costs only the affected
    * batches, never the scan's decode mode. The row-at-a-time Group
    * reader remains the fallback for projection-free scans (pure
    * row-count reads) and `_pos` scans (a running ordinal is not a
    * constant vector). */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    !required.fieldNames.contains("_pos") &&
    !required.fieldNames.contains("_change_type") && // CDC: row reader
    (partition match {
      case p: GraftTablePackedPartition => p.parts.forall(_.emitPos.isEmpty)
      case p: GraftTableFilePartition => p.emitPos.isEmpty
    }) &&
    dataFields.nonEmpty && dataFields.forall(f => f.dataType match {
      case LongType | IntegerType | DoubleType | FloatType |
           BooleanType | StringType | BinaryType | DateType |
           TimestampType | TimestampNTZType | ShortType | ByteType =>
        true
      case _ => false
    })

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
    partition match {
      case p: GraftTablePackedPartition =>
        // packed partition: chain the per-file readers LAZILY — one
        // open file at a time, the same per-file DV/metadata handling
        return new GraftChainedReader[ColumnarBatch](
          p.parts.map(fp => () => createColumnarReader(fp)))
      case _ => ()
    }
    val fPart = partition.asInstanceOf[GraftTableFilePartition]
    val file = fPart.file
    val fileRel =
      UTF8String.fromString(file.stripPrefix(root).stripPrefix("/"))
    val metaFields = required.fields.filter(_.name == "_file")

    val conf = columnarConf

    // micro-files get right-sized batches: allocating 4096-slot
    // vectors per 50-row file is pure zeroing overhead at 2e4 files
    val cap =
      if (fPart.sizeBytes >= 0 && fPart.sizeBytes < 65536) 256
      else 4096
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ cap)
    val hPath = new org.apache.hadoop.fs.Path(file)
    val (splitOff, len) =
      if (fPart.splitLength >= 0L) (fPart.splitStart, fPart.splitLength)
      else if (fPart.sizeBytes >= 0L) (0L, fPart.sizeBytes)
      else (0L, hPath.getFileSystem(conf).getFileStatus(hPath).getLen)
    // the base reader casts to the old-API FileSplit (which extends
    // the mapreduce one)
    val split = new org.apache.hadoop.mapred
      .FileSplit(hPath, splitOff, len, Array.empty[String])
    val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
      new org.apache.hadoop.mapreduce.TaskID(
        new org.apache.hadoop.mapreduce.JobID("gtable", 0),
        org.apache.hadoop.mapreduce.TaskType.MAP, 0), 0)
    val ctx = new org.apache.hadoop.mapreduce.task
      .TaskAttemptContextImpl(conf, attempt)
    reader.initialize(split, ctx)
    reader.initBatch(StructType(metaFields),
      InternalRow.fromSeq(metaFields.toIndexedSeq.map(_ => fileRel)))
    reader.enableReturningBatches()

    val inner = new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = reader.nextKeyValue()
      override def get(): ColumnarBatch =
        reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      override def close(): Unit = reader.close()
    }
    val dvPos = fPart.dvPos
    if (dvPos.isEmpty) inner
    else {
      // DV ordinals are FILE-global; a split's first batch row is the
      // ordinal count of the row groups before the range (the same
      // midpoint rule the range read selects by) — one footer read,
      // paid only by DV'd splits
      val base =
        if (fPart.splitLength < 0L || fPart.splitStart == 0L) 0L
        else GraftTableSource.rowsBeforeOffset(hPath, conf,
          fPart.splitStart)
      new DvFilteredBatchReader(inner,
        StructType(dataFields ++ metaFields), dvPos, base)
    }
  }

  /** Columnar merge-on-read: compacts a batch against THIS file's
    * sorted deleted-ordinal array. Batches arrive in file order from a
    * single whole-file split, so a running base ordinal maps batch row
    * i to file ordinal base+i; two binary searches locate the DV slice
    * that overlaps the batch. Batches with no overlap (the common case
    * for a sparse delete — DV entries cluster in few row groups) pass
    * through with ZERO copies; overlapping batches have their
    * survivors copied into fresh on-heap vectors via per-column typed
    * copiers. This is what keeps a 0.1% MOR delete from degrading a
    * full-table scan to row-at-a-time decode. */
  private class DvFilteredBatchReader(
      inner: PartitionReader[ColumnarBatch],
      schema: StructType,
      dvPos: Array[Long],
      baseStart: Long = 0L) extends PartitionReader[ColumnarBatch] {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

    private var base = baseStart        // file ordinal of current batch's row 0
    private var owned: ColumnarBatch = _ // last compacted batch (vectors ours)

    // per-column typed copier: (srcVec, srcRow, dstVec, dstRow)
    private val copiers:
        Array[(ColumnVector, Int, OnHeapColumnVector, Int) => Unit] =
      schema.fields.map { f =>
        f.dataType match {
          case LongType | TimestampType | TimestampNTZType =>
            (s, i, d, j) => d.putLong(j, s.getLong(i))
          case IntegerType | DateType =>
            (s, i, d, j) => d.putInt(j, s.getInt(i))
          case DoubleType => (s, i, d, j) => d.putDouble(j, s.getDouble(i))
          case FloatType => (s, i, d, j) => d.putFloat(j, s.getFloat(i))
          case BooleanType => (s, i, d, j) => d.putBoolean(j, s.getBoolean(i))
          case ShortType => (s, i, d, j) => d.putShort(j, s.getShort(i))
          case ByteType => (s, i, d, j) => d.putByte(j, s.getByte(i))
          case StringType =>
            (s, i, d, j) => { d.putByteArray(j, s.getUTF8String(i).getBytes); () }
          case BinaryType =>
            (s, i, d, j) => { d.putByteArray(j, s.getBinary(i)); () }
          case other => sys.error(
            s"gtable columnar DV filter: unsupported type $other")
        }
      }

    // first index in dvPos whose value is >= x
    private def lower(x: Long): Int = {
      var lo = 0; var hi = dvPos.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (dvPos(m) < x) lo = m + 1 else hi = m
      }
      lo
    }

    override def next(): Boolean = inner.next()

    override def get(): ColumnarBatch = {
      val b = inner.get()
      val n = b.numRows()
      val start = base; base += n
      val lo = lower(start); val hi = lower(start + n)
      if (lo == hi) return b // no deleted ordinal in range: pass through
      if (owned != null) { owned.close(); owned = null }
      val kept = n - (hi - lo)
      val vecs = OnHeapColumnVector.allocateColumns(kept, schema)
      var i = 0; var j = 0; var d = lo
      while (i < n) {
        if (d < hi && dvPos(d) == start + i) d += 1 // logically deleted
        else {
          var c = 0
          while (c < vecs.length) {
            val sv = b.column(c)
            if (sv.isNullAt(i)) vecs(c).putNull(j)
            else copiers(c)(sv, i, vecs(c), j)
            c += 1
          }
          j += 1
        }
        i += 1
      }
      owned = new ColumnarBatch(vecs.map(v => v: ColumnVector), kept)
      owned
    }

    override def close(): Unit = {
      if (owned != null) { owned.close(); owned = null }
      inner.close()
    }
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    partition match {
      case pk: GraftTablePackedPartition =>
        return new GraftChainedReader[InternalRow](
          pk.parts.map(fp => () => createReader(fp)))
      case _ => ()
    }
    val p = partition.asInstanceOf[GraftTableFilePartition]
    val file = p.file
    // deleted row ordinals of THIS file (sorted) — skipped during the
    // sequential decode with one pointer, no lookups
    val dvPos = p.dvPos
    // CDC delete partitions INVERT the walk: emit ONLY these sorted
    // ordinals (the rows whose deletion landed in the stream window),
    // stopping as soon as the last one is out
    val emitPos = p.emitPos
    // `_change_type` constant for CDC scans; `_file` metadata value:
    // the file's root-relative path — per-row constants, no pages
    // decoded for either
    val changeTypeU8: UTF8String =
      if (p.changeType == null) null
      else UTF8String.fromString(p.changeType)
    val fileRel: UTF8String =
      UTF8String.fromString(file.stripPrefix(root).stripPrefix("/"))
    new PartitionReader[InternalRow] {
      import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
      import org.apache.parquet.hadoop.example.GroupReadSupport
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.example.data.Group
      import org.apache.parquet.schema.MessageType

      // template clone — never the 10-20 ms default-XML parse a bare
      // `new Configuration()` pays per micro-file (r14 bench)
      private val conf = {
        val c = GraftParquetIO.freshConf
        // raw local FS — see createColumnarReader (no .crc sidecars)
        c.set("fs.file.impl",
          classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
        c
      }
      private val hPath = new org.apache.hadoop.fs.Path(file)

      // projection: required columns present in THIS file's schema;
      // for a SPLIT partition also the split's starting row ordinal
      // and row count (row groups assigned by the midpoint rule, so
      // DV skipping and `_pos` stay file-global)
      private val (fileSchema: MessageType, baseRows: Long,
          splitRows: Long) = {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(hPath, conf))
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          if (p.splitLength < 0L) (schema, 0L, r.getRecordCount)
          else {
            var before = 0L; var in = 0L
            r.getFooter.getBlocks.forEach { b =>
              val mid = b.getStartingPos + b.getCompressedSize / 2
              if (mid < p.splitStart) before += b.getRowCount
              else if (mid < p.splitStart + p.splitLength)
                in += b.getRowCount
            }
            (schema, before, in)
          }
        } finally r.close()
      }
      // 0 = present in this file, 1 = absent (schema evolution →
      // null), 2 = the `_file` metadata column (per-file constant),
      // 3 = the `_pos` metadata column (running row ordinal)
      private val kind: Array[Int] = required.fields.map { f =>
        if (f.name == "_file") 2
        else if (f.name == "_pos") 3
        else if (f.name == "_change_type") 4 // CDC constant column
        else if (fileSchema.containsField(physOf(f.name))) 0
        else 1
      }
      private val projected = new MessageType("spark_schema",
        required.fields.iterator.zip(kind.iterator)
          .collect { case (f, 0) =>
            fileSchema.getType(
              fileSchema.getFieldIndex(physOf(f.name))) }
          .toSeq.asJava: java.util.List[org.apache.parquet.schema.Type])
      locally {
        conf.set(org.apache.parquet.hadoop.api.ReadSupport
          .PARQUET_READ_SCHEMA, projected.toString)
      }
      // If the file holds NONE of the required columns (projection
      // empty — a pure count, a metadata-only projection, or every
      // requested column post-dates this file), parquet would return
      // zero rows for an empty read schema. The correct answer is one
      // row per live footer row — no pages decoded; `_pos` still runs
      // its ordinal (skipping DV entries) so metadata-only scans stay
      // exact.
      private val emptyProjection = projected.getFieldCount == 0

      private val reader: ParquetReader[Group] =
        if (emptyProjection) null
        else {
          val b = ParquetReader
            .builder(new GroupReadSupport(), hPath).withConf(conf)
          (if (p.splitLength >= 0L)
            b.withFileRange(p.splitStart, p.splitStart + p.splitLength)
          else b).build()
        }

      private var row: InternalRow = _

      private def convert(g: Group, name: String, dt: DataType): Any = {
        val idx = g.getType.getFieldIndex(name)
        if (g.getFieldRepetitionCount(idx) == 0) return null
        dt match {
          // ARRAY columns (r15: embedding vectors through the change
          // feed — the q257 semantic-dedup ingest): Spark's
          // ParquetWriteSupport (our write path) encodes the standard
          // 3-level LIST layout `optional group <name> (LIST) {
          // repeated group list { optional <prim> element } }`, so
          // the element group decodes through the same scalar cases.
          // Nested arrays stay unsupported (the writer rejects them).
          case ArrayType(et, _) =>
            val lst = g.getGroup(idx, 0)
            val n = lst.getFieldRepetitionCount(0)
            val out = new Array[Any](n)
            var k = 0
            while (k < n) {
              val e = lst.getGroup(0, k)
              out(k) =
                if (e.getFieldRepetitionCount(0) == 0) null
                else convertPrim(e, 0, et)
              k += 1
            }
            new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
          case _ => convertPrim(g, idx, dt)
        }
      }

      private def convertPrim(g: Group, idx: Int, dt: DataType): Any = {
        // widening-tolerant integral/fp decode: after a type-widening
        // evolution, old files keep the NARROW physical type while the
        // requested type is the wide one — read what the page holds,
        // promote in memory (Iceberg's promotion rule)
        def fileInt32: Boolean =
          g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32
        def fileFloat: Boolean =
          g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT
        dt match {
          case LongType =>
            if (fileInt32) g.getInteger(idx, 0).toLong else g.getLong(idx, 0)
          case IntegerType => g.getInteger(idx, 0)
          case DoubleType =>
            if (fileFloat) g.getFloat(idx, 0).toDouble else g.getDouble(idx, 0)
          case FloatType => g.getFloat(idx, 0)
          case BooleanType => g.getBoolean(idx, 0)
          case StringType =>
            UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
          case DateType => g.getInteger(idx, 0) // parquet DATE = days
          case ShortType => g.getInteger(idx, 0).toShort
          case ByteType => g.getInteger(idx, 0).toByte
          case BinaryType => g.getBinary(idx, 0).getBytes
          case TimestampType | TimestampNTZType =>
            val prim = g.getType.getType(idx).asPrimitiveType()
            prim.getPrimitiveTypeName match {
              case org.apache.parquet.schema.PrimitiveType
                  .PrimitiveTypeName.INT96 =>
                // 12 bytes: nanos-of-day (LE int64) + julian day (LE int32)
                val b = java.nio.ByteBuffer
                  .wrap(g.getInt96(idx, 0).getBytes)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                val nanos = b.getLong; val julian = b.getInt
                (julian - 2440588L) * 86400000000L + nanos / 1000L
              case _ =>
                val unit = prim.getLogicalTypeAnnotation match {
                  case ts: org.apache.parquet.schema
                      .LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                    => ts.getUnit
                  case _ => org.apache.parquet.schema
                      .LogicalTypeAnnotation.TimeUnit.MICROS
                }
                val v = g.getLong(idx, 0)
                unit match {
                  case org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimeUnit.MILLIS => v * 1000L
                  case org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimeUnit.NANOS => v / 1000L
                  case _ => v
                }
            }
          case other => sys.error(
            s"gtable v2 reader: unsupported type $other for " +
              s"${g.getType.getFieldName(idx)}")
        }
      }

      // sequential row ordinal (file-global — a split starts at its
      // preceding row groups' count) + pointers into the sorted DV /
      // emit-only ordinal arrays, advanced past the ordinals that
      // belong to earlier splits
      private var rowPos: Long = baseRows - 1L
      private def lowerBound(a: Array[Long], x: Long): Int = {
        var lo = 0; var hi = a.length
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (a(m) < x) lo = m + 1 else hi = m
        }
        lo
      }
      private var dvIdx: Int = lowerBound(dvPos, baseRows)
      private var emitIdx: Int = lowerBound(emitPos, baseRows)
      private val emitOnly = emitPos.nonEmpty

      override def next(): Boolean = {
        // emit-only (CDC delete) walk: done once the last target
        // ordinal is emitted — no need to decode the file's tail
        if (emitOnly && emitIdx >= emitPos.length) return false
        while (true) {
          // advance one physical row: decoded, or footer-counted when
          // the projection is empty (kind 0 can't occur then)
          var g: Group = null
          if (emptyProjection) {
            if (rowPos + 1 >= baseRows + splitRows) return false
          } else {
            g = reader.read()
            if (g == null) return false
          }
          rowPos += 1
          val emit =
            if (emitOnly) {
              if (emitIdx < emitPos.length && emitPos(emitIdx) == rowPos) {
                emitIdx += 1; true
              } else false
            } else if (dvIdx < dvPos.length && dvPos(dvIdx) == rowPos) {
              dvIdx += 1; false // logically deleted: skip
            } else true
          if (emit) {
            val values = required.fields.iterator.zip(kind.iterator).map {
              case (f, 0) => convert(g, physOf(f.name), f.dataType)
              case (_, 1) => null // schema evolution: pre-column file
              case (_, 2) => fileRel // `_file` metadata column
              case (_, 4) => changeTypeU8 // CDC `_change_type`
              case (_, _) => rowPos // `_pos` metadata column
            }.toIndexedSeq
            row = InternalRow.fromSeq(values)
            return true
          }
          if (emitOnly && emitIdx >= emitPos.length) return false
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}
