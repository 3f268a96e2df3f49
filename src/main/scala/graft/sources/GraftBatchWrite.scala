package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The one data writer of the table format: every commit's files —
  * `GraftTable`'s, the connector's row-level (`ReplaceDataExec`) and
  * delta writes, and the streaming sink's — are written by
  * [[GraftDataWriter]]s, which carry per-file ROW COUNTS, typed MIN/MAX
  * envelopes and blooms back to the driver inside their commit
  * messages, so a commit's manifest entries cost ZERO extra passes
  * over the data.
  *
  * Used by the row-level operation path (SQL MERGE/UPDATE/DELETE →
  * `ReplaceDataExec`, which requires a genuine `BatchWrite` — Spark
  * has no V1 fallback for replace-data). The commit REPLACES an
  * explicit file set: manifest(parent) minus the files the row-level
  * scan planned, plus the entries the writers produced, in ONE atomic
  * snapshot via the format's put-if-absent protocol. Task retries are
  * safe: each attempt writes a unique file, losers are reclaimed by
  * `abort` (and by vacuum's orphan collection if the driver dies).
  *
  * Scale: the per-file stats fold is map-side by construction (each
  * writer tracks its own envelope); the driver handles only
  * message-count-sized metadata. The reference has no table format at
  * all (SURVEY §1.2) — extension tier. */
case class GraftWriteCommit(relPath: String, rowCount: Long,
    mins: Array[Any], maxs: Array[Any],
    blooms: Array[Array[Long]] = Array.empty,
    nulls: Array[Long] = Array.empty,
    sizeBytes: Long = -1L,
    truncs: Array[Boolean] = Array.empty) extends WriterCommitMessage

object GraftParquetIO {

  /** Logical→PHYSICAL field renaming for executor writers on an
    * evolved table: data files must always carry physical names so
    * every file in the table agrees, whatever evolution happened in
    * between (reads map back). Identity for never-evolved tables.
    * Driver-side (factory creation), the writers get the translated
    * schema as JSON. */
  def physSchema(root: String,
      s: StructType): StructType = {
    val t = graft.format.GraftTable
      .forPath(org.apache.spark.sql.SparkSession.active, root)
    if (!t.isEvolved()) s
    else t.recordedSchema() match {
      case Some(rec) =>
        // same refusal as the V1 path (GraftTable.toPhysical): a NEW
        // column colliding with a used/dead physical name would write
        // under the stale name while the commit records a fresh one
        t.requireNoPhysCollision(s.fieldNames.toIndexedSeq)
        val m = rec.fields.map(f =>
          f.name.toLowerCase(java.util.Locale.ROOT) ->
            graft.format.GraftTable.physName(f)).toMap
        StructType(s.fields.map(f => f.copy(name = m.getOrElse(
          f.name.toLowerCase(java.util.Locale.ROOT), f.name))))
      case None => s
    }
  }

  /** The (bloom columns present in this write's schema, recorded bloom
    * width) of an existing table — what a distributed writer needs to
    * keep maintaining the table's index. (Nil, 0) when the table has
    * no commits or no index; the width probe is one small manifest
    * job, paid once per write. */
  def bloomConfig(root: String, writeSchema: StructType)
      : (Seq[String], Int) =
    if (graft.format.GraftTable.versionAt(root) == 0) (Nil, 0)
    else {
      val t = graft.format.GraftTable.forPath(SparkSession.active, root)
      val cols = t.bloomCols.filter(writeSchema.fieldNames.contains)
      if (cols.isEmpty) (Nil, 0) else (cols, t.bloomBits)
    }

  /** The active session's Hadoop conf for a root with a scheme
    * (`file://`, `s3a://`), shipped to writers so its credentials and
    * file-system bindings resolve the root's files; None for a plain
    * local path, which needs none. */
  def rootConf(root: String): Option[SerializableConfiguration] =
    if (!root.contains("://")) None
    else Some(new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf()))

  private[sources] def fsPath(path: String,
      conf: SerializableConfiguration) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(conf.value), p)
  }

  /** Creates `dir` and its parents. */
  def mkdirs(dir: String, conf: Option[SerializableConfiguration]): Unit =
    conf match {
      case None =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        ()
      case Some(c) => val (fs, p) = fsPath(dir, c); fs.mkdirs(p); ()
    }

  /** Deletes the file or dir at `path` (a dir with the files it holds). */
  def delete(path: String, conf: Option[SerializableConfiguration]): Unit =
    conf match {
      case None =>
        val f = new java.io.File(path)
        Option(f.listFiles()).foreach(_.foreach(_.delete()))
        f.delete()
        ()
      case Some(c) => val (fs, p) = fsPath(path, c); fs.delete(p, true); ()
    }

  // `new Configuration()` parses the Hadoop default XML resources —
  // 10-20 ms, and the profiler showed it dominating micro-commit
  // manifest writes. The copy constructor clones a loaded template
  // in microseconds; every writer still gets its own mutable conf.
  private lazy val confTemplate = new org.apache.hadoop.conf.Configuration()

  /** A fresh mutable Hadoop conf cloned from the loaded template —
    * microseconds instead of the 10–20 ms XML parse. */
  def freshConf: org.apache.hadoop.conf.Configuration =
    new org.apache.hadoop.conf.Configuration(confTemplate)

  /** A parquet-hadoop writer that consumes Spark [[InternalRow]]s
    * through Spark's OWN public `ParquetWriteSupport` — the same
    * record-consumer Spark's native FileFormatWriter drives, so the
    * map-side-stats write path runs at engine-native throughput and
    * supports the full Spark type system. Rebase modes are pinned to
    * CORRECTED (proleptic Gregorian, Spark 3+ default) and timestamps
    * to INT64 micros, matching what `df.write.parquet` produces under
    * default session conf. `sessionConf` ([[rootConf]]) resolves a
    * path with a scheme; a plain local path goes through the template. */
  def internalRowWriter(path: String, schema: StructType,
      sessionConf: Option[SerializableConfiguration] = None)
      : org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    val conf = new org.apache.hadoop.conf.Configuration(
      sessionConf.fold(confTemplate)(_.value))
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled",
      "false")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    class B(p: org.apache.hadoop.fs.Path)
        extends org.apache.parquet.hadoop.ParquetWriter.Builder[
          InternalRow, B](p) {
      override def self(): B = this
      override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
          : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
        new ParquetWriteSupport
    }
    // row-group size: default 128 MB; the system property lets tests
    // (and bulk loaders tuning group-level parallelism) shrink it —
    // split planning parallelizes at row-group granularity, so group
    // size bounds a single file's scan parallelism
    val rowGroupBytes = java.lang.Long.getLong(
      "graft.parquet.rowgroup.bytes",
      org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE.toLong)
    new B(new org.apache.hadoop.fs.Path(path))
      .withConf(conf)
      .withRowGroupSize(rowGroupBytes)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
  }

  /** Writers' commit messages → manifest-entry DataFrame (path,
    * row_count, typed min/max per stats column, one bloom per bloom
    * column). Zero-row files are deleted and never reach the manifest.
    * Driver work is message-count-sized. */
  def manifestEntries(spark: SparkSession, root: String,
      messages: Array[WriterCommitMessage], writeSchema: StructType,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    val all = messages.collect { case m: GraftWriteCommit => m }
    val (live, empty) = all.partition(_.rowCount > 0)
    if (empty.nonEmpty) {
      val conf = rootConf(root)
      empty.foreach(m => delete(s"$root/${m.relPath}", conf))
    }

    // strings arrive decoded (the writer's lossless-UTF-8 check);
    // every other envelope value is Catalyst-internal
    def external(v: Any, dt: DataType): Any = v match {
      case null | _: String => v
      case _ => CatalystTypeConverters.convertToScala(v, dt)
    }

    val entrySchema = StructType(
      StructField("path", StringType) ::
        StructField("row_count", LongType) ::
        StructField("size_bytes", LongType) ::
        (statsCols.toList.flatMap { c =>
          val dt = writeSchema(c).dataType
          StructField(s"min_$c", dt) :: StructField(s"max_$c", dt) ::
            StructField(s"nulls_$c", LongType) ::
            // truncation marker only for the types that truncate
            (if (dt == StringType || dt == BinaryType)
              StructField(s"trunc_$c", BooleanType) :: Nil
            else Nil)
        } ++ bloomCols.toList.map(c =>
          StructField(s"bloom_$c", ArrayType(LongType)))))
    val rows: java.util.List[Row] = live.map { m =>
      Row.fromSeq((m.relPath +: m.rowCount +:
        (if (m.sizeBytes >= 0) m.sizeBytes else null) +:
        statsCols.toIndexedSeq.zipWithIndex.flatMap { case (c, i) =>
          val dt = writeSchema(c).dataType
          Seq(external(m.mins(i), dt), external(m.maxs(i), dt),
            if (i < m.nulls.length) m.nulls(i) else null) ++
            (if (dt == StringType || dt == BinaryType)
              Seq(if (i < m.truncs.length) m.truncs(i) else false)
            else Nil)
        }) ++ bloomCols.indices.map(i =>
          if (i < m.blooms.length && m.blooms(i) != null)
            m.blooms(i).toSeq
          else null))
    }.toList.asJava
    spark.createDataFrame(rows, entrySchema)
  }
}

class GraftDataWriterFactory(root: String, commitDir: String,
    schemaJson: String, statsCols: Seq[String],
    bloomCols: Seq[String], bloomBits: Int,
    conf: Option[SerializableConfiguration])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftDataWriter(root, commitDir,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      statsCols, partitionId, taskId, bloomCols, bloomBits, conf)
}

/** One parquet file per (partition, task attempt); attempt-unique
  * names make speculative/retried tasks safe — only files named in a
  * COMMITTED message reach the manifest. Every column of `statsCols`
  * and `bloomCols` must be in `schema`; `bloomBits` is the declared
  * bloom width, a floor ([[graft.functions.BloomFilterIndex.bitsFor]]);
  * `conf` ([[GraftParquetIO.rootConf]]) resolves a root with a scheme. */
class GraftDataWriter(root: String, commitDir: String,
    schema: StructType, statsCols: Seq[String],
    partitionId: Int, taskId: Long,
    bloomCols: Seq[String] = Nil, bloomBits: Int = 0,
    conf: Option[SerializableConfiguration] = None)
    extends DataWriter[InternalRow] {
  import graft.functions.BloomFilterIndex

  private val fileName =
    f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID.toString.take(8)}.parquet"
  private val relPath = s"$commitDir/$fileName"

  // Spark's OWN parquet WriteSupport (public API): consumes
  // InternalRow directly with codegen'd field writers — no per-row
  // Group object building — at the throughput of Spark's native
  // FileFormatWriter, and with the full Spark type system (arrays,
  // maps, structs, decimals), not just scalars.
  private val writer =
    GraftParquetIO.internalRowWriter(s"$root/$relPath", schema, conf)

  private var rows = 0L
  // stats envelope per stats column, tracked over INTERNAL values by
  // the column type's interpreted ordering — Spark SQL's own (binary
  // collation for strings, unsigned bytes for binary, NaN greatest),
  // the one the zone maps test against
  private val statIdx: Array[Int] =
    statsCols.map(c => schema.fieldIndex(c)).toArray
  private val statGet = statIdx.map(i =>
    InternalRow.getAccessor(schema(i).dataType, nullable = false))
  private val statOrd = statIdx.map(i =>
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(schema(i).dataType))
  private val mins = Array.fill[Any](statIdx.length)(null)
  private val maxs = Array.fill[Any](statIdx.length)(null)
  // per-file null count per stats column — the STATS-PRESENT marker:
  // a null envelope with nulls == row_count is a genuinely-computed
  // all-null file, not a dir that predates the stats column, so
  // metadata-only MIN/MAX stays answerable (ADVICE r12)
  private val nullsArr = Array.fill[Long](statIdx.length)(0L)
  // per-file bloom maintenance rides the write too: the hash is the
  // SAME Catalyst XxHash64 the read side's probe literal folds through
  // (type-identical internal values → identical bits). The width
  // follows the file's own row count (BloomFilterIndex.bitsFor), so it
  // is known when the file closes: until then each column buffers its
  // hashes, 8 B a row, and once the width reaches its cap (10·rows
  // past MaxBits, or a declared width at or above it) the bits are set
  // in place and the buffer is dropped.
  private val bloomHash = bloomCols.map { c =>
    val i = schema.fieldIndex(c)
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.BoundReference(
        i, schema(i).dataType, schema(i).nullable)), 42L)
  }.toArray
  private val bloomCap = math.max(bloomBits, BloomFilterIndex.MaxBits)
  private var hashes = Array.fill(bloomHash.length)(new Array[Long](64))
  private var blooms: Array[Array[Long]] = null

  private def settleBlooms(bits: Int): Unit = {
    blooms = hashes.map { hs =>
      val b = new Array[Long](bits / 64)
      var i = 0L
      while (i < rows) { BloomFilterIndex.setBits(b, hs(i.toInt)); i += 1 }
      b
    }
    hashes = null
  }

  /** Metadata-aware variant (Spark's DataAndMetadataWritingSparkTask
    * hands carry-over rows as (metadata, data)): the gtable rewrite
    * needs only the data half — the replace set comes from the scan's
    * planned files, not per-row metadata. */
  override def write(meta: InternalRow, row: InternalRow): Unit =
    write(row)

  override def write(row: InternalRow): Unit = {
    require(row.numFields == schema.length,
      s"gtable writer: row arity ${row.numFields} != schema " +
        s"${schema.length} — unprojected rewrite row reached the writer")
    writer.write(row)
    var s = 0
    while (s < statIdx.length) {
      val ci = statIdx(s)
      if (row.isNullAt(ci)) nullsArr(s) += 1
      else {
        val v = statGet(s)(row, ci)
        if (mins(s) == null || statOrd(s).lt(v, mins(s)))
          mins(s) = InternalRow.copyValue(v)
        if (maxs(s) == null || statOrd(s).gt(v, maxs(s)))
          maxs(s) = InternalRow.copyValue(v)
      }
      s += 1
    }
    var b = 0
    while (b < bloomHash.length) {
      val h = bloomHash(b).eval(row).asInstanceOf[Long]
      if (blooms != null) BloomFilterIndex.setBits(blooms(b), h)
      else {
        if (rows == hashes(b).length)
          hashes(b) = java.util.Arrays.copyOf(hashes(b), 2 * hashes(b).length)
        hashes(b)(rows.toInt) = h
      }
      b += 1
    }
    rows += 1
    if (blooms == null && bloomHash.nonEmpty &&
        BloomFilterIndex.bitsFor(rows, bloomBits) == bloomCap)
      settleBlooms(bloomCap)
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    if (blooms == null)
      settleBlooms(BloomFilterIndex.bitsFor(rows, bloomBits))
    // bounded string/binary envelopes (round 13 — see
    // [[graft.format.StatsTrunc]]): applied once at commit so the
    // per-row tracker stays comparison-only; the flag marks the
    // envelope as valid-but-inexact for metadata-aggregate consumers
    val truncs = new Array[Boolean](statIdx.length)
    var ts = 0
    while (ts < statIdx.length) {
      (mins(ts), maxs(ts)) match {
        case (mn: UTF8String, mx: UTF8String) =>
          val (a, f1) = graft.format.StatsTrunc.minUtf8(mn)
          val (b, f2) = graft.format.StatsTrunc.maxUtf8(mx)
          mins(ts) = a; maxs(ts) = b; truncs(ts) = f1 || f2
        case (mn: Array[Byte], mx: Array[Byte]) =>
          val (a, f1) = graft.format.StatsTrunc.minBin(mn)
          val (b, f2) = graft.format.StatsTrunc.maxBin(mx)
          mins(ts) = a; maxs(ts) = b; truncs(ts) = f1 || f2
        case _ => ()
      }
      ts += 1
    }
    // UTF8String → String for the serialized message. The decode is
    // verified by re-encoding: invalid UTF-8 (which Spark stores and
    // compares byte-exactly but java.lang.String replaces with
    // U+FFFD) cannot ride the String channel without corrupting the
    // bound — such a column's envelope is dropped to null (null =
    // unknown = pruning probes the file, always safe) and flagged
    // inexact so metadata MIN/MAX declines it too (ADVICE r13).
    var lossyI = 0
    while (lossyI < statIdx.length) {
      def lossy(v: Any): Boolean = v match {
        case u: UTF8String =>
          !java.util.Arrays.equals(u.getBytes, u.toString.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
        case _ => false
      }
      if (lossy(mins(lossyI)) || lossy(maxs(lossyI))) {
        mins(lossyI) = null; maxs(lossyI) = null
        truncs(lossyI) = true
      }
      lossyI += 1
    }
    def ext(a: Array[Any]): Array[Any] = a.map {
      case u: UTF8String => u.toString
      case x => x
    }
    // the file's on-disk size rides the commit message → manifest
    // `size_bytes`, which planning bin-packs scan partitions by and
    // the CBO sums for post-prune sizeInBytes
    val path = s"$root/$relPath"
    val sizeBytes: Long = conf match {
      case None =>
        val f = new java.io.File(path)
        if (f.isFile) f.length() else -1L
      case Some(c) =>
        try { val (fs, p) = GraftParquetIO.fsPath(path, c)
          fs.getFileStatus(p).getLen }
        catch { case _: java.io.IOException => -1L }
    }
    GraftWriteCommit(relPath, rows, ext(mins), ext(maxs), blooms,
      nullsArr, sizeBytes, truncs)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Exception => () }
    GraftParquetIO.delete(s"$root/$relPath", conf)
  }

  override def close(): Unit = ()
}

/** Driver half: collect the writers' (path, count, envelope) messages
  * into manifest entries and commit ONE atomic replace-files snapshot
  * against the version the row-level scan planned. A concurrent
  * commit in between fails the operation loudly (write-serializable —
  * never silently merges over moved ground). */
class GraftReplaceFilesBatchWrite(root: String, writeSchema: StructType,
    statsCols: Seq[String], op: GraftRowLevelOperation)
    extends BatchWrite {

  private val commitDir =
    s"data/c${java.util.UUID.randomUUID.toString.take(8)}"

  // files carry PHYSICAL names on evolved tables (identity otherwise);
  // the RECORDED schema commits under the logical names
  private lazy val physWrite =
    GraftParquetIO.physSchema(root, writeSchema)
  private lazy val (bloomCols, bloomBits) =
    GraftParquetIO.bloomConfig(root, physWrite)
  private lazy val conf = GraftParquetIO.rootConf(root)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    GraftParquetIO.mkdirs(s"$root/$commitDir", conf)
    new GraftDataWriterFactory(root, commitDir, physWrite.json,
      statsCols, bloomCols, bloomBits, conf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val entries = GraftParquetIO.manifestEntries(spark, root, messages,
      physWrite, statsCols, bloomCols)
    graft.format.GraftTable.openOrCreate(spark, root, statsCols)
      .commitReplaceFiles(op.opName, op.scannedFiles.toSeq, entries,
        expectedParent = op.tableVersion, newSchema = Some(writeSchema))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftParquetIO.delete(s"$root/$commitDir", conf)
}

/** `df.writeStream.format("gtable").start(root)` — the STREAMING half
  * of the connector write path. Every micro-batch commits ONE atomic
  * snapshot whose applied-batch ledger carries the epoch id in the
  * same put-if-absent create as the data — `foreachBatch` +
  * [[graft.format.GraftTable.appendIfAbsent]] (q210), promoted to a
  * first-class sink: a replayed epoch (restart, retry, AvailableNow
  * rerun over the same checkpoint) is recognized by the ledger and
  * skipped, so the sink is EXACTLY-ONCE end to end. Executor writers
  * are the same stats-carrying parquet writers as the batch path. */
class GraftStreamingWrite(root: String, writeSchema: StructType,
    statsCols: Seq[String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val commitDir =
    s"data/c${java.util.UUID.randomUUID.toString.take(8)}"

  private lazy val physWrite =
    GraftParquetIO.physSchema(root, writeSchema)
  private lazy val bloomConf =
    GraftParquetIO.bloomConfig(root, physWrite)
  private lazy val conf = GraftParquetIO.rootConf(root)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    GraftParquetIO.mkdirs(s"$root/$commitDir", conf)
    val batch = new GraftDataWriterFactory(root, commitDir,
      physWrite.json, statsCols, bloomConf._1, bloomConf._2, conf)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        batch.createWriter(partitionId, taskId)
    }
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val entries = GraftParquetIO.manifestEntries(spark, root, messages,
      physWrite, statsCols, bloomConf._1)
    graft.format.GraftTable.openOrCreate(spark, root, statsCols)
      .commitAppendFiles(entries, batchId = Some(epochId),
        newSchema = Some(writeSchema))
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftWriteCommit => m }
      .foreach(m => GraftParquetIO.delete(s"$root/${m.relPath}", conf))
}
