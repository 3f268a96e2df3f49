package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The EXECUTOR-SIDE write path for the gtable connector: a real DSv2
  * `BatchWrite` whose `DataWriter`s run on executors, write parquet
  * directly (parquet-hadoop Group API, the write twin of
  * [[GraftTableReaderFactory]]), and carry per-file ROW COUNTS and
  * typed MIN/MAX envelopes back to the driver inside their commit
  * messages — so the manifest entries for a distributed write cost
  * ZERO extra passes over the data (the V1 path re-reads written
  * files for one stats aggregate; here stats ride the write itself).
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

  /** The (bloom columns present in this write's schema, recorded bloom
    * width) of an existing table — what a distributed writer needs to
    * keep maintaining the table's index. (Nil, 0) when the table has
    * no commits or no index; the width probe is one small manifest
    * job, paid once per write. */
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

  def bloomConfig(root: String, writeSchema: StructType)
      : (Seq[String], Int) =
    if (graft.format.GraftTable.versionAt(root) == 0) (Nil, 0)
    else {
      val t = graft.format.GraftTable.forPath(SparkSession.active, root)
      val cols = t.bloomCols.filter(writeSchema.fieldNames.contains)
      if (cols.isEmpty) (Nil, 0) else (cols, t.bloomBits)
    }

  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  /** Spark scalar schema → parquet message type, with the logical
    * annotations Spark's own parquet writer would emit (so files this
    * path writes are indistinguishable to any reader — including
    * Spark's vectorized scan and the DuckDB oracle). */
  /** A parquet-hadoop writer that consumes Spark [[InternalRow]]s
    * through Spark's OWN public `ParquetWriteSupport` — the same
    * record-consumer Spark's native FileFormatWriter drives, so the
    * map-side-stats write path runs at engine-native throughput and
    * supports the full Spark type system. Rebase modes are pinned to
    * CORRECTED (proleptic Gregorian, Spark 3+ default) and timestamps
    * to INT64 micros, matching what `df.write.parquet` produces under
    * default session conf. */
  // `new Configuration()` parses the Hadoop default XML resources —
  // 10-20 ms, and the profiler showed it dominating micro-commit
  // manifest writes. The copy constructor clones a loaded template
  // in microseconds; every writer still gets its own mutable conf.
  private lazy val confTemplate = new org.apache.hadoop.conf.Configuration()

  /** A fresh mutable Hadoop conf cloned from the loaded template —
    * microseconds instead of the 10–20 ms XML parse. */
  def freshConf: org.apache.hadoop.conf.Configuration =
    new org.apache.hadoop.conf.Configuration(confTemplate)

  def internalRowWriter(path: String, schema: StructType)
      : org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    val conf = new org.apache.hadoop.conf.Configuration(confTemplate)
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

  /** Types the one-pass stats tracker compares — the gate for
    * [[graft.format.GraftTable]]'s one-pass write path applies this to
    * STATS columns (the writer itself, [[internalRowWriter]], handles
    * every Spark type). */
  def supportedScalar(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
        FloatType | BooleanType | StringType | BinaryType | DateType |
        TimestampType | TimestampNTZType => true
    case _ => false
  }

  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case LongType => Types.optional(INT64).named(f.name)
        case IntegerType => Types.optional(INT32).named(f.name)
        case ShortType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(16, true)).named(f.name)
        case ByteType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(8, true)).named(f.name)
        case DoubleType => Types.optional(DOUBLE).named(f.name)
        case FloatType => Types.optional(FLOAT).named(f.name)
        case BooleanType => Types.optional(BOOLEAN).named(f.name)
        case StringType => Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case BinaryType => Types.optional(BINARY).named(f.name)
        case DateType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case TimestampType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        case TimestampNTZType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(false,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        case other => sys.error(
          s"gtable v2 writer: unsupported type $other for ${f.name} " +
            "(scalar relational tables only)")
      }
      b.addField(t)
    }
    b.named("spark_schema")
  }

  /** Writers' commit messages → manifest-entry DataFrame (path,
    * row_count, typed min/max per stats column). Zero-row files are
    * deleted and never reach the manifest. Driver work is
    * message-count-sized. */
  def manifestEntries(spark: SparkSession, root: String,
      messages: Array[WriterCommitMessage], writeSchema: StructType,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    val all = messages.collect { case m: GraftWriteCommit => m }
    val (live, empty) = all.partition(_.rowCount > 0)
    empty.foreach(m => new java.io.File(s"$root/${m.relPath}").delete())

    def external(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (d: Int, DateType) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong))
      case (t: Long, TimestampType) =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(t)
      case (t: Long, TimestampNTZType) =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .microsToLocalDateTime(t)
      case (x, _) => x
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
    bloomCols: Seq[String] = Nil, bloomBits: Int = 0)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftDataWriter(root, commitDir,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      statsCols, partitionId, taskId, bloomCols, bloomBits)
}

/** One parquet file per (partition, task attempt); attempt-unique
  * names make speculative/retried tasks safe — only files named in a
  * COMMITTED message reach the manifest. */
class GraftDataWriter(root: String, commitDir: String,
    schema: StructType, statsCols: Seq[String],
    partitionId: Int, taskId: Long,
    bloomCols: Seq[String] = Nil, bloomBits: Int = 0)
    extends DataWriter[InternalRow] {

  private val fileName =
    f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID.toString.take(8)}.parquet"
  private val relPath = s"$commitDir/$fileName"

  // Spark's OWN parquet WriteSupport (public API): consumes
  // InternalRow directly with codegen'd field writers — no per-row
  // Group object building — at the throughput of Spark's native
  // FileFormatWriter, and with the full Spark type system (arrays,
  // maps, structs, decimals), not just scalars.
  private val writer =
    GraftParquetIO.internalRowWriter(s"$root/$relPath", schema)

  private var rows = 0L
  // stats envelope per stats column, tracked over INTERNAL values
  // (UTF8String for strings → binary collation order, matching the
  // manifest stats Spark's min/max would compute)
  private val statIdx: Array[Int] =
    statsCols.map(c => schema.fieldIndex(c)).toArray
  private val mins = Array.fill[Any](statIdx.length)(null)
  private val maxs = Array.fill[Any](statIdx.length)(null)
  // per-file null count per stats column — the STATS-PRESENT marker:
  // a null envelope with nulls == row_count is a genuinely-computed
  // all-null file, not a dir that predates the stats column, so
  // metadata-only MIN/MAX stays answerable (ADVICE r12)
  private val nullsArr = Array.fill[Long](statIdx.length)(0L)
  // per-file bloom maintenance rides the write too: the hash is the
  // SAME Catalyst XxHash64 the read side's probe literal folds through
  // (type-identical internal values → identical bits), so files
  // written by the SQL row-level / streaming paths keep the table's
  // index instead of degrading it to null
  private val bloomIdx: Array[Int] = bloomCols
    .filter(schema.fieldNames.contains).map(schema.fieldIndex).toArray
  private val bloomHash = bloomIdx.map(i =>
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.BoundReference(
        i, schema(i).dataType, schema(i).nullable)), 42L))
  private val blooms: Array[Array[Long]] =
    if (bloomBits <= 0) Array.empty
    else bloomIdx.map(_ => new Array[Long](bloomBits / 64))

  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int) => x < y
    case (x: Short, y: Short) => x < y
    case (x: Byte, y: Byte) => x < y
    // Double/Float via j.l.*.compare, NOT primitive '<': primitive
    // comparisons with NaN are always false, so NaN would never enter
    // the envelope and the zone maps would prune files that contain it.
    // java.lang ordering ranks NaN greatest — same as Spark SQL's —
    // so a NaN-bearing file records max=NaN and survives 'd = NaN'
    // and upper-range predicates. (-0.0 < 0.0 under this order is a
    // harmless widening of the envelope.)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) < 0
    case (x: Float, y: Float) => java.lang.Float.compare(x, y) < 0
    case (x: Boolean, y: Boolean) => !x && y
    case (x: UTF8String, y: UTF8String) => x.compareTo(y) < 0
    // unsigned lexicographic, shorter-prefix-first — Spark's
    // BinaryType ordering (PhysicalBinaryType)
    case (x: Array[Byte], y: Array[Byte]) =>
      var i = 0
      val n = math.min(x.length, y.length)
      var r = 0
      while (r == 0 && i < n) {
        r = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff); i += 1
      }
      (if (r == 0) x.length - y.length else r) < 0
    case (x, y) => sys.error(s"gtable stats: incomparable $x / $y")
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
    rows += 1
    var s = 0
    while (s < statIdx.length) {
      val ci = statIdx(s)
      if (row.isNullAt(ci)) nullsArr(s) += 1
      if (!row.isNullAt(ci)) {
        val v: Any = schema(ci).dataType match {
          case LongType | TimestampType | TimestampNTZType => row.getLong(ci)
          case IntegerType | DateType => row.getInt(ci)
          case ShortType => row.getShort(ci)
          case ByteType => row.getByte(ci)
          case DoubleType => row.getDouble(ci)
          case FloatType => row.getFloat(ci)
          case BooleanType => row.getBoolean(ci)
          case StringType => row.getUTF8String(ci).clone()
          case BinaryType => row.getBinary(ci).clone()
          case other => sys.error(s"gtable stats: unsupported $other")
        }
        if (mins(s) == null || lt(v, mins(s))) mins(s) = v
        if (maxs(s) == null || lt(maxs(s), v)) maxs(s) = v
      }
      s += 1
    }
    var bI = 0
    while (bI < blooms.length) {
      graft.functions.BloomFilterIndex.setBits(blooms(bI),
        bloomHash(bI).eval(row).asInstanceOf[Long])
      bI += 1
    }
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
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
    // the CBO sums for post-prune sizeInBytes. Local roots stat via
    // java.io (free); scheme'd roots through the Hadoop FS.
    val sizeBytes: Long = {
      val f = new java.io.File(s"$root/$relPath")
      if (f.isFile) f.length()
      else try {
        val p = new org.apache.hadoop.fs.Path(s"$root/$relPath")
        p.getFileSystem(GraftParquetIO.freshConf).getFileStatus(p).getLen
      } catch { case _: Exception => -1L }
    }
    GraftWriteCommit(relPath, rows, ext(mins), ext(maxs), blooms,
      nullsArr, sizeBytes, truncs)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Exception => () }
    new java.io.File(s"$root/$relPath").delete()
    ()
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

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/$commitDir"))
    new GraftDataWriterFactory(root, commitDir, physWrite.json,
      statsCols, bloomCols, bloomBits)
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

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case m: GraftWriteCommit => m }
      .foreach(m => new java.io.File(s"$root/${m.relPath}").delete())
    val d = new java.io.File(s"$root/$commitDir")
    Option(d.listFiles()).foreach(_.foreach(_.delete()))
    d.delete()
    ()
  }
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

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/$commitDir"))
    val schemaJson = physWrite.json
    val stats = statsCols
    val (bCols, bBits) = bloomConf
    val r = root
    val cd = commitDir
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new GraftDataWriter(r, cd,
          DataType.fromJson(schemaJson).asInstanceOf[StructType],
          stats, partitionId, taskId, bCols, bBits)
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
      messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case m: GraftWriteCommit => m }
      .foreach(m => new java.io.File(s"$root/${m.relPath}").delete())
    ()
  }
}
