package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** POSITION-DELTA row-level operations (`SupportsDelta`): SQL
  * MERGE / UPDATE / DELETE against a `delete.mode=mor` table commit a
  * DELETION VECTOR plus freshly-appended files instead of rewriting
  * every touched file — the connector twin of
  * [[graft.format.GraftTable.mergeMor]], driven by Spark's own
  * `WriteDelta` planner (the framework Iceberg's MOR mode rides).
  *
  * How it plans: the operation names `(_file, _pos)` as its ROW ID —
  * both are metadata columns this connector's scan produces natively
  * (per-file constant + running ordinal; parquet files are immutable,
  * so the pair is a stable row identity). Spark scans only the
  * matched side (manifest-pruned through the normal filter pushdown),
  * projects each matched row's id, and streams per-row callbacks to
  * the executor writers: `delete(id)` collects the pair, `update(id,
  * row)` collects the pair and writes the new row, `insert(row)`
  * writes the new row. The driver folds every writer's pairs into ONE
  * deletion vector and commits it with the new files' manifest
  * entries in one atomic snapshot.
  *
  * Cost model at 100 TB: a MERGE touching k rows across f files
  * writes O(k) new rows + O(k) DV entries, where the COW path
  * rewrites all f files end-to-end. The read-side price (DV
  * anti-join / ordinal skip) holds until `compact()` materializes
  * deletions away. Write-serializable like the COW path: the commit
  * fails loudly if the table advanced past the scanned version. */
class GraftDeltaOperation(root: String,
    private[sources] val tableVersion: Long,
    tableSchema: StructType, statsCols: Seq[String],
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  private[sources] def opName: String = cmd match {
    case RowLevelOperation.Command.DELETE => "delete_mor"
    case RowLevelOperation.Command.UPDATE => "update_mor"
    case _ => "merge_mor"
  }

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"gtable($root) MOR $cmd"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new GraftTableScanBuilder(root, tableVersion, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def description(): String =
          s"gtable($root) MOR $cmd delta-write"
        override def toBatch: DeltaBatchWrite =
          new GraftDeltaBatchWrite(root, info, statsCols,
            tableVersion, opName)
      }
    }
}

/** One collected (file, ordinal) pair set + the task's written file
  * (if it inserted anything), per executor writer. */
case class GraftDeltaCommit(deletes: Array[(String, Long)],
    file: Option[GraftWriteCommit]) extends WriterCommitMessage

class GraftDeltaBatchWrite(root: String, info: LogicalWriteInfo,
    statsCols: Seq[String], expectedParent: Long, opName: String)
    extends DeltaBatchWrite {

  private val commitDir =
    s"data/c${java.util.UUID.randomUUID.toString.take(8)}"
  private val dataSchema: StructType = info.schema()
  // files carry physical names on evolved tables (identity otherwise)
  private lazy val physData =
    GraftParquetIO.physSchema(root, dataSchema)
  private lazy val bloomConf =
    GraftParquetIO.bloomConfig(root, physData)
  private lazy val conf = GraftParquetIO.rootConf(root)
  private val rowIdSchema: StructType = info.rowIdSchema()
    .orElse(new StructType())

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo)
      : DeltaWriterFactory = {
    if (dataSchema.nonEmpty)
      GraftParquetIO.mkdirs(s"$root/$commitDir", conf)
    val r = root; val cd = commitDir; val c = conf
    val dJson = physData.json; val idJson = rowIdSchema.json
    val stats = statsCols
    val (bCols, bBits) =
      if (dataSchema.nonEmpty) bloomConf else (Nil, 0)
    new DeltaWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long)
          : DeltaWriter[InternalRow] =
        new GraftDeltaWriter(r, cd,
          DataType.fromJson(dJson).asInstanceOf[StructType],
          DataType.fromJson(idJson).asInstanceOf[StructType],
          stats, partitionId, taskId, bCols, bBits, c)
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val all = messages.collect { case m: GraftDeltaCommit => m }
    val fileMsgs = all.flatMap(_.file.toSeq)
    // a pure DELETE writes no files (and may have an empty data
    // schema, so the entry-schema can't even be built) — None keeps
    // the parent manifest untouched
    val entries =
      if (fileMsgs.isEmpty) None
      else Some(GraftParquetIO.manifestEntries(spark, root,
        fileMsgs.map(m => m: WriterCommitMessage), physData, statsCols,
        bloomConf._1))
    import spark.implicits._
    val deletes = all.flatMap(_.deletes).toSeq.toDF("path", "pos")
    graft.format.GraftTable.openOrCreate(spark, root, statsCols)
      .commitDeltaRows(opName, deletes, entries, expectedParent,
        newSchema = if (dataSchema.nonEmpty) Some(dataSchema) else None)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftParquetIO.delete(s"$root/$commitDir", conf)
}

/** Executor half: inserts ride the same stats-carrying parquet writer
  * as every other connector write; deletes collect this task's
  * matched row ids. An update is delete + insert in place. */
class GraftDeltaWriter(root: String, commitDir: String,
    dataSchema: StructType, rowIdSchema: StructType,
    statsCols: Seq[String], partitionId: Int, taskId: Long,
    bloomCols: Seq[String], bloomBits: Int,
    conf: Option[org.apache.spark.util.SerializableConfiguration])
    extends DeltaWriter[InternalRow] {

  private val fileIdx = rowIdSchema.fieldNames.indexOf("_file")
  private val posIdx = rowIdSchema.fieldNames.indexOf("_pos")
  require(fileIdx >= 0 && posIdx >= 0,
    s"gtable delta write: row id schema $rowIdSchema must carry " +
      "_file and _pos")

  private val deletes =
    scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
  private var inner: GraftDataWriter = null
  private def writer: GraftDataWriter = {
    if (inner == null)
      inner = new GraftDataWriter(root, commitDir, dataSchema,
        statsCols, partitionId, taskId, bloomCols, bloomBits, conf)
    inner
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    deletes += ((id.getUTF8String(fileIdx).toString, id.getLong(posIdx)))
    ()
  }

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = writer.write(row)

  override def commit(): WriterCommitMessage = {
    val fileMsg =
      if (inner == null) None
      else inner.commit() match {
        case m: GraftWriteCommit => Some(m)
        case _ => None
      }
    GraftDeltaCommit(deletes.toArray, fileMsg)
  }

  override def abort(): Unit = if (inner != null) inner.abort()
  override def close(): Unit = if (inner != null) inner.close()
}
