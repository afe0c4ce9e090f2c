package graft.sources.v2

import java.io.IOException
import java.util.{Map => JMap, UUID}

import org.apache.hadoop.fs.Path

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.GraftOutputMetrics
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{
  BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage
}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 WRITE path for the reference engine's output format —
  * `"<key> <value>\n"` text lines (main.cpp:171) — the sink counterpart of
  * [[DocV2Source]], completing the connector pair:
  *
  *  - `df.write.format("graft-kv").save(dir)` appends; `.mode("overwrite")`
  *    truncates first ([[SupportsTruncate]]);
  *  - writers stream rows straight to per-task files under a hidden
  *    `_temporary/<uuid>` directory; the driver's `commit` renames each
  *    task file into place only after EVERY task has succeeded, so
  *    failed/speculative duplicate tasks can never leave partial output
  *    (rename-based two-phase commit — the same contract Spark's file
  *    sources use);
  *  - all I/O goes through the Hadoop FileSystem API, so the sink works
  *    unchanged against HDFS/S3A/local paths at cluster scale. The Hadoop
  *    conf is the session's (`sessionState.newHadoopConf()`, so
  *    `spark.hadoop.*` and session-only settings apply) and reaches the
  *    writers as the one broadcast [[SessionHadoopConf]] holds per conf
  *    content, not inside the writer factory, where each task deserialized
  *    the whole 112 KB conf;
  *  - each writer records its bytes and rows in the task's output metrics;
  *  - one output file per partition: the file count tracks the upstream
  *    partitioning (the scale path), while a single file is `coalesce(1)`
  *    upstream. [[graft.sources.TextSink]] writes both of its modes
  *    through this sink.
  *
  * Schema contract: exactly (key: string, value: int|long) — validated at
  * planning time, not discovered row-by-row at runtime.
  */
class KvV2Sink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kv"
  // reads are not supported; the format is line text — read it back with
  // spark.read.text or DocSource. inferSchema exists only to satisfy the
  // provider contract when no schema is supplied.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KvV2Sink.kvSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new KvTable(schema, properties.get("path"))
  override def supportsExternalMetadata(): Boolean = true
}

object KvV2Sink {
  val kvSchema: StructType = new StructType()
    .add("key", StringType, nullable = true)
    .add("value", LongType, nullable = true)

  private[v2] def validate(schema: StructType): Unit = {
    require(schema.fields.length == 2,
      s"graft-kv expects exactly (key string, value int/long), got $schema")
    require(schema.fields(0).dataType == StringType,
      s"graft-kv column 1 must be string, got ${schema.fields(0).dataType}")
    require(schema.fields(1).dataType == LongType ||
      schema.fields(1).dataType == IntegerType,
      s"graft-kv column 2 must be int or long, got ${schema.fields(1).dataType}")
  }
}

private[v2] class KvTable(tableSchema: StructType, path: String)
    extends Table with SupportsWrite {
  require(path != null, "graft-kv requires a path (…save(dir))")
  override def name(): String = s"graft-kv(`$path`)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KvWriteBuilder(path, info)
}

private[v2] class KvWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    KvV2Sink.validate(info.schema())
    val intValue = info.schema().fields(1).dataType == IntegerType
    val conf = SessionHadoopConf(SparkSession.active)
    new Write {
      override def toBatch: BatchWrite =
        new KvBatchWrite(path, doTruncate, intValue, conf)
    }
  }
}

private[v2] case class KvCommitMessage(tempFile: String, rows: Long)
    extends WriterCommitMessage

private[v2] class KvBatchWrite(path: String, truncate: Boolean, intValue: Boolean,
    conf: Broadcast[SerializableConfiguration]) extends BatchWrite {
  private val epoch = UUID.randomUUID().toString
  private def tempDir = new Path(path, s"_temporary/$epoch")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KvWriterFactory(path, epoch, intValue, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val out = new Path(path)
    val fs = out.getFileSystem(conf.value.value)
    fs.mkdirs(out)
    if (truncate) {
      val existing = Option(fs.globStatus(new Path(out, "part-*"))).getOrElse(Array())
      existing.foreach(st => fs.delete(st.getPath, false))
    }
    messages.foreach { case KvCommitMessage(tmp, _) =>
      val src = new Path(tmp)
      if (!fs.rename(src, new Path(out, src.getName)))
        throw new IOException(s"graft-kv: could not move $src into $out")
    }
    fs.delete(tempDir, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = tempDir.getFileSystem(conf.value.value)
    fs.delete(tempDir, true)
  }
}

private[v2] class KvWriterFactory(path: String, epoch: String, intValue: Boolean,
    val conf: Broadcast[SerializableConfiguration]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(path, epoch, partitionId, taskId, intValue, conf)
}

/** Streams rows to `_temporary/<epoch>/part-<partition>-<task>` — constant
  * memory, no buffering of the partition. The task file name includes the
  * task attempt id, so a speculative duplicate writes a DIFFERENT temp
  * file and only the committed attempt's file is ever renamed in. Keys are
  * written as their UTF-8 bytes, unchanged. */
private[v2] class KvDataWriter(path: String, epoch: String, partitionId: Int,
    taskId: Long, intValue: Boolean, conf: Broadcast[SerializableConfiguration])
    extends DataWriter[InternalRow] {
  private val tmp =
    new Path(path, f"_temporary/$epoch/part-$partitionId%05d-$taskId")
  private val fs = tmp.getFileSystem(conf.value.value)
  private val out = fs.create(tmp, true)
  private var rows = 0L
  private var bytes = 0L

  override def write(row: InternalRow): Unit = {
    val key = if (row.isNullAt(0)) UTF8String.EMPTY_UTF8 else row.getUTF8String(0)
    val value =
      if (row.isNullAt(1)) 0L
      else if (intValue) row.getInt(1).toLong
      else row.getLong(1)
    val rest = s" $value\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    key.writeTo(out)
    out.write(rest)
    rows += 1
    bytes += key.numBytes + rest.length
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    GraftOutputMetrics.add(bytes, rows)
    KvCommitMessage(tmp.toString, rows)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(tmp, false)
  }

  override def close(): Unit = ()
}
