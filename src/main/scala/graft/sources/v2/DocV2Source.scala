package graft.sources.v2

import java.io.FileNotFoundException
import java.util.{Map => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns
}
import org.apache.spark.sql.sources.{
  DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual,
  In, LessThan, LessThanOrEqual
}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 implementation of the reference corpus format — documents
  * at `{path}/{i}.txt` for `i ∈ [0, numFiles)` (reference main.cpp:28-47) —
  * and the one document scan behind [[graft.sources.DocSource]]:
  *
  *  - the directory is LISTED ONCE on the driver at `load()` with Hadoop
  *    `FileSystem.listStatus` (no Spark job); a selected `{i}.txt` missing
  *    from it fails the load with the path in the message. Other entries
  *    (`{numFiles}.txt` and beyond, other names, subdirectories) are
  *    ignored. `doc_id` is the index `i` of the path convention — no file
  *    name is parsed. A directory that does not exist is not listed:
  *    scans that never read content (doc ids, counts) still work, and
  *    reading content fails with the document's path.
  *    [[graft.sources.DocSource.read]] requires the directory;
  *  - the selected documents are BIN-PACKED by byte size: largest first
  *    into the least-loaded bin (LPT), over
  *    `max(defaultParallelism, ceil(total / spark.sql.files.maxPartitionBytes))`
  *    bins, capped at the document count. No bin exceeds
  *    `total / bins + largest document`, so one huge file does not set the
  *    stage's tail on top of a full share of the rest; the reference's
  *    one-file-per-map-task dispatch (main.cpp:141-155) is the special case
  *    bins = documents;
  *  - executors read through Hadoop `FileSystem.open` with the session's
  *    Hadoop conf, shipped in the reader factory as a
  *    `SerializableConfiguration`, so any Hadoop URI works and task input
  *    metrics (`bytesRead`) are filled in. The conf rides in the stage's
  *    task binary rather than in a broadcast of its own: a broadcast per
  *    scan allocates a 4 MB block buffer (`spark.broadcast.blockSize`),
  *    far more than the conf it carries;
  *  - COLUMN PRUNING pushed into the source
  *    ([[SupportsPushDownRequiredColumns]]): a `select(doc_id)` or a bare
  *    count never opens the files at all;
  *  - `doc_id` predicates are pushed down and prune documents before
  *    packing;
  *  - schema is declared, not inferred, so planning needs no scan.
  *
  * Every selected file yields exactly one row, an empty file included
  * (content `""`), as the reference reads every file (main.cpp:36-47).
  *
  * Usage: `spark.read.format("graft-docs").option("numFiles", "6")
  * .load(dir)` (short name via META-INF service registration).
  */
class DocV2Source extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-docs"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DocV2Source.fullSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new DocTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object DocV2Source {
  val fullSchema: StructType = new StructType()
    .add("doc_id", LongType, nullable = false)
    .add("content", StringType, nullable = true)

  /** LPT packing: documents sorted by size descending (doc id breaks ties),
    * each placed into the bin with the fewest bytes (then fewest documents,
    * then lowest index, so empty files spread too and no bin stays empty).
    * Documents keep doc-id order inside a bin. */
  private[v2] def pack(docs: Seq[DocFile], bins: Int): Seq[Seq[DocFile]] = {
    require(0 < bins && bins <= docs.size, s"need 1 to ${docs.size} bins, got $bins")
    val load = Array.fill(bins)(0L)
    val members = Array.fill(bins)(mutable.ArrayBuffer.empty[DocFile])
    val open = mutable.PriorityQueue.tabulate(bins)(b => b)(
      Ordering.by((b: Int) => (load(b), members(b).size, b)).reverse)
    for (d <- docs.sortBy(d => (-d.length, d.docId))) {
      val b = open.dequeue()
      load(b) += d.length
      members(b) += d
      open.enqueue(b)
    }
    members.toSeq.map(_.sortBy(_.docId).toSeq)
  }
}

/** One selected document: its index, path and byte length as listed at
  * load time (-1 when its directory did not exist). */
private[v2] case class DocFile(docId: Long, path: String, length: Long)

private[v2] class DocTable(properties: Map[String, String])
    extends Table with SupportsRead {
  private val dir = properties.getOrElse("path",
    throw new IllegalArgumentException("graft-docs: .load(dir) path required"))
  private val numFiles = properties.getOrElse("numfiles",
    properties.getOrElse("numFiles",
      throw new IllegalArgumentException("graft-docs: numFiles option required"))).toInt
  require(numFiles > 0, s"graft-docs: numFiles must be positive, got $numFiles")

  private val spark = SparkSession.active
  private val hadoopConf = spark.sessionState.newHadoopConf()

  /** The one listing of `dir`: each `{i}.txt`, `i < numFiles`, must be a
    * file in it. Without the directory, lengths are unknown (-1). */
  private val files: Seq[DocFile] = {
    val root = new Path(dir)
    val listed = try Some(root.getFileSystem(hadoopConf).listStatus(root)) catch {
      case _: FileNotFoundException => None
    }
    val byName = listed.map(_.iterator.filter(_.isFile).map(s => s.getPath.getName -> s).toMap)
    (0 until numFiles).map { i =>
      val path = new Path(root, s"$i.txt")
      byName.fold(DocFile(i.toLong, path.toString, -1L)) { m =>
        val s = m.getOrElse(path.getName, throw new FileNotFoundException(
          s"graft-docs: document $path does not exist " +
            s"(numFiles=$numFiles selects 0.txt .. ${numFiles - 1}.txt)"))
        DocFile(i.toLong, s.getPath.toString, s.getLen)
      }
    }
  }

  override def name(): String = s"graft-docs(`$dir`, numFiles=$numFiles)"
  override def schema(): StructType = DocV2Source.fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DocScanBuilder(spark, hadoopConf, dir, files)
}

private[v2] class DocScanBuilder(spark: SparkSession,
    hadoopConf: Configuration, dir: String, files: Seq[DocFile])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = DocV2Source.fullSchema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** doc_id IS the file index, so doc_id predicates prune which FILES get
    * planned at all — pushdown at document granularity, the V2 analog of
    * parquet partition pruning. Accepted filters are consumed (not
    * re-evaluated by Spark); everything else stays post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("doc_id", _: java.lang.Long | _: java.lang.Integer) => true
      case LessThan("doc_id", _: java.lang.Long | _: java.lang.Integer) => true
      case LessThanOrEqual("doc_id", _: java.lang.Long | _: java.lang.Integer) => true
      case GreaterThan("doc_id", _: java.lang.Long | _: java.lang.Integer) => true
      case GreaterThanOrEqual("doc_id", _: java.lang.Long | _: java.lang.Integer) => true
      case In("doc_id", vs) => vs.forall(v =>
        v.isInstanceOf[java.lang.Long] || v.isInstanceOf[java.lang.Integer])
      case _ => false
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new DocScan(spark, hadoopConf, dir, files, required, pushed)
}

private[v2] class DocScan(spark: SparkSession,
    hadoopConf: Configuration, dir: String, files: Seq[DocFile],
    required: StructType, pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-docs dir=$dir numFiles=${files.size} readSchema=${required.simpleString} " +
      s"pushedFilters=[${pushed.mkString(", ")}]"

  private def num(v: Any): Long = v match {
    case l: java.lang.Long => l.longValue
    case i: java.lang.Integer => i.longValue
  }
  private def keep(id: Long): Boolean = pushed.forall {
    case EqualTo("doc_id", v) => id == num(v)
    case LessThan("doc_id", v) => id < num(v)
    case LessThanOrEqual("doc_id", v) => id <= num(v)
    case GreaterThan("doc_id", v) => id > num(v)
    case GreaterThanOrEqual("doc_id", v) => id >= num(v)
    case In("doc_id", vs) => vs.exists(num(_) == id)
    case _ => true
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val selected = files.filter(f => keep(f.docId))
    if (selected.isEmpty) return Array.empty
    val total = selected.iterator.map(_.length).sum
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val bins = math.min(selected.size.toLong,
      math.max(spark.sparkContext.defaultParallelism.toLong,
        (total + maxBytes - 1) / maxBytes)).toInt
    DocV2Source.pack(selected, bins).map(DocPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DocReaderFactory(required.fieldNames, new SerializableConfiguration(hadoopConf))
}

private[v2] case class DocPartition(docs: Seq[DocFile]) extends InputPartition

/** Serialized to executors; emits one row per document of a partition.
  * Content is opened only when the pruned schema asks for it. */
private[v2] class DocReaderFactory(fieldNames: Array[String],
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val docs = partition.asInstanceOf[DocPartition].docs.toIndexedSeq
    new PartitionReader[InternalRow] {
      private var i = -1

      /** Exactly `length` bytes through Hadoop, so the task's `bytesRead`
        * equals the document's listed size. */
      private def content(d: DocFile): UTF8String = {
        if (d.length < 0) throw new FileNotFoundException(
          s"graft-docs: ${d.path} (its directory did not exist at load)")
        val path = new Path(d.path)
        val bytes = new Array[Byte](Math.toIntExact(d.length))
        val in = path.getFileSystem(conf.value).open(path)
        try in.readFully(bytes) finally in.close()
        UTF8String.fromBytes(bytes)
      }

      override def next(): Boolean = { i += 1; i < docs.length }
      override def get(): InternalRow = {
        val d = docs(i)
        InternalRow.fromSeq(fieldNames.toIndexedSeq.map {
          case "doc_id" => d.docId
          case "content" => content(d)
          case other => throw new IllegalStateException(s"unknown column $other")
        })
      }
      override def close(): Unit = ()
    }
  }
}
