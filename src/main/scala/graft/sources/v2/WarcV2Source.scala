package graft.sources.v2

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns
}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{
  DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual,
  In, LessThan, LessThanOrEqual
}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Artifacts

/** WARC-shaped multi-record CONTAINER format + DataSource V2 reader — the
  * ingestion end of the 100 TB story. A real crawl corpus does not arrive
  * one-document-per-file ([[DocV2Source]]'s reference contract,
  * main.cpp:28-47); it arrives as container files holding thousands of
  * length-prefixed records with text headers (ISO 28500 WARC is the
  * archetype — header lines, a blank line, `Content-Length` payload
  * bytes, a record separator). This module synthesizes that shape
  * deterministically from the `documents` table and reads it back
  * through the connector API:
  *
  *  - record layout (one record, CRLF line ends — the WARC grammar;
  *    payloads are GZIP-PER-RECORD, the real WARC storage layout, and
  *    `Content-Length` counts the STORED octets — the compressed span —
  *    exactly as ISO 28500 prescribes, so header-only streaming skips
  *    compressed bytes without ever inflating them):
  *    {{{
  *    WARC/1.0
  *    WARC-Record-ID: <doc_id>
  *    WARC-Type: response
  *    WARC-Target-URI: http://example.invalid/<source>/<doc_id>
  *    WARC-Language: <lang>
  *    Content-Encoding: gzip
  *    WARC-Uncompressed-Length: <utf8 byte length of text>
  *    Content-Length: <gzip'd payload byte length>
  *    <blank>
  *    <gzip member: deflate of the payload bytes>
  *    <blank><blank>
  *    }}}
  *    Records WITHOUT `Content-Encoding` read as raw bytes (the v1
  *    layout and plain HTTP captures), so the reader handles mixed
  *    corpora; `java.util.zip` gzip output is deterministic (fixed
  *    header, MTIME = 0), keeping container synthesis reproducible;
  *  - container files `part-<p>-<lo>-<hi>.warc` hold the doc_id RANGE
  *    [lo, hi) — the id range rides in the FILE NAME, so record_id
  *    predicates prune whole container files at planning time (the V2
  *    analog of parquet partition pruning on a range-bucketed layout);
  *  - one [[InputPartition]] per container file: Spark schedules,
  *    retries and locality-places each container independently, and a
  *    1000-executor cluster reading 100 TB gets one task per container
  *    with zero coordination;
  *  - COLUMN PRUNING reaches the record grammar: a header-only
  *    projection (`record_id`, `content_length`, …) parses headers and
  *    `skip`s every payload — `Content-Length` is exactly the
  *    random-access index that makes container formats streamable — and
  *    record-level `record_id` filters skip non-matching payloads before
  *    reading them.
  *
  * Usage: `spark.read.format("graft-warc").load(containerDir)`.
  */
class WarcV2Source extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcV2Source.fullSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new WarcTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object WarcV2Source {
  val fullSchema: StructType = new StructType()
    .add("record_id", LongType, nullable = false)
    .add("target_uri", StringType, nullable = true)
    .add("lang", StringType, nullable = true)
    .add("content_length", LongType, nullable = false)      // stored (compressed) span
    .add("uncompressed_length", LongType, nullable = false) // payload text bytes
    .add("payload", StringType, nullable = true)

  private[graft] val FileName = raw"part-(\d+)-(\d+)-(\d+)\.warc".r
}

/** Deterministic container WRITER: packs the `documents` table into
  * [[WarcV2Source]] container files, range-bucketed by doc_id so the id
  * range in each file name is exact. Each bucket's rows land in one task
  * (hash repartition on the bucket id) and are written id-ascending; the
  * whole directory is staged and ATOMIC_MOVE'd into place, so readers
  * never see a half-written corpus (the same two-phase discipline as
  * [[KvV2Sink]]). The synthesized corpus is cached under java.io.tmpdir,
  * in a root named from the qualified directory and the documents
  * table's [[graft.core.Artifacts.key]], so a rewritten documents table
  * is packed anew and two directories never share a pack.
  *
  * DEPLOYMENT ASSUMPTION: the pack job writes through java.io/java.nio
  * against a path that executors and driver must SHARE — true in local
  * mode (this environment) and on any shared mount, NOT on a 1000-executor
  * cluster with node-local tmpdirs. The READ connector has no such
  * assumption (it opens whatever path its InputPartition names). Porting
  * the pack job to a cluster means routing these writes through the Hadoop
  * FileSystem API at a shared store, keeping the identical staged-directory
  * + atomic-publish protocol; the container FORMAT and the planner's
  * pruning contract are unchanged by that swap. */
object WarcContainer {
  val NumContainers = 8

  /** Container files for `dir`'s documents table, writing them if this
    * listing of the table hasn't been packed yet. Returns the container
    * directory. Synchronized: concurrent queries in one JVM (Verify's
    * thread pool) share one build; a cross-JVM race is settled by the
    * ATOMIC_MOVE publish in [[write]]. A cache hit lists the table's
    * files and runs no Spark job. */
  def ensureWritten(spark: SparkSession, dir: String): String = this.synchronized {
    val docs = new org.apache.hadoop.fs.Path(dir)
    val qualified = docs.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(docs).toString
    val key = Artifacts.hash(Seq(qualified, Artifacts.key(spark, dir, "documents")))
    // "warcz": layout v2 (gzip-per-record), a root distinct from the
    // retired v1 `graft_warc_` packs, which the sweep still collects.
    val name = s"graft_warcz_$key"
    val out = Paths.get(sys.props("java.io.tmpdir"), name)
    Artifacts.sweepStale(out.getParent, Seq("graft_warc_", "graft_warcz_"), _ == name)
    if (!Files.exists(out.resolve("_SUCCESS")))
      graft.core.BuildLog.timed("pack:warc")(write(spark, dir, out))
    else {
      // A pre-existing pack (same key, earlier session) must (a)
      // never age past the 24 h sweep cutoff while actively serving — the
      // mtime refresh here makes every resolution reset the clock, so an
      // in-use corpus cannot be collected mid-scan by this JVM reading a
      // second corpus past 24 h or by a concurrent JVM's sweep — and (b)
      // still surface in the bench's cache_builds ledger: converged
      // timings ride this pack, so a zero-cost cache-hit marker keeps the
      // ingest-cost accounting honest (the pack itself was paid by the
      // session that wrote it).
      try Files.setLastModifiedTime(out,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case scala.util.control.NonFatal(_) => () }
      graft.core.BuildLog.record("pack:warc(cache-hit)", 0.0)
    }
    out.toString
  }

  private def write(spark: SparkSession, dir: String, out: Path): Unit = {
    val maxId = graft.core.Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head().getLong(0)
    val span = (maxId + NumContainers) / NumContainers // ceil((maxId+1)/k)
    val tmp = Paths.get(out.toString + ".tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    Files.createDirectories(tmp)
    val tmpStr = tmp.toString
    graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .withColumn("cont", expr(s"cast(doc_id div $span as int)"))
      .repartition(NumContainers, col("cont"))
      .sortWithinPartitions("cont", "doc_id")
      .foreachPartition { (it: Iterator[Row]) =>
        var cur = -1
        var os: BufferedOutputStream = null
        var offset = 0L
        var cdx: java.lang.StringBuilder = null
        var cdxPath: String = null
        // The CDX side index (the record-level seek table every real WARC
        // stack pairs with its containers): one "<id> <offset> <span>"
        // line per record, written alongside the container inside the
        // same staged directory so the ATOMIC_MOVE publishes both or
        // neither. The reader's point-lookup path seeks straight to a
        // record's span instead of streaming the container.
        def close(): Unit = if (os != null) {
          os.close(); os = null
          Files.write(Paths.get(cdxPath), cdx.toString.getBytes(UTF_8))
        }
        it.foreach { r =>
          val cont = r.getAs[Int]("cont")
          if (cont != cur) {
            close()
            cur = cont
            val lo = cont.toLong * span
            val hi = math.min((cont + 1).toLong * span, maxId + 1)
            os = new BufferedOutputStream(new FileOutputStream(
              s"$tmpStr/part-$cont-$lo-$hi.warc"))
            cdxPath = s"$tmpStr/part-$cont-$lo-$hi.cdx"
            cdx = new java.lang.StringBuilder(4096)
            offset = 0L
          }
          val id = r.getAs[Long]("doc_id")
          val bytes = record(id, r.getAs[String]("text"),
            r.getAs[String]("lang"), r.getAs[String]("source"))
          cdx.append(id).append(' ').append(offset).append(' ')
            .append(bytes.length).append('\n')
          os.write(bytes)
          offset += bytes.length
        }
        close()
      }
    Files.write(tmp.resolve("_SUCCESS"), Array.empty[Byte])
    try Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
    catch {
      // Another JVM won the publish race (rename onto an existing dir
      // surfaces as FileAlreadyExists / DirectoryNotEmpty / a generic
      // ENOTEMPTY FileSystemException depending on the FS) — its corpus
      // is identical by key, so drop our staging copy.
      case _: java.nio.file.FileSystemException
          if Files.exists(out.resolve("_SUCCESS")) =>
        Artifacts.deleteRec(tmp)
    }
  }

  private[v2] def record(id: Long, text: String, lang: String,
      source: String): Array[Byte] = {
    val raw = text.getBytes(UTF_8)
    val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw)
    gz.close()
    val payload = bos.toByteArray
    val header =
      s"WARC/1.0\r\n" +
        s"WARC-Record-ID: $id\r\n" +
        s"WARC-Type: response\r\n" +
        s"WARC-Target-URI: http://example.invalid/$source/$id\r\n" +
        s"WARC-Language: $lang\r\n" +
        s"Content-Encoding: gzip\r\n" +
        s"WARC-Uncompressed-Length: ${raw.length}\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n"
    val hb = header.getBytes(UTF_8)
    val outBytes = new Array[Byte](hb.length + payload.length + 4)
    System.arraycopy(hb, 0, outBytes, 0, hb.length)
    System.arraycopy(payload, 0, outBytes, hb.length, payload.length)
    outBytes(outBytes.length - 4) = '\r'
    outBytes(outBytes.length - 3) = '\n'
    outBytes(outBytes.length - 2) = '\r'
    outBytes(outBytes.length - 1) = '\n'
    outBytes
  }
}

private[v2] class WarcTable(properties: Map[String, String])
    extends Table with SupportsRead {
  private val dir = properties.getOrElse("path",
    throw new IllegalArgumentException("graft-warc: .load(dir) path required"))
  override def name(): String = s"graft-warc(`$dir`)"
  override def schema(): StructType = WarcV2Source.fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(dir)
}

private[v2] class WarcScanBuilder(dir: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = WarcV2Source.fullSchema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** record_id ranges prune whole container FILES (the id range is in the
    * file name) and skip record payloads inside surviving files. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("record_id", _: java.lang.Long | _: java.lang.Integer) => true
      case LessThan("record_id", _: java.lang.Long | _: java.lang.Integer) => true
      case LessThanOrEqual("record_id", _: java.lang.Long | _: java.lang.Integer) => true
      case GreaterThan("record_id", _: java.lang.Long | _: java.lang.Integer) => true
      case GreaterThanOrEqual("record_id", _: java.lang.Long | _: java.lang.Integer) => true
      case In("record_id", vs) => vs.forall(v =>
        v.isInstanceOf[java.lang.Long] || v.isInstanceOf[java.lang.Integer])
      case _ => false
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new WarcScan(dir, required, pushed)
}

private[v2] class WarcScan(dir: String, required: StructType,
    pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-warc dir=$dir readSchema=${required.simpleString} " +
      s"pushedFilters=[${pushed.mkString(", ")}]"

  private def num(v: Any): Long = v match {
    case l: java.lang.Long => l.longValue
    case i: java.lang.Integer => i.longValue
  }

  /** Can any id in [lo, hi) satisfy every pushed predicate? */
  private def rangeMayMatch(lo: Long, hi: Long): Boolean = pushed.forall {
    case EqualTo("record_id", v) => lo <= num(v) && num(v) < hi
    case LessThan("record_id", v) => lo < num(v)
    case LessThanOrEqual("record_id", v) => lo <= num(v)
    case GreaterThan("record_id", v) => hi - 1 > num(v)
    case GreaterThanOrEqual("record_id", v) => hi - 1 >= num(v)
    case In("record_id", vs) => vs.exists(x => lo <= num(x) && num(x) < hi)
    case _ => true
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val d = Paths.get(dir)
    require(Files.exists(d.resolve("_SUCCESS")),
      s"graft-warc: $dir has no _SUCCESS marker (half-written corpus?)")
    // Files.list holds an open directory handle until closed — planning
    // happens once per scan (and Bench replans every rep), so an unclosed
    // stream leaks a descriptor per query execution.
    val listing = Files.list(d)
    val files =
      try listing.iterator().asScala.map(_.toAbsolutePath.toString).toArray
      finally listing.close()
    files.iterator
      .flatMap { p =>
        Paths.get(p).getFileName.toString match {
          case WarcV2Source.FileName(_, lo, hi) =>
            Some((p, lo.toLong, hi.toLong))
          case _ => None
        }
      }
      .filter { case (_, lo, hi) => rangeMayMatch(lo, hi) }
      .map { case (p, lo, hi) =>
        WarcPartition(p, lo, hi).asInstanceOf[InputPartition]
      }
      .toArray
      .sortBy(_.asInstanceOf[WarcPartition].lo)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required.fieldNames, pushed)
}

private[v2] case class WarcPartition(path: String, lo: Long, hi: Long)
    extends InputPartition

/** JVM-global diagnostics for the CDX point-lookup path — deterministic
  * in local mode (driver + executors share the JVM), where the
  * bytes-read-bound spec reads them. `pointBytesRead` counts exactly the
  * disk bytes a point lookup touches: the CDX file plus the fetched
  * record spans — never the container body it seeks past. */
object WarcReadStats {
  val pointLookups = new java.util.concurrent.atomic.AtomicLong()
  val pointBytesRead = new java.util.concurrent.atomic.AtomicLong()
  /** Range-predicate CDX scans (r11 verdict item 7): one per container
    * taken down the coalesced-span seek path. `rangeRuns` counts the
    * merged contiguous byte runs actually read — a contiguous id range
    * coalesces to ONE run per container, which is the property the
    * bytes-read spec pins. */
  val rangeLookups = new java.util.concurrent.atomic.AtomicLong()
  val rangeRuns = new java.util.concurrent.atomic.AtomicLong()
  val rangeBytesRead = new java.util.concurrent.atomic.AtomicLong()
  def reset(): Unit = {
    pointLookups.set(0L); pointBytesRead.set(0L)
    rangeLookups.set(0L); rangeRuns.set(0L); rangeBytesRead.set(0L)
  }
}

/** Streams one container file: parses each record's headers, applies the
  * pushed record_id predicates, and reads the payload only when (a) the
  * record survives the filters and (b) the pruned schema asks for it —
  * otherwise `Content-Length` bytes are skipped without materialization.
  *
  * POINT LOOKUPS take the CDX path instead: when every surviving record
  * is named by an `EqualTo`/`In` record_id predicate and the container's
  * `.cdx` side index exists, the reader resolves each id to its (offset,
  * span) entry, seeks, and reads EXACTLY those spans — bytes touched are
  * the index plus the requested records, independent of container size
  * (the record-level random access real WARC stacks get from their CDX
  * files). The fetched spans then flow through the IDENTICAL record
  * parser as the streaming path, so the grammar is enforced either way. */
private[v2] class WarcReaderFactory(fieldNames: Array[String],
    pushed: Array[Filter]) extends PartitionReaderFactory {

  private def num(v: Any): Long = v match {
    case l: java.lang.Long => l.longValue
    case i: java.lang.Integer => i.longValue
  }

  /** The finite candidate id set named by the pushed predicates, if any:
    * the intersection semantics of AND-ed filters mean any single
    * EqualTo/In bounds the surviving set. None = not a point lookup. */
  private def pointCandidates: Option[Set[Long]] = {
    val sets = pushed.collect {
      case EqualTo("record_id", v) => Set(num(v))
      case In("record_id", vs) => vs.iterator.map(num).toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** Does `id` satisfy every pushed record_id predicate? (Shared by the
    * CDX selection paths and the record parser's keep().) */
  private def keepId(id: Long): Boolean = pushed.forall {
    case EqualTo("record_id", v) => id == num(v)
    case LessThan("record_id", v) => id < num(v)
    case LessThanOrEqual("record_id", v) => id <= num(v)
    case GreaterThan("record_id", v) => id > num(v)
    case GreaterThanOrEqual("record_id", v) => id >= num(v)
    case In("record_id", vs) => vs.exists(num(_) == id)
    case _ => true
  }

  /** Parsed CDX entries of one container, id-ascending = offset-ascending
    * by the pack job's write order. */
  private def cdxEntries(cdxBytes: Array[Byte]): Array[(Long, Long, Int)] =
    new String(cdxBytes, UTF_8).split("\n").iterator
      .filter(_.nonEmpty)
      .map { line =>
        val Array(id, off, len) = line.split(" ")
        (id.toLong, off.toLong, len.toInt)
      }
      .toArray

  /** Seek-and-fetch the given (offset-sorted) spans as one concatenated
    * sub-stream, coalescing ADJACENT spans into single reads first: a
    * contiguous id run occupies a contiguous byte run (records were
    * written id-ascending), so a range predicate costs one seek+read per
    * container however many records it selects. Returns (bytes, nRuns). */
  private def fetchSpans(path: String,
      wanted: Array[(Long, Long, Int)]): (Array[Byte], Int) = {
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    wanted.foreach { case (_, off, len) =>
      if (runs.nonEmpty && runs.last._1 + runs.last._2 == off)
        runs(runs.length - 1) = (runs.last._1, runs.last._2 + len)
      else runs += ((off, len.toLong))
    }
    val total = runs.iterator.map(_._2).sum
    val buf = new java.io.ByteArrayOutputStream(math.max(total.toInt, 16))
    val raf = new java.io.RandomAccessFile(path, "r")
    try runs.foreach { case (off, len) =>
      val span = new Array[Byte](len.toInt)
      raf.seek(off)
      raf.readFully(span)
      buf.write(span)
    } finally raf.close()
    (buf.toByteArray, runs.length)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WarcPartition]
    val cdxPath = Paths.get(p.path.stripSuffix(".warc") + ".cdx")
    pointCandidates match {
      case Some(ids) if Files.exists(cdxPath) =>
        // POINT path: resolve the named ids -> spans through the index
        val cdxBytes = Files.readAllBytes(cdxPath)
        val wanted = cdxEntries(cdxBytes)
          .filter { case (id, _, _) => ids.contains(id) }
          .sortBy(_._2)
        val (bytes, _) = fetchSpans(p.path, wanted)
        WarcReadStats.pointLookups.incrementAndGet()
        WarcReadStats.pointBytesRead.addAndGet(
          cdxBytes.length.toLong + bytes.length.toLong)
        makeReader(p, new java.io.ByteArrayInputStream(bytes))
      case None if pushed.nonEmpty && Files.exists(cdxPath)
          && fieldNames.contains("payload") =>
        // RANGE path (r11 verdict item 7): every pushed filter is a
        // record_id predicate (pushFilters accepts nothing else), so the
        // surviving CDX entries are exactly the selected records — for
        // interval predicates a CONTIGUOUS run, which fetchSpans
        // coalesces into a single seek+read. Bytes touched = index +
        // selected spans, independent of container size. Payload-less
        // projections keep the streaming path: header parsing + skip is
        // already span-free there, and the CDX fetch would read payload
        // bytes the projection never asks for.
        val cdxBytes = Files.readAllBytes(cdxPath)
        val wanted = cdxEntries(cdxBytes)
          .filter { case (id, _, _) => keepId(id) }
          .sortBy(_._2)
        val (bytes, nRuns) = fetchSpans(p.path, wanted)
        WarcReadStats.rangeLookups.incrementAndGet()
        WarcReadStats.rangeRuns.addAndGet(nRuns.toLong)
        WarcReadStats.rangeBytesRead.addAndGet(
          cdxBytes.length.toLong + bytes.length.toLong)
        makeReader(p, new java.io.ByteArrayInputStream(bytes))
      case _ =>
        makeReader(p,
          new BufferedInputStream(new FileInputStream(p.path), 1 << 16))
    }
  }

  private def makeReader(p: WarcPartition,
      input: java.io.InputStream): PartitionReader[InternalRow] = {
    val needPayload = fieldNames.contains("payload")
    new PartitionReader[InternalRow] {
      private val in = input
      private var row: InternalRow = _

      private def num(v: Any): Long = v match {
        case l: java.lang.Long => l.longValue
        case i: java.lang.Integer => i.longValue
      }
      private def keep(id: Long): Boolean = pushed.forall {
        case EqualTo("record_id", v) => id == num(v)
        case LessThan("record_id", v) => id < num(v)
        case LessThanOrEqual("record_id", v) => id <= num(v)
        case GreaterThan("record_id", v) => id > num(v)
        case GreaterThanOrEqual("record_id", v) => id >= num(v)
        case In("record_id", vs) => vs.exists(num(_) == id)
        case _ => true
      }

      /** One CRLF-terminated header line; null at clean EOF before a
        * record starts. */
      private def readLine(atRecordStart: Boolean): String = {
        val sb = new java.lang.StringBuilder(64)
        var c = in.read()
        if (c == -1 && atRecordStart) return null
        while (c != -1 && c != '\r') { sb.append(c.toChar); c = in.read() }
        require(c == '\r' && in.read() == '\n',
          s"graft-warc: malformed header line in ${p.path}: '$sb'")
        sb.toString
      }

      private def readFully(n: Int): Array[Byte] = {
        val buf = new Array[Byte](n)
        var off = 0
        while (off < n) {
          val k = in.read(buf, off, n - off)
          require(k >= 0, s"graft-warc: truncated payload in ${p.path}")
          off += k
        }
        buf
      }

      /** Inflate one gzip member into exactly `n` bytes — the declared
        * WARC-Uncompressed-Length is a framing invariant, so both a short
        * and a long stream are corruption, not tolerance cases. */
      private def gunzip(stored: Array[Byte], n: Int, path: String): Array[Byte] = {
        val gin = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(stored))
        try {
          val out = new Array[Byte](n)
          var off = 0
          while (off < n) {
            val k = gin.read(out, off, n - off)
            require(k >= 0, s"graft-warc: truncated gzip payload in $path")
            off += k
          }
          require(gin.read() == -1,
            s"graft-warc: gzip payload exceeds declared length in $path")
          out
        } finally gin.close()
      }

      private def skipFully(n: Long): Unit = {
        var left = n
        while (left > 0) {
          val k = in.skip(left)
          if (k == 0) { require(in.read() >= 0,
            s"graft-warc: truncated record in ${p.path}"); left -= 1 }
          else left -= k
        }
      }

      override def next(): Boolean = {
        while (true) {
          val version = readLine(atRecordStart = true)
          if (version == null) return false
          require(version == "WARC/1.0",
            s"graft-warc: bad record marker '$version' in ${p.path}")
          var id = -1L
          var uri: String = null
          var lang: String = null
          var len = -1L
          var ulen = -1L
          var gzipped = false
          var line = readLine(atRecordStart = false)
          while (line.nonEmpty) {
            val sep = line.indexOf(": ")
            require(sep > 0, s"graft-warc: bad header '$line' in ${p.path}")
            val (k, v) = (line.substring(0, sep), line.substring(sep + 2))
            k match {
              case "WARC-Record-ID" => id = v.toLong
              case "WARC-Target-URI" => uri = v
              case "WARC-Language" => lang = v
              case "Content-Length" => len = v.toLong
              case "Content-Encoding" => gzipped = v == "gzip"
              case "WARC-Uncompressed-Length" => ulen = v.toLong
              case _ => // WARC-Type and future headers: tolerated, unused
            }
            line = readLine(atRecordStart = false)
          }
          require(id >= 0 && len >= 0,
            s"graft-warc: record missing id/length in ${p.path}")
          if (ulen < 0) ulen = len // v1 (uncompressed) records
          if (!keep(id)) {
            skipFully(len + 4) // stored payload + \r\n\r\n separator
          } else {
            // Content-Length counts STORED octets, so the skip path and
            // the filtered path never inflate; decompression happens only
            // for kept records whose projection includes `payload`.
            val payload: UTF8String =
              if (needPayload) {
                val stored = readFully(len.toInt)
                UTF8String.fromBytes(
                  if (gzipped) gunzip(stored, ulen.toInt, p.path) else stored)
              } else { skipFully(len); null }
            skipFully(4)
            val values: Array[Any] = fieldNames.map {
              case "record_id" => id
              case "target_uri" => UTF8String.fromString(uri)
              case "lang" => UTF8String.fromString(lang)
              case "content_length" => len
              case "uncompressed_length" => ulen
              case "payload" => payload
              case other => throw new IllegalStateException(s"unknown column $other")
            }
            row = InternalRow.fromSeq(values.toIndexedSeq)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = in.close()
    }
  }
}
