package graft.sources.v2

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.SparkEnv
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, V2ExistingTableWriteExec}
import org.apache.spark.util.SerializableConfiguration

import graft.{JobProbe, SparkSpec}
import graft.sources.{DocSource, RefusingRenameFileSystem, TextSink}

/** How the session's Hadoop conf reaches the `graft-docs` readers and the
  * `graft-kv` writers: as one broadcast per conf content, outside the
  * factories, and the same conf on the driver side of `DocSource.read` and
  * `TextSink.writeGoldenFile`. */
class SessionHadoopConfSpec extends SparkSpec {
  import spark.implicits._

  /** Five small documents in a temp dir. */
  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft-hadoopconf")
    for (i <- 0 until 5) Files.write(d.resolve(s"$i.txt"), s"document $i\n".getBytes(UTF_8))
    d
  }

  private def readerFactory(df: DataFrame): DocReaderFactory =
    df.queryExecution.executedPlan.collectFirst { case s: BatchScanExec => s }
      .getOrElse(fail(s"no BatchScanExec in:\n${df.queryExecution.executedPlan}"))
      .batch.createReaderFactory().asInstanceOf[DocReaderFactory]

  /** The writer factory of the one `graft-kv` write a golden file runs. */
  private def goldenWriterFactory(out: Path): KvWriterFactory = {
    val probed = JobProbe(spark) {
      TextSink.writeGoldenFile(Seq(("b", 2L), ("a", 1L)).toDF("key", "value"), out.toString)
    }
    val writes = probed.nodes.collect { case w: V2ExistingTableWriteExec => w.write }
    assert(writes.size == 1, probed.plans.mkString("\n"))
    writes.head.toBatch.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }).asInstanceOf[KvWriterFactory]
  }

  private def serializedBytes(o: AnyRef): Int =
    SparkEnv.get.closureSerializer.newInstance().serialize(o).limit()

  test("the serialized reader and writer factories stay under 8 KB") {
    val reader = readerFactory(DocSource.read(spark, dir.toString, 5))
    val writer = goldenWriterFactory(Files.createTempDirectory("graft-hadoopconf").resolve("kv.txt"))
    val bytes = Map("DocReaderFactory" -> serializedBytes(reader),
      "KvWriterFactory" -> serializedBytes(writer))
    assert(bytes.values.forall(_ < 8192), s"serialized bytes $bytes")
  }

  test("two scans and a golden file in one session share one broadcast") {
    val first = readerFactory(DocSource.read(spark, dir.toString, 5)).conf
    val second = readerFactory(DocSource.read(spark, dir.toString, 3)).conf
    val out = Files.createTempDirectory("graft-hadoopconf").resolve("shared.txt")
    val written = goldenWriterFactory(out).conf
    assert(Seq(second.id, written.id).forall(_ == first.id),
      s"broadcast ids ${Seq(first.id, second.id, written.id)}")
    assert(new String(Files.readAllBytes(out), UTF_8) == "a 1\nb 2\n")
  }

  test("a changed Hadoop key gets a new broadcast that carries it") {
    val key = "fs.graft.spec.marker"
    def scanConf: Broadcast[SerializableConfiguration] =
      readerFactory(DocSource.read(spark, dir.toString, 5)).conf
    val before = scanConf
    val after = withConf(key -> "set") { scanConf }
    assert(after.id != before.id)
    assert(after.value.value.get(key) == "set" && before.value.value.get(key) == null)
  }

  test("DocSource.read reads a directory whose file system only the session names") {
    val docs = withConf("fs.norename.impl" -> classOf[RefusingRenameFileSystem].getName,
        "fs.norename.impl.disable.cache" -> "true", "norename.refuse" -> "none") {
      DocSource.read(spark, s"norename://$dir", 5).as[(Long, String)].collect().sortBy(_._1).toSeq
    }
    assert(docs == (0 until 5).map(i => (i.toLong, s"document $i\n")))
  }
}
