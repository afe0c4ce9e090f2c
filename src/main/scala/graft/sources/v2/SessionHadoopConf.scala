package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.util.SerializableConfiguration

/** The session's Hadoop conf (`sessionState.newHadoopConf()`, so
  * `spark.hadoop.*` and session-only settings apply) as ONE broadcast per
  * conf content, shared by every `graft-docs` scan and `graft-kv` write and
  * by their driver-side listing, commit and rename.
  *
  * The conf is about 1100 entries, 112 KB serialized. Shipped inside a
  * reader or writer factory, every task deserialized its own copy (12–45 ms
  * of CPU per task on a 4-vCPU host, against 6–130 ms of task run time).
  * Through a broadcast, a local-mode task reads the driver's own object and
  * a cluster executor deserializes it once. One broadcast per scan would
  * stage a 4 MiB chunk buffer per scan; one per conf content stages one.
  *
  * The held broadcast is returned while the conf's entries are equal to the
  * held ones and its `SparkContext` is the session's; otherwise the new conf
  * is broadcast and held. A replaced broadcast is never destroyed: a running
  * query may still read it, and the `ContextCleaner` collects it once
  * nothing references it. */
private[sources] object SessionHadoopConf {

  private var held: (SparkContext, Map[String, String], Broadcast[SerializableConfiguration]) = _

  def apply(spark: SparkSession): Broadcast[SerializableConfiguration] = synchronized {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
    val entries = conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    val sc = spark.sparkContext
    if (held == null || (held._1 ne sc) || held._2 != entries)
      held = (sc, entries, sc.broadcast(new SerializableConfiguration(conf)))
    held._3
  }
}
