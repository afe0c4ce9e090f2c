package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Session-lifetime cache of expensive derived relations as MANAGED
  * BUCKETED warehouse tables — the "move the shuffle to ingest" pattern:
  * a relation that several queries (or several bench reps) each re-derive
  * and re-shuffle on the same join key is built ONCE, written bucketed +
  * sorted on that key, and every downstream join/aggregation on the key
  * then arrives pre-partitioned, zero-exchange at query time. This is
  * exactly how a 100 TB deployment maintains its derived indexes (the
  * substring window index, the co-presence edge list): a periodic ingest
  * job pays the shuffle, queries never do.
  *
  * Bucket count: this object alone decides it, and it is the session's
  * shuffle-partition count (`spark.sql.shuffle.partitions`, as
  * `SQLConf.numShufflePartitions` resolves it) read when the table is
  * built. Joining an N-bucket table to an unbucketed relation on the
  * bucket key shuffles the other side into N partitions whenever N is at
  * least the shuffle-partition count, and AQE cannot coalesce those
  * partitions because they must line up with the buckets. With N equal
  * to the shuffle partitions, artifact joins run at the session's
  * parallelism like every other shuffle, and any two tables built in one
  * session stay co-bucketed, so artifact-to-artifact joins on the bucket
  * key need no exchange at all. On a cluster the shuffle-partition count
  * is the setting an operator already sizes to the data, so artifacts
  * follow it without a setting of their own.
  *
  * Caveat: the count is not part of the table name. A table built before
  * the session's count changes is served as it is — its results are
  * identical, only the join alignment is lost (the other side of a join
  * is then shuffled to the table's bucket count, or both sides are).
  *
  * Keys: [[key]] hashes the parquet file listing of the source tables
  * (relative path, length, modification time) to 64 bits, so rewriting
  * an input — even at equal size — yields a new table name and a
  * rebuild. No Spark job runs and nothing is memoized: the listing is
  * re-read with the session's Hadoop conf on every call.
  *
  * Concurrency: table names carry a per-JVM tag, so two JVMs (bench
  * running alongside verify) build independent tables and can never race
  * a stale-location delete against an in-flight saveAsTable — the
  * settle-by-isolation discipline of WarcContainer's staged ATOMIC_MOVE
  * publish, adapted to managed tables. Nothing shared is lost: Spark's
  * in-memory catalog is per-JVM, so cross-JVM reuse never existed. A
  * shutdown hook removes this JVM's tables; [[sweepStale]] collects dirs
  * orphaned by killed JVMs (kill -9 skips hooks) after 24 h, far beyond
  * any session's lifetime, so a concurrently-live JVM's table is never
  * at risk. Within a JVM, builds are serialized by one lock — Verify
  * runs queries from a thread pool, and two queries racing the
  * tableExists check would double-create.
  */
object BucketedCache {
  private val JvmTag = java.util.UUID.randomUUID().toString.take(8)

  /** Per-table build locks: the double-create guard must serialize two
    * threads racing the SAME table, but a multi-minute edge-list build
    * must not block an unrelated family's cache-hit path (one global
    * lock did exactly that when Verify's pool interleaved graph and
    * substring queries). */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def deleteRec(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }

  private def sweepStale(warehouse: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.isDirectory(warehouse)) return
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    val listing = java.nio.file.Files.list(warehouse)
    // Best-effort: a concurrent sweep by another JVM surfaces walk/delete
    // races as UncheckedIOException (not IOException), and no cleanup
    // failure may abort the live query build that triggered the sweep.
    try listing.forEach { p =>
      // The stat itself races a concurrent JVM's delete (NoSuchFileException
      // between listing and getLastModifiedTime), so it must sit inside the
      // per-entry guard too — no cleanup failure may abort the live build.
      try {
        val n = p.getFileName.toString
        if (n.startsWith("graft_") && !n.endsWith(JvmTag) &&
            java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff)
          deleteRec(p)
      } catch { case scala.util.control.NonFatal(_) => () }
    } finally listing.close()
  }

  private def warehousePath(spark: SparkSession): java.nio.file.Path =
    java.nio.file.Paths.get(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)

  /** The managed table name `<prefix>_<key>_<jvmTag>` of an artifact. */
  private[graft] def tableName(prefix: String, key: String): String =
    s"${prefix}_${key}_$JvmTag"

  /** Get-or-build the table [[tableName]]`(prefix, key)`. `key` must
    * identify the inputs ([[key]]; a table directory can be rewritten
    * in place, so a path alone is not a cache key). The table has
    * as many buckets as the session has shuffle partitions (see the
    * object scaladoc). The build result is repartitioned on `bucketCol`
    * before the bucketed write so each bucket is ONE file, not
    * one-fragment-per-task. */
  def getOrBuild(
      spark: SparkSession, prefix: String, key: String,
      bucketCol: String, sortCol: String)
      (build: => DataFrame): DataFrame = {
    val tbl = tableName(prefix, key)
    locks.computeIfAbsent(tbl, _ => new Object).synchronized {
      if (!spark.catalog.tableExists(tbl)) {
        val wh = warehousePath(spark)
        sweepStale(wh)
        // A build this JVM previously started and ABORTED (cancelled
        // Verify task, OOM) can leave a non-empty location with no
        // catalog entry; the name is per-JVM-unique, so the leftover is
        // provably ours and must clear or every retry of this key hits
        // LOCATION_ALREADY_EXISTS for the rest of the session.
        deleteRec(wh.resolve(tbl))
        val buckets = spark.sessionState.conf.numShufflePartitions
        BuildLog.timed(s"table:$prefix") {
          build
            .repartition(buckets, col(bucketCol))
            .write.bucketBy(buckets, bucketCol).sortBy(sortCol)
            .format("parquet").mode("overwrite").saveAsTable(tbl)
        }
        val loc = wh.resolve(tbl)
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try deleteRec(loc) catch { case _: Throwable => () }))
      }
    }
    spark.table(tbl)
  }

  /** Content key of the tables `tables` under `dir`: a 64-bit hash, as 16
    * hex digits, over (path relative to `dir`, length, modification time)
    * of every file under each `$dir/<table>.parquet`, listed with the
    * session's Hadoop conf. No Spark job and no scan at any scale; any
    * rewrite of a source file changes its modification time and
    * therefore the key. A missing table fails with its path. */
  def key(spark: SparkSession, dir: String, tables: String*): String = {
    val conf = spark.sessionState.newHadoopConf()
    val entries = tables.flatMap { t =>
      val root = new Path(dir, s"$t.parquet")
      val fs = root.getFileSystem(conf)
      val prefix = fs.makeQualified(root).toString
      val files = fs.listFiles(root, true)
      val out = Seq.newBuilder[String]
      while (files.hasNext) {
        val f = files.next()
        val rel = s"$t.parquet${f.getPath.toString.stripPrefix(prefix)}"
        out += s"$rel\t${f.getLen}\t${f.getModificationTime}"
      }
      out.result()
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    entries.foreach(e => md.update((e + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
