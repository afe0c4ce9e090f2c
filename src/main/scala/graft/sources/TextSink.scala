package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.sources.v2.SessionHadoopConf

/** Text sink with the reference engine's output contract: one `"key value"`
  * line per record (format line main.cpp:171), key-sorted — the reference's
  * own output order is nondeterministic (unordered_map iteration,
  * main.cpp:285) and its golden files are key-sorted, so sorted output is
  * the canonical form. Both modes write through graft's V2 writer
  * `graft-kv` ([[graft.sources.v2.KvV2Sink]]), so the input must be
  * (key: string, value: int|long); any other schema fails before a job
  * starts. A null key renders as `""` and a null value as `0`.
  *
  * Two modes:
  *  - [[write]]: partitioned directory output, the scale path. The sort is
  *    a distributed range-partitioned sort and each partition writes its
  *    own `part-*` file; the files concatenate in name order to a globally
  *    sorted stream. Overwrite replaces the `part-*` files of `dir`.
  *  - [[writeGoldenFile]]: exactly one file at `path`, for byte-parity with
  *    the reference's single-file master sink (main.cpp:157-174). The
  *    result is coalesced to one partition and sorted inside it, so the
  *    last stage of the input (for an aggregate, its final merge), the
  *    sort and the write run as ONE task, and a golden file costs one
  *    result stage: no sampling job and no range shuffle, which would also
  *    compute the input a second time. The trade-off: every output byte
  *    already funnels through one task in this mode, and now that task
  *    also does the final merge of the partial aggregates. It suits
  *    results of driver-scale size; [[write]] remains the scale path.
  *    No data flows through the driver either way.
  */
object TextSink {

  private val Format = "graft-kv"

  def write(df: DataFrame, dir: String): Unit =
    df.orderBy("key").write.format(Format).mode("overwrite").save(dir)

  def writeGoldenFile(df: DataFrame, path: String): Unit = {
    val target = new Path(path)
    val staging = new Path(path + ".staging")
    // A global orderBy of the input is dropped under the coalesce; the
    // sort inside the single partition is what orders the file.
    df.coalesce(1).sortWithinPartitions("key")
      .write.format(Format).mode("overwrite").save(staging.toString)
    val fs = target.getFileSystem(SessionHadoopConf(df.sparkSession).value.value)
    val part = fs.globStatus(new Path(staging, "part-*"))
    require(part.length == 1, s"expected one staged part file, got ${part.length}")
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(part(0).getPath, target))
      throw new IOException(s"could not move ${part(0).getPath} to $target")
    fs.delete(staging, true)
  }
}
