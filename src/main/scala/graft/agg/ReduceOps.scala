package graft.agg

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.core.{Doc, KeyValue}

/** The reference engine's pluggable map/reduce surface.
  *
  * The grading contract of the reference (check_zip.sh:43, 56-64) swaps
  * `tasks.c` at grade time: the engine must treat map and reduce as opaque
  * pluggable functions. [[GenericMapTask]] is that map slot (any
  * `Doc => Seq[KeyValue]` closure, run as a distributed typed flatMap) and
  * [[ReduceOps.sumReduce]] is the reduce slot, reproducing `reduce()`
  * semantics from tasks.c:149-161 exactly: 7-char key truncation
  * (`strncpy(kv.key, key, 7)`, tasks.c:157-158) and int32 sum with silent
  * wraparound (tasks.c:151-154).
  *
  * The optimized column-expression pipelines in
  * [[graft.operators.MapReduceTasks]] are the fast path for the three
  * known tasks; this generic path exists for arbitrary user tasks and is
  * verified against the same golden outputs (GoldenParitySpec).
  */
object ReduceOps {

  /** Key capacity of the reference's KeyValue record: 7 chars + NUL
    * (tasks.h:12-15). */
  val KeyCapacity = 7

  def truncateKey(key: String): String =
    if (key.length <= KeyCapacity) key else key.substring(0, KeyCapacity)

  /** int sum over a key group with int32 wraparound — bit-parity with the
    * C `int` accumulation in tasks.c:151-154. The buffer is a long purely
    * so partial merges are associative; the final narrowing truncates to
    * 32 bits which equals C's per-step wraparound (addition mod 2^32). */
  class SumValues extends Aggregator[KeyValue, Long, Int] {
    override def zero: Long = 0L
    override def reduce(b: Long, kv: KeyValue): Long = b + kv.value
    override def merge(a: Long, b: Long): Long = a + b
    override def finish(b: Long): Int = b.toInt
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Int] = Encoders.scalaInt
  }

  /** Group by (truncated) key and sum-reduce: the full reduce stage of the
    * reference pipeline. Spark runs this as partial aggregation + shuffle +
    * final merge — a strict improvement over the reference, which ships
    * every raw KeyValue over the wire (main.cpp:204-225). */
  def sumReduce(kvs: Dataset[KeyValue]): Dataset[KeyValue] = {
    val spark = kvs.sparkSession
    import spark.implicits._
    kvs.groupByKey(kv => truncateKey(kv.key))
      .agg(new SumValues().toColumn.name("value"))
      .map { case (k, v) => KeyValue(k, v) }
  }
}

/** The pluggable map-task slot (function-pointer dispatch, main.cpp:83-95):
  * lift any `Doc => Seq[KeyValue]` into a distributed map stage.
  *
  * `cStringParity` reproduces the reference's C-string visibility rule
  * (SURVEY §7.3): the reference reads each file into a NUL-terminated
  * buffer and every task measures it with `strlen` (tasks.c:14/54/99), so
  * content past an embedded NUL byte is INVISIBLE to a C map task, while a
  * Scala String carries it through. With the flag on, content is truncated
  * at the first NUL before the task runs — byte-parity on arbitrary binary
  * inputs. Off by default: the sample corpus has no NULs (verified), and
  * seeing the full content is the more useful semantic for a Spark engine. */
object GenericMapTask {
  /** First-NUL truncation — what `strlen`-measured C code can see. */
  def cVisible(content: String): String = {
    val i = content.indexOf(0)
    if (i < 0) content else content.substring(0, i)
  }

  def apply(f: Doc => Seq[KeyValue], cStringParity: Boolean = false)(
      docs: Dataset[Doc]): Dataset[KeyValue] = {
    val g: Doc => Seq[KeyValue] =
      if (cStringParity) d => f(d.copy(content = cVisible(d.content))) else f
    docs.flatMap(g)(Encoders.product[KeyValue])
  }
}

/** Plain-Scala reimplementations of the reference's three map tasks
  * (tasks.c:13-133), used through [[GenericMapTask]] to prove the generic
  * path reproduces the golden outputs, and by the property suite as
  * executable specifications of the optimized pipelines. */
object ReferenceTasks {

  /** map1 (tasks.c:13-45): ASCII letter / digit / other character counts,
    * in code points like [[graft.operators.MapReduceTasks.task1]]. */
  def map1(doc: Doc): Seq[KeyValue] = {
    var letters = 0
    var numbers = 0
    var others = 0
    doc.content.codePoints().forEach { c =>
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) letters += 1
      else if (c >= '0' && c <= '9') numbers += 1
      else others += 1
    }
    Seq(KeyValue("letters", letters), KeyValue("numbers", numbers),
      KeyValue("others", others))
  }

  /** map2 (tasks.c:53-88): dense 26-row case-folded letter histogram,
    * zeros included. */
  def map2(doc: Doc): Seq[KeyValue] = {
    val counts = new Array[Int](26)
    doc.content.foreach { c =>
      if (c >= 'a' && c <= 'z') counts(c - 'a') += 1
      else if (c >= 'A' && c <= 'Z') counts(c - 'A') += 1
    }
    (0 until 26).map(i => KeyValue(('a' + i).toChar.toString, counts(i)))
  }

  /** map3 (tasks.c:98-133): emits we/love/cs/3210 cycled len%49 times,
    * value 1 each, len in code points like
    * [[graft.operators.MapReduceTasks.task3]]. */
  def map3(doc: Doc): Seq[KeyValue] = {
    val keys = Seq("we", "love", "cs", "3210")
    val count = doc.content.codePointCount(0, doc.content.length) % 49
    Seq.fill(count)(keys).flatten.map(KeyValue(_, 1))
  }
}
