package perfbench

import scala.collection.mutable

import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The in-memory model of the `lake_dml` table: key -> (site, value),
  * plus the row count and value sum the table must show at every
  * committed version. The workload drives it with the same seeded ops
  * it sends to the engine and checks reads against it. */
final class LakeModel {
  private val rows = mutable.HashMap.empty[Long, (String, Long)]
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  /** version -> (rows, value sum) */
  val versions = mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private var sum = 0L
  var nextId = 0L

  def size: Int = keys.size
  def valueSum: Long = sum
  def get(id: Long): Option[(String, Long)] = rows.get(id)
  def keyAt(i: Int): Long = keys(i)

  def put(id: Long, site: String, v: Long): Unit = {
    rows.get(id) match {
      case Some((_, old)) => sum -= old
      case None => pos(id) = keys.size; keys += id
    }
    rows(id) = (site, v)
    sum += v
    nextId = math.max(nextId, id + 1)
  }

  def remove(id: Long): Unit = rows.remove(id).foreach { case (_, v) =>
    sum -= v
    val i = pos.remove(id).get
    val last = keys.remove(keys.size - 1)
    if (last != id) { keys(i) = last; pos(last) = i }
  }

  /** Record the state the table shows at `version`. */
  def commit(version: Long): Unit = versions(version) = (size.toLong, sum)

  /** Order-insensitive hash of the live key set, matching Spark's
    * `sum(hash(id))` (Murmur3, seed 42) over the table. */
  def keySetHash: Long = keys.iterator.map(k => Murmur3_x86_32.hashLong(k, 42).toLong).sum
}

object LakeModel {
  /** Compare what the table showed with what the model expects; returns
    * a description of each mismatch. */
  def check(what: String, expected: (Long, Long, Long),
      observed: (Long, Long, Long)): Seq[String] = {
    val names = Seq("rows", "value sum", "key-set hash")
    names.zip(expected.productIterator.toSeq.zip(observed.productIterator.toSeq))
      .collect { case (n, (e, o)) if e != o => s"$what: $n $o != model $e" }
  }
}
