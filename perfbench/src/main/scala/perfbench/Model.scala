package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-independent content checksum: row count plus two sums of 32-bit
  * Murmur3 row hashes (differently seeded), each over every data column.
  */
final case class Checksum(rows: Long, h1: Long, h2: Long) {
  override def toString: String = s"rows=$rows h1=$h1 h2=$h2"
}

object Checksum {
  def hash1(cols: Seq[String]): Column = hash(cols.map(col): _*)
  def hash2(cols: Seq[String]): Column = hash((lit("perfbench") +: cols.map(col)): _*)

  /** Drives `df` to one aggregate over every data column of `shape`: the
    * full scan a checksum needs, which Catalyst cannot answer from file
    * footers the way it can a bare `count()`.
    */
  def of(df: DataFrame, shape: Shape): Checksum = {
    val c = shape.dataColumns
    val r = df.agg(count(lit(1)), sum(hash1(c).cast("long")), sum(hash2(c).cast("long"))).head()
    Checksum(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** The expected table, kept apart from graft: plain Spark hashes each
  * generated batch's rows, and a keyed map applies the batches in commit
  * order (an upsert replaces its keys' rows, a delete removes them), the
  * keyed union with anti-join written as a map. Per slot it keeps whether
  * the record is live, its two row hashes and the index of the write that
  * last carried it, which is what an incremental read from a given write
  * must return.
  */
final class Model(shape: Shape) {
  private val alive = new java.util.BitSet
  private var h1 = new Array[Int](1 << 16)
  private var h2 = new Array[Int](1 << 16)
  private var lastWrite = new Array[Int](1 << 16)
  private var rows = 0L
  private var sum1 = 0L
  private var sum2 = 0L

  private def ensure(slot: Int): Unit = if (slot >= h1.length) {
    val n = math.max(slot + 1, h1.length * 2)
    h1 = java.util.Arrays.copyOf(h1, n)
    h2 = java.util.Arrays.copyOf(h2, n)
    lastWrite = java.util.Arrays.copyOf(lastWrite, n)
  }

  /** Applies the upsert (or load) `input` as write number `writeIdx`. */
  def upsert(input: DataFrame, writeIdx: Int): Unit = {
    val c = shape.dataColumns
    val hashes = input.select(shape.slotOf.cast("long"), Checksum.hash1(c), Checksum.hash2(c)).collect()
    hashes.foreach { r =>
      val s = r.getLong(0).toInt
      ensure(s)
      if (alive.get(s)) { sum1 -= h1(s); sum2 -= h2(s) } else { alive.set(s); rows += 1 }
      h1(s) = r.getInt(1); h2(s) = r.getInt(2); lastWrite(s) = writeIdx
      sum1 += h1(s); sum2 += h2(s)
    }
  }

  def delete(slots: Array[Long]): Unit = slots.foreach { l =>
    val s = l.toInt
    if (alive.get(s)) {
      alive.clear(s); rows -= 1; sum1 -= h1(s); sum2 -= h2(s)
    }
  }

  def checksum: Checksum = Checksum(rows, sum1, sum2)

  /** Live rows last written by a write numbered above `writeIdx`. */
  def checksumSince(writeIdx: Int): Checksum = {
    var n = 0L; var a = 0L; var b = 0L
    var s = alive.nextSetBit(0)
    while (s >= 0) {
      if (lastWrite(s) > writeIdx) { n += 1; a += h1(s); b += h2(s) }
      s = alive.nextSetBit(s + 1)
    }
    Checksum(n, a, b)
  }
}
