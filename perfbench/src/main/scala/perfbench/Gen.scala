package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A keyed row shape. Every record lives in a dense integer "slot"; the
  * record key, the partition value and every column are pure functions of
  * (seed, slot, version), so the same seed always yields the same rows and
  * an update keeps its record in the partition it was created in.
  */
sealed trait Shape extends Serializable {
  def schema: StructType
  def keyFields: Seq[String]
  def partitionField: String
  /** Recovers the slot from a row of this shape (used by the model). */
  def slotOf: Column
  def row(seed: Long, slot: Long, version: Int): Row
  /** Key and partition columns only: the input of a delete. */
  def keyRow(seed: Long, slot: Long): Row
  def keySchema: StructType =
    StructType((keyFields :+ partitionField).map(schema(_)))
  def dataColumns: Seq[String] = schema.fieldNames.toSeq
}

object Shape {
  /** SplitMix64 finalizer: decorrelates nearby seeds, slots and versions. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(a: Long, b: Long, c: Long): Long = mix(mix(mix(a) ^ b) ^ c)

  private val Words = Array("furiously", "carefully", "regular", "deposits",
    "accounts", "packages", "ideas", "final", "pending", "express", "bold",
    "silent", "quickly", "blithely", "ironic", "special", "even", "slyly",
    "requests", "theodolites", "instructions", "dependencies", "platelets",
    "foxes", "pinto", "beans", "asymptotes", "courts", "dolphins", "sheaves")

  def comment(rng: SplittableRandom, minWords: Int, maxWords: Int): String = {
    val n = rng.nextInt(minWords, maxWords + 1)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Words(rng.nextInt(Words.length)))
      i += 1
    }
    sb.toString
  }

  /** Free text that compresses about as badly as real prose under snappy:
    * random lowercase letters, a space after every few.
    */
  def text(rng: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val n = rng.nextInt(minLen, maxLen + 1)
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) {
      cs(i) = if (rng.nextInt(7) == 0) ' ' else ('a' + rng.nextInt(26)).toChar
      i += 1
    }
    new String(cs)
  }

  def cents(rng: SplittableRandom, lo: Long, hi: Long): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(rng.nextLong(lo, hi), 2)

  def date(epochDay: Long): java.sql.Date = java.sql.Date.valueOf(LocalDate.ofEpochDay(epochDay))
}

/** TPC-H orders-shaped rows, partitioned by order month. Order dates grow
  * with the slot (about [[Orders.RowsPerDay]] orders a day), so new keys
  * land in the newest partition and "recent" keys are the high slots.
  */
object Orders extends Shape {
  import Shape._
  val RowsPerDay = 100
  private val Day0 = LocalDate.of(1992, 1, 1).toEpochDay
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType),
    StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType),
    StructField("o_month", StringType, nullable = false)))
  val keyFields: Seq[String] = Seq("o_orderkey")
  val partitionField = "o_month"
  def slotOf: Column = col("o_orderkey")

  private def day(slot: Long): Long = Day0 + slot / RowsPerDay
  private def month(slot: Long): String = LocalDate.ofEpochDay(day(slot)).toString.substring(0, 7)

  def row(seed: Long, slot: Long, version: Int): Row = {
    val rng = new SplittableRandom(mix(seed, slot, version))
    Row(slot, rng.nextLong(150000L), "OFP".charAt(rng.nextInt(3)).toString,
      cents(rng, 90000L, 50000000L), date(day(slot)),
      Priorities(rng.nextInt(Priorities.length)), f"Clerk#${rng.nextInt(1000)}%09d", 0,
      comment(rng, 3, 9), month(slot))
  }

  def keyRow(seed: Long, slot: Long): Row = Row(slot, month(slot))
}

/** TPC-H lineitem-shaped rows with a composite key (l_orderkey,
  * l_linenumber), four lines an order, partitioned by ship mode. The ship
  * mode is fixed per record, so every partition keeps receiving updates and
  * new keys; "REG AIR" puts a space in one partition path. The comment is a
  * long free-text field (about 200 bytes a row on disk in all), so that
  * rewriting a 100k-row table stages more than graft's 16 MB driver-stats
  * ceiling.
  */
object Lineitem extends Shape {
  import Shape._
  val LinesPerOrder = 4
  private val Day0 = LocalDate.of(1992, 1, 1).toEpochDay
  private val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Instructs = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")

  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_quantity", IntegerType),
    StructField("l_extendedprice", DecimalType(12, 2)),
    StructField("l_discount", DecimalType(4, 2)),
    StructField("l_tax", DecimalType(4, 2)),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType),
    StructField("l_commitdate", DateType),
    StructField("l_receiptdate", DateType),
    StructField("l_shipinstruct", StringType),
    StructField("l_comment", StringType),
    StructField("l_shipmode", StringType, nullable = false)))
  val keyFields: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val partitionField = "l_shipmode"
  def slotOf: Column = col("l_orderkey") * LinesPerOrder + col("l_linenumber") - 1

  private def mode(seed: Long, slot: Long): String =
    Modes(java.lang.Math.floorMod(mix(seed, slot, -1L), Modes.length.toLong).toInt)

  def row(seed: Long, slot: Long, version: Int): Row = {
    val rng = new SplittableRandom(mix(seed, slot, version))
    val ship = Day0 + rng.nextInt(2500)
    Row(slot / LinesPerOrder, (slot % LinesPerOrder).toInt + 1,
      rng.nextLong(200000L), rng.nextLong(10000L), rng.nextInt(1, 51),
      cents(rng, 90000L, 10000000L), cents(rng, 0L, 11L), cents(rng, 0L, 9L),
      "RAN".charAt(rng.nextInt(3)).toString, "OF".charAt(rng.nextInt(2)).toString,
      date(ship), date(ship + rng.nextInt(-60, 60)), date(ship + rng.nextInt(1, 31)),
      Instructs(rng.nextInt(Instructs.length)), text(rng, 200, 300), mode(seed, slot))
  }

  def keyRow(seed: Long, slot: Long): Row =
    Row(slot / LinesPerOrder, (slot % LinesPerOrder).toInt + 1, mode(seed, slot))
}

/** One generated write: the slots it carries and the version their rows
  * get. `delete` batches carry keys only.
  */
final case class Batch(op: String, slots: Array[Long], version: Int) {
  def rows: Long = slots.length.toLong
}

/** Deterministic batch generator. Key picks come from a per-batch
  * SplittableRandom seeded from (seed, batch number); the live-key set it
  * picks from evolves only through the batches it generated, never through
  * anything the table under test returns.
  */
final class Gen(val shape: Shape, val seed: Long, initialRows: Int) {
  private var next: Long = initialRows.toLong
  private val deleted = new java.util.BitSet
  private var batchNo = 0
  private var liveCount: Long = initialRows.toLong

  def live: Long = liveCount

  def initial: Batch = Batch("load", Array.tabulate(initialRows)(_.toLong), 0)

  private def rngFor(n: Int) = new SplittableRandom(Shape.mix(seed, 0x5EEDL, n.toLong))

  /** `updates` live keys picked uniformly, from all slots (recentShare =
    * 1) or from the newest `recentShare` of them, plus `inserts` new keys.
    * A window rather than a decaying skew keeps the set of partitions a
    * batch touches the same for every seed, so the write work a seed
    * causes does not depend on how deep its deepest pick happened to reach.
    */
  def upsert(updates: Int, inserts: Int, recentShare: Double = 1.0): Batch = {
    batchNo += 1
    val rng = rngFor(batchNo)
    val picked = pick(rng, updates, recentShare)
    val fresh = Array.tabulate(inserts)(i => next + i)
    next += inserts
    liveCount += inserts
    Batch("upsert", picked ++ fresh, batchNo)
  }

  def delete(n: Int, recentShare: Double = 1.0): Batch = {
    batchNo += 1
    val picked = pick(rngFor(batchNo), n, recentShare)
    picked.foreach(s => deleted.set(s.toInt))
    liveCount -= picked.length
    Batch("delete", picked, batchNo)
  }

  private def pick(rng: SplittableRandom, n: Int, recentShare: Double): Array[Long] = {
    val window = math.max(1L, math.min(next, math.round(recentShare * next)))
    val from = next - window
    require(n <= window - deleted.get(from.toInt, next.toInt).cardinality,
      s"cannot pick $n live keys among the newest $window slots")
    val chosen = new java.util.BitSet
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = from + rng.nextLong(window)
      if (!deleted.get(s.toInt) && !chosen.get(s.toInt)) {
        chosen.set(s.toInt)
        out(i) = s
        i += 1
      }
    }
    java.util.Arrays.sort(out)
    out
  }

  def rowsOf(b: Batch): Array[Row] = b.slots.map(Gen.rowOf(shape, seed, b.op, b.version, _))
}

object Gen {
  def rowOf(shape: Shape, seed: Long, op: String, version: Int, slot: Long): Row =
    if (op == "delete") shape.keyRow(seed, slot) else shape.row(seed, slot, version)
}
