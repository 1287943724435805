package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftTable
import graft.core.{GraftTableConfig, GraftTableType}
import graft.read.GraftReadClient
import graft.services.TableServices
import graft.write.{GraftWriteClient, WriteConfig}

/** One table's life under a workload: the timed public calls into graft,
  * each followed (untimed) by the checks against the model. Input frames
  * are generated and materialized before the call that receives them, so a
  * call's time holds no generation work.
  */
final class Lifecycle(spark: SparkSession, val shape: Shape, tableType: String,
    seed: Long, initialRows: Int, wc: WriteConfig, serviceWc: WriteConfig, val path: String,
    val rec: Recorder) {
  val gen = new Gen(shape, seed, initialRows)
  val model = new Model(shape)
  /** Instant of each write; index 0 is the load. */
  val instants = new ArrayBuffer[String]
  val failures = new ArrayBuffer[String]
  /** Traced runs only: (timeline instants, data files, delta files) at each snapshot read. */
  val viewSamples = new ArrayBuffer[(Int, Int, Int)]
  private var table: GraftTable = _
  private var writer: GraftWriteClient = _
  private var reader: GraftReadClient = _
  private var services: TableServices = _
  private val parts = spark.sparkContext.defaultParallelism

  def lastWrite: Int = instants.size - 1

  private def check(name: String, ok: => Boolean, detail: => String): Unit =
    if (!ok) failures += s"$name: $detail"

  /** The batch's rows, generated in Spark tasks and held in memory. */
  private def frame(b: Batch): DataFrame = {
    val (sh, sd, op, v) = (shape, seed, b.op, b.version)
    val schema = if (b.op == "delete") sh.keySchema else sh.schema
    val slices = math.max(1, math.min(parts, (b.slots.length + 4999) / 5000))
    val rows = spark.sparkContext.parallelize(b.slots.toSeq, slices)
      .map(s => Gen.rowOf(sh, sd, op, v, s))
    val df = spark.createDataFrame(rows, schema).persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  def load(): Unit = {
    table = GraftTable.create(spark, path, GraftTableConfig(
      tableName = shape.getClass.getSimpleName.stripSuffix("$").toLowerCase,
      tableType = tableType, recordKeyFields = shape.keyFields,
      partitionFields = Seq(shape.partitionField)))
    writer = new GraftWriteClient(table, wc)
    val b = gen.initial
    val df = frame(b)
    instants += rec.call("write.load", (_: String) => b.rows)(writer.bulkInsert(df))
    model.upsert(df, 0)
    df.unpersist(blocking = true)
  }

  /** Reopens the table, its config and active timeline, and its clients,
    * as a job starting a new batch of work would.
    */
  def open(): Unit = rec.call("core.open", (_: Unit) => 0L) {
    table = GraftTable.load(spark, path)
    table.config
    table.timeline.completedData
    writer = new GraftWriteClient(table, wc)
    reader = new GraftReadClient(table)
    services = new TableServices(table, serviceWc)
  }

  def write(b: Batch): Unit = {
    val df = frame(b)
    val op = if (b.op == "delete") "write.delete" else "write.upsert"
    instants += rec.call(op, (_: String) => b.rows) {
      if (b.op == "delete") writer.delete(df) else writer.upsert(df)
    }
    if (b.op == "delete") model.delete(b.slots)
    else model.upsert(df, lastWrite)
    df.unpersist(blocking = true)
  }

  private def data(df: DataFrame): DataFrame = df.select(shape.dataColumns.map(col): _*)

  /** The current snapshot's data columns, untimed. */
  def snapshotFrame: DataFrame = data(reader.snapshot())

  def snapshot(): Unit = {
    if (rec.traced) {
      val slices = table.view.latestSlices(None)
      viewSamples += ((table.timeline.instants.size, slices.count(_.base.isDefined),
        slices.map(_.deltas.size).sum))
    }
    val got = rec.call("read.snapshot", (c: Checksum) => c.rows)(
      Checksum.of(data(reader.snapshot()), shape))
    check("snapshot equals model", got == model.checksum, s"graft $got, model ${model.checksum}")
  }

  /** `times` back-to-back pairs of a snapshot read and an incremental read
    * from write `fromWrite`: reads change nothing, so repeating them adds
    * samples of the short calls without moving the table on.
    */
  def reads(fromWrite: Int, times: Int): Unit = for (_ <- 1 to times) {
    snapshot()
    incremental(fromWrite)
  }

  /** Incremental read of everything written after write `fromWrite`. */
  def incremental(fromWrite: Int): Unit = {
    val got = rec.call("read.incremental", (c: Checksum) => c.rows)(
      Checksum.of(data(reader.incremental(instants(fromWrite))), shape))
    lazy val want = model.checksumSince(fromWrite)
    check(s"incremental after write $fromWrite equals model", got == want,
      s"graft $got, model $want")
  }

  /** A table-service call; the snapshot must read the same before and after. */
  def service(op: String)(body: TableServices => Option[String]): Unit = {
    val before = model.checksum
    rec.call(op, (_: Option[String]) => 0L)(body(services))
    lazy val after = Checksum.of(data(reader.snapshot()), shape)
    check(s"$op keeps the snapshot", after == before, s"before $before, after $after")
  }

  /** MOR: right after a compaction the base files alone hold the snapshot. */
  def readOptimizedEqualsSnapshot(): Unit = {
    lazy val ro = Checksum.of(data(reader.readOptimized()), shape)
    check("read-optimized equals snapshot after compaction", ro == model.checksum,
      s"read-optimized $ro, model ${model.checksum}")
  }

  def finalChecks(): Unit = {
    val snap = snapshotFrame
    check("final snapshot equals model", Checksum.of(snap, shape) == model.checksum,
      s"model ${model.checksum}")
    val dups = snap.groupBy(shape.keyFields.map(col): _*).count().filter(col("count") > 1).count()
    check("no duplicate record key", dups == 0, s"$dups keys appear more than once")
  }

  def tableBytes: Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.getContentSummary(p).getLength
  }
}

/** A workload: a table shape and size, and the cycle of calls a round
  * repeats [[cycles]] times; each cycle starts by reopening the table.
  * Runs repeat whole rounds until the measuring time is used up. Batch
  * sizes are fractions of the live rows. The warm-up round (`warm`) makes
  * one cycle, with one pair of reads a read point, on the full-size table,
  * so that every gate side the timed round takes has run once; a timed
  * round repeats each read point's pair of reads [[readRepeats]] times.
  */
abstract class Workload(val name: String, val shape: Shape, val tableType: String,
    val initialRows: Int) {
  /** Compaction runs only when the round calls it. */
  def wc: WriteConfig = WriteConfig(inlineCompactDeltaCommits = 0)
  def serviceWc: WriteConfig = WriteConfig()
  def readRepeats: Int = 1
  def cycles: Int = 1
  protected def cycle(l: Lifecycle, warm: Boolean): Unit
  def round(l: Lifecycle, warm: Boolean): Unit =
    for (_ <- 1 to (if (warm) 1 else cycles)) {
      l.open()
      cycle(l, warm)
    }
  protected def n(l: Lifecycle, share: Double): Int =
    math.max(1, math.round(l.gen.live * share).toInt)
  /** A read point: snapshot and incremental reads from write `from`. */
  protected def reads(l: Lifecycle, warm: Boolean, from: Int): Unit =
    l.reads(from, if (warm) 1 else readRepeats)
  /** The incremental reads start two writes back. */
  protected def recent(l: Lifecycle): Int = math.max(0, l.lastWrite - 2)
}

object Workload {
  /** Streaming ingest into a COW table: many small commits, every third
    * a delete, each three followed by reads, a clean and an archive. Every
    * size gate sits on its small side (inverted tag join, driver staged
    * stats). Its reads and services are short: a round makes three cycles
    * and each read point repeats its reads three times.
    */
  object CowTrickle extends Workload("cow_trickle", Orders, GraftTableType.Cow, 100000) {
    override def readRepeats: Int = 3
    override def cycles: Int = 3
    def cycle(l: Lifecycle, warm: Boolean): Unit = {
      def upsert(): Unit = l.write(l.gen.upsert(n(l, 0.0024), n(l, 0.0006), recentShare = 0.06))
      upsert()
      upsert()
      l.write(l.gen.delete(n(l, 0.001), recentShare = 0.06))
      reads(l, warm, recent(l))
      l.service("services.clean")(_.clean(retainCommits = 2))
      l.service("services.archive")(_.archive(minCommits = 3, maxCommits = 4))
    }
  }

  /** MOR merge reads: delta commits raise the merge debt past the broadcast
    * threshold, then a compaction pays it off. One cycle holds a single
    * compaction and three writes, too few samples for steady figures, so a
    * round makes two cycles.
    */
  object MorMergeRead extends Workload("mor_merge_read", Lineitem, GraftTableType.Mor, 100000) {
    override def cycles: Int = 2
    def cycle(l: Lifecycle, warm: Boolean): Unit = {
      l.write(l.gen.upsert(n(l, 0.05), 0))
      reads(l, warm, recent(l))
      l.write(l.gen.delete(n(l, 0.02)))
      l.write(l.gen.upsert(n(l, 0.06), n(l, 0.02)))
      reads(l, warm, recent(l))
      l.service("services.compact")(_.compact())
      l.readOptimizedEqualsSnapshot()
      reads(l, warm, recent(l))
      l.service("services.clean")(_.clean(retainCommits = 2))
    }
  }

  /** Large batches into a COW table: the 40% upsert takes the distributed
    * side of every write gate. Inserts open new file groups (no small-file
    * packing) so that clustering has groups to consolidate. Its reads are
    * short next to its writes, so each read point repeats them three times.
    */
  object CowLargeBatch extends Workload("cow_large_batch", Lineitem, GraftTableType.Cow, 100000) {
    override def wc: WriteConfig = super.wc.copy(smallFileLimitBytes = 0L)
    override def readRepeats: Int = 3
    def cycle(l: Lifecycle, warm: Boolean): Unit = {
      l.write(l.gen.upsert(n(l, 0.40), 0))
      val from = l.lastWrite
      l.write(l.gen.upsert(n(l, 0.02), n(l, 0.10)))
      l.write(l.gen.delete(n(l, 0.10)))
      reads(l, warm, from)
      l.service("services.cluster")(_.cluster())
      reads(l, warm, from)
      l.service("services.clean")(_.clean(retainCommits = 2))
    }
  }

  val all: Seq[Workload] = Seq(CowTrickle, MorMergeRead, CowLargeBatch)
  def byName(name: String): Option[Workload] = all.find(_.name == name)
}
