package perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: its inputs are a pure function of the seed,
  * and its correctness check catches a wrong snapshot.
  */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark = Main.session(work)

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  private def batches(shape: Shape, seed: Long) = {
    val g = new Gen(shape, seed, 2000)
    Seq(g.upsert(300, 50, recentShare = 0.4), g.delete(100), g.upsert(800, 0))
      .map(b => (b.op, b.slots.toSeq, g.rowsOf(b).toSeq))
  }

  test("the same seed gives identical batches, another seed other key picks") {
    for (shape <- Seq(Orders, Lineitem)) {
      assert(batches(shape, 7) == batches(shape, 7))
      val other = batches(shape, 8)
      batches(shape, 7).zip(other).foreach { case (a, b) => assert(a._2 != b._2, a._1) }
    }
  }

  test("picked keys are live, distinct and recent, deleted keys never come back") {
    val g = new Gen(Orders, 3, 1000)
    val dead = g.delete(400).slots.toSet
    val up = g.upsert(300, 20, recentShare = 0.8).slots
    assert(up.distinct.length == up.length)
    assert(up.forall(s => !dead(s)))
    assert(up.take(300).forall(_ >= 200))
    assert(g.live == 620)
  }

  test("every workload's round passes its model checks at a small scale") {
    for (wl <- Workload.all) {
      val rec = new Recorder(spark.sparkContext, traced = true)
      val l = new Lifecycle(spark, wl.shape, wl.tableType, 11, 3000, wl.wc, wl.serviceWc,
        work.resolve(wl.name).toString, rec)
      l.load()
      wl.round(l, warm = false)
      l.finalChecks()
      assert(l.failures.isEmpty, wl.name)
      assert(rec.spans.map(_.op).distinct.forall(Report.Ops.contains), wl.name)
    }
  }

  test("the snapshot check fails on one altered row and on one dropped row") {
    val wl = Workload.MorMergeRead
    val l = new Lifecycle(spark, wl.shape, wl.tableType, 5, 2000, wl.wc, wl.serviceWc,
      work.resolve("planted").toString, new Recorder(spark.sparkContext, traced = false))
    l.load()
    wl.round(l, warm = false)
    val snap = l.snapshotFrame.cache()
    val want = l.model.checksum
    assert(Checksum.of(snap, wl.shape) == want)
    val victim = snap.select("l_orderkey", "l_linenumber").orderBy("l_orderkey", "l_linenumber").head()
    val isVictim = col("l_orderkey") === victim.getLong(0) && col("l_linenumber") === victim.getInt(1)
    val altered = snap.withColumn("l_quantity",
      when(isVictim, col("l_quantity") + 1).otherwise(col("l_quantity")))
    assert(Checksum.of(altered, wl.shape) != want)
    assert(Checksum.of(snap.filter(!isVictim), wl.shape) != want)
    snap.unpersist()
  }
}
