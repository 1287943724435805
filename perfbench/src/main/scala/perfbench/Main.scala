package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.LinkedHashMap

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (see perfbench/README.md):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--launch-ms <epoch ms>] [--trace-out <file>]
  *
  * One driver thread calls graft's public clients in a closed loop: each
  * call starts when the previous one has returned. After an untimed
  * warm-up load of a small throwaway table, the run loads the table, makes
  * one untimed warm-up round, then repeats the workload's round until the
  * timed rounds have taken `--seconds` of timed calls.
  * Every metric line goes to stdout; the last line is
  * `PERFBENCH_RESULT <json>`.
  */
object Main {
  /** Spark's broadcast threshold for every run: the size gates that read it
    * (the inverted tag join, the broadcast MOR merge and compaction) then
    * switch sides at table sizes that fit a short run.
    */
  val BroadcastThreshold: Long = 2L * 1024 * 1024

  final case class Opts(workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: Path, launchMs: Long, traceOut: Option[Path])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), m.get("launch-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      m.get("trace-out").map(Paths.get(_)))
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case e: Throwable =>
        System.err.println("perfbench: run failed")
        e.printStackTrace()
        2
    }
    sys.exit(code)
  }

  /** `local[3]` on a 4-core host leaves one core to the driver thread, the
    * JIT and the collector; on the 4-core reference host every call ran
    * about a fifth faster than on `local[4]`.
    */
  def session(work: Path): SparkSession = {
    val cores = math.min(3, Runtime.getRuntime.availableProcessors)
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", BroadcastThreshold.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  def run(o: Opts): Int = {
    val wl = Workload.byName(o.workload).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload ${o.workload}; known: ${Workload.all.map(_.name).mkString(", ")}"))
    Files.createDirectories(o.work)
    val spark = session(o.work)
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val listener = if (o.traced) Some(new JobListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val rec = new Recorder(spark.sparkContext, o.traced)
      val l = new Lifecycle(spark, wl.shape, wl.tableType, o.seed, wl.initialRows, wl.wc,
        wl.serviceWc, o.work.resolve("table").toString, rec)
      progress(o, "session up")
      // Untimed warm-up load of a throwaway table a tenth the size, under
      // another seed, so the timed load does not pay for first-use class
      // loading and compilation.
      val bare = new Recorder(spark.sparkContext, traced = false)
      bare.recording = false
      new Lifecycle(spark, wl.shape, wl.tableType, o.seed ^ 0x3A3AL, wl.initialRows / 10, wl.wc,
        wl.serviceWc, o.work.resolve("warmup").toString, bare).load()
      progress(o, "warm-up load done")
      val heap = new HeapMonitor
      l.load()
      progress(o, "load done")
      // Untimed warm-up pass on the loaded table, with every check, so the
      // timed round runs warmed code on every side of every size gate it
      // takes.
      rec.recording = false
      wl.round(l, warm = true)
      rec.recording = true
      progress(o, "warm-up round done")
      while (rec.round == 0 || timedSeconds(rec) < o.seconds) {
        rec.round += 1
        wl.round(l, warm = false)
      }
      progress(o, s"${rec.round} rounds done: " + rec.spans.map(s => f"${s.op} ${s.wallNs / 1e9}%.2f").mkString(", "))
      l.finalChecks()
      heap.close()
      progress(o, "final checks done")

      val failures = l.failures
      failures.foreach(f => println(s"check FAILED $f"))
      if (failures.isEmpty) println("check ok: snapshot, incremental, service and key checks all match the model")
      val metrics =
        if (!o.traced) Report.endToEnd(rec, l, heap, o.launchMs)
        else {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          val jobs = listener.get.bySpan(rec.spans.toSeq)
          o.traceOut.foreach(Report.writeTrace(_, rec, jobs))
          Report.perLayer(rec, l, jobs)
        }
      metrics.foreach { case (k, (v, u)) => println(f"metric $k%-45s $v%.6g $u") }
      println("PERFBENCH_RESULT " + Report.json(failures.isEmpty, rec.spans.size, 0, metrics))
      progress(o, "result printed")
      0
    } finally {
      spark.stop()
      progress(o, "session stopped")
    }
  }

  private def progress(o: Opts, what: String): Unit =
    System.err.println(f"perfbench: $what at ${(System.currentTimeMillis() - o.launchMs) / 1e3}%.1f s")

  private def timedSeconds(rec: Recorder): Double =
    rec.spans.iterator.filter(_.round >= 1).map(_.wallNs).sum / 1e9
}

/** Turns the recorded spans into the end-to-end and per-layer metrics. */
object Report {
  type Metrics = LinkedHashMap[String, (Double, String)]

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
  }

  private def secs(ns: Long): Double = ns / 1e9

  /** Median over rounds of the summed wall time of the matching calls. */
  private def perRound(rec: Recorder, keep: Span => Boolean): Double =
    median(rec.spans.filter(_.round >= 1).groupBy(_.round).values
      .map(ss => secs(ss.filter(keep).map(_.wallNs).sum)).toSeq)

  def endToEnd(rec: Recorder, l: Lifecycle, heap: HeapMonitor, launchMs: Long): Metrics = {
    val spans = rec.spans.toSeq
    val load = spans.find(_.op == "write.load").get
    val writes = spans.filter(s => s.round >= 1 && s.op.startsWith("write."))
    val m = new Metrics
    val firstRound = spans.find(_.round >= 1).get
    // Everything untimed before the first timed round: session, input
    // generation, the warm-up load and the warm-up round after the load.
    m("setup_s") = ((load.startMs - launchMs + firstRound.startMs - load.endMs) / 1e3, "s")
    m("load_s") = (secs(load.wallNs), "s")
    m("write_p50_s") = (median(writes.map(s => secs(s.wallNs))), "s")
    m("write_rows_per_s") = (writes.map(_.rows).sum / secs(writes.map(_.wallNs).sum), "rows/s")
    m("read_s") = (perRound(rec, _.op == "read.snapshot"), "s")
    m("incr_read_s") = (perRound(rec, _.op == "read.incremental"), "s")
    m("service_s") = (perRound(rec, _.op.startsWith("services.")), "s")
    m("run_s") = (perRound(rec, _ => true), "s")
    m("table_bytes_per_row") = (l.tableBytes.toDouble / l.model.checksum.rows, "B/row")
    val gcs = heap.within(spans)
    System.err.println("perfbench: after-GC heap MB " + gcs.map(_ >> 20).mkString(" "))
    m("peak_heap_mb") = ((if (gcs.isEmpty) 0L else gcs.max) / (1024.0 * 1024.0), "MB")
    m
  }

  val Ops: Seq[String] = Seq("write.load", "write.upsert", "write.delete", "read.snapshot",
    "read.incremental", "services.clean", "services.archive", "services.compact",
    "services.cluster", "core.open")

  /** Ops of workloads outside BENCHMARK.json (clustering, in `cow_large_batch`):
    * their metrics are printed only by runs that call them.
    */
  val HandRunOps: Set[String] = Set("services.cluster")

  /** Job-busy time of a span: the union of its jobs' intervals. */
  private def busyMs(s: Span, jobs: Seq[JobRecord]): Long = {
    val iv = jobs.map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))).filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var cur = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) total += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) total += cur._2 - cur._1
    total
  }

  /** Per-call means of every quantity, per op, plus the extras. Ops a
    * workload never calls read 0.
    */
  def perLayer(rec: Recorder, l: Lifecycle, jobs: Map[Int, Seq[JobRecord]]): Metrics = {
    val spans = rec.spans.toSeq
    val m = new Metrics
    def js(s: Span) = jobs.getOrElse(s.id, Nil)
    for (op <- Ops if !HandRunOps(op) || spans.exists(_.op == op)) {
      val calls = spans.filter(_.op == op)
      def mean(f: Span => Double) = if (calls.isEmpty) 0.0 else calls.map(f).sum / calls.size
      val wall = mean(s => secs(s.wallNs))
      val busy = mean(s => busyMs(s, js(s)) / 1e3)
      m(s"$op.calls") = (calls.size.toDouble, "count")
      m(s"$op.wall_s") = (wall, "s")
      m(s"$op.jobs") = (mean(s => js(s).size.toDouble), "count")
      m(s"$op.job_busy_s") = (busy, "s")
      m(s"$op.driver_gap_s") = (wall - busy, "s")
      m(s"$op.first_job_delay_s") = (mean(s =>
        js(s).map(_.startMs).minOption.map(t => (t - s.startMs) / 1e3).getOrElse(secs(s.wallNs))), "s")
      m(s"$op.executor_cpu_s") = (mean(s => js(s).map(_.cpuNs).sum / 1e9), "s")
      m(s"$op.input_bytes") = (mean(s => js(s).map(_.inputBytes).sum.toDouble), "B")
      m(s"$op.shuffle_bytes") = (mean(s => js(s).map(_.shuffleBytes).sum.toDouble), "B")
      m(s"$op.output_bytes") = (mean(s => js(s).map(_.outputBytes).sum.toDouble), "B")
    }
    val upserts = spans.filter(_.op == "write.upsert").map(s => secs(s.wallNs))
    m("write.upsert.commit_p90_s") = (percentile(upserts, 0.9), "s")
    val writes = spans.filter(s => s.round >= 1 && s.op.startsWith("write."))
    m("write.bytes_written_per_row") = (
      writes.map(s => js(s).map(_.outputBytes).sum).sum.toDouble / math.max(1L, writes.map(_.rows).sum), "B/row")
    val snaps = spans.filter(_.op == "read.snapshot")
    m("read.snapshot.rows_examined_per_row") = (
      snaps.map(s => js(s).map(_.inputRecords).sum).sum.toDouble / math.max(1L, snaps.map(_.rows).sum), "ratio")
    def sampleMean(f: ((Int, Int, Int)) => Int) =
      if (l.viewSamples.isEmpty) 0.0 else l.viewSamples.map(f(_).toDouble).sum / l.viewSamples.size
    m("core.timeline_instants") = (sampleMean(_._1), "count")
    m("core.data_files") = (sampleMean(_._2), "count")
    m("core.delta_files") = (sampleMean(_._3), "count")
    val rounds = math.max(1, rec.round)
    m("jvm.gc_s") = (spans.filter(_.round >= 1).map(_.gcMs).sum / 1e3 / rounds, "s")
    m
  }

  /** One JSON line per span with its attributed jobs: the raw trace. */
  def writeTrace(out: Path, rec: Recorder, jobs: Map[Int, Seq[JobRecord]]): Unit = {
    Files.createDirectories(out.getParent)
    val lines = rec.spans.map { s =>
      val js = jobs.getOrElse(s.id, Nil)
      s"""{"id":${s.id},"op":"${s.op}","round":${s.round},"wall_s":${s.wallNs / 1e9},""" +
        s""""rows":${s.rows},"jobs":${js.size},"job_busy_s":${busyMs(s, js) / 1e3},""" +
        s""""input_bytes":${js.map(_.inputBytes).sum},"shuffle_bytes":${js.map(_.shuffleBytes).sum},""" +
        s""""output_bytes":${js.map(_.outputBytes).sum},"gc_ms":${s.gcMs}}"""
    }
    Files.write(out, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def json(correct: Boolean, attempted: Int, failed: Int, m: Metrics): String = {
    val body = m.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
