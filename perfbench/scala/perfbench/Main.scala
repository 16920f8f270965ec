package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload of the benchmark: graft set-up, a fixed op sequence
  * determined by the seed, and the checks that make `failed` mean
  * something. */
abstract class Workload(val spark: SparkSession, val work: File, val corrupt: Boolean) {
  def name: String
  /** Ops run (and checked) before the measured ones. */
  def warmup: Int
  /** Set-up repetitions; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Measured ops. */
  def nOps: Int
  /** Undo the previous set-up repetition (not timed). */
  def reset(rep: Int): Unit
  /** graft's own set-up calls, timed per phase by `phase`. */
  def setup(rep: Int, phase: Phases): Unit
  def opKind(i: Int): String
  /** Deliver op `i`'s input before it is timed. */
  def prepare(i: Int): Unit = ()
  def exec(i: Int, tr: Tracer): Any
  def check(i: Int, result: Any): Boolean
  /** End-of-run checks over accumulated state: ops found wrong. */
  def finalCheck(tr: Tracer): Set[Int]
  def inputBytes: Long
  /** (files, bytes) of the tables, logs and indexes graft keeps for the
    * measured state. */
  def stored: (Long, Long)
  /** Workload-specific per-layer numbers for the traced run. */
  def layerCounts(tr: Tracer, measured: Set[Int]): Map[String, Double] = Map.empty

  private var planMs = 0.0
  private val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** Build, plan and collect one query inside a span of graft module
    * `layer`. Traced runs force the physical plan first, to time it. */
  protected def query(tr: Tracer, i: Int, layer: String, fn: String)(build: => DataFrame): Array[Row] =
    tr.call(layer, fn) {
      val df = build
      if (tr.enabled) {
        val t0 = System.nanoTime()
        df.queryExecution.executedPlan
        if (i >= warmup && layer == "core") planMs += (System.nanoTime() - t0) / 1e6
      }
      val rows = df.collect()
      if (i >= warmup) rowsOut(layer) += rows.length
      rows
    }

  /** Per-layer numbers every workload reports from [[query]]. */
  def queryCounts(tr: Tracer, measured: Set[Int]): Map[String, Double] = {
    val read = tr.stageTotal(s => s.layer == "ops" && measured(s.op))(_.recordsRead)
    Map("core.plan_ms" -> planMs,
      "ops.rows_read_per_row_out" -> (if (rowsOut("ops") == 0) 0.0 else read.toDouble / rowsOut("ops")))
  }

  /** Expected value as the check sees it: with `corrupt` on, a value
    * that a correct program can never produce is added, so every check
    * must fail. */
  protected def want[A](expected: Set[A], bogus: => A): Set[A] =
    if (corrupt) expected + bogus else expected
  protected def wantSeq[A](expected: Seq[A], bogus: => A): Seq[A] =
    if (corrupt) expected :+ bogus else expected
}

final class Phases {
  val seconds = mutable.LinkedHashMap.empty[String, Double]
  def apply[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally seconds(name) = seconds.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
  def total: Double = seconds.values.sum
}

object Main {

  /** Measured ops per requested second, fixed per workload so both
    * commits of a comparison run the same op sequence. The count is
    * rounded to whole cycles (graph_serve) or rounds (dedup_ingest), so
    * a run measures for about, not exactly, `--seconds`. */
  val OpsPerSecond = Map("graph_serve" -> 2.5, "change_sync" -> 0.8, "dedup_ingest" -> 0.6)

  val Cores = 4

  /** Set-up phase names reported by the traced run, over all workloads. */
  val SetupPhases = Seq("register", "log_write", "initial_sync", "shingle_index",
    "simhash_index", "ivf_index", "recipe_standing")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        corrupt: Boolean, work: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.get("corrupt").contains("1"), new File(need("work")))
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr with seconds since JVM start of main. */
  def progress(what: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.1fs $what")

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--gen-selftest")) sys.exit(if (Gen.selfTest()) 0 else 1)
    val args = parse(argv)
    require(OpsPerSecond.contains(args.workload), s"unknown workload ${args.workload}")
    // graph_serve runs whole cycles of its query kinds, dedup_ingest
    // whole rounds of its four loops
    val unit = Map("graph_serve" -> GraphServe.Kinds.size, "dedup_ingest" -> 4).getOrElse(args.workload, 1)
    val nOps = unit * math.max(1, math.round(args.seconds * OpsPerSecond(args.workload) / unit).toInt)
    val spark = graft.Graft.session(s"local[$Cores]", shufflePartitions = Cores)
    spark.sparkContext.setLogLevel("ERROR")
    try emit(args, runPass(spark, args, nOps, args.trace))
    finally spark.stop()
  }

  final case class Result(attempted: Int, failed: Int, opsPerS: Double,
                          metrics: Seq[(String, Double, String)], errorRate: Double,
                          notes: Seq[String])

  private def workload(spark: SparkSession, args: Args, nOps: Int): Workload = {
    val dir = new File(args.work, s"run/${args.workload}")
    deleteTree(dir); dir.mkdirs()
    val inputs = Gen.inputs(args.workload, args.seed, nOps)
    println(s"input digest ${args.workload} seed ${args.seed}: ${inputs.digest}")
    args.workload match {
      case "graph_serve" => new GraphServe(spark, dir, args, inputs, nOps)
      case "change_sync" => new ChangeSync(spark, dir, args, inputs, nOps)
      case "dedup_ingest" => new DedupIngest(spark, dir, args, inputs, nOps)
    }
  }

  private def runPass(spark: SparkSession, args: Args, nOps: Int, traced: Boolean): Result = {
    progress("session up")
    val w = workload(spark, args, nOps)
    progress("inputs ready")
    val setups = (0 until w.setupReps).map { r =>
      w.reset(r)
      val ph = new Phases
      w.setup(r, ph)
      ph
    }
    progress("set-up done")
    val tr = new Tracer(spark, traced)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val total = w.warmup + w.nOps
    val lat = mutable.ArrayBuffer.empty[Double]
    val failedOps = mutable.Set.empty[Int]
    var liveHeap = 0L
    var gcOwnMs = 0L
    var gcStart = 0L
    var opNanos = 0L
    val opWindows = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    for (i <- 0 until total) {
      if (i == w.warmup) { progress("warm-up done"); gcStart = gcMs }
      tr.currentOp = i
      w.prepare(i)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      tr.sampling = i >= w.warmup
      val res = scala.util.Try(tr.call("bench", s"op.${w.opKind(i)}")(w.exec(i, tr)))
      tr.sampling = false
      val dt = System.nanoTime() - t0
      tr.outsideOps()
      opWindows += ((i, startMs, System.currentTimeMillis()))
      val ok = res.isSuccess && scala.util.Try(w.check(i, res.get)).getOrElse(false)
      if (!ok) {
        failedOps += i
        res.failed.foreach(e => System.err.println(s"op $i (${w.opKind(i)}) threw: $e"))
      }
      if (i >= w.warmup) { lat += dt / 1e6; opNanos += dt }
      // one heap sample, after the last op: the state a run keeps only
      // grows (the write workloads absorb) or holds (graph_serve)
      if (i == total - 1) {
        val g0 = gcMs
        // settle first: right after an op, Spark's cleaner and listener
        // threads are still releasing and allocating, and a sample taken
        // then read up to twice the live heap
        System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(500); System.gc()
        liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        gcOwnMs += gcMs - g0
      }
    }
    val gcOpMs = gcMs - gcStart - gcOwnMs
    progress("ops done")
    failedOps ++= w.finalCheck(tr)
    progress("final check done")
    tr.drain()
    val opsPerS = w.nOps / (opNanos / 1e9)
    val stored = w.stored
    val p90 = percentile(lat.toSeq, 90)
    val e2e = Seq(
      ("ops_per_s", opsPerS, "1/s"),
      ("op_p50_ms", percentile(lat.toSeq, 50), "ms"),
      ("setup_s", median(setups.map(_.total)), "s"),
      ("peak_live_heap_mb", liveHeap / 1048576.0, "MB"),
      ("stored_bytes_per_input_byte", stored._2.toDouble / w.inputBytes, "ratio"))
    val metrics =
      if (!traced) e2e
      else {
        val measured = (w.warmup until total).toSet
        val layer = layerMetrics(tr, w, measured, opWindows.filter(x => measured(x._1)).toSeq,
          opNanos / 1e6, gcOpMs, stored, setups.last)
        tr.stop()
        writeJobs(args, tr)
        if (tr.droppedEvents > 0) {
          System.err.println(s"perfbench: TRACE INVALID: the listener bus dropped ${tr.droppedEvents} " +
            "events, so job attribution is incomplete")
          sys.exit(3)
        }
        // no workload puts ten samples beyond its p90 in a run, so p90 is
        // a per-layer number
        layer :+ (("op_p90_ms", p90, "ms"))
      }
    val failed = failedOps.size
    val kinds = (w.warmup until total).map(w.opKind).zip(lat).groupMap(_._1)(_._2)
    val notes = Seq(f"measured ops ${lat.size}, op_p90_ms $p90%.1f, samples beyond p90 ${lat.count(_ > p90)}") ++
      kinds.toSeq.sortBy(_._1).map { case (k, xs) =>
        f"  $k%-16s n=${xs.size}%4d p50=${percentile(xs, 50)}%9.1f ms max=${xs.max}%9.1f ms" }
    Result(total, failed, opsPerS,
      if (traced) metrics :+ (("trace.ops_per_s", opsPerS, "1/s")) else metrics,
      failed.toDouble / total, notes)
  }

  private def layerMetrics(tr: Tracer, w: Workload, measured: Set[Int],
                           windows: Seq[(Int, Long, Long)], opMs: Double, gcOpMs: Long,
                           stored: (Long, Long), setup: Phases): Seq[(String, Double, String)] = {
    val n = measured.size.toDouble
    val spans = tr.spans.filter(s => measured(s.op)).toSeq
    val spanById = tr.spans.map(s => s.id -> s).toMap
    val opJobs = tr.jobs.filter(j => j.span != Tracer.OutsideOps.toInt &&
      windows.exists(x => j.startMs >= x._2 && j.startMs <= x._3)).toSeq
    // attributed: the span exists, belongs to a measured op, and was open at job start
    def attributed(j: tr.JobRec): Option[tr.Span] = spanById.get(j.span)
      .filter(s => measured(s.op) && j.startMs >= s.startMs - 1 && (s.endMs < 0 || j.startMs <= s.endMs + 1))
    val unattributed = opJobs.filter(j => attributed(j).isEmpty)
    def stageSum(js: Seq[tr.JobRec])(f: tr.StageRec => Long): Long =
      js.flatMap(_.stageIds).distinct.flatMap(tr.stages.get).map(f).sum

    // per-span self time (span minus its jobs), a diagnostic by call name
    val byName = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val jobsBySpan = opJobs.flatMap(j => attributed(j).map(s => s.id -> j)).groupMap(_._1)(_._2)
    spans.filter(_.layer != "bench").foreach { s =>
      val js = jobsBySpan.getOrElse(s.id, Seq.empty)
      byName(s.name) += s.durMs - Tracer.unionMs(js.map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
    }
    val taskMs = stageSum(opJobs)(_.taskMs).toDouble
    def isFiring(op: Int) = Set("firing", "maintain")(w.opKind(op))
    val firings = measured.count(isFiring)
    val firingJobs = opJobs.filter(j => attributed(j).exists(s => isFiring(s.op)))
    val progress = tr.progress.toSeq
    val extra = w.queryCounts(tr, measured) ++ w.layerCounts(tr, measured)
    def layer(l: String, m: String, v: Double, u: String) = (s"$l.$m", v, u)
    val perLayer = Tracer.Layers.flatMap(l => Seq(
      layer(l, "calls", tr.entries(l).toDouble, "count"), layer(l, "busy_ms", tr.busyMs(l), "ms")))
    Seq(
      ("core.plan_ms", extra.getOrElse("core.plan_ms", 0.0), "ms"),
      ("ops.rows_read_per_row_out", extra.getOrElse("ops.rows_read_per_row_out", 0.0), "ratio"),
      ("jobs.firings", firings.toDouble, "count"),
      ("jobs.rows_written", stageSum(firingJobs)(_.recordsWritten).toDouble, "count"),
      ("jobs.spark_jobs_per_firing", if (firings == 0) 0.0 else firingJobs.size.toDouble / firings, "count"),
      ("streaming.batches", progress.size.toDouble, "count"),
      ("streaming.trigger_ms", progress.map(_.triggerMs).sum.toDouble, "ms"),
      ("streaming.add_batch_ms", progress.map(_.addBatchMs).sum.toDouble, "ms"),
      ("dedup.pairs_out", extra.getOrElse("dedup.pairs_out", 0.0), "count"),
      ("dedup.compactions", tr.compactions.toDouble, "count"),
      ("text.ledger_bytes_rewritten", extra.getOrElse("text.ledger_bytes_rewritten", 0.0), "bytes"),
      ("spark.jobs_per_op", opJobs.size / n, "count"),
      ("spark.stages_per_op", opJobs.flatMap(_.stageIds).distinct.count(tr.stages.contains) / n, "count"),
      ("spark.tasks_per_op", stageSum(opJobs)(_.tasks) / n, "count"),
      ("spark.task_ms_per_op", taskMs / n, "ms"),
      ("spark.driver_gap_ms_per_op", (opMs - taskMs / Cores) / n, "ms"),
      ("spark.shuffle_bytes_per_op", stageSum(opJobs)(_.shuffleBytes) / n, "bytes"),
      ("spark.scan_bytes_per_op", stageSum(opJobs)(_.scanBytes) / n, "bytes"),
      ("spark.unattributed_jobs", unattributed.size.toDouble, "count"),
      ("spark.bus_dropped_events", tr.droppedEvents.toDouble, "count"),
      ("storage.bytes_written_per_op", stageSum(opJobs)(_.bytesWritten) / n, "bytes"),
      ("storage.live_files", stored._1.toDouble, "count"),
      ("storage.live_bytes", stored._2.toDouble, "bytes"),
      ("jvm.gc_ms_per_op", gcOpMs / n, "ms")
    ) ++ perLayer ++
      SetupPhases.map(p => (s"setup.${p}_s", setup.seconds.getOrElse(p, 0.0), "s")) ++
      byName.toSeq.sortBy(_._1).map { case (k, v) => (s"self_ms.$k", v, "ms") } ++
      unattributed.groupBy(j => j.callSite.linesIterator.find(_.contains("graft.")).getOrElse("no graft frame").trim)
        .toSeq.sortBy(_._1).map { case (site, js) => (s"unattributed_at.$site", js.size.toDouble, "count") }
  }

  /** One row per Spark job of the traced run: id, span, op, call site. */
  private def writeJobs(args: Args, tr: Tracer): Unit = {
    val dir = new File(args.work, "trace"); dir.mkdirs()
    val pw = new java.io.PrintWriter(new File(dir, s"${args.workload}-seed${args.seed}-jobs.tsv"))
    try tr.jobs.foreach { j =>
      val op = tr.spans.lift(j.span).map(_.op).getOrElse(-1)
      pw.println(Seq(j.id, j.span, op,
        j.callSite.linesIterator.take(4).mkString(" | ")).mkString("\t"))
    } finally pw.close()
  }

  private def emit(args: Args, r: Result): Unit = {
    println(f"${"metric"}%-36s ${"value"}%16s unit")
    r.metrics.foreach { case (k, v, u) => println(f"$k%-36s ${fmt(v)}%16s $u") }
    if (!args.trace) println(f"${"error_rate"}%-36s ${fmt(r.errorRate)}%16s ratio")
    println(s"attempted ${r.attempted} failed ${r.failed}")
    r.notes.foreach(println)
    // the per-layer report keeps the diagnostic rows (self_ms.*,
    // unattributed_at.*); the result line carries the declared metrics
    val declared = r.metrics.filterNot { case (k, _, _) =>
      k.startsWith("self_ms.") || k.startsWith("unattributed_at.") }
    if (args.trace) {
      val dir = new File(args.work, "trace"); dir.mkdirs()
      val f = new File(dir, s"${args.workload}-seed${args.seed}.tsv")
      val pw = new java.io.PrintWriter(f)
      try r.metrics.foreach { case (k, v, u) => pw.println(s"$k\t${fmt(v)}\t$u") } finally pw.close()
      println(s"per-layer report: $f")
    }
    val ms = declared.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** (files, bytes) under `dir`, ignoring checksum sidecars. */
  def dirBytes(dir: File): (Long, Long) = {
    val fs = Option(dir.listFiles()).toSeq.flatten
    fs.foldLeft((0L, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = dirBytes(f); (n + n2, b + b2) }
      else if (f.getName.endsWith(".crc")) (n, b)
      else (n + 1, b + f.length())
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
