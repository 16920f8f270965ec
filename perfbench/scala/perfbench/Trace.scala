package perfbench

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Spans around the benchmark's calls into graft's modules, Spark
  * listeners that attribute each Spark job to the span that started it,
  * and a stack sampler that splits busy time by graft module.
  *
  * A span is (id, parent, op, layer, name, start, end). The innermost
  * open span's id rides the calling thread as the Spark local property
  * [[Tracer.SpanKey]]; a job carrying no such property, or the id of a
  * span that had already closed (a thread that inherited a stale copy,
  * e.g. a pool thread), counts as unattributed. With tracing off every
  * method is a plain pass-through. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                        startMs: Long, startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L) {
    def durMs: Double = (endNs - startNs) / 1e6
  }
  final class JobRec(val id: Int, val span: Int, val startMs: Long, val stageIds: Seq[Int], val callSite: String) {
    @volatile var endMs: Long = -1L
  }
  final class StageRec {
    var tasks = 0L; var taskMs = 0L; var shuffleBytes = 0L; var scanBytes = 0L
    var recordsRead = 0L; var bytesWritten = 0L; var recordsWritten = 0L
  }
  final case class Progress(batchId: Long, rows: Long, triggerMs: Long, addBatchMs: Long)

  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack: List[Span] = Nil
  var currentOp: Int = -1

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.Map.empty[Int, StageRec]
  val progress = mutable.ArrayBuffer.empty[Progress]

  private val sc = spark.sparkContext

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      jobs += new JobRec(e.jobId, prop.map(_.toInt).getOrElse(NoSpan), e.time, e.stageIds, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val r = stages.getOrElseUpdate(i.stageId, new StageRec)
      r.tasks += i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        r.taskMs += m.executorRunTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.scanBytes += m.inputMetrics.bytesRead
        r.recordsRead += m.inputMetrics.recordsRead
        r.bytesWritten += m.outputMetrics.bytesWritten
        r.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress += Progress(p.batchId, p.numInputRows, d("triggerExecution"), d("addBatch"))
    }
  }

  private val lock = new Object
  private val droppedAtStart = if (enabled) BusBridge.droppedEvents(sc) else 0L

  // ---- stack sampler ---------------------------------------------------------
  // Work inside a graft module can run on threads the benchmark does not
  // control (a stream's execution thread, pool threads), and Spark tags
  // those jobs with the stream's start call site. A sampler therefore
  // attributes time: every SampleMs it reads the stacks of the client
  // thread, stream threads and the global pool, and charges the interval
  // to the module of the innermost graft frame — or, on the client
  // thread with no graft frame (the benchmark collecting a frame a
  // module built), to the innermost open span's module.
  /** Sample only while true (the measured ops). */
  @volatile var sampling = false
  val busyMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val entries = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Standing-index compactions seen entering (`Dedup.compact*`, `Ann.compact*`). */
  @volatile var compactions = 0L
  private val client = Thread.currentThread()
  @volatile private var running = enabled
  private val sampler = new Thread(() => {
    var threads = Seq(client)
    var tick = 0
    var last = System.nanoTime()
    val current = mutable.Map.empty[Long, String]
    val compacting = mutable.Set.empty[Long]
    while (running) {
      Thread.sleep(SampleMs)
      val now = System.nanoTime()
      val dt = (now - last) / 1e6
      last = now
      if (sampling) {
        if (tick % 50 == 0) threads = client +: Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
          .toSeq.filter(t => t.getName.startsWith("stream execution thread") ||
            t.getName.startsWith("scala-execution-context-global"))
        tick += 1
        threads.foreach { t =>
          val st = t.getStackTrace
          if (st.exists(isIndexCompaction)) { if (compacting.add(t.getId)) compactions += 1 }
          else compacting.remove(t.getId)
          val l = layerOfStack(st).orElse(
            if (t eq client) stack.headOption.map(_.layer).filter(_ != "bench") else None)
          lock.synchronized {
            l.foreach { x =>
              busyMs(x) += dt
              if (!current.get(t.getId).contains(x)) entries(x) += 1
            }
          }
          l match { case Some(x) => current(t.getId) = x; case None => current.remove(t.getId) }
        }
      } else { current.clear(); compacting.clear() }
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    sampler.start()
    startGlobalPool()
  }

  /** Start the global execution context's threads outside any span, as
    * they are in a long-running process: work graft hands to that pool
    * (`Tables.inParallel`) then runs on threads whose Spark properties
    * predate the op, and its jobs show up as unattributed instead of
    * depending on which op happened to create the threads. */
  private def startGlobalPool(): Unit = {
    import scala.concurrent.{ExecutionContext, Future}
    val n = Runtime.getRuntime.availableProcessors
    val started = new java.util.concurrent.CountDownLatch(n)
    (1 to n).foreach(_ => Future { started.countDown(); started.await() }(ExecutionContext.global))
    started.await()
  }

  /** Run `body` as a call into graft module `layer`. */
  def call[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, parent.map(_.id).getOrElse(NoSpan), currentOp, layer, name,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).getOrElse(OutsideOps))
      }
    }

  /** Mark work between ops (checks, heap samples): its jobs are neither
    * op work nor unattributed. */
  def outsideOps(): Unit = if (enabled) sc.setLocalProperty(SpanKey, OutsideOps)

  /** Sum of a stage metric over the jobs started inside spans matching `p`. */
  def stageTotal(p: Span => Boolean)(f: StageRec => Long): Long = lock.synchronized {
    val ids = spans.filter(p).map(_.id).toSet
    jobs.filter(j => ids(j.span)).flatMap(_.stageIds).distinct.flatMap(stages.get).map(f).sum
  }

  def drain(): Unit = if (enabled) BusBridge.drain(sc)

  def droppedEvents: Long = if (enabled) BusBridge.droppedEvents(sc) - droppedAtStart else 0L

  def stop(): Unit = if (enabled) {
    running = false
    sampler.join()
    drain()
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val NoSpan: Int = -2
  val OutsideOps = "-1"

  val Layers: Seq[String] = Seq("core", "ops", "jobs", "streaming", "dedup", "ann", "text")
  val SampleMs = 20L

  /** graft module of the innermost graft frame of a live stack; none
    * while the thread only waits for a stream to terminate. */
  def layerOfStack(st: Array[StackTraceElement]): Option[String] =
    if (st.exists(_.getMethodName == "awaitTermination")) None
    else st.iterator.map(_.getClassName).find(_.startsWith("graft."))
      .map(_.split('.')(1)).filter(Layers.contains)

  def isIndexCompaction(f: StackTraceElement): Boolean =
    f.getMethodName.startsWith("compact") &&
      (f.getClassName.startsWith("graft.dedup.") || f.getClassName.startsWith("graft.ann."))

  /** Length of the union of [lo, hi] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curLo = Long.MinValue; var curHi = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > curHi) { if (curHi > curLo) total += curHi - curLo; curLo = lo; curHi = hi }
      else curHi = math.max(curHi, hi)
    }
    if (curHi > curLo) total += curHi - curLo
    total
  }
}
