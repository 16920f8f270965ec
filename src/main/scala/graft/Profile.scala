package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Dev-loop query profiler (guide §1: measure first): runs named
  * SparkEntry queries once warm, once timed, with a listener that
  * aggregates Spark jobs / stages / tasks and executor task time, so
  * the wall clock splits into "cluster-shaped work" (task time, would
  * parallelize on a real cluster) vs "fixed scheduling/commit/catalog
  * overhead" (wall − tasktime/cores — the local-mode chain cost that
  * many-small-job operational loops pay per firing).
  *
  * `runMain graft.Profile <sfDir> <query1,query2,...>`
  */
object Profile {
  /** An immutable copy of an [[Agg]]'s counters. */
  final case class Totals(jobs: Int, stages: Int, tasks: Int, taskTimeMs: Long,
                          shuffleReadB: Long, shuffleWriteB: Long,
                          stageTime: Map[String, Long], stageCount: Map[String, Int])

  /** Written on the listener-bus thread, read by the profiling thread:
    * every update and [[snapshot]] hold the listener's monitor, so a
    * read never sees a torn or stale count or a map mid-update. */
  final class Agg extends SparkListener {
    private var jobs = 0
    private var stages = 0
    private var tasks = 0
    private var taskTimeMs = 0L
    private var shuffleReadB = 0L
    private var shuffleWriteB = 0L
    private val stageTime = mutable.Map.empty[String, Long]
    private val stageCount = mutable.Map.empty[String, Int]
    def snapshot: Totals = synchronized {
      Totals(jobs, stages, tasks, taskTimeMs, shuffleReadB, shuffleWriteB, stageTime.toMap, stageCount.toMap)
    }
    override def onJobStart(jobStart: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      val info = sc.stageInfo
      tasks += info.numTasks
      // attribute stages by their RDD scope chain (operator names) —
      // broadcast subjobs carry no useful callsite, but the scope names
      // the physical operators the stage runs
      val short = info.name.takeWhile(_ != '\n').take(60)
      val ops = info.rddInfos.flatMap(_.scope).map(_.name).distinct.take(6).mkString(">")
      val name = if (!short.startsWith("$anonfun")) s"$short [$ops]".take(110)
                 else s"bcast [$ops]".take(110)
      val t = info.taskMetrics
      if (t != null) {
        // ONE metric (executorRunTime) for both the headline total and
        // the per-stage attribution, so the table's rows sum to the
        // headline (r18 advice: mixing cpuTime/runTime made them
        // inconsistent under fetch wait / IO)
        taskTimeMs += t.executorRunTime
        shuffleReadB += t.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += t.shuffleWriteMetrics.bytesWritten
        stageTime(name) = stageTime.getOrElse(name, 0L) + t.executorRunTime
        stageCount(name) = stageCount.getOrElse(name, 0) + 1
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").map(_.trim).toSeq
                else Seq("q1_pricing_summary")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_prof_wh_").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val nCores = cpus.toInt
    names.foreach { n =>
      // warmup (JIT + footer cache), as Bench does
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable => println(s"[profile] $n warmup FAILED: ${e.getMessage}") }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      val agg = new Agg
      spark.sparkContext.addSparkListener(agg)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async: poll until the aggregate stops
      // moving (two consecutive quiet polls) instead of a fixed sleep —
      // a slow bus no longer truncates the numbers (r18 advice)
      var last = (-1, -1, -1L); var quiet = 0; var waited = 0
      while (quiet < 2 && waited < 5000) {
        Thread.sleep(100); waited += 100
        val s = agg.snapshot
        val now = (s.jobs, s.stages, s.taskTimeMs)
        if (now == last) quiet += 1 else { quiet = 0; last = now }
      }
      spark.sparkContext.removeSparkListener(agg)
      if (quiet < 2)
        println(s"[profile] WARNING $n: listener events still arriving after ${waited / 1000} s; " +
          "the numbers below are truncated")
      val a = agg.snapshot
      val taskSec = a.taskTimeMs / 1e3
      println(f"[profile] $n wall=$wall%7.2f s  jobs=${a.jobs}%4d stages=${a.stages}%4d " +
        f"tasks=${a.tasks}%5d  tasktime=$taskSec%8.2f s (/$nCores cores = ${taskSec / nCores}%6.2f s)  " +
        f"shufR=${a.shuffleReadB / 1e6}%8.1f MB shufW=${a.shuffleWriteB / 1e6}%8.1f MB")
      a.stageTime.toSeq.sortBy(-_._2).take(12).foreach { case (k, v) =>
        println(f"[profile]    ${v / 1e3}%8.2f s  n=${a.stageCount.getOrElse(k, 0)}%4d  $k")
      }
      a.stageCount.toSeq.sortBy(-_._2).take(15).foreach { case (k, v) =>
        println(f"[profile]  count $v%4d  ${a.stageTime.getOrElse(k, 0L) / 1e3}%8.2f s  $k")
      }
    }
    spark.stop()
  }
}
