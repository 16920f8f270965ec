package perfbench

import java.io.File

import graft.core.EntityGraph
import graft.jobs._
import graft.model.{EntityDataset, Namespaces, Ref}
import graft.ops.ChangeLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Writes beside reads on the datahub job path. A firing appends one
  * change batch to the log, runs one incremental job (`DatasetSource`
  * since the last token, latest only → transforms → tombstone upsert)
  * and a `MultiSource.affected` re-emit; every [[MaintainEvery]]-th
  * firing also retains, dedup-compacts and re-counts the log. Reads
  * (`asOf`, `snapshot`, `changesSince`) are checked against the
  * generator's latest-version map and a model of the compacted log. */
final class ChangeSync(spark: SparkSession, dir: File, args: Main.Args, in: Gen.Inputs, val nOps: Int)
    extends Workload(spark, args.work, args.corrupt) {
  import ChangeSync._
  import GraphServe.{CompanyNs, WorksAt}

  def name = "change_sync"
  val warmup: Int = Warmup
  private val g0 = in.graph

  private val inputDir = Cache.ensure(args.work, name, args.seed, in.digest) { d =>
    import spark.implicits._
    Cache.parallel(
      () => g0.companies.toDF().coalesce(1).write.parquet(s"$d/company"),
      () => g0.log.toDF().coalesce(1).write.parquet(s"$d/log"),
      () => in.changeBatches.zipWithIndex.flatMap { case (b, i) => b.map(v => (i, v)) }
        .map { case (i, v) => (i, v.id, v.recorded, v.deleted, v.name, v.company, v.city) }
        .toDF("batch", "id", "recorded", "deleted", "name", "company", "city")
        .coalesce(1).write.parquet(s"$d/batches"))
  }
  val inputBytes: Long = Cache.inputBytes(inputDir)
  private val warehouse = new File(dir, "warehouse")
  def stored: (Long, Long) = Main.dirBytes(warehouse)

  // ---- the op sequence -----------------------------------------------------
  /** (kind, firing number or -1) per op. The kinds follow a fixed cycle,
    * the same for every seed: reads take [[ReadShare]] of the ops. */
  private val opSeq: IndexedSeq[(String, Int)] = {
    val reads = Iterator.continually(Seq("asOf", "snapshot", "changesSince")).flatten
    var firing = 0
    (0 until warmup + nOps).map { i =>
      if (i % ReadCycle < ReadCycle * ReadShare / 100) (reads.next(), -1)
      else {
        firing += 1
        (if (firing % MaintainEvery == 0) "maintain" else "firing", firing - 1)
      }
    }
  }
  private val readRnd = new java.util.Random(args.seed * 137L + 1L)
  def opKind(i: Int): String = opSeq(i)._1

  // ---- state and model -------------------------------------------------------
  private var registry: DatasetRegistry = _
  private var gen = 0
  private var logPath: String = _
  private var token = 0L
  private var watermark = 0L
  private var statsSeq = 0L
  /** Every version ever written, per id, in token order. */
  private val history = mutable.Map.empty[Long, Vector[Gen.Version]]
  /** The log as stored after retention and compaction. */
  private var logModel = Vector.empty[Gen.Version]
  private lazy val hot: IndexedSeq[Long] = {
    val r = new java.util.Random(args.seed * 139L + 2L)
    Gen.shuffled(r, (g0.log ++ in.changeBatches.flatten).map(_.id).distinct.sorted)
  }
  private lazy val zipf = new Gen.Zipf(hot.size, 1.1, readRnd)

  private def payload(v: Gen.Version) = (v.deleted, v.name, v.company, v.city)
  private def latestLive: Map[Long, Gen.Version] =
    history.view.mapValues(_.last).filter(!_._2.deleted).toMap

  private def readLog(): DataFrame = spark.read.parquet(logPath).drop("__rbucket")

  def reset(rep: Int): Unit = {
    Main.deleteTree(warehouse)
    registry = new DatasetRegistry
    gen = 0
    logPath = s"$warehouse/person_log_g0"
    token = g0.log.map(_.recorded).max
    watermark = 0L
    statsSeq = 0L
    history.clear()
    g0.log.foreach(v => history(v.id) = history.getOrElse(v.id, Vector.empty) :+ v)
    logModel = g0.log.toVector
  }

  private def syncJob(since: Option[Long]): Job = Job(
    id = "people_sync",
    source = DatasetSource(readLog(), "id", "recorded", latestOnly = true, since = since),
    transform = Transforms.pipeline(
      Transforms.setProperty("name_key", upper(col("name"))),
      Transforms.addReference("works_at", CompanyNs, col("company"))),
    sink = TombstoneUpsertSink(registry, "people", "id", "deleted"),
    sourceName = "person_log", sinkName = "people")

  def setup(rep: Int, phase: Phases): Unit = {
    phase("log_write") {
      ChangeLog.writePartitionedLog(spark.read.parquet(s"$inputDir/log"), "recorded", logPath, LogBucket)
    }
    phase("initial_sync") {
      registry.put("company", spark.read.parquet(s"$inputDir/company"))
      syncJob(None).runCounted(spark, Some(registry))
    }
  }

  def exec(i: Int, tr: Tracer): Any = {
    val (kind, firing) = opSeq(i)
    kind match {
      case "firing" | "maintain" =>
        val batch = in.changeBatches(firing)
        tr.call("ops", "ChangeLog.writePartitionedLog") {
          ChangeLog.writePartitionedLog(
            spark.read.parquet(s"$inputDir/batches").filter(col("batch") === firing).drop("batch"),
            "recorded", logPath, LogBucket, mode = "append")
        }
        val since = token
        val processed = tr.call("jobs", "Job.runCounted")(syncJob(Some(since)).runCounted(spark, Some(registry)))
        token = batch.map(_.recorded).max
        batch.foreach(v => history(v.id) = history.getOrElse(v.id, Vector.empty) :+ v)
        logModel = logModel ++ batch
        val ids = batch.map(_.id).distinct
        val g = EntityGraph(Map(
          "person" -> EntityDataset("person", registry.get("people"), "id", GraphServe.PersonNs,
            refs = Seq(Ref(WorksAt, "company", "company"))),
          "company" -> EntityDataset("company", registry.get("company"), "id", CompanyNs)),
          Namespaces.empty)
        val reemit = Job(
          id = "company_reemit",
          source = FunctionSource(_ => MultiSource.affected(g, "person", col("id").isin(ids: _*),
            Seq(MultiSource.Hop("company", WorksAt, inverse = false))).withColumn("firing", lit(firing))),
          sink = UpsertSink(registry, "company_dirty", "id"),
          sourceName = "people", sinkName = "company_dirty")
        val reemitted = tr.call("jobs", "Job.runCounted")(reemit.runCounted(spark, Some(registry)))
        val stats = if (kind != "maintain") None else Some(maintain(tr))
        Fired(processed, reemitted, ids, stats)
      case "asOf" =>
        val id = hot(zipf.next())
        val t = watermark + readRnd.nextLong(token - watermark + 1)
        (id, t, query(tr, i, "ops", "ChangeLog.asOf")(
          ChangeLog.asOf(readLog(), "id", "recorded", t).filter(col("id") === id))
          .map(r => (r.getAs[Boolean]("deleted"), r.getAs[String]("name"), r.getAs[Long]("company"),
            r.getAs[Long]("city"))).toSet)
      case "snapshot" =>
        val ids = Seq.fill(5)(hot(zipf.next())).distinct
        (ids, query(tr, i, "ops", "ChangeLog.snapshot")(
          ChangeLog.snapshot(readLog(), "id", "recorded", col("deleted")).filter(col("id").isin(ids: _*)))
          .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[Long]("company"))).toSet)
      case "changesSince" =>
        val since = math.max(watermark, token - SinceBack)
        (since, query(tr, i, "ops", "ChangeLog.changesSince")(
          ChangeLog.changesSince(readLog(), "recorded", since, Some(SinceLimit)))
          .map(r => (r.getAs[Long]("id"), r.getAs[Long]("recorded"))).toSeq)
    }
  }

  /** Retain history past the watermark, dedup-compact, swap in the new
    * log generation, reclaim the old one, and re-count. */
  private def maintain(tr: Tracer): Map[String, Long] = {
    watermark = token - RetainTokens
    val next = s"$warehouse/person_log_g${gen + 1}"
    tr.call("ops", "ChangeLog.retain+compactDedup") {
      val kept = ChangeLog.compactDedup(ChangeLog.retain(readLog(), "id", "recorded", watermark),
        "id", "recorded", Seq("deleted", "name", "company", "city"))
      ChangeLog.writePartitionedLog(kept, "recorded", next, LogBucket)
    }
    Main.deleteTree(new File(logPath))
    gen += 1
    logPath = next
    logModel = modelCompact(logModel, watermark)
    statsSeq += 1
    tr.call("jobs", "Maintenance.statsSnapshot") {
      Maintenance.statsSnapshot(spark, registry,
        Seq(Maintenance.Target("people"), Maintenance.Target("person_log", Some(logPath))), statsSeq)
        .collect().map(r => r.getAs[String]("dataset") -> r.getAs[Long]("rows")).toMap
    }
  }

  /** The stored log after `ChangeLog.retain(t)` then `compactDedup`. */
  private def modelCompact(log: Vector[Gen.Version], t: Long): Vector[Gen.Version] =
    log.groupBy(_.id).values.flatMap { vs0 =>
      val vs = vs0.sortBy(_.recorded)
      val (old, recent) = vs.partition(_.recorded <= t)
      val retained = old.lastOption.toVector ++ recent
      retained.zipWithIndex.filter { case (v, k) => k == 0 || payload(retained(k - 1)) != payload(v) }.map(_._1)
    }.toVector.sortBy(_.recorded)

  private def people(ids: Option[Seq[Long]]): Set[(Long, String, Long, String)] = {
    val df = registry.get("people")
    ids.fold(df)(x => df.filter(col("id").isin(x: _*)))
      .select("id", "name", "company", "name_key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
  }
  private def expectPeople(vs: Iterable[Gen.Version]) =
    vs.map(v => (v.id, v.name, v.company, v.name.toUpperCase)).toSet

  def check(i: Int, result: Any): Boolean = {
    val live = latestLive
    result match {
      case Fired(processed, reemitted, ids, stats) =>
        val companies = ids.flatMap(live.get).map(_.company).distinct
        val counts = Seq(processed, reemitted) == wantSeq(Seq(ids.size.toLong, companies.size.toLong), 0L)
        val rows = people(Some(ids)) == want(expectPeople(ids.flatMap(live.get)), (0L, "", 0L, ""))
        val stat = stats.forall(_ == Map("people" -> live.size.toLong, "person_log" -> logModel.size.toLong,
          "all" -> (live.size + logModel.size).toLong) ++ (if (corrupt) Map("bogus" -> 0L) else Map.empty))
        counts && rows && stat
      case (id: Long, t: Long, got: Set[_]) =>
        got == want(history.getOrElse(id, Vector.empty).filter(_.recorded <= t).lastOption
          .map(payload).toSet, (false, "bogus", 0L, 0L))
      case (ids: Seq[_], got: Set[_]) =>
        got == want(ids.asInstanceOf[Seq[Long]].flatMap(live.get).map(v => (v.id, v.name, v.company)).toSet,
          (0L, "bogus", 0L))
      case (since: Long, got: Seq[_]) =>
        got == wantSeq(logModel.filter(_.recorded > since).take(SinceLimit).map(v => (v.id, v.recorded)), (0L, 0L))
      case _ => false
    }
  }

  /** The accumulated sink must equal the latest live version of every id;
    * if it does not, no firing can be trusted. */
  def finalCheck(tr: Tracer): Set[Int] = {
    val ok = people(None) == want(expectPeople(latestLive.values), (0L, "", 0L, ""))
    println(s"final check: ${if (ok) 0 else 1} of 1 sink tables differ from the latest-version map")
    if (ok) Set.empty else opSeq.indices.filter(i => Set("firing", "maintain")(opSeq(i)._1)).toSet
  }
}

object ChangeSync {
  /** What one firing reports: rows processed, rows re-emitted, the
    * batch's ids, and the stats snapshot of a maintenance firing. */
  final case class Fired(processed: Long, reemitted: Long, batchIds: Seq[Long], stats: Option[Map[String, Long]])
  val Warmup = 2
  /** Share of ops that are reads, in percent of each [[ReadCycle]] ops. */
  val ReadShare = 60
  val ReadCycle = 5
  val MaintainEvery = 4
  val RetainTokens = 400L
  val LogBucket = 1000L
  val SinceBack = 60L
  val SinceLimit = 20
}
