package perfbench

import java.io.File

import graft.core.EntityGraph
import graft.model.{EntityDataset, Namespaces, Ref}
import graft.ops.{ChangeLog, TimeTravel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Read-only datahub query serving over a generated entity graph with a
  * versioned change log. Each op is one query, Zipf-skewed over start
  * entities, answered against the generator's adjacency and version
  * model. */
final class GraphServe(spark: SparkSession, dir: File, args: Main.Args, in: Gen.Inputs, val nOps: Int)
    extends Workload(spark, args.work, args.corrupt) {
  import GraphServe._

  def name = "graph_serve"
  val warmup: Int = Kinds.distinct.size
  private val g0 = in.graph

  private val inputDir = Cache.ensure(args.work, name, args.seed, in.digest) { d =>
    import spark.implicits._
    Cache.parallel(
      () => g0.cities.toDF().coalesce(1).write.parquet(s"$d/city"),
      () => g0.companies.toDF().coalesce(1).write.parquet(s"$d/company"),
      () => g0.persons.toDF().coalesce(1).write.parquet(s"$d/person"),
      () => g0.log.toDF().coalesce(1).write.parquet(s"$d/log"))
  }
  val inputBytes: Long = Cache.inputBytes(inputDir)
  private val warehouse = new File(dir, "warehouse")
  def stored: (Long, Long) = Main.dirBytes(warehouse)

  private var graph: EntityGraph = _
  private var log: DataFrame = _

  def reset(rep: Int): Unit = Main.deleteTree(warehouse)

  def setup(rep: Int, phase: Phases): Unit = {
    graph = phase("register") {
      def t(n: String) = spark.read.parquet(s"$inputDir/$n")
      val ds = Seq(
        EntityDataset("city", t("city"), "id", CityNs, propCols = Seq("name"),
          propNs = Schema + "city/", small = true),
        EntityDataset("company", t("company"), "id", CompanyNs,
          refs = Seq(Ref(LocatedIn, "city", "city")), propCols = Seq("name"), propNs = Schema + "company/"),
        EntityDataset("person", t("person"), "id", PersonNs,
          refs = Seq(Ref(WorksAt, "company", "company"), Ref(LivesIn, "city", "city"),
            Ref(Knows, "knows", "person", array = true)),
          propCols = Seq("name", "age"), propNs = Schema + "person/"))
      EntityGraph(ds.map(d => d.name -> d).toMap, Namespaces(Map("p" -> PersonNs, "s" -> Schema)))
    }
    log = phase("log_write") {
      val path = s"$warehouse/person_log"
      ChangeLog.writePartitionedLog(spark.read.parquet(s"$inputDir/log"), "recorded", path, LogBucket)
      spark.read.parquet(path).drop("__rbucket")
    }
  }

  // ---- the generator's model -------------------------------------------------
  private val persons = g0.persons.map(p => p.id -> p).toMap
  private val companies = g0.companies.map(c => c.id -> c).toMap
  private val byCompany = g0.persons.groupBy(_.company).view.mapValues(_.map(_.id).sorted).toMap
  private val byCity = g0.persons.groupBy(_.city).view.mapValues(_.map(_.id).sorted).toMap
  private val versions = g0.log.groupBy(_.id).view.mapValues(_.sortBy(_.recorded)).toMap
  private val logByToken = g0.log.sortBy(_.recorded)
  private val maxToken = logByToken.last.recorded

  private def asOf(id: Long, t: Long): Option[Gen.Version] =
    versions.getOrElse(id, Seq.empty).takeWhile(_.recorded <= t).lastOption

  private def neighbours(uri: String): Set[String] = uri match {
    case u if u.startsWith(PersonNs) =>
      val p = persons(u.stripPrefix(PersonNs).toLong)
      Set(CompanyNs + p.company, CityNs + p.city) ++ p.knows.map(PersonNs + _)
    case u if u.startsWith(CompanyNs) => Set(CityNs + companies(u.stripPrefix(CompanyNs).toLong).city)
    case _ => Set.empty
  }

  // ---- the op sequence -----------------------------------------------------
  /** The measured ops run whole cycles of [[Kinds]] in a fixed order
    * that is the same for every seed, so seeds vary the data an op
    * touches, not the mix. */
  private val kindCycle: IndexedSeq[String] = Gen.shuffled(new java.util.Random(0L), Kinds)
  private val opSeq: IndexedSeq[Op] = {
    val rnd = new java.util.Random(args.seed * 31L + 5L)
    val pz = new Gen.Zipf(persons.size, 1.1, rnd)
    val cz = new Gen.Zipf(companies.size, 1.1, rnd)
    val pOrder = Gen.shuffled(rnd, persons.keys.toIndexedSeq.sorted)
    val cOrder = Gen.shuffled(rnd, companies.keys.toIndexedSeq.sorted)
    val cities = g0.cities.map(_.id)
    // the warm-up runs each kind once
    (0 until warmup + nOps).map { i =>
      val kind = if (i < warmup) Kinds.distinct(i) else kindCycle((i - warmup) % kindCycle.size)
      Op(kind, pOrder(pz.next()), cOrder(cz.next()), cities(rnd.nextInt(cities.size)),
        g0.persons.size + rnd.nextInt((maxToken - g0.persons.size).toInt + 1))
    }
  }

  def opKind(i: Int): String = opSeq(i).kind

  def exec(i: Int, tr: Tracer): Any = {
    val op = opSeq(i)
    val p = op.person
    op.kind match {
      case "lookup" =>
        query(tr, i, "core", "EntityGraph.lookup")(graph.lookup("person", p))
          .map(r => (r.getAs[String]("name"), r.getAs[Int]("age"), r.getAs[Long]("company"), r.getAs[Long]("city"))).toSet
      case "detailsLookup" =>
        query(tr, i, "core", "EntityGraph.detailsLookup")(graph.detailsLookup("person", p))
          .map(r => (r.getAs[String]("property"), r.getAs[String]("value"))).toSet
      case "out" =>
        query(tr, i, "core", "EntityGraph.out")(graph.out("person", WorksAt, col("id") === p))
          .map(_.getAs[String]("related")).toSet
      case "in" =>
        query(tr, i, "core", "EntityGraph.in")(
          graph.in("company", WorksAt, col("id") === op.company, Seq("person")))
          .map(_.getAs[Long]("related_key")).toSet
      case "outStar" =>
        query(tr, i, "core", "EntityGraph.outStar")(graph.outStar("person", col("id") === p))
          .map(r => (r.getAs[String]("predicate"), r.getAs[String]("related"))).toSet
      case "out2" =>
        query(tr, i, "core", "EntityGraph.out2")(graph.out2("person", WorksAt, LocatedIn, col("id") === p))
          .map(_.getAs[String]("related")).toSet
      case "outPaged" =>
        var after = Option(p)
        (0 until Pages).map { _ =>
          val page = query(tr, i, "core", "EntityGraph.outPaged")(
            graph.outPaged("person", LivesIn, after, OutPage))
            .map(r => (r.getAs[Long]("start_key"), r.getAs[String]("related"))).toSeq.sorted
          if (page.nonEmpty) after = Some(page.last._1)
          page
        }
      case "inPaged" =>
        var after = Option.empty[(String, Long)]
        (0 until Pages).map { _ =>
          val page = query(tr, i, "core", "EntityGraph.inPaged")(
            graph.inPaged("city", LivesIn, col("id") === op.city, Seq("person"), after, InPage))
            .map(r => (r.getAs[String]("dataset"), r.getAs[Long]("related_key"))).toSeq
          if (page.nonEmpty) after = Some(page.last)
          page.map(_._2)
        }
      case "outAtTime" =>
        query(tr, i, "ops", "TimeTravel.outAtTime")(
          TimeTravel.outAtTime(log, "id", "recorded", col("deleted"), "company", op.token,
            PersonNs, WorksAt, CompanyNs).filter(col("start") === PersonNs + p))
          .map(r => (r.getAs[String]("related"), r.getAs[Long]("recorded"))).toSet
      case "inAtTime" =>
        query(tr, i, "ops", "TimeTravel.inAtTime")(
          TimeTravel.inAtTime(log, "id", "recorded", col("deleted"), "company", op.token,
            PersonNs, WorksAt, CompanyNs).filter(col("start") === CompanyNs + op.company))
          .map(_.getAs[Long]("related_key")).toSet
      case "changesSince" =>
        query(tr, i, "ops", "ChangeLog.changesSince")(
          ChangeLog.changesSince(log, "recorded", op.token, Some(SinceLimit)))
          .map(r => (r.getAs[Long]("id"), r.getAs[Long]("recorded"))).toSeq
      case "reachable" =>
        import spark.implicits._
        query(tr, i, "core", "EntityGraph.reachable")(
          graph.reachable(Seq(PersonNs + p).toDF("uri"), 2))
          .map(r => (r.getAs[String]("uri"), r.getAs[Int]("depth"))).toSet
    }
  }

  def check(i: Int, result: Any): Boolean = {
    val op = opSeq(i)
    val p = persons(op.person)
    val expected: Any = op.kind match {
      case "lookup" => want(Set((p.name, p.age, p.company, p.city)), ("bogus", 0, 0L, 0L))
      case "detailsLookup" =>
        want(Set((Schema + "person/age", p.age.toString), (Schema + "person/name", p.name)), ("bogus", "x"))
      case "out" => want(Set(CompanyNs + p.company), "bogus")
      case "in" => want(byCompany.getOrElse(op.company, Seq.empty).toSet, -1L)
      case "outStar" =>
        want(Set((WorksAt, CompanyNs + p.company), (LivesIn, CityNs + p.city)) ++
          p.knows.map(k => (Knows, PersonNs + k)), ("bogus", "x"))
      case "out2" => want(Set(CityNs + companies(p.company).city), "bogus")
      case "outPaged" =>
        val keys = persons.keys.toIndexedSeq.sorted.dropWhile(_ <= p.id)
        wantSeq((0 until Pages).map(k => keys.slice(k * OutPage, (k + 1) * OutPage)
          .map(id => (id, CityNs + persons(id).city))), Seq.empty)
      case "inPaged" =>
        val keys = byCity.getOrElse(op.city, Seq.empty)
        wantSeq((0 until Pages).map(k => keys.slice(k * InPage, (k + 1) * InPage)), Seq.empty)
      case "outAtTime" =>
        want(asOf(p.id, op.token).filterNot(_.deleted)
          .map(v => (CompanyNs + v.company, v.recorded)).toSet, ("bogus", 0L))
      case "inAtTime" =>
        want(versions.keys.filter(id => asOf(id, op.token).exists(v => !v.deleted && v.company == op.company)).toSet, -1L)
      case "changesSince" =>
        wantSeq(logByToken.filter(_.recorded > op.token).take(SinceLimit).map(v => (v.id, v.recorded)), (0L, 0L))
      case "reachable" =>
        val seen = mutable.LinkedHashMap(PersonNs + p.id -> 0)
        var frontier = Set(PersonNs + p.id)
        for (d <- 1 to 2) {
          frontier = frontier.flatMap(neighbours).filterNot(seen.contains)
          frontier.foreach(u => seen(u) = d)
        }
        want(seen.toSet, ("bogus", 0))
    }
    result == expected
  }

  def finalCheck(tr: Tracer): Set[Int] = Set.empty

}

object GraphServe {
  /** One cycle of the mix: one op per query of graft's own query suite
    * (`SparkEntry`) that makes one of these calls, as that suite runs
    * each of its queries once — so `in` (g3, g6), `changesSince` (c1,
    * c6) and `reachable` (g11, g15) come twice — plus `outAtTime`, the
    * mirror of g12's `inAtTime`. */
  val Kinds: IndexedSeq[String] = IndexedSeq("lookup", "detailsLookup", "out", "in", "in", "outStar",
    "out2", "outPaged", "inPaged", "outAtTime", "inAtTime", "changesSince", "changesSince",
    "reachable", "reachable")
  final case class Op(kind: String, person: Long, company: Long, city: Long, token: Long)
  val Base = "http://bench.graft/"
  val Schema: String = Base + "schema/"
  val PersonNs: String = Base + "person/"
  val CompanyNs: String = Base + "company/"
  val CityNs: String = Base + "city/"
  val WorksAt: String = Schema + "worksAt"
  val LivesIn: String = Schema + "livesIn"
  val Knows: String = Schema + "knows"
  val LocatedIn: String = Schema + "locatedIn"
  val LogBucket = 1000L
  val Pages = 3
  val OutPage = 40
  val InPage = 15
  val SinceLimit = 50
}
