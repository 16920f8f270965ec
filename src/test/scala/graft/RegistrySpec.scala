package graft

import graft.queries._
import org.scalatest.funsuite.AnyFunSuite

/** The declared-query registry: one [[QueryDef]] per query across the
  * per-family files, and the query maps `SparkEntry` aggregates from
  * them. Needs no SparkSession — building the registry runs no query. */
class RegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.defs.map(_.name)

  test("exactly 165 queries, names unique across all families") {
    assert(names.size == 165, names.size)
    assert(names.distinct.size == names.size,
      s"duplicates: ${names.diff(names.distinct).mkString(", ")}")
  }

  test("each family file holds only its own prefix") {
    val families = Seq("q" -> AnalyticsQueries.defs, "g" -> GraphQueries.defs,
      "c" -> ChangeQueries.defs, "j" -> JobQueries.defs, "e" -> EventQueries.defs,
      "d" -> DedupQueries.defs, "s" -> SearchQueries.defs, "x" -> TextQueries.defs,
      "p" -> PrepQueries.defs, "m" -> MediaQueries.defs)
    families.foreach { case (p, defs) =>
      assert(defs.nonEmpty && defs.forall(_.name.matches(s"$p[0-9]+_.*")),
        s"$p: ${defs.map(_.name).filterNot(_.matches(s"$p[0-9]+_.*"))}")
    }
    assert(families.map(_._2.size).sum == names.size)
  }

  test("the query maps share one key set; audits cover only declared queries") {
    val dir = "/tmp/graft_registry_spec_sf"
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    val forDir = SparkEntry.oracleSqlFor(dir)
    assert(forDir.keySet == SparkEntry.queries.keySet)
    // j6_stats is the one dir-dependent oracle
    assert(forDir.filter { case (k, v) => SparkEntry.oracleSql(k) != v }.keySet == Set("j6_stats"))
    assert(forDir("j6_stats").contains(s"$dir/lineitem.parquet"))
    assert(SparkEntry.auditSql.nonEmpty && SparkEntry.auditSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.defs.forall(d => d.oracle.trim.nonEmpty && d.audit.forall(_.trim.nonEmpty)))
  }
}
