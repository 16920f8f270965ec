package graft

import graft.ann.Ann
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Warehouse isolation: every standing table a SparkEntry query builds
  * goes through `Tables.scoped`, so a concurrent or stale run's state
  * at the SAME base name can never feed a Verify/Bench probe (the r16
  * driver gate's one red row — m10 hash-only, unreproducible in five
  * clean reruns — had exactly this hazard as its only plausible
  * mechanism). */
class TablesSpec extends SparkSpec {

  import spark.implicits._

  private def vecs(seed: Int, n: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      val v = Array.tabulate(8)(d => (((i * 31 + d * 7 + seed) % 13) - 6).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")

  test("scoped names are run-stable, base-distinct, and valid identifiers") {
    assert(Tables.scoped("ivf_idx_m10") == Tables.scoped("ivf_idx_m10"))
    assert(Tables.scoped("a") != Tables.scoped("b"))
    assert(Tables.scoped("ivf_idx_m10").matches("g[0-9a-f]{10}_ivf_idx_m10"))
  }

  test("interleaved builds at the same base name do not cross-contaminate") {
    val mine = Tables.scoped("iso_ivf")
    // a "foreign run" = the same base name under a different run prefix
    // (what a concurrent Verify/Bench process would create)
    val foreign = "gdeadbeef00_iso_ivf"
    assert(mine != foreign)

    Ann.buildIvfIndex(vecs(seed = 1, n = 60), "embedding", "vec_id", mine, nlist = 4)
    val before = Ann.ivfTopKIndexed(spark, mine, col("id") < 5, k = 3)
      .orderBy("query_id", "rnk").collect().toSeq

    // the clobber attempt: a foreign run builds DIFFERENT vectors at the
    // same base name, twice (create + overwrite), while ours stands
    Ann.buildIvfIndex(vecs(seed = 9, n = 40), "embedding", "vec_id", foreign, nlist = 4)
    Ann.buildIvfIndex(vecs(seed = 5, n = 40), "embedding", "vec_id", foreign, nlist = 4)

    val after = Ann.ivfTopKIndexed(spark, mine, col("id") < 5, k = 3)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(after == before, "foreign-run build at the same base name changed our probe")

    // and the foreign index answers from ITS vectors, not ours
    val f = Ann.ivfTopKIndexed(spark, foreign, col("id") < 5, k = 3).collect()
    assert(f.nonEmpty && f.forall(_.getLong(1) < 40))
    Seq(mine, foreign).foreach { t =>
      Seq(t, s"${t}_cent", s"${t}_batches").foreach(Tables.drop(spark, _))
    }
  }
  test("compactByKey carries graft.* TBLPROPERTIES onto the swap table atomically") {
    // the retention state's graft.periodUs pin must survive the
    // drop+rename swap WITHOUT a separate post-hoc ALTER — a crash
    // between compact and re-pin previously left the table pinless and
    // every subsequent absorb failing until a full rebuild (r17 ADVICE)
    import spark.implicits._
    val t = graft.core.Tables.scoped("props_carry")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("user_id", "x")
      .write.saveAsTable(t)
    spark.sql(s"ALTER TABLE `$t` SET TBLPROPERTIES ('graft.periodUs' = '86400000000')")
    Tables.compactByKey(spark, t, Seq(2L).toDF("user_id"), "user_id")
    val props = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).properties
    assert(props.get("graft.periodUs").contains("86400000000"), props.toString)
    assert(spark.table(t).select("user_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("inParallel: both legs failing rethrows leg a's error with leg b's suppressed") {
    val e = intercept[IllegalStateException] {
      Tables.inParallel(throw new IllegalStateException("leg a"), throw new RuntimeException("leg b"))
    }
    assert(e.getMessage == "leg a")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("leg b"))
    // one failing leg: its error alone, the other leg still ran to completion
    val ran = new java.util.concurrent.atomic.AtomicBoolean(false)
    val only = intercept[RuntimeException](Tables.inParallel(ran.set(true), throw new RuntimeException("only b")))
    assert(only.getMessage == "only b" && only.getSuppressed.isEmpty && ran.get)
  }

  test("inParallel: each leg runs under the caller's current job group") {
    // the legs' jobs must stay in the caller's job group so a cancel of
    // that group (Scheduler.kill, a stopped streaming query) reaches
    // them; a pool thread that kept the local properties of the call
    // that created it would report the first group on the second call
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def leg(group: String): Unit = { seen.add(group -> sc.getLocalProperty("spark.jobGroup.id")); () }
    try for (g <- Seq("graft-group-1", "graft-group-2")) {
      sc.setJobGroup(g, "inParallel spec")
      Tables.inParallel(leg(g), leg(g))
    } finally sc.clearJobGroup()
    val got = { import scala.jdk.CollectionConverters._; seen.asScala.toSeq }
    assert(got.length == 4 && got.forall { case (want, saw) => want == saw }, got.toString)
  }
}
