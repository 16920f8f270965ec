package graft

import graft.queries._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §2 for the inventory.
  *
  * Conventions shared by every query/oracle pair (SURVEY.md §5):
  * deterministic ORDER BY on both sides, identical column aliases,
  * doubles either passed through untouched or round(…, 2) after
  * aggregation, event timestamps normalized to exact epoch-microsecond
  * longs whatever the parquet encoding (Spark: Events.tsMicros, adaptive
  * over nanos-as-long / TIMESTAMP / TIMESTAMP_NTZ; DuckDB: epoch_us).
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.parquet's `ts` encoding has varied across testdata
    * generations (TIMESTAMP(NANOS), now TIMESTAMP(MICROS)/NTZ). The
    * nanosAsLong conf makes a NANOS column read as an exact long —
    * harmless for other encodings — and every consumer goes through the
    * schema-adaptive [[graft.ops.Events.tsMicros]], so all three
    * encodings stay integer-exact against the DuckDB oracle's epoch_us. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/events.parquet")
  }

  /** Stages each `[lo, hi)` slice of `df` (on `idCol`) as one parquet
    * chunk file in a fresh chunks dir with STRICTLY INCREASING
    * mtimes — the replay contract every streaming query (d10/d11/d17)
    * relies on: FileStreamSource orders micro-batches by mtime, so
    * each slice arrives as its own batch, in `ranges` order. Returns
    * the chunks dir to pass as the stream source path. */
  private[graft] def stageMicroBatches(df: DataFrame, idCol: String,
      ranges: Seq[(Long, Long)], prefix: String): String =
    stagePredChunks(df,
      ranges.map { case (lo, hi) => col(idCol) >= lo && col(idCol) < hi }, prefix)

  /** Stage `df` into one flat parquet chunk file per predicate, mtimes
    * increasing in predicate order — the generic sibling of
    * [[stageMicroBatches]] for streams whose batch boundary is not an
    * id range (e8 splits the event log by TIME, the change-log arrival
    * order). */
  private[graft] def stagePredChunks(df: DataFrame, preds: Seq[Column], prefix: String): String = {
    val chunks = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_chunks_").toString
    preds.zipWithIndex.foreach { case (p, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_tmp_").toString
      df.filter(p).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(chunks, f"c$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
    chunks
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every declared query, one [[graft.queries.QueryDef]] each — engine,
    * oracle and audit side by side in the per-family files under
    * `graft/queries`. Names are unique across families. */
  private[graft] val defs: Seq[QueryDef] =
    AnalyticsQueries.defs ++ GraphQueries.defs ++ ChangeQueries.defs ++
      JobQueries.defs ++ EventQueries.defs ++ DedupQueries.defs ++
      SearchQueries.defs ++ TextQueries.defs ++ PrepQueries.defs ++
      MediaQueries.defs
  require(defs.map(_.name).distinct.size == defs.size,
    s"duplicate query names: ${defs.map(_.name).diff(defs.map(_.name).distinct).mkString(", ")}")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.engine).toMap

  val oracleSql: Map[String, String] = defs.map(d => d.name -> d.oracle).toMap

  /** The oracle map with every sf-dir-dependent entry interpolated for
    * `dir` (see `JobQueries.j6OracleSql`); identical to `oracleSql`
    * elsewhere. */
  def oracleSqlFor(dir: String): Map[String, String] =
    oracleSql + ("j6_stats" -> JobQueries.j6OracleSql(dir))

  /** FLOAT-RANKING AUDITS (the r17 m10 postmortem harness): one DuckDB
    * probe per ANN-family query whose output depends on ordering or
    * thresholding doubles. Each emits rows
    * `(stage, n_ties, min_gap, integer_exact)`; `tools/oracleaudit.py`
    * FAILS a stage iff it has exact ties or sub-1e-9 gaps AND its
    * ranking operands are NOT in the integer-exact class — the class
    * where a local DuckDB green says nothing about the driver's build
    * (m10 had 32 exactly-tied routing cosines that resolved in
    * opposite orders on a different `list_inner_product`). `Verify`
    * dumps these as `audit_sql.json`; the audit runs in the round
    * gates next to the selfcheck. */
  val auditSql: Map[String, String] =
    defs.flatMap(d => d.audit.map(d.name -> _)).toMap
}
