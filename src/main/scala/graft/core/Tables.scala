package graft.core

import org.apache.spark.sql.SparkSession

/** Managed-table housekeeping shared by the standing-index builders
  * (Dedup.buildShingleIndex, Ann.buildAnnIndex/buildIvfIndex). */
object Tables {

  /** Per-JVM unique table-name prefix. Every standing table a
    * SparkEntry query builds goes through [[scoped]], so two Verify /
    * Bench / judge processes sharing one `spark-warehouse` directory
    * can NEVER read or clobber each other's state: names collide only
    * within a single JVM, where the catalog is session-scoped anyway.
    * Stable for the JVM's lifetime so build→absorb→probe chains and
    * cross-query standing reuse inside one run still resolve. The r16
    * driver gate had exactly one red row (m10, hash-only, five clean
    * independent reruns) whose only plausible mechanism was a stale or
    * concurrent run's `ivf_idx_m10` feeding the probe — this closes
    * that hazard by construction. */
  private val runPrefix: String =
    "g" + java.util.UUID.randomUUID().toString.replace("-", "").take(10)

  /** Run-scoped standing-table name (or prefix, for the multi-table
    * builders that derive `prefix_counts` etc. from it). */
  def scoped(name: String): String = s"${runPrefix}_$name"

  /** Drop a managed table AND clear any leftover warehouse directory: a
    * location written by a PREVIOUS session is unknown to this catalog,
    * and `saveAsTable` then refuses the name. */
  def drop(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Compact a standing index table by REMOVING the given ids — the
    * supersede step shared by every graft index family (shingle, LSH
    * sketch, IVF inverted file, PQ codes). The table is NOT recomputed:
    * its existing rows are filtered through a broadcast anti-join on
    * `id` and rewritten UNDER THE TABLE'S OWN bucket/sort spec (read
    * from the catalog) into a swap table that atomically takes the
    * index's name — the same rewrite-not-delete-in-place discipline as
    * the reference's log compaction. Companions keyed by id are
    * compacted by calling this on them too. */
  /** Run two INDEPENDENT write actions concurrently (guide §2.6:
    * Spark happily runs several jobs at once — actions are only
    * sequential because the driver calls them sequentially). For the
    * absorb legs that append a batch's rows to a standing table AND a
    * derived companion (different tables, shared pinned input), the
    * two jobs' tasks interleave on the executor pool and the absorb
    * pays ONE job-latency slot instead of two — the r18-verdict #3
    * per-batch floor cut. Both sides are always awaited (a failure in
    * one does not abandon the other mid-write); a failure rethrows,
    * leg `a`'s first, with leg `b`'s attached via `addSuppressed` when
    * both fail. Crash contract unchanged: either write may exist
    * without the other exactly as a crash between the previous
    * sequential appends could leave, and the replay/marker discipline
    * nets both cases. */
  def inParallel(a: => Unit, b: => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(a)
    val fb = Future(b)
    val ra = scala.util.Try(Await.result(fa, Duration.Inf))
    val rb = scala.util.Try(Await.result(fb, Duration.Inf))
    for (ea <- ra.failed; eb <- rb.failed if ea ne eb) ea.addSuppressed(eb)
    ra.get; rb.get
  }

  def compactById(spark: SparkSession, table: String,
                  ids: org.apache.spark.sql.DataFrame): Unit =
    compactByKey(spark, table, ids, "id")

  /** `compactById` for an arbitrary key column (the hot-list refresh
    * drops rows by SHINGLE, not by doc id). */
  def compactByKey(spark: SparkSession, table: String,
                   keys: org.apache.spark.sql.DataFrame, keyCol: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val drop = broadcast(keys.select(col(keys.columns.head).as(keyCol)).distinct())
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val bucketSpec = meta.bucketSpec
    // graft-namespaced table properties (e.g. the retention state's
    // graft.periodUs pin) ride the swap ATOMICALLY: they are set on the
    // tmp table BEFORE it takes the index's name. The previous shape —
    // compact, then a separate ALTER TABLE re-pin at the call site —
    // left a crash window where the swapped table existed without its
    // properties and every subsequent absorb failed loudly until a
    // full rebuild (r17 ADVICE).
    val graftProps = meta.properties.filter { case (k, _) => k.startsWith("graft.") }
    val cols = spark.table(table).columns
    val tmp = table + "__compact"
    Tables.drop(spark, tmp)
    val writer = spark.table(table).join(drop, Seq(keyCol), "left_anti")
      .select(cols.map(col).toIndexedSeq: _*) // anti-join fronts the key; restore order
      .write
    bucketSpec match {
      case Some(bs) =>
        val b = writer.bucketBy(bs.numBuckets,
          bs.bucketColumnNames.head, bs.bucketColumnNames.tail: _*)
        (if (bs.sortColumnNames.nonEmpty)
           b.sortBy(bs.sortColumnNames.head, bs.sortColumnNames.tail: _*)
         else b).saveAsTable(tmp)
      case None => writer.saveAsTable(tmp)
    }
    if (graftProps.nonEmpty) {
      val kv = graftProps.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
      spark.sql(s"ALTER TABLE `$tmp` SET TBLPROPERTIES ($kv)")
    }
    Tables.drop(spark, table)
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
  }
}
