package graft.core

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions.{broadcast, col}

/** The one place that writes standing tables. An index family states
  * only the rows it derives; `Tables` owns the rest:
  *  - [[reset]]: a build drops its tables and its replay markers;
  *  - [[append]]: rows land under the table's own catalog spec;
  *  - [[absorb]] / [[compact]]: the roster-first append and the
  *    index-first supersede of an index with a roster companion;
  *  - [[rewrite]]: the one drop-then-rename table swap, which
  *    [[compactByKey]] and every other whole-table rewrite go through,
  *    and [[recover]], which finishes a swap cut off mid-way. */
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
    // each leg runs on Scala's global pool under the caller's local
    // properties (job group, streaming batch id, SQL execution id) and
    // active session, so a cancel of the caller's job group reaches the
    // legs' jobs
    val session = org.apache.spark.sql.classic.SparkSession.active
    def leg(body: => Unit) =
      org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(session, globalPool)(body)
    val fa = leg(a)
    val fb = leg(b)
    def await(f: java.util.concurrent.Future[Unit]) = scala.util.Try(f.get()).recover {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
    val ra = await(fa)
    val rb = await(fb)
    for (ea <- ra.failed; eb <- rb.failed if ea ne eb) ea.addSuppressed(eb)
    ra.get; rb.get
  }

  private object globalPool extends java.util.concurrent.AbstractExecutorService {
    def execute(r: Runnable): Unit = scala.concurrent.ExecutionContext.global.execute(r)
    def shutdown(): Unit = ()
    def shutdownNow(): java.util.List[Runnable] = java.util.Collections.emptyList()
    def isShutdown: Boolean = false
    def isTerminated: Boolean = false
    def awaitTermination(timeout: Long, unit: java.util.concurrent.TimeUnit): Boolean = false
  }

  /** The one test seam of the write path: called with the target
    * table's name before every [[append]]. The crash specs throw from
    * it to stop an absorb between its two appends. */
  @volatile private[graft] var beforeAppend: String => Unit = _ => ()

  private def meta(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))

  /** `rows` in `m`'s column order, with a writer under `m`'s own
    * partition, bucket and sort spec. */
  private def laidOut(rows: DataFrame, m: CatalogTable): DataFrameWriter[Row] = {
    val w0 = rows.select(m.schema.fieldNames.map(col).toIndexedSeq: _*).write
    val w = if (m.partitionColumnNames.isEmpty) w0 else w0.partitionBy(m.partitionColumnNames: _*)
    m.bucketSpec.fold(w) { bs =>
      val b = w.bucketBy(bs.numBuckets, bs.bucketColumnNames.head, bs.bucketColumnNames.tail: _*)
      if (bs.sortColumnNames.isEmpty) b
      else b.sortBy(bs.sortColumnNames.head, bs.sortColumnNames.tail: _*)
    }
  }

  /** Drop a standing table, its companions (name suffixes, e.g.
    * `"_sizes"`) and its `<table>_batches` replay markers: a rebuild
    * resets the streaming loop's markers, or the next stream run trips
    * over the stale location. */
  def reset(spark: SparkSession, table: String, companions: String*): Unit =
    (table +: (companions :+ "_batches").map(table + _)).foreach(drop(spark, _))

  /** Append `rows` to an existing standing table in the table's column
    * order, under its own partition, bucket and sort spec read from the
    * catalog (probes keep riding the buckets), then refresh the table so
    * the caller's next read, possibly through another session clone,
    * sees the appended files. */
  def append(spark: SparkSession, table: String, rows: DataFrame): Unit = {
    beforeAppend(table)
    laidOut(rows, meta(spark, table)).mode("append").saveAsTable(table)
    spark.catalog.refreshTable(table)
  }

  /** Absorb a batch into a standing index that keeps a roster companion
    * (one row per indexed id): the roster rows append FIRST, then the
    * index rows. [[compact]] removes in the opposite order, so at every
    * point between two writes each id with index rows is in the roster,
    * and a redelivered batch finds its ids there, compacts them out and
    * absorbs once. The appends run one after the other: concurrent
    * appends (`inParallel`) measured a wash to ~10% slower on per-batch
    * writes (OPTIMIZATION_r19.md §4). */
  def absorb(spark: SparkSession, table: String, rows: DataFrame,
             roster: String, rosterRows: DataFrame): Unit = {
    append(spark, roster, rosterRows)
    append(spark, table, rows)
  }

  /** Remove `ids` from a standing index, then from its roster (the
    * supersede step of a re-ingest; see [[absorb]] for the order). */
  def compact(spark: SparkSession, table: String, roster: String, ids: DataFrame): Unit = {
    compactById(spark, table, ids)
    compactById(spark, roster, ids)
  }

  /** Compact a standing table by REMOVING the given ids — the supersede
    * step shared by every graft index family. The table is NOT
    * recomputed: its rows pass a broadcast anti-join on `id` and are
    * [[rewrite]]n, the rewrite-not-delete-in-place discipline of the
    * reference's log compaction. */
  def compactById(spark: SparkSession, table: String, ids: DataFrame): Unit =
    compactByKey(spark, table, ids, "id")

  /** `compactById` for an arbitrary key column (the hot-list refresh
    * drops rows by SHINGLE, not by doc id). */
  def compactByKey(spark: SparkSession, table: String, keys: DataFrame, keyCol: String): Unit = {
    val gone = broadcast(keys.select(col(keys.columns.head).as(keyCol)).distinct())
    rewrite(spark, table, spark.table(table).join(gone, Seq(keyCol), "left_anti"))
  }

  /** Name of the table a [[rewrite]] writes beside the live one. */
  private[graft] def swapName(table: String): String = table + "__swap"

  /** Replace `table`'s rows with `rows`: write them beside the live
    * table under its own partition, bucket and sort spec, carry its
    * `graft.*` table properties (e.g. the retention state's
    * graft.periodUs pin) onto the new table BEFORE it takes the name,
    * then drop the live table and rename the new one. Not atomic: a
    * reader in the drop-rename window sees the table missing, and a
    * crash there leaves the data only under [[swapName]], which
    * [[recover]] renames back. */
  def rewrite(spark: SparkSession, table: String, rows: DataFrame): Unit = {
    val m = meta(spark, table)
    val tmp = swapName(table)
    drop(spark, tmp)
    laidOut(rows, m).saveAsTable(tmp)
    val props = m.properties.filter { case (k, _) => k.startsWith("graft.") }
    if (props.nonEmpty)
      spark.sql(s"ALTER TABLE `$tmp` SET TBLPROPERTIES (" +
        props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
    takeName(spark, tmp, table)
  }

  /** Finish a [[rewrite]] that stopped between its drop and its rename:
    * when `table` is missing and its swap table exists, the swap table
    * takes the name. A catalog-only check, so it is free to run before
    * every drain. */
  def recover(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(swapName(table)))
      takeName(spark, swapName(table), table)

  private def takeName(spark: SparkSession, tmp: String, table: String): Unit = {
    drop(spark, table)
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    // renaming a catalog-partitioned table moves its files but leaves
    // the per-partition LOCATIONs pointing at the swap dir — resync
    // them from the moved directory (metadata-only)
    if (meta(spark, table).partitionColumnNames.nonEmpty)
      spark.sql(s"MSCK REPAIR TABLE `$table` SYNC PARTITIONS")
    spark.catalog.refreshTable(table)
  }
}
