package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime

import graft.ann.{Ann, SemDedup}
import graft.dedup.Dedup
import graft.jobs.Recipe
import graft.streaming.OnChange
import graft.text.Bpe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data ingest against standing state built in set-up. Each op is one
  * document micro-batch through one `OnChange` loop, drained with
  * AvailableNow; the loops take turns in a fixed order (shingle,
  * simhash, semantic IVF, recipe). The end-of-run checks compare the
  * union of each loop's per-batch outputs, and the recipe's budget
  * ledger, with the one-shot result over the same docs ([[references]]). */
final class DedupIngest(spark: SparkSession, dir: File, args: Main.Args, in: Gen.Inputs, val nOps: Int)
    extends Workload(spark, args.work, args.corrupt) {
  import DedupIngest._

  def name = "dedup_ingest"
  val warmup: Int = Warmup
  /** One set-up: the four standing builds are the costliest phase of any
    * run (about 20 s), and a second would not fit the run-time budget. */
  override val setupReps = 1
  private val c = in.corpus.get
  private val Loops = IndexedSeq("shingle", "simhash", "semantic", "recipe")

  private val inputDir = Cache.ensure(args.work, name, args.seed, in.digest) { d =>
    import spark.implicits._
    Cache.parallel(
      () => c.standing.toDF().coalesce(1).write.parquet(s"$d/standing"),
      () => c.eval.toDF().coalesce(1).write.parquet(s"$d/eval"),
      () => c.vectors.toDF().coalesce(1).write.parquet(s"$d/vectors"),
      // one file per (loop, batch): the file a loop's source picks up
      () => Seq("shingle" -> c.shingleBatches, "simhash" -> c.simhashBatches, "recipe" -> c.recipeBatches)
        .flatMap { case (loop, bs) => bs.zipWithIndex.flatMap { case (b, i) =>
          b.map(x => (loop, i, x.doc_id, x.grp, x.text)) } }
        .toDF("loop", "batch", "doc_id", "grp", "text")
        .coalesce(1).write.partitionBy("loop", "batch").parquet(s"$d/docs"),
      () => c.vectorBatches.zipWithIndex.flatMap { case (b, i) => b.map(v => (i, v.vec_id, v.embedding)) }
        .toDF("batch", "vec_id", "embedding")
        .coalesce(1).write.partitionBy("batch").parquet(s"$d/vecs"))
  }
  val inputBytes: Long = Cache.inputBytes(inputDir)
  private val warehouse = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
  private val streams = new File(dir, "streams")

  private def t(rep: Int, n: String) = s"bench_r${rep}_$n"
  private var rep = 0
  private var standing: Recipe.Standing = _

  def reset(r: Int): Unit = {
    spark.catalog.listTables().collect().foreach(x => graft.core.Tables.drop(spark, x.name))
    Main.deleteTree(warehouse)
    warehouse.mkdirs()
    rep = r
  }

  def stored: (Long, Long) =
    (Option(warehouse.listFiles()).toSeq.flatten :+ streams).map(Main.dirBytes)
      .foldLeft((0L, 0L)) { case (a, b) => (a._1 + b._1, a._2 + b._2) }

  private def read(n: String): DataFrame = spark.read.parquet(s"$inputDir/$n")

  def setup(r: Int, phase: Phases): Unit = {
    phase("shingle_index") {
      Dedup.buildShingleIndex(read("standing"), "text", "doc_id", N, t(r, "sh"), buckets = Buckets)
    }
    phase("simhash_index") {
      Dedup.buildSimhashIndex(read("standing"), "text", "doc_id", MaxDist, t(r, "sim"), buckets = Buckets)
    }
    phase("ivf_index") {
      Ann.buildIvfIndex(read("vectors"), "embedding", "vec_id", t(r, "ivf"), nlist = NList, buckets = Buckets)
    }
    standing = phase("recipe_standing") {
      Recipe.buildStanding(spark, read("standing"), read("eval"), "text", "doc_id", "grp", "label", K,
        Bpe.DefaultMerges, t(r, "rcp"), buckets = Buckets)
    }
  }


  def opKind(i: Int): String = Loops(i % 4)
  private def batchPath(loop: String, b: Int) =
    if (loop == "semantic") s"vecs/batch=$b" else s"docs/loop=$loop/batch=$b"
  private def batchOf(i: Int): Int = i / 4
  private def loopDir(loop: String, kind: String) = new File(streams, s"$loop/$kind")

  /** Stage the op's micro-batch file into its loop's source directory —
    * data arrival, not graft's work, so it happens before the op. */
  override def prepare(i: Int): Unit = {
    val loop = opKind(i)
    val b = batchOf(i)
    if (i == 0) initialLedger = rows(spark.table(standing.counts), Seq("doc_id", "bpe_tokens"))
    val src = Cache.onlyFile(new File(inputDir, batchPath(loop, b)))
    val dst = new File(loopDir(loop, "in"), f"c$b%04d.parquet")
    dst.getParentFile.mkdirs()
    Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dst.toPath, FileTime.fromMillis(1700000000000L + b * 10000L))
  }

  def exec(i: Int, tr: Tracer): Any = {
    val loop = opKind(i)
    val src = loopDir(loop, "in").toString
    val out = loopDir(loop, "out").toString
    val ckpt = loopDir(loop, "ckpt").toString
    val r = rep
    loop match {
      case "shingle" => tr.call("streaming", "OnChange.streamingDedupDelta")(
        OnChange.streamingDedupDelta(spark, src, "text", "doc_id", N, Jaccard, t(r, "sh"), out, ckpt))
      case "simhash" => tr.call("streaming", "OnChange.streamingSimhashDedup")(
        OnChange.streamingSimhashDedup(spark, src, "text", "doc_id", MaxDist, t(r, "sim"), out, ckpt))
      case "semantic" => tr.call("streaming", "OnChange.streamingSemanticDedup")(
        OnChange.streamingSemanticDedup(spark, src, "embedding", "vec_id", t(r, "ivf"), Cosine, out, ckpt))
      case "recipe" => tr.call("streaming", "OnChange.streamingRecipe")(
        OnChange.streamingRecipe(spark, src, standing, "text", "doc_id", "grp", Budgets, K,
          Bpe.DefaultMerges, out, ckpt))
    }
    // streaming batch ids count from 0 per loop: this op's batch is b
    batchOf(i)
  }

  private var ledgerBytes = 0L

  def check(i: Int, result: Any): Boolean = {
    // a corrupted expectation looks for the batch's output where it can't be
    val b = if (corrupt) s"$result-bogus" else s"$result"
    val done = new File(loopDir(opKind(i), "out"), s"batch_id=$b/_SUCCESS").isFile
    if (opKind(i) == "recipe" && i >= warmup)
      ledgerBytes += Main.dirBytes(new File(warehouse, standing.counts.toLowerCase))._2
    done
  }

  private def rows(df: DataFrame, cols: Seq[String]): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  private var pairsOut = 0L
  private val ran = (0 until warmup + nOps).groupBy(opKind)
  private def docs(loop: String): DataFrame =
    ran(loop).map(i => read(batchPath(loop, batchOf(i)))).reduce(_ unionByName _)
  private def streamed(loop: String) = spark.read.parquet(loopDir(loop, "out").toString)

  private var initialLedger = Set.empty[Seq[Any]]

  /** One-shot results over every doc the loops streamed: loop -> (columns,
    * rows). Each delta call takes its input as ONE batch and supersedes
    * that batch's ids on the standing side, so against the state the ops
    * left — the standing docs plus the absorbed stream — it sees exactly
    * the standing docs the stream did not replace: the same corpus as a
    * one-shot against the state set-up built. */
  private def references(): Map[String, (Seq[String], Set[Seq[Any]])] = {
    def keep(df: DataFrame) = (df.columns.toSeq, rows(df, df.columns.toSeq))
    // independent read-only calls, untimed: run side by side
    val Seq(shingle, simhash, semantic, recipe) = Cache.parallel(
      () => Seq(keep(Dedup.ngramJaccardDelta(spark, docs("shingle"), "text", "doc_id", N, Jaccard, t(rep, "sh")))),
      () => Seq(keep(Dedup.simhashPairsDelta(spark, docs("simhash"), "text", "doc_id", MaxDist, t(rep, "sim")))),
      () => Seq(keep(SemDedup.semanticDedupDelta(spark, docs("semantic"), "embedding", "vec_id",
        t(rep, "ivf"), Cosine))),
      () => {
        val all = docs("recipe")
        val res = Recipe.processBatch(spark, standing, all, "text", "doc_id", "grp", Budgets, K,
          Bpe.DefaultMerges)
        val streamIds = all.select("doc_id").collect().map(_.getLong(0)).toSet
        Seq(
          // no budget is set, so every gated doc emits once and the
          // emission does not depend on arrival order
          keep(res.emission.select("doc_id", "bpe_tokens", "copy")),
          // absorbing the stream swaps the re-emitted ids' ledger rows for the gated counts
          (Seq("doc_id", "bpe_tokens"), initialLedger.filterNot(r => streamIds(r.head.asInstanceOf[Long])) ++
            rows(res.gatedCounts, Seq("doc_id", "bpe_tokens"))))
      })
    Map("shingle" -> shingle.head, "simhash" -> simhash.head, "semantic" -> semantic.head,
      "recipe" -> recipe.head, "ledger" -> recipe(1))
  }

  def finalCheck(tr: Tracer): Set[Int] = {
    // the loops appended through their streams' sessions
    spark.catalog.listTables().collect().foreach(x => spark.catalog.refreshTable(x.name))
    val expected = references()
    val got = Loops.map(l => l -> rows(streamed(l), expected(l)._1)).toMap +
      ("ledger" -> rows(spark.table(standing.counts), expected("ledger")._1))
    pairsOut = Seq("shingle", "simhash", "semantic").map(got(_).size).sum
    val bad = expected.keys.filter { k =>
      val want = if (corrupt) expected(k)._2 + Seq("bogus") else expected(k)._2
      val differs = got(k) != want
      if (differs) System.err.println(s"$k: ${got(k).size} streamed rows vs ${want.size} one-shot rows; " +
        s"only streamed ${(got(k) -- want).take(3)}, only one-shot ${(want -- got(k)).take(3)}")
      differs
    }.map(k => if (k == "ledger") "recipe" else k).toSet
    println(s"final check: ${bad.size} of ${Loops.size} loops differ from the one-shot result")
    ran.filter(x => bad(x._1)).values.flatten.toSet
  }

  override def layerCounts(tr: Tracer, measured: Set[Int]): Map[String, Double] =
    Map("dedup.pairs_out" -> pairsOut.toDouble, "text.ledger_bytes_rewritten" -> ledgerBytes.toDouble)
}

object DedupIngest {
  val Warmup = 0
  val N = 3
  val Jaccard = 0.5
  val MaxDist = 6
  val Cosine = 0.9
  val NList = 8
  val Buckets = 4
  val K = 4
  /** No token budget: every gated doc emits once, so the streamed
    * emission has an order-independent one-shot equal. */
  val Budgets: Map[String, Long] = Map.empty
}
