package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

/** Seeded input generator. Every input a workload feeds graft comes from
  * here, as plain in-memory records, so the result checks can use the
  * same records as their model. The same seed gives the same records and
  * the same [[Inputs.digest]]; [[Cache]] persists the parquet form of the
  * records keyed by that digest, so writing them never lands inside a
  * timed phase. */
object Gen {

  /** Bump when the generated shape changes: it keys the on-disk cache. */
  val Revision = 5

  final case class City(id: Long, name: String)
  final case class Company(id: Long, name: String, city: Long)
  final case class Person(id: Long, name: String, age: Int, company: Long, city: Long,
                          knows: Seq[Long])
  /** One version of a person in the change log. A tombstone keeps the
    * payload of the version it deletes. */
  final case class Version(id: Long, recorded: Long, deleted: Boolean, name: String,
                           company: Long, city: Long)
  final case class Doc(doc_id: Long, grp: String, text: String, label: Boolean)
  final case class Vec(vec_id: Long, embedding: Seq[Float])

  final case class Graph(cities: IndexedSeq[City], companies: IndexedSeq[Company],
                         persons: IndexedSeq[Person], log: IndexedSeq[Version])

  /** Dedup-ingest inputs: the standing corpora the set-up indexes, and
    * one batch sequence per ingest loop. */
  final case class Corpus(standing: IndexedSeq[Doc], eval: IndexedSeq[Doc],
                          vectors: IndexedSeq[Vec],
                          shingleBatches: IndexedSeq[IndexedSeq[Doc]],
                          simhashBatches: IndexedSeq[IndexedSeq[Doc]],
                          vectorBatches: IndexedSeq[IndexedSeq[Vec]],
                          recipeBatches: IndexedSeq[IndexedSeq[Doc]])

  final case class Inputs(graph: Graph, changeBatches: IndexedSeq[IndexedSeq[Version]],
                          corpus: Option[Corpus]) {
    lazy val digest: String = {
      val md = MessageDigest.getInstance("SHA-256")
      def put(x: Any): Unit = md.update((x.toString + "\n").getBytes(StandardCharsets.UTF_8))
      graph.cities.foreach(put); graph.companies.foreach(put)
      graph.persons.foreach(p => put(p.copy(knows = p.knows.toList)))
      graph.log.foreach(put)
      changeBatches.zipWithIndex.foreach { case (b, i) => put(s"batch $i"); b.foreach(put) }
      corpus.foreach { c =>
        (c.standing ++ c.eval).foreach(put)
        (c.vectors ++ c.vectorBatches.flatten).foreach(v => put(v.copy(embedding = v.embedding.toList)))
        (c.shingleBatches ++ c.simhashBatches ++ c.recipeBatches).zipWithIndex.foreach {
          case (b, i) => put(s"docs $i"); b.foreach(put)
        }
      }
      md.digest().map(b => f"$b%02x").mkString
    }
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  final case class Sizes(cities: Int, companies: Int, persons: Int, reversions: Int)
  val GraphSizes = Sizes(cities = 30, companies = 300, persons = 3000, reversions = 3000)

  def graph(seed: Long, sz: Sizes, withHistory: Boolean): Graph = {
    val rnd = new java.util.Random(seed * 1000003L + 17L)
    val cities = (1 to sz.cities).map(i => City(i.toLong, s"city-$i"))
    val companies = (1 to sz.companies).map(i =>
      Company(i.toLong, s"company-$i", 1L + rnd.nextInt(sz.cities)))
    val persons = (1 to sz.persons).map { i =>
      val knows = Seq.fill(rnd.nextInt(4))(1L + rnd.nextInt(sz.persons)).distinct.sorted
      Person(i.toLong, s"person-$i", 18 + rnd.nextInt(60), 1L + rnd.nextInt(sz.companies),
        1L + rnd.nextInt(sz.cities), knows)
    }
    val initial = persons.map(p => Version(p.id, p.id, deleted = false, p.name, p.company, p.city))
    val log =
      if (!withHistory) initial
      else {
        val zipf = new Zipf(sz.persons, 1.1, rnd)
        val hot = shuffled(rnd, (1 to sz.persons).map(_.toLong))
        val latest = mutable.Map(initial.map(v => v.id -> v): _*)
        val more = (1 to sz.reversions).map { j =>
          val id = hot(zipf.next())
          val prev = latest(id)
          val t = sz.persons.toLong + j
          val v =
            if (!prev.deleted && rnd.nextInt(20) == 0) prev.copy(recorded = t, deleted = true)
            else prev.copy(recorded = t, deleted = false,
              company = 1L + rnd.nextInt(sz.companies), name = s"${prev.name.takeWhile(_ != '~')}~$j")
          latest(id) = v
          v
        }
        initial ++ more
      }
    Graph(cities, companies, persons, log)
  }

  /** Change batches for the write path: inserts of new ids, Zipf-hot
    * re-versions (some repeat their payload, so the dedup
    * compaction has work), and tombstones. Tokens continue the log's. */
  def changeBatches(seed: Long, g: Graph, n: Int, size: Int): IndexedSeq[IndexedSeq[Version]] = {
    val rnd = new java.util.Random(seed * 7919L + 3L)
    val latest = mutable.LinkedHashMap(g.log.map(v => v.id -> v): _*)
    val zipf = new Zipf(latest.size, 1.1, rnd)
    val hot = shuffled(rnd, latest.keys.toIndexedSeq)
    var token = g.log.map(_.recorded).max
    var nextId = latest.keys.max + 1
    val nCompanies = g.companies.size
    (0 until n).map { b =>
      val touched = mutable.Set.empty[Long]
      (0 until size).flatMap { j =>
        token += 1
        val kind = j % 10
        if (kind < 3) {
          val id = nextId; nextId += 1
          val v = Version(id, token, deleted = false, s"person-$id", 1L + rnd.nextInt(nCompanies),
            1L + rnd.nextInt(g.cities.size))
          latest(id) = v; touched += id
          Some(v)
        } else {
          val id = hot(zipf.next())
          if (touched.contains(id)) { token -= 1; None }
          else {
            touched += id
            val prev = latest(id)
            val v = kind match {
              case 9 if !prev.deleted => prev.copy(recorded = token, deleted = true)
              case 8 => prev.copy(recorded = token)
              case _ => prev.copy(recorded = token, deleted = false,
                company = 1L + rnd.nextInt(nCompanies), name = s"person-$id~$b.$j")
            }
            latest(id) = v
            Some(v)
          }
        }
      }
    }
  }

  /** Fisher–Yates permutation of `xs` drawn from `rnd`. */
  def shuffled[A](rnd: java.util.Random, xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  private def words(rnd: java.util.Random, n: Int, vocab: Int): Seq[String] =
    Seq.fill(n)(s"v${rnd.nextInt(vocab)}")

  /** Replace `k` of the words, keeping the rest: a near duplicate. */
  private def perturb(rnd: java.util.Random, text: String, k: Int): String = {
    val ws = text.split(" ").toBuffer
    (0 until k).foreach(_ => ws(rnd.nextInt(ws.size)) = s"p${rnd.nextInt(1000000)}")
    ws.mkString(" ")
  }

  private def vec(rnd: java.util.Random, dims: Int): Seq[Float] =
    Seq.fill(dims)(rnd.nextGaussian().toFloat)

  /** Standing corpus plus per-loop batches. Every batch mixes new docs,
    * near duplicates of standing docs, re-emitted standing ids and a near
    * duplicate of an eval doc; on the pair loops every batch after the
    * first also carries a near duplicate of a new doc of the batch before
    * it.
    * Re-emitted ids are never near-duplicate targets, no id is emitted
    * twice within one loop's stream and no standing or eval doc is
    * copied twice, so the union of the per-batch outputs must equal the
    * one-shot result over the stream. */
  def corpus(seed: Long, nStanding: Int, batches: Int, batchSize: Int): Corpus = {
    val rnd = new java.util.Random(seed * 104729L + 11L)
    val vocab = 5000
    val standing = (1 to nStanding).map { i =>
      val junk = i % 7 == 0
      val body = words(rnd, 30, vocab).mkString(" ")
      val text = if (junk) body + " " + (0 until 12).map(j => s"zzjunk w${i}j$j").mkString(" ") else body
      Doc(i.toLong, if (i % 3 == 0) "h" else "g", text, label = !junk)
    }
    val eval = (1 to 20).map(i => Doc(900000L + i, "g", words(rnd, 24, vocab).mkString(" "), label = true))
    val dims = 32
    val vectors = standing.map(d => Vec(d.doc_id, vec(rnd, dims)))
    val ids = standing.map(_.doc_id)
    val stdById = standing.map(d => d.doc_id -> d).toMap
    val vecById = vectors.map(v => v.vec_id -> v).toMap
    // disjoint pools: re-emit targets vs near-duplicate targets
    val pool = shuffled(rnd, ids)
    val reemitPool = pool.take(nStanding / 4)
    val dupPool = pool.drop(nStanding / 4)
    def docBatches(loop: Int, crossBatch: Boolean): IndexedSeq[IndexedSeq[Doc]] = {
      val reemits = shuffled(rnd, reemitPool).iterator
      val dups = Iterator.continually(shuffled(rnd, dupPool)).flatten
      val evals = Iterator.continually(shuffled(rnd, eval)).flatten
      var next = 100000L * (loop + 1)
      var prev = Option.empty[Doc]
      (0 until batches).map { b =>
        val earlier = prev
        val batch = (0 until batchSize).map { j =>
          j % 4 match {
            case 0 if reemits.hasNext =>
              val id = reemits.next()
              stdById(id).copy(text = words(rnd, 30, vocab).mkString(" "))
            case 1 =>
              val src = stdById(dups.next())
              next += 1
              Doc(next, src.grp, perturb(rnd, src.text, 2), label = true)
            case 2 if j == 2 =>
              // near duplicate of an eval doc: the recipe's decontamination leg
              val e = evals.next()
              next += 1
              Doc(next, "g", words(rnd, 10, vocab).mkString(" ") + " " + e.text, label = true)
            case 3 if crossBatch && j == 3 && earlier.isDefined =>
              // near duplicate of a new doc of the previous batch: a pair
              // only the state an earlier batch absorbed can find
              next += 1
              Doc(next, earlier.get.grp, perturb(rnd, earlier.get.text, 2), label = true)
            case _ =>
              next += 1
              Doc(next, if (rnd.nextBoolean()) "g" else "h", words(rnd, 30, vocab).mkString(" "), label = true)
          }
        }
        prev = batch.lastOption // a new doc (the default case)
        batch
      }
    }
    val vectorBatches = {
      val reemits = shuffled(rnd, reemitPool).iterator
      val dups = Iterator.continually(shuffled(rnd, dupPool)).flatten
      var next = 300000L
      var prev = Option.empty[Vec]
      def near(v: Vec) = v.embedding.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
      (0 until batches).map { _ =>
        val earlier = prev
        val batch = (0 until batchSize).map { j =>
          j % 4 match {
            case 0 if reemits.hasNext => Vec(reemits.next(), vec(rnd, dims))
            case 1 => next += 1; Vec(next, near(vecById(dups.next())))
            // near the previous batch's last (new) vector: a cross-batch pair
            case 3 if j == 3 && earlier.isDefined => next += 1; Vec(next, near(earlier.get))
            case _ => next += 1; Vec(next, vec(rnd, dims))
          }
        }
        prev = batch.lastOption
        batch
      }
    }
    // The recipe's substring scrub is as-of-arrival (graft's OnChange
    // contract): a span repeated across batches is scrubbed from the
    // later doc only, but from both copies in a one-shot. Its stream
    // therefore gets no cross-batch near duplicates, or the one-shot
    // would not be its reference.
    Corpus(standing, eval, vectors, docBatches(0, crossBatch = true), docBatches(1, crossBatch = true),
      vectorBatches, docBatches(3, crossBatch = false))
  }

  /** All inputs of one workload run. `ops` sizes the write streams. */
  def inputs(workload: String, seed: Long, ops: Int): Inputs = workload match {
    case "graph_serve" => Inputs(graph(seed, GraphSizes, withHistory = true), IndexedSeq.empty, None)
    case "change_sync" =>
      val g = graph(seed, GraphSizes.copy(reversions = 0), withHistory = false)
      Inputs(g, changeBatches(seed, g, ops + ChangeSync.Warmup, 24), None)
    case "dedup_ingest" =>
      val g = Graph(IndexedSeq.empty, IndexedSeq.empty, IndexedSeq.empty, IndexedSeq.empty)
      val perLoop = (ops + DedupIngest.Warmup + 3) / 4
      Inputs(g, IndexedSeq.empty, Some(corpus(seed, 240, perLoop, 8)))
    case other => sys.error(s"unknown workload $other")
  }

  /** Self-test: same seed, same digest; another seed, another digest. */
  def selfTest(): Boolean = {
    Seq("graph_serve", "change_sync", "dedup_ingest").forall { w =>
      val a = inputs(w, 7, 40).digest
      val b = inputs(w, 7, 40).digest
      val c = inputs(w, 8, 40).digest
      val ok = a == b && a != c
      println(s"gen selftest $w: same-seed ${if (a == b) "equal" else "DIFFERENT"}, " +
        s"other-seed ${if (a != c) "different" else "EQUAL"} -> ${if (ok) "ok" else "FAIL"}")
      ok
    }
  }
}
