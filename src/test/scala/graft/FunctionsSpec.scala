package graft

import graft.functions.GraftExtensions
import graft.ops.Skew
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {

  test("dot_product is SQL-callable after extension registration and matches a local value") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(got == 32.0)
    // float arrays accumulate in double
    val f = spark.sql(
      "SELECT dot_product(array(cast(0.5 as float), cast(0.25 as float)), array(cast(2.0 as float), cast(4.0 as float))) AS d")
      .collect()(0).getDouble(0)
    assert(f == 2.0)
  }

  test("dot_product float×double mix: interpreted (lambda) path equals codegen path") {
    val s = spark
    import s.implicits._
    import graft.functions.VectorFunctions.dot
    // raw float vectors against double centroids is exactly the trained-IVF
    // shape; the interpreted eval (used inside higher-order-function
    // lambdas, where codegen never runs) must read each side with its own
    // element type — reading float storage as doubles produced garbage
    val df = Seq((Seq(1.5f, -2.25f, 3f), Seq(2.0d, 0.5d, -1.25d))).toDF("a", "b")
    val expected = 1.5 * 2.0 + (-2.25 * 0.5) + 3 * (-1.25)
    val codegen = df.select(dot(col("a"), col("b")).as("d")).head().getDouble(0)
    val interpreted = df
      .select(transform(array(col("b")), bb => dot(col("a"), bb)).getItem(0).as("d"))
      .head().getDouble(0)
    assert(codegen == expected, s"codegen: $codegen")
    assert(interpreted == expected, s"interpreted: $interpreted")
  }

  test("dot_product stays inside whole-stage codegen") {
    GraftExtensions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = emb.selectExpr("dot_product(embedding, embedding) AS n2")
    val plan = planOf(df)
    // formatted explain marks whole-stage-codegen'd nodes with "* "
    assert(plan.contains("* Project"), plan)
    assert(df.agg(min("n2")).collect()(0).getDouble(0) > 0.0)
  }

  test("poly_hash matches the byte-fold model and is SQL-callable") {
    GraftExtensions.register(spark)
    val text = "the quick brown fox 123!"
    val expect = text.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    val got = spark.sql(s"SELECT poly_hash('$text') AS h").collect()(0).getLong(0)
    assert(got == expect)
    assert(spark.sql("SELECT poly_hash('') AS h").collect()(0).getLong(0) == 0L)
  }

  test("hyperplane_sketch is SQL-callable and matches the DataFrame-API sketch") {
    GraftExtensions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
    emb.createOrReplaceTempView("emb_sketch_spec")
    val viaSql = spark.sql(
      "SELECT vec_id, hyperplane_sketch(embedding, 3, 8, 64) AS sk FROM emb_sketch_spec")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaApi = emb.select(col("vec_id"),
      graft.ann.Ann.sketch(col("embedding"), dims = 64, t = 3, bits = 8).as("sk"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaSql == viaApi)
    assert(viaSql.values.toSet.size > 1, "sketches should spread across buckets")
  }

  test("the session extension (apply) injects the functions register installs, with the same builders") {
    val injected = scala.collection.mutable.ArrayBuffer
      .empty[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)]
    new GraftExtensions()(new SparkSessionExtensions {
      override def injectFunction(
          f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit = injected += f
    })
    assert(injected.map(_._1.funcName) == Seq("dot_product", "poly_hash", "hyperplane_sketch"))
    injected.foreach { case (id, info, build) =>
      assert(info.getName == id.funcName && info.getClassName.startsWith("graft.functions."), info)
      val e = intercept[IllegalArgumentException](build(Seq.empty))
      assert(e.getMessage.contains(s"${id.funcName}("), e.getMessage)
      // installed under a prefixed name, each injected builder must
      // answer exactly as the one register installs
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "ext_" + id.funcName, build, "scala_udf")
    }
    GraftExtensions.register(spark)
    spark.read.parquet(s"$sfDir/embeddings.parquet").limit(20)
      .createOrReplaceTempView("emb_ext_spec")
    def calls(p: String) = s"${p}dot_product(embedding, embedding), " +
      s"${p}poly_hash(cast(vec_id AS STRING)), ${p}hyperplane_sketch(embedding, 3, 8, 64)"
    val rows = spark.sql(s"SELECT ${calls("ext_")}, ${calls("")} FROM emb_ext_spec").collect()
    assert(rows.length == 20)
    rows.foreach(r => assert((0 until 3).map(r.get) == (3 until 6).map(r.get), r))
  }

  test("Graft facade: session has functions registered, graph traverses") {
    val s = Graft.session() // getOrCreate: reuses the test session, registers functions
    assert(s.sql("SELECT dot_product(array(1.0D), array(2.0D))").collect()(0).getDouble(0) == 2.0)
    val g = Graft.graph(s, sfDir)
    assert(g.out("customer", graft.core.Tpch.pNation).count() > 0)
  }

  test("BPE train learns the textbook merges on the classic fixture") {
    val s = spark
    import s.implicits._
    // Sennrich's running example shape: 'low' dominates, so (l,o) wins
    // round 1 on the lexicographic tie with (o,w), then (lo,w), then
    // (low,e) via lower/lowest; every remaining pair is unique → stop
    val docs = Seq((1L, "low lower lowest low low")).toDF("doc_id", "text")
    val merges = graft.text.Bpe.train(docs, "text", numMerges = 10)
    assert(merges == Seq(("l", "o"), ("lo", "w"), ("low", "e")))
  }

  test("BPE trainFast equals the distributed per-round trainer") {
    val s = spark
    import s.implicits._
    // textbook fixture: identical merges and identical early stop
    val fixture = Seq((1L, "low lower lowest low low")).toDF("doc_id", "text")
    assert(graft.text.Bpe.trainFast(fixture, "text", 10)
      == Seq(("l", "o"), ("lo", "w"), ("low", "e")))
    // real corpus: same table at a non-trivial merge count — pair
    // statistics, argmax tie-break, and stop rule all agree
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val n = 24
    assert(graft.text.Bpe.trainFast(docs, "text", n)
      == graft.text.Bpe.train(docs, "text", n))
  }

  test("BPE count kernel matches hand tokenization and a local merge-loop reference") {
    val s = spark
    import s.implicits._
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", "e"))
    // low = [low]; lowest = [lowe, s, t]; slow = [s, low]; xyz = chars
    val docs = Seq((1L, "low lowest"), (2L, "slow xyz"), (3L, "")).toDF("doc_id", "text")
    val got = graft.text.Bpe.tokenCounts(docs, "text", "doc_id", merges)
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((2L, 4L), (2L, 5L), (0L, 0L)), got.toString)
    // local reference: rank-order sweep, left-to-right non-overlapping
    def ref(w: String, ms: Seq[(String, String)]): Int = {
      var cur = w.map(_.toString).toList
      ms.foreach { case (a, b) =>
        val out = scala.collection.mutable.ListBuffer[String]()
        cur.foreach { sym =>
          if (out.nonEmpty && out.last == a && sym == b) out(out.size - 1) = a + b
          else out += sym
        }
        cur = out.toList
      }
      cur.size
    }
    // random words over the trained default vocab, both paths agree
    val rnd = new scala.util.Random(7)
    val words = (1 to 50).map(_ => (1 to (3 + rnd.nextInt(12)))
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val dm = graft.text.Bpe.DefaultMerges
    val fixture = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val kernel = graft.text.Bpe.tokenCounts(fixture, "text", "doc_id", dm)
      .orderBy("doc_id").collect().map(_.getLong(2)).toSeq
    assert(kernel == words.map(w => ref(w, dm).toLong))
  }

  test("BPE encode: public id contract, length == count, ambiguous vocab rejected") {
    val s = spark
    import s.implicits._
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", "e"))
    // ids: base a..z0..9 = 0..35; lo=36, low=37, lowe=38; s=18, t=19
    val docs = Seq((1L, "low lowest")).toDF("doc_id", "text")
    val got = docs.select(posexplode(graft.text.Bpe.bpeEncode(
        graft.text.TextAnalysis.words(col("text")), merges)).as(Seq("pos", "id")))
      .select("id").as[Int].collect().toSeq
    assert(got == Seq(37, 38, 18, 19), s"ids: $got")
    // the encoder and the counter share one segmentation loop:
    // sequence length equals the count on real corpus text
    val dm = graft.text.Bpe.DefaultMerges
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val ws = graft.text.TextAnalysis.words(col("text"))
    val bad = fixture.filter(
      size(graft.text.Bpe.bpeEncode(ws, dm)).cast("long") =!=
        graft.text.Bpe.bpeCount(ws, dm))
    assert(bad.count() == 0, "encode length must equal bpe_count")
    // a table whose merges produce the same merged STRING has no
    // well-defined string-keyed id — must collide loudly
    intercept[IllegalArgumentException] {
      graft.text.Bpe.bpeEncode(col("x"), Seq(("a", "bc"), ("ab", "c")))
    }
  }

  test("BPE byte-level encode: base ids ARE byte values, deep vocab round-trips") {
    val s = spark
    import s.implicits._
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", "e"))
    // byte-level: s=115, t=116 (their byte values); lo=256, low=257, lowe=258
    val docs = Seq((1L, "low lowest")).toDF("doc_id", "text")
    val got = docs.select(posexplode(graft.text.Bpe.bpeEncodeBytes(
        graft.text.TextAnalysis.words(col("text")), merges)).as(Seq("pos", "id")))
      .select("id").as[Int].collect().toSeq
    assert(got == Seq(257, 258, 's'.toInt, 't'.toInt), s"ids: $got")
    // the DEEP trainFast table: every id decodes back through the
    // contract (id < 256 → the byte; else merge id-256's string), and
    // concatenating a word's symbols reproduces the word — on every
    // distinct corpus word
    val dm = graft.text.Bpe.DeepMerges
    assert(dm.size >= 4096, s"deep table must carry >= 4096 merges, has ${dm.size}")
    val sym: Int => String = id =>
      if (id < 256) id.toChar.toString
      else { val (a, b) = dm(id - 256); a + b }
    val words = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(graft.text.TextAnalysis.words(col("text"))).as("w"))
      .distinct().as[String].collect()
    val enc = words.toSeq.toDF("text").select(col("text"),
        graft.text.Bpe.bpeEncodeBytes(graft.text.TextAnalysis.words(col("text")),
          dm).as("ids"))
      .as[(String, Seq[Int])].collect()
    enc.foreach { case (w, ids) =>
      assert(ids.map(sym).mkString == w, s"'$w' decoded as ${ids.map(sym)}")
    }
    // counting shadow holds for the byte-level kernel too
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val ws = graft.text.TextAnalysis.words(col("text"))
    val bad = fixture.filter(
      size(graft.text.Bpe.bpeEncodeBytes(ws, dm)).cast("long") =!=
        graft.text.Bpe.bpeCount(ws, dm))
    assert(bad.count() == 0, "byte-level encode length must equal bpe_count")
  }

  test("BPE byte-level: any text encodes — UTF-8 decomposition, punctuation ids, bounded trainFast") {
    val s = spark
    import s.implicits._
    val dm = graft.text.Bpe.DeepMerges
    def enc(word: String): Seq[Int] =
      Seq(Tuple1(Seq(word))).toDF("ws")
        .select(graft.text.Bpe.bpeEncodeBytes(col("ws"), dm).as("ids"))
        .as[Seq[Int]].collect()(0)
    // punctuation/uppercase bytes pass through as their byte values —
    // no out-of-vocab, no alphabet to configure (the ADVICE contract)
    assert(enc(",") == Seq(44) && enc("%") == Seq(37) && enc("A") == Seq(65))
    // a multi-byte char decomposes into its UTF-8 bytes: é = C3 A9 —
    // TRUE byte-level, where the old Latin-1 mapping threw
    assert(enc("é") == Seq(0xC3, 0xA9), s"é → ${enc("é")}")
    assert(enc("héllo").containsSlice(Seq(0xC3, 0xA9)), s"héllo → ${enc("héllo")}")
    // the counting shadow shares the byte mapping: length ≡ count on
    // NON-ASCII words too (bpeCountBytes, not the 36-symbol bpeCount)
    val parity = Seq(Tuple1(Seq("héllo", "é", "a,b", "lo", "日本")))
      .toDF("ws")
      .select(size(graft.text.Bpe.bpeEncodeBytes(col("ws"), dm)).cast("long").as("n"),
        graft.text.Bpe.bpeCountBytes(col("ws"), dm).as("c"))
      .as[(Long, Long)].collect()(0)
    assert(parity._1 == parity._2, s"encode length ${parity._1} != byte count ${parity._2}")
    // merges still fire around foreign bytes (deep table has (l,o))
    val lo = enc("lo")
    assert(lo.length == 1 && lo.head >= 256, s"lo → $lo")
    // a byte-base merge table may carry any byte as a component —
    // including ' ' (32), the old joined-rank-key ambiguity: the
    // pair-keyed rank map cannot confuse ('a b','c') with ('a','b c')
    val spaced = Seq(("a", " "), ("b", "c"), ("a ", "bc"))
    assert(enc("a") == Seq(97))
    val got = Seq(Tuple1(Seq("a bc"))).toDF("ws")
      .select(graft.text.Bpe.bpeEncodeBytes(col("ws"), spaced).as("ids"))
      .as[Seq[Int]].collect()(0)
    assert(got == Seq(258), s"'a bc' under spaced merges → $got")
    // trainFast's driver collect is bounded BY CONSTRUCTION: a corpus
    // vocabulary over maxVocab is a loud error, not an OOM
    val docs = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.text.Bpe.trainFast(docs, "text", 4, maxVocab = 5)
    }
    assert(e.getMessage.contains("maxVocab"), e.getMessage)
    // raising minFreq is the prescribed cut — and under the cap the
    // table is unchanged from the uncapped run
    assert(graft.text.Bpe.trainFast(docs, "text", 4, minFreq = 2L, maxVocab = 5) == Seq.empty)
    val fixture = Seq((1L, "low lower lowest low low")).toDF("doc_id", "text")
    assert(graft.text.Bpe.trainFast(fixture, "text", 10, maxVocab = 100)
      == Seq(("l", "o"), ("lo", "w"), ("low", "e")))
  }

  test("BPE rank-order sweep equals the classic lowest-rank-pair-first merge loop") {
    // the oracle-shared sweep must agree with the textbook priority
    // loop on the checked-in vocab (equivalence holds for any merges
    // table produced by BPE training — see BpeCount's scaladoc)
    def sweep(w: String, ms: Seq[(String, String)]): List[String] = {
      var cur = w.map(_.toString).toList
      ms.foreach { case (a, b) =>
        val out = scala.collection.mutable.ListBuffer[String]()
        cur.foreach { sym =>
          if (out.nonEmpty && out.last == a && sym == b) out(out.size - 1) = a + b
          else out += sym
        }
        cur = out.toList
      }
      cur
    }
    def priority(w: String, ms: Seq[(String, String)]): List[String] = {
      val rank = ms.zipWithIndex.toMap
      var cur = w.map(_.toString).toList
      var go = true
      while (go && cur.size > 1) {
        val best = cur.zip(cur.tail).flatMap(p => rank.get(p).map(_ -> p)).sortBy(_._1).headOption
        best match {
          case None => go = false
          case Some((_, (a, b))) =>
            val out = scala.collection.mutable.ListBuffer[String]()
            cur.foreach { sym =>
              if (out.nonEmpty && out.last == a && sym == b) out(out.size - 1) = a + b
              else out += sym
            }
            cur = out.toList
        }
      }
      cur
    }
    val dm = graft.text.Bpe.DefaultMerges
    val rnd = new scala.util.Random(13)
    val corpusWords = Seq("customer", "vector", "table", "lowest", "value", "key",
      "aggregate", "joining", "hashed", "batch", "scanner", "filtered")
    val randomWords = (1 to 100).map(_ => (1 to (2 + rnd.nextInt(14)))
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    (corpusWords ++ randomWords).foreach { w =>
      assert(sweep(w, dm) == priority(w, dm), s"diverged on '$w'")
    }
  }

  test("saltedJoin is row-identical to the plain join") {
    val s = spark
    import s.implicits._
    // heavily skewed big side: 90% of rows share one key
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong % 7, i.toLong)).toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c")).toDF("k", "tag")
    val plain = big.join(small, "k").select("k", "payload", "tag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val salted = Skew.saltedJoin(big, small, "k", col("payload"), salts = 8)
      .select("k", "payload", "tag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(plain.size == 900 + (1 to 1000).count(i => i > 900 && Set(1L, 2L, 3L, 4L).contains(i % 7)))
  }
}
