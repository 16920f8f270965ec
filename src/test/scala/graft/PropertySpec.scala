package graft

import graft.dedup.Dedup
import graft.ops.ChangeLog
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants over generated inputs (raw ScalaCheck
  * generators, fixed seeds — scalatestplus bridge is not in the
  * offline cache). */
class PropertySpec extends SparkSpec {

  /** Deterministically sample `gen` across `trials` seeds. */
  private def forAllSeeded[A](gen: Gen[A], trials: Int = 6)(body: A => Unit): Unit =
    (1 to trials).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.const(' '), 1 -> Gen.oneOf('.', ',', '!'))).map(_.mkString)

  test("AlnumWords kernel ≡ the regex tokenize on arbitrary text (multi-byte included)") {
    val s = spark
    import s.implicits._
    // adversarial alphabet: alnum runs, uppercase (must lowercase),
    // ASCII punctuation, multi-byte chars (é, 中, combining marks, a
    // char whose Unicode lowercase has special behavior), raw spaces
    val anyText: Gen[String] = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.const(' '), 2 -> Gen.oneOf('.', ',', '!', '"', '='),
      2 -> Gen.oneOf('A', 'Z', 'Q'), 2 -> Gen.oneOf('é', '中', 'ß', 'İ', '́', 'Σ'),
      1 -> Gen.oneOf('\n', '\t'))).map(_.mkString)
    forAllSeeded(Gen.listOfN(24, anyText), trials = 8) { texts =>
      {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val both = df.select(col("doc_id"),
            TextAnalysis.words(col("text")).as("kernel"),
            graft.text.TextAnalysis.wordsRegex(col("text")).as("regex"))
          .collect()
        both.foreach { r =>
          assert(r.getSeq[String](1) == r.getSeq[String](2),
            s"doc ${r.getLong(0)}: kernel ${r.getSeq[String](1)} vs regex ${r.getSeq[String](2)} " +
              s"on ${texts(r.getLong(0).toInt)}")
        }
        // the whitespace kernel ≡ regexp_extract_all('\S+') on the same
        // adversarial texts (punctuation/case/multi-byte stay INSIDE words)
        val wsBoth = df.select(col("doc_id"),
            TextAnalysis.wsWords(col("text")).as("kernel"),
            graft.text.TextAnalysis.wsWordsRegex(col("text")).as("regex"))
          .collect()
        wsBoth.foreach { r =>
          assert(r.getSeq[String](1) == r.getSeq[String](2),
            s"ws doc ${r.getLong(0)}: ${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
        }
        // and the fused n-gram builder ≡ the declarative formulation
        // over the same tokenized arrays (short arrays → empty)
        Seq(1, 2, 3, 5).foreach { n =>
          val g = df.withColumn("__ws", TextAnalysis.words(col("text")))
            .select(col("doc_id"),
              TextAnalysis.ngrams(col("__ws"), n).as("kernel"),
              TextAnalysis.ngramsDecl(col("__ws"), n).as("decl"))
            .collect()
          g.foreach { r =>
            assert(r.getSeq[String](1) == r.getSeq[String](2),
              s"n=$n doc ${r.getLong(0)}: ${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
          }
        }
      }
    }
  }

  test("tokenize kernels ≡ regex formulations on the real corpus fixture") {
    // generated text can miss fixture-specific byte patterns; pin the
    // equivalence on every sf0.001 document too (the corpus every
    // oracle-checked operator actually tokenizes)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bad = docs.select(
        TextAnalysis.words(col("text")).as("k1"),
        graft.text.TextAnalysis.wordsRegex(col("text")).as("r1"),
        TextAnalysis.wsWords(col("text")).as("k2"),
        graft.text.TextAnalysis.wsWordsRegex(col("text")).as("r2"))
      .withColumn("__ws", col("k1"))
      .withColumn("k3", TextAnalysis.ngrams(col("__ws"), 3))
      .withColumn("r3", TextAnalysis.ngramsDecl(col("__ws"), 3))
      .filter(col("k1") =!= col("r1") || col("k2") =!= col("r2") || col("k3") =!= col("r3"))
      .count()
    assert(bad == 0L, s"$bad fixture docs tokenize differently under the kernels")
  }

  test("rolling hash matches the reference model on arbitrary ASCII text") {
    val s = spark
    import s.implicits._
    forAllSeeded(Gen.listOfN(8, asciiText)) { texts =>
      {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val got = TextAnalysis.fingerprints(df, "text", "doc_id")
          .orderBy("doc_id").collect().map(_.getLong(2)).toSeq
        val expect = texts.map(_.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + b) % 1000000007L))
        assert(got == expect)
      }
    }
  }

  test("time-aware traversal matches a brute-force model on random version logs") {
    val s = spark
    import s.implicits._
    // random log: (entity 0-5, token 1-40 unique per entity, ref A-D or tombstone)
    val verGen = Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(1L, 40L),
      Gen.option(Gen.oneOf("A", "B", "C", "D")))
    forAllSeeded(Gen.listOfN(30, verGen)) { raw =>
      {
        // one version per (entity, token): keep the first occurrence
        val vs = raw.groupBy(v => (v._1, v._2)).map(_._2.head).toSeq
        val df = vs.map { case (id, tok, ref) => (id, tok, ref.orNull, ref.isEmpty) }
          .toDF("id", "recorded", "ref", "deleted")
        for (t <- Seq(1L, 10L, 20L, 40L)) {
          val got = graft.ops.TimeTravel
            .outAtTime(df, "id", "recorded", col("deleted"), "ref", t, "e/", "p", "n/")
            .select("start", "related").collect()
            .map(r => (r.getString(0), r.getString(1))).toSet
          // model: latest version per entity at-or-before t; tombstone -> no edge
          val expect = vs.filter(_._2 <= t)
            .groupBy(_._1).view
            .mapValues(_.maxBy(_._2)._3).toMap
            .collect { case (id, Some(ref)) => (s"e/$id", s"n/$ref") }
            .toSet
          assert(got == expect, s"t=$t log=$vs")
        }
      }
    }
  }

  test("retention GC never changes any as-of view at tokens >= T (random logs)") {
    val s = spark
    import s.implicits._
    val verGen = Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(1L, 40L),
      Gen.option(Gen.oneOf("A", "B", "C", "D")))
    forAllSeeded(Gen.listOfN(25, verGen), trials = 4) { raw =>
      {
        val vs = raw.groupBy(v => (v._1, v._2)).map(_._2.head).toSeq
        val df = vs.map { case (id, tok, ref) => (id, tok, ref.orNull, ref.isEmpty) }
          .toDF("id", "recorded", "ref", "deleted")
        val retained = ChangeLog.retain(df, "id", "recorded", 20L)
        for (t <- Seq(20L, 30L, 40L)) {
          def view(d: org.apache.spark.sql.DataFrame) =
            ChangeLog.asOf(d, "id", "recorded", t)
              .select("id", "recorded", "ref", "deleted").collect().map(_.toSeq).toSet
          assert(view(retained) == view(df), s"as-of $t diverged after GC; log=$vs")
        }
        val full = df.filter(col("recorded") > 20L).collect().map(_.toSeq).toSet
        val gc = retained.filter(col("recorded") > 20L).collect().map(_.toSeq).toSet
        assert(gc == full, "post-T changes must be untouched")
      }
    }
  }

  test("ngram jaccard matches brute force on random corpora (incl. short/empty docs)") {
    val s = spark
    import s.implicits._
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val doc = Gen.chooseNum(0, 8).flatMap(len => Gen.listOfN(len, word).map(_.mkString(" ")))
    forAllSeeded(Gen.listOfN(10, doc), trials = 4) { texts =>
      {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val got = Dedup.ngramJaccard(df, "text", "doc_id", 3, 0.2, maxDf = Int.MaxValue)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        def sh(t: String): Set[String] = {
          val ws = t.split(" ").filter(_.nonEmpty)
          (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" ")).toSet
        }
        val expect = (for {
          (ta, a) <- texts.zipWithIndex; (tb, b) <- texts.zipWithIndex if a < b
          sa = sh(ta); sb = sh(tb)
          inter = (sa & sb).size if inter > 0
          jac = inter.toDouble / (sa ++ sb).size if jac >= 0.2
        } yield (a.toLong, b.toLong,
          BigDecimal(jac).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
        assert(got == expect, s"texts=$texts")
      }
    }
  }

  test("simhash fingerprint matches the md5 reference model on random texts") {
    val s = spark
    import s.implicits._
    val word = Gen.oneOf("data", "spark", "hash", "join", "scan", "row", "key", "value")
    val doc = Gen.chooseNum(1, 12).flatMap(len => Gen.listOfN(len, word).map(_.mkString(" ")))
    def model(text: String): Long = {
      val sums = new Array[Long](64)
      text.split(" ").filter(_.nonEmpty).foreach { w =>
        // the PORTABLE definition: first 16 hex chars of md5, read as
        // 4x16-bit big-endian words — what the DuckDB oracle parses
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString
        val parts = (0 until 4).map(p => java.lang.Long.parseLong(hex.substring(4 * p, 4 * p + 4), 16))
        for (j <- 0 until 64) sums(j) += (if (((parts(j / 16) >> (j % 16)) & 1L) == 1L) 1L else -1L)
      }
      (0 until 64).map(j => if (sums(j) > 0) 1L << j else 0L).reduce(_ | _)
    }
    forAllSeeded(Gen.listOfN(8, doc), trials = 4) { texts =>
      {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val got = Dedup.simhash(df, "text", "doc_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val expect = texts.zipWithIndex.map { case (t, i) => i.toLong -> model(t) }.toMap
        assert(got == expect, s"texts=$texts")
      }
    }
  }

  test("block-pair similarity join covers every pair exactly once (random blocks)") {
    val s = spark
    import s.implicits._
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-5, 5).map(_.toFloat))
    forAllSeeded(Gen.listOfN(12, vecGen), trials = 4) { vecs =>
      {
        // ids chosen sparse so block assignment (xxhash of id) varies
        val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong * 17 + 3, v) }.toDF("vec_id", "embedding")
        for (blocks <- Seq(1, 3, 8)) {
          val got = Dedup.embeddingSimJoin(df, "embedding", "vec_id", -2.0, blocks)
            .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          // threshold -2 keeps every finite-sim pair: coverage must be ALL pairs
          val ids = (0 until vecs.length).map(_.toLong * 17 + 3)
          val all = (for { a <- ids; b <- ids if a < b } yield (a, b)).toSet
          assert(got == all, s"blocks=$blocks missed=${all -- got} extra=${got -- all}")
        }
      }
    }
  }

  test("namespace contract∘expand is identity for registered URIs") {
    val s = spark
    import s.implicits._
    val ns = graft.core.Tpch.namespaces
    val keyGen = Gen.chooseNum(0L, 999999L)
    forAllSeeded(Gen.listOfN(12, Gen.zip(Gen.oneOf(ns.prefixes.values.toSeq), keyGen))) { pairs =>
      {
        val uris = pairs.map { case (exp, k) => exp + k }
        val got = uris.toDF("uri")
          .select(ns.expand(ns.contract(col("uri"))).as("rt"))
          .collect().map(_.getString(0)).toSeq
        assert(got == uris)
      }
    }
  }

  test("asOfJoin agrees with a brute-force local model on random logs") {
    val s = spark
    import s.implicits._
    val verGen = for {
      id <- Gen.oneOf("a", "b", "c", "d")
      t <- Gen.chooseNum(0L, 50L)
      p <- Gen.alphaStr.map(_.take(4))
    } yield (id, t, p)
    val probeGen = for {
      id <- Gen.oneOf("a", "b", "c", "d", "zz")
      t <- Gen.chooseNum(0L, 60L)
    } yield (id, t)
    forAllSeeded(Gen.zip(Gen.listOfN(30, verGen), Gen.listOfN(10, probeGen))) {
      case (versionsRaw, probesRaw) =>
        // de-dup (id, t) collisions: the log's recorded token is unique per id
        val versions = versionsRaw.groupBy(v => (v._1, v._2)).map(_._2.head).toSeq
        val probes = probesRaw.distinct
        val log = versions.toDF("id", "recorded", "payload")
        val probesDf = probes.toDF("id", "t")
        val got = ChangeLog.asOfJoin(log, "id", "recorded", Seq("payload"), probesDf, "id", "t")
          .collect().map(r => ((r.getString(0), r.getLong(1)), r.getString(2))).toMap
        val expect = probes.flatMap { case (id, t) =>
          val candidates = versions.filter(v => v._1 == id && v._2 <= t)
          if (candidates.isEmpty) None
          else Some((id, t) -> candidates.maxBy(_._2)._3)
        }.toMap
        assert(got == expect)
    }
  }

  test("sessionize agrees with a brute-force local model on random event times") {
    val s = spark
    import s.implicits._
    val evGen = for {
      u <- Gen.oneOf(1L, 2L, 3L)
      min <- Gen.chooseNum(0L, 600L) // minutes over 10h
    } yield (u, min)
    forAllSeeded(Gen.listOfN(40, evGen)) { evsRaw =>
      val evs = evsRaw.distinct
      val df = evs.map { case (u, min) => (u, min * 60L * 1000000000L, 1.0) }
        .toDF("user_id", "ts", "value")
      val got = graft.ops.Events.sessionize(df, "ts", "user_id", "30 minutes")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // local model: sort per user, split where gap >= 30 min
      val expect = evs.groupBy(_._1).flatMap { case (u, es) =>
        val times = es.map(_._2).sorted
        val sessions = times.foldLeft(List.empty[List[Long]]) {
          case (Nil, t) => List(List(t))
          case (cur :: done, t) if t - cur.head < 30 => (t :: cur) :: done
          case (acc, t) => List(t) :: acc
        }
        sessions.map(sess => (u, sess.last * 60L * 1000000L, sess.length.toLong))
      }.toSet
      assert(got == expect, s"events: ${evs.sorted}")
    }
  }

  test("compactDedup is idempotent and preserves latestOnly") {
    val s = spark
    import s.implicits._
    val versionGen = for {
      id <- Gen.oneOf("a", "b", "c")
      payload <- Gen.oneOf("p", "q")
    } yield (id, payload)
    forAllSeeded(Gen.listOfN(20, versionGen)) { versions =>
      {
        val log = versions.zipWithIndex
          .map { case ((id, p), i) => (id, i.toLong, p) }.toDF("id", "recorded", "payload")
        val once = ChangeLog.compactDedup(log, "id", "recorded", Seq("payload"))
        val twice = ChangeLog.compactDedup(once, "id", "recorded", Seq("payload"))
        val rows = (df: org.apache.spark.sql.DataFrame) =>
          df.select("id", "recorded", "payload").collect()
            .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
        assert(rows(once) == rows(twice)) // idempotent
        val latest = (df: org.apache.spark.sql.DataFrame) =>
          ChangeLog.latestOnly(df, "id", "recorded").select("id", "payload")
            .collect().map(r => (r.getString(0), r.getString(1))).toSet
        assert(latest(once) == latest(log)) // timeline-correct
      }
    }
  }

  test("pii scrub is idempotent and removes every match on random pii-laced texts") {
    val s = spark
    import s.implicits._
    val piiGen: Gen[String] = for {
      base <- asciiText
      user <- Gen.alphaLowerStr.suchThat(_.nonEmpty)
      n1 <- Gen.choose(100, 999); n2 <- Gen.choose(100, 999); n3 <- Gen.choose(1000, 9999)
      oct <- Gen.choose(0, 255)
      pieces <- Gen.someOf(Seq(
        s" $user@mail.example.org", s" $n1-$n2-$n3", s" 10.0.$oct.$oct"))
    } yield base + pieces.mkString
    forAllSeeded(Gen.listOfN(10, piiGen)) { texts =>
      {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val once = df.select(col("doc_id"), TextAnalysis.piiScrubText(col("text")).as("text"))
        val twice = once.select(col("doc_id"), TextAnalysis.piiScrubText(col("text")).as("text"))
        val get = (d: org.apache.spark.sql.DataFrame) =>
          d.orderBy("doc_id").collect().map(_.getString(1)).toSeq
        assert(get(once) == get(twice), "scrubbing must be idempotent")
        // nothing PII-shaped survives a scrub
        val counts = TextAnalysis.piiScrub(once, "text", "doc_id")
          .agg(sum("n_emails"), sum("n_ips"), sum("n_phones")).collect()(0)
        assert((0 to 2).forall(counts.getLong(_) == 0L), counts.toString)
      }
    }
  }

  test("substring spans match a brute-force model; delta equals the one-shot restriction (random corpora)") {
    val s = spark
    import s.implicits._
    val k = 3
    // tiny vocabulary → gram collisions are common; doc lengths span
    // the < k (gram-less) edge through multi-island docs
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val doc = Gen.choose(0, 20).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    def model(texts: Seq[String]): Set[(Long, Long, Long)] = {
      val toks = texts.map(_.split("\\s+").filter(_.nonEmpty).toSeq)
      val grams = toks.zipWithIndex.flatMap { case (ws, d) =>
        (0 to ws.size - k).map(p => (d.toLong, p.toLong, ws.slice(p, p + k).mkString(" ")))
      }
      val cnt = grams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
      grams.filter(g => cnt(g._3) >= 2).map(g => (g._1, g._2))
        .groupBy(_._1).flatMap { case (d, ps0) =>
          val ps = ps0.map(_._2).sorted
          val spans = scala.collection.mutable.ListBuffer[(Long, Long)]()
          var start = ps.head; var last = ps.head
          ps.tail.foreach { p =>
            if (p - last <= k) last = p
            else { spans += ((start, last + k - start)); start = p; last = p }
          }
          spans += ((start, last + k - start))
          spans.map { case (st, ln) => (d, st, ln) }
        }.toSet
    }
    forAllSeeded(Gen.listOfN(8, doc), trials = 4) { texts =>
      {
        val expected = model(texts)
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val got = Dedup.substringSpans(df, "text", "doc_id", k)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == expected, s"one-shot $got != model $expected for $texts")
        // incremental identity: index the even ids, delta the odd ids —
        // the delta must equal the one-shot output restricted to them
        val table = "gram_prop_idx"
        Dedup.buildGramIndex(df.filter(col("doc_id") % 2 === 0),
          "text", "doc_id", k, table, buckets = 4)
        val delta = Dedup.substringSpansDelta(s, df.filter(col("doc_id") % 2 === 1),
            "text", "doc_id", k, table)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(delta == expected.filter(_._1 % 2 == 1),
          s"delta $delta != restricted model for $texts")
      }
    }
  }

  test("sample hash is a 32-bit uniform: in range, deterministic, id-keyed") {
    val s = spark
    import s.implicits._
    forAllSeeded(Gen.listOfN(50, Gen.choose(0L, Long.MaxValue / 2))) { ids =>
      {
        val df = ids.distinct.toDF("id")
        val u = df.select(col("id"), TextAnalysis.sampleHash(col("id"), "samp").as("u"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(u.values.forall(v => v >= 0L && v < 4294967296L))
        val u2 = df.select(col("id"), TextAnalysis.sampleHash(col("id"), "samp").as("u"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(u == u2)
        // a different seed decorrelates (not all equal unless trivial)
        val u3 = df.select(TextAnalysis.sampleHash(col("id"), "other").as("u"))
          .collect().map(_.getLong(0)).toSet
        if (ids.distinct.size > 3) assert(u3 != u.values.toSet)
      }
    }
  }

  test("byte-level BPE round-trips arbitrary unicode through UTF-8 bytes; length ≡ count") {
    val s = spark
    import s.implicits._
    val dm = graft.text.Bpe.DeepMerges
    // atoms as STRINGS so supplementary-plane chars (surrogate pairs,
    // 4-byte UTF-8) can appear — the one shape a Char generator misses
    val atom: Gen[String] = Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("é", "ü", "ß", "ñ", "ø"),
      2 -> Gen.oneOf("日", "本", "語", "界", "и"),
      1 -> Gen.oneOf(",", ".", "%", "\"", "=", "~", "["),
      1 -> Gen.oneOf("𝕏", "🙂")) // 𝕏, 🙂
    val word: Gen[String] = Gen.resize(12, Gen.nonEmptyListOf(atom)).map(_.mkString)
    // decode model: id < 256 is the raw byte; merge r's string is
    // byte-chars (requireByteSymbols), each char one byte
    def decodeBytes(ids: Seq[Int]): Array[Byte] = ids.flatMap { id =>
      if (id < 256) Seq(id.toByte)
      else { val (a, b) = dm(id - 256); (a + b).map(c => c.toByte) }
    }.toArray
    forAllSeeded(Gen.listOfN(10, word), trials = 8) { words =>
      val enc = words.zipWithIndex.map { case (w, i) => (i.toLong, Seq(w)) }
        .toDF("doc_id", "ws")
        .select(col("doc_id"),
          graft.text.Bpe.bpeEncodeBytes(col("ws"), dm).as("ids"),
          graft.text.Bpe.bpeCountBytes(col("ws"), dm).as("n"))
        .as[(Long, Seq[Int], Long)].collect().sortBy(_._1)
      enc.zip(words).foreach { case ((_, ids, n), w) =>
        assert(ids.length.toLong == n, s"'$w': encode length ${ids.length} != count $n")
        val back = new String(decodeBytes(ids), java.nio.charset.StandardCharsets.UTF_8)
        assert(back == w, s"'$w' round-tripped as '$back' (ids $ids)")
        assert(ids.forall(id => id >= 0 && id < 256 + dm.size))
      }
    }
  }

  test("BigramBuckets kernel ≡ the declarative transform + double-tokenBucket pair stream") {
    val s = spark
    import s.implicits._
    // adversarial alphabet (the AlnumWords generator): multi-byte
    // chars, uppercase, punctuation — the hash must agree on every
    // token the shared tokenizer can emit, at several bucket counts
    // including 1 (all-zero cb) and a non-power-of-two
    val anyText: Gen[String] = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.const(' '), 2 -> Gen.oneOf('.', ',', '!', '"'),
      2 -> Gen.oneOf('A', 'Z', 'Q'), 2 -> Gen.oneOf('é', '中', 'ß'),
      1 -> Gen.oneOf('\n', '\t'))).map(_.mkString)
    Seq(1, 7, 1024).foreach { buckets =>
      forAllSeeded(Gen.listOfN(16, anyText), trials = 4) { texts =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        def pairs(p: org.apache.spark.sql.DataFrame) = p.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .groupBy(identity).map { case (key, v) => key -> v.length }
        val kernel = pairs(
          graft.text.TextAnalysis.pairStreamKernel(df, "text", Some("doc_id"), buckets))
        val declarative = pairs(
          graft.text.TextAnalysis.pairStreamDeclarative(df, "text", Some("doc_id"), buckets))
        assert(kernel == declarative,
          s"buckets=$buckets kernel=$kernel declarative=$declarative")
      }
    }
  }

  test("reachable / reachableFrom ≡ a driver-side BFS on random graphs; a second call reads the pin") {
    val s = spark
    import s.implicits._
    import graft.model.{EntityDataset, Ref}
    val ns = "http://graft.io/prop/"
    val (aNs, bNs) = (ns + "a/", ns + "b/")
    // FK values range past the key range, so some refs dangle
    val fk: Gen[Option[Long]] = Gen.frequency(4 -> Gen.choose(0L, 6L).map(Some(_)), 1 -> Gen.const(None))
    // array refs: null, empty, or elements that may themselves be null
    val fkArr: Gen[Option[Seq[Option[Long]]]] = Gen.frequency(
      1 -> Gen.const(None), 1 -> Gen.const(Some(Seq.empty)), 4 -> Gen.resize(3, Gen.listOf(fk)).map(Some(_)))
    val graphGen = for {
      nA <- Gen.choose(1, 5)
      nB <- Gen.choose(1, 4)
      aRows <- Gen.listOfN(nA, Gen.zip(fk, fkArr))
      bRows <- Gen.listOfN(nB, fk)
      // starts: existing, dangling and duplicated URIs of both datasets
      starts <- Gen.resize(4, Gen.nonEmptyListOf(Gen.zip(Gen.oneOf(aNs, bNs), Gen.choose(0L, 6L))))
      hops <- Gen.choose(0, 3)
      literal <- Gen.oneOf(true, false)
    } yield (aRows, bRows, starts.map { case (n, k) => n + k }, hops, literal)

    forAllSeeded(graphGen, trials = 12) { case (aRows, bRows, starts, hops, literal) =>
      val aKeyed = aRows.zipWithIndex.map { case ((b, arr), i) => (i.toLong, b, arr) }
      val bKeyed = bRows.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      val a = aKeyed.toDF("key", "b_ref", "a_refs")
      val b = bKeyed.toDF("key", "a_ref")
      val g = graft.core.EntityGraph(Map(
        "a" -> EntityDataset("a", a, "key", aNs,
          refs = Seq(Ref(ns + "b", "b_ref", "b"), Ref(ns + "a", "a_refs", "a", array = true))),
        "b" -> EntityDataset("b", b, "key", bNs, refs = Seq(Ref(ns + "a", "a_ref", "a")))),
        graft.core.Tpch.namespaces)

      // the model: null FKs and null array elements are no edges;
      // dangling targets are nodes like any other
      val edges: Map[String, Set[String]] = (
        aKeyed.flatMap { case (k, bRef, arr) =>
          bRef.map(t => aNs + k -> (bNs + t)).toSeq ++
            arr.toSeq.flatten.flatten.map(t => aNs + k -> (aNs + t))
        } ++ bKeyed.flatMap { case (k, aRef) => aRef.map(t => bNs + k -> (aNs + t)) }
      ).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def bfs(from: Set[String]): Seq[(String, Int)] = {
        var visited = from
        var frontier = from
        (1 to hops).flatMap { k =>
          frontier = frontier.flatMap(edges.getOrElse(_, Set.empty)) -- visited
          visited ++= frontier
          frontier.toSeq.map(_ -> k)
        }
      }
      // start rows pass through as given (duplicates included)
      val wantReach = (starts.map(_ -> 0) ++ bfs(starts.toSet)).sorted
      val wantFrom = (starts.map(u => (u, u, 0)) ++
        starts.distinct.flatMap(r => bfs(Set(r)).map { case (u, d) => (r, u, d) })).sorted

      // a driver-literal start (LocalRelation, unpinned) and an
      // RDD-backed one (pinned) must agree
      val startDf =
        if (literal) starts.toDF("uri")
        else spark.sparkContext.parallelize(starts, 2).toDF("uri")
      val ctx = s"a=$aKeyed b=$bKeyed starts=$starts hops=$hops literal=$literal"
      (1 to 2).foreach { call =>
        val gotReach = g.reachable(startDf, hops).collect()
          .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
        assert(gotReach == wantReach, s"reachable call $call: $ctx")
        val gotFrom = g.reachableFrom(startDf, hops).collect()
          .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq.sorted
        assert(gotFrom == wantFrom, s"reachableFrom call $call: $ctx")
      }
    }
  }
}
