package graft

import graft.multimodal.Multimodal
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

class TextMultimodalSpec extends SparkSpec {

  private def df1(text: String) = {
    val s = spark
    import s.implicits._
    Seq((1L, text)).toDF("doc_id", "text")
  }

  test("token counts on a known string") {
    val r = TextAnalysis.tokenCounts(df1("Hello, world! x2"), "text", "doc_id").collect()(0)
    assert(r.getLong(1) == 16L) // chars
    assert(r.getLong(2) == 3L) // ws tokens: Hello, | world! | x2
    // bpe-ish: hello , world ! x 2  -> 6
    assert(r.getLong(3) == 6L)
  }

  test("rolling hash matches a local computation") {
    val text = "abc xyz"
    val expect = text.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + b) % 1000000007L)
    val r = TextAnalysis.fingerprints(df1(text), "text", "doc_id").collect()(0)
    assert(r.getLong(2) == expect)
  }

  test("langid picks English for English text") {
    val r = TextAnalysis.langId(df1("the cat sat on the mat and the dog is in a house of cards"), "text", "doc_id").collect()(0)
    assert(r.getString(1) == "en")
  }

  test("quality score fields are consistent") {
    val r = TextAnalysis.qualityScore(df1("one two three"), "text", "doc_id").collect()(0)
    assert(r.getLong(2) == 3L) // n_words
    assert(r.getDouble(3) == 3.66) // (3+3+5)*100 div 3 = 366 -> 3.66
  }

  test("Netpbm codec: PGM roundtrip, comment/whitespace tolerance, P6 channels, loud on malformed") {
    // encode → decode roundtrip preserves dimensions and pixels
    val px = Array.tabulate(32)(i => (i * 7 % 251).toByte)
    val img = Multimodal.decodeNetpbm(Multimodal.encodePgm(px, 16, 2))
    assert(img.width == 16 && img.height == 2 && img.maxval == 255 && img.channels == 1)
    assert(img.pixels.toSeq == px.toSeq)
    // a header written by another tool: comments + whitespace runs
    // (both legal per the netpbm spec) parse to the same raster
    val foreign = "P5\n# made elsewhere\n 16\t2 # dims\n255\n".getBytes("US-ASCII") ++ px
    val img2 = Multimodal.decodeNetpbm(foreign)
    assert(img2.width == 16 && img2.height == 2 && img2.pixels.toSeq == px.toSeq)
    // P6 = RGB: 3 channels, raster is w*h*3 bytes
    val rgb = Array.tabulate(24)(_.toByte)
    val img3 = Multimodal.decodeNetpbm("P6\n4 2\n255\n".getBytes("US-ASCII") ++ rgb)
    assert(img3.channels == 3 && img3.width == 4 && img3.height == 2
      && img3.pixels.toSeq == rgb.toSeq)
    // malformed inputs fail loudly, never decode garbage
    intercept[IllegalArgumentException] {
      Multimodal.decodeNetpbm("P4\n4 2\n255\n".getBytes("US-ASCII") ++ rgb) // bitmap unsupported
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeNetpbm(Multimodal.encodePgm(px, 16, 2).dropRight(1)) // truncated raster
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeNetpbm("P5\n16 2\n70000\n".getBytes("US-ASCII") ++ px) // 2-byte samples
    }
  }

  test("WAV codec: PCM16 roundtrip, chunk walking over foreign chunks, loud on malformed, delta waveform stats") {
    val s = spark
    import s.implicits._
    // encode → decode roundtrip preserves rate and samples exactly
    val samples = Array.tabulate(37)(i => ((i - 18) * 911).toShort)
    val clip = Multimodal.decodeWav(Multimodal.encodeWav(samples, 8000))
    assert(clip.sampleRate == 8000 && clip.samples.toSeq == samples.toSeq)
    // a file written by another tool: a foreign odd-sized LIST chunk
    // between fmt and data (legal RIFF — chunks pad to even offsets);
    // a fixed-offset 44-byte reader would misparse, a chunk walker
    // must not
    val base = Multimodal.encodeWav(samples, 8000)
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ "INFOx".getBytes("US-ASCII") ++ Array[Byte](0) // pad
    val spliced = base.take(36) ++ listChunk ++ base.drop(36)
    // RIFF size field must grow by the spliced bytes
    val bb = java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, bb.getInt(4) + listChunk.length)
    val clip2 = Multimodal.decodeWav(spliced)
    assert(clip2.sampleRate == 8000 && clip2.samples.toSeq == samples.toSeq)
    // malformed inputs fail loudly, never decode garbage
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav("RIFFxxxxMP3 ".getBytes("US-ASCII")) // wrong container type
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(base.dropRight(1)) // truncated data chunk
    }
    val stereo = Multimodal.encodeWav(samples, 8000).clone()
    stereo(22) = 2 // channels field
    intercept[IllegalArgumentException] { Multimodal.decodeWav(stereo) }
    val eightBit = Multimodal.encodeWav(samples, 8000).clone()
    eightBit(34) = 8 // bits/sample field
    intercept[IllegalArgumentException] { Multimodal.decodeWav(eightBit) }
    // waveform stats over the delta synthesis: "ba" → bytes 98, 97 →
    // samples 98·256 = 25088 and (97−98)·256 = −256: one sign change
    val docs = Seq((1L, "ba", "src"), (2L, "", "src"))
      .toDF("doc_id", "text", "source")
    val got = Multimodal.audioFeatures(Multimodal.audioFromDocs(docs))
      .toDF().orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 2 && got(0).getLong(2) == 8000L, s"${got(0)}")
    assert(got(0).getLong(4) == 44 + 4, "canonical header + 2 bytes/sample")
    assert(got(0).getLong(5) == 25088L + 256L && got(0).getLong(6) == 25088L &&
      got(0).getLong(7) == 1L, s"${got(0)}")
    // empty doc: zero samples, zero everything, still a row
    assert(got(1).getLong(1) == 0 && got(1).getLong(5) == 0 &&
      got(1).getLong(6) == 0 && got(1).getLong(7) == 0, s"${got(1)}")
    // audio embed: dim d = Σ|s| over the d-th 16-sample window of the
    // DECODED waveform — "ba" decodes to samples (25088, −256), so
    // dim 0 = 25344 and every other dim is 0; the empty doc embeds as
    // the zero vector (row still present: the index must rule on it)
    val ae = Multimodal.audioEmbed(Multimodal.audioFromDocs(docs))
      .toDF().orderBy("doc_id").collect()
    assert(ae(0).getSeq[Float](1).head == 25344f &&
      ae(0).getSeq[Float](1).tail.forall(_ == 0f), s"${ae(0)}")
    assert(ae(1).getSeq[Float](1).forall(_ == 0f), s"${ae(1)}")
    // non-ASCII text is REFUSED loudly: 'é' = 0xC3 0xA9 gives a byte
    // delta up to 195 → ·256 wraps past Short range, silently
    // corrupting sum_abs/peak/zero_crossings (and the oracle reads
    // codepoints, not UTF-8 bytes — a wrapping engine can never match)
    val acc = Seq((3L, "é", "src")).toDF("doc_id", "text", "source")
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.audioFeatures(Multimodal.audioFromDocs(acc)).collect()
    }
    assert(ex.getMessage.contains("ASCII") ||
      Option(ex.getCause).exists(_.getMessage.contains("ASCII")), ex.getMessage)
    // the boundary valve for real corpora: skipNonAscii drops the UTF-8
    // doc declaratively at the synthesis boundary — the rest of the
    // ingest proceeds instead of the whole job aborting mid-task
    val mixed = Seq((1L, "ba", "src"), (3L, "é", "src")).toDF("doc_id", "text", "source")
    val kept = Multimodal.audioFeatures(
        Multimodal.audioFromDocs(mixed, skipNonAscii = true))
      .toDF().select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L), kept.toString)
  }

  test("scene cuts: threshold segmentation, first frame never cuts, partition exactness, one shuffle") {
    val s = spark
    import s.implicits._
    // 16-wide rows ARE the frames (stride 16): row sums 100, 120, 400,
    // 390 with threshold 50 → a cut only at frame 2 (delta 280)
    def row(sum: Int): Array[Byte] = {
      val r = new Array[Byte](16)
      var left = sum; var i = 0
      while (left > 0) { val v = math.min(left, 255); r(i) = v.toByte; left -= v; i += 1 }
      r
    }
    val px = row(100) ++ row(120) ++ row(400) ++ row(390)
    val media = Seq(
      Multimodal.Media(1L, Multimodal.encodePgm(px, 16, 4), "src", 64L),
      Multimodal.Media(2L, Multimodal.encodePgm(row(7), 16, 1), "src", 16L))
      .toDS()
    val got = Multimodal.sceneCuts(media, threshold = 50L)
      .orderBy("doc_id", "seg_idx").collect()
    assert(got.length == 3, s"${got.mkString(";")}")
    assert(got(0).getLong(0) == 1 && got(0).getLong(1) == 0 &&
      got(0).getLong(2) == 0 && got(0).getLong(3) == 2 && got(0).getLong(4) == 220,
      s"${got(0)}")
    assert(got(1).getLong(1) == 1 && got(1).getLong(2) == 2 &&
      got(1).getLong(3) == 2 && got(1).getLong(4) == 790, s"${got(1)}")
    // a single-frame doc is one whole segment (the first frame never cuts)
    assert(got(2).getLong(0) == 2 && got(2).getLong(1) == 0 &&
      got(2).getLong(3) == 1 && got(2).getLong(4) == 7, s"${got(2)}")
    // segments PARTITION the frame stream: n_frames sums to the total
    assert(got.filter(_.getLong(0) == 1).map(_.getLong(3)).sum == 4)
    // one doc-keyed shuffle total: lag + running cut count + the
    // per-segment agg all ride the same window partitioning
    val aqe = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ex = Multimodal.sceneCuts(media, 50L).queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(ex.length == 1, s"m8 must have exactly one exchange, got ${ex.length}")
    } finally s.conf.set("spark.sql.adaptive.enabled", aqe)
    // segment embed: the SAME segmentation rule, per-segment head
    // profile of frame window-sums (0 past the segment end), packed
    // seg ids — doc 1 splits into frames {0,1} and {2,3}, doc 2 is
    // one single-frame segment
    val se = Multimodal.segmentEmbed(media, threshold = 50L)
      .toDF().orderBy("seg_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toList))
    assert(se.length == 3, se.mkString(";"))
    assert(se(0) == (1000L, List(100f, 120f) ++ List.fill(14)(0f)), s"${se(0)}")
    assert(se(1) == (1001L, List(400f, 390f) ++ List.fill(14)(0f)), s"${se(1)}")
    assert(se(2) == (2000L, List(7f) ++ List.fill(15)(0f)), s"${se(2)}")
  }

  test("multimodal features carry the REAL decoded dimensions and pixel stats") {
    val text = "abcdefghijklmnopqr" // 18 bytes -> 16x2 raster, last row zero-padded
    val feats = Multimodal.features(spark, df1(text).withColumn("source", lit("s")))
      .collect()(0)
    assert(feats.getLong(1) == 16L, "width")
    assert(feats.getLong(2) == 2L, "height")
    assert(feats.getLong(3) == 32L, "n_pixels (padded to full rows)")
    assert(feats.getLong(4) == (11 + 1 + 32).toLong, "payload = header(11+digits(h)) + raster")
    // zero padding does not move the checksum off the text bytes
    val expectSum = text.getBytes("UTF-8").foldLeft(0L)((a, b) => (a + (b & 0xff)) % 997L)
    assert(feats.getLong(5) == expectSum)
    assert(feats.getLong(6) == 2L, "n_frames")
    assert(feats.getLong(7) == 'a'.toLong, "first_byte")
  }

  test("frame extraction emits a nested array<struct> with consistent stats") {
    val text = "abcdefghijklmnopqrstuvwxyz0123456789" // 36 bytes -> 3 frames
    val ds = Multimodal.extractFrames(
      Multimodal.mediaFromDocs(df1(text).withColumn("source", lit("s"))))
    // nested schema shape survives the typed pipeline
    val frameField = ds.schema("frames").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(frameField.elementType.isInstanceOf[org.apache.spark.sql.types.StructType])
    val row = ds.collect()(0)
    assert(row.n_frames == 3L)
    assert(row.frames.map(_.offset) == Seq(0L, 16L, 32L))
    assert(row.frames.head.value == 'a'.toLong)
    val expectSum = text.getBytes("UTF-8").take(16).map(_ & 0xff).sum.toLong
    assert(row.frames.head.window_sum == expectSum)
    // nested column explodes into per-frame rows downstream
    val n = ds.toDF().select(explode(col("frames"))).count()
    assert(n == 3L)
  }

  test("RGB media: text-byte triples become P6 pixels; channel sums exact; grayscale refused") {
    val s = spark
    import s.implicits._
    val text = "abcdefgh" // 8 bytes -> 3 pixels (last blue byte padded), 16x1 raster
    val media = Multimodal.mediaFromDocsRgb(df1(text).withColumn("source", lit("s")))
    val row = Multimodal.rgbFeatures(media).collect()(0)
    assert(row.width == 16L && row.height == 1L && row.n_pixels == 16L)
    assert(row.r_sum == ('a' + 'd' + 'g').toLong, "bytes 0,3,6")
    assert(row.g_sum == ('b' + 'e' + 'h').toLong, "bytes 1,4,7")
    assert(row.b_sum == ('c' + 'f').toLong, "bytes 2,5 (+ zero pad)")
    // the payload is a genuine P6 the parser round-trips
    val img = Multimodal.decodeNetpbm(media.collect()(0).payload)
    assert(img.channels == 3 && img.width == 16 && img.height == 1
      && img.pixels.length == 48)
    // channel-blind misuse is refused, not silently triple-counted
    val gray = Multimodal.mediaFromDocs(df1(text).withColumn("source", lit("s")))
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.rgbFeatures(gray).collect()
    }
    assert(ex.getMessage.contains("P6") || Option(ex.getCause).exists(_.getMessage.contains("P6")))
  }

  test("resize 2-D average-pools the decoded raster, re-encodes, and composes decode→resize→decode map-only") {
    val text = "abcdefghijklmnopqrstuvwxyz0123456789" // 36 bytes -> 16x3 raster
    val media = Multimodal.mediaFromDocs(df1(text).withColumn("source", lit("s")))
    val resized = Multimodal.resize(media, factor = 2)
    val row = resized.collect()(0)
    assert(row.orig_w == 16L && row.orig_h == 3L, "decoded dims")
    assert(row.new_w == 8L && row.new_h == 1L, "odd trailing row drops (truncating div)")
    // the new payload is itself a valid PGM whose pixel (0,0) is the
    // 2x2 block mean of rows 0-1, cols 0-1: a,b / q,r
    val out = Multimodal.decodeNetpbm(row.payload)
    assert(out.width == 8 && out.height == 1)
    assert((out.pixels(0) & 0xff) == ('a' + 'b' + 'q' + 'r') / 4)
    // resized media re-enters the same feature pipeline
    val feats = Multimodal.extractFeatures(Multimodal.asMedia(resized)).collect()(0)
    assert(feats.width == 8L && feats.height == 1L && feats.n_pixels == 8L)
    // the composed decode -> resize -> re-encode -> decode plan stays shuffle-free
    val plan = planOf(Multimodal.extractFeatures(Multimodal.asMedia(resized)).toDF())
    assert(!plan.contains("Exchange"), plan)
  }

  test("embed stub emits frame-sum embeddings that feed the ANN operators") {
    val text = "abcdefghijklmnopqrstuvwxyz0123456789" // 36 bytes -> 3 nonzero dims
    val emb = Multimodal.embed(
      Multimodal.mediaFromDocs(df1(text).withColumn("source", lit("s")))).collect()(0)
    assert(emb.embedding.length == 16)
    val expect0 = text.getBytes("UTF-8").take(16).map(_ & 0xff).sum.toFloat
    assert(emb.embedding(0) == expect0)
    assert(emb.embedding.drop(3).forall(_ == 0f)) // past the payload: zero-padded
    // the embedding column plugs straight into graft.ann
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val embDf = Multimodal.embed(Multimodal.mediaFromDocs(docs)).toDF()
    val topk = graft.ann.Ann.bruteForceTopK(embDf, "embedding", "doc_id", col("id") < 3, k = 2)
    assert(topk.count() == 6)
  }

  test("m4: indexed multimodal ANN equals the direct trained-IVF route") {
    // pure composition means exact agreement: the standing inverted file
    // (buildIvfIndex + ivfTopKIndexed) routes every probe identically to
    // the one-shot ivfTopK over the same embed output — same trained
    // centroids, same cells, same cosines
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(60)
    val embDf = Multimodal.embed(Multimodal.mediaFromDocs(docs)).toDF()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim"), r.getAs[Int]("rnk"))).toSet
    val direct = rows(graft.ann.Ann.ivfTopK(embDf, "embedding", "doc_id", col("id") < 3, k = 2))
    graft.ann.Ann.buildIvfIndex(embDf, "embedding", "doc_id", "ivf_idx_m4spec")
    val indexed = rows(graft.ann.Ann.ivfTopKIndexed(spark, "ivf_idx_m4spec", col("id") < 3, k = 2))
    assert(direct.nonEmpty && direct == indexed, s"direct $direct != indexed $indexed")
  }

  test("d30 media neardup: planted near-dup variants collapse to ONE survivor, the better re-encode wins") {
    val s = spark
    import s.implicits._
    // standing media corpus + a re-ingest of doc 0's raster perturbed
    // on the first window-sum dim (the d14 planted-batch construction)
    val docs = s.read.parquet(s"$sfDir/documents.parquet").limit(40)
    val emb = graft.multimodal.Multimodal.embed(
      graft.multimodal.Multimodal.mediaFromDocs(docs)).toDF()
    val table = "ivf_idx_d30spec"
    graft.ann.Ann.buildIvfIndex(emb, "embedding", "doc_id", table)
    val batch = graft.ann.SemDedup.perturbedBatch(emb, "embedding", "doc_id",
      n = 1, offset = 10000000L)
    val pairs = graft.ann.SemDedup.semanticDedupDelta(
      s, batch, "embedding", "doc_id", table, 0.9999)
    // the planted variant surfaces against its original
    assert(pairs.filter(col("a") === 0L && col("b") === 10000000L).count() == 1L,
      pairs.collect().mkString(", "))
    val quality = emb.select(col("doc_id").as("id"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("quality"))
      .unionByName(batch.select(col("doc_id").as("id"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("quality")))
    val kept = graft.dedup.Dedup.keepBest(
      graft.dedup.Dedup.clusters(pairs), quality, "id", "quality")
    val home = kept.filter(col("cluster_id") === 0L).collect()
    // ONE survivor per cluster, and the fractionally-sharper re-encode
    // (embedding[0] + 0.1) beats the original
    assert(home.length == 1, home.mkString(", "))
    assert(home.head.getLong(1) == 10000000L, s"kept ${home.head}")
    assert(home.head.getLong(3) >= 2L) // original + variant share the cluster
  }

  test("dHash: uniform brightness shift leaves the fingerprint bit-identical; hammingPairs = brute force at the radius") {
    val s = spark
    import s.implicits._
    val M = graft.multimodal.Multimodal
    // pad-free rasters (length % 16 == 0) make the shift invariance
    // EXACT: gradient bits compare sumA·nB vs sumB·nA, and a uniform +1
    // adds n_A·n_B to both sides
    val base = ("the quick brown fox jumped over the lazy dogs! " * 4) + "gold" // 192 chars
    val shifted = base.map(c => (c + 1).toChar)
    assert(base.length % 16 == 0)
    val docs = Seq((1L, base, "src"), (2L, shifted, "src"),
      (3L, base.reverse, "src")).toDF("doc_id", "text", "source")
    val fps = M.dHash(M.mediaFromDocs(docs)).toDF()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fps(1L) == fps(2L),
      s"brightness shift changed the fingerprint: ${fps(1L)} vs ${fps(2L)}")
    assert(fps(1L) != fps(3L), "distinct content should not collide here")
    // exact recall at the radius: the chunk-bucket pairs equal the
    // brute-force Hamming pairs over the corpus fingerprints
    val corpus = s.read.parquet(s"$sfDir/documents.parquet").limit(120)
    val cf = M.dHash(M.mediaFromDocs(corpus)).toDF()
    val got = graft.dedup.Dedup.hammingPairs(cf, "doc_id", "phash", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val local = cf.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, fa) <- local; (b, fb) <- local if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 6
    } yield (a, b, h)).toSet
    assert(got == brute, s"missed=${brute -- got} extra=${got -- brute}")
  }

  test("audioHash / tHash: shift-robust like dHash, mutually distinct fingerprint families") {
    val s = spark
    import s.implicits._
    val M = graft.multimodal.Multimodal
    val base = ("the quick brown fox jumped over the lazy dogs! " * 4) + "gold" // 192 chars
    val shifted = base.map(c => (c + 1).toChar)
    val docs = Seq((1L, base, "src"), (2L, shifted, "src"),
      (3L, base.reverse, "src")).toDF("doc_id", "text", "source")
    // AUDIO: the delta synthesis cancels a uniform byte shift in every
    // sample except the first — the twin lands within a tiny radius
    val af = M.audioHash(M.audioFromDocs(docs)).toDF()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(java.lang.Long.bitCount(af(1L) ^ af(2L)) <= 2,
      s"audio twin too far: ${java.lang.Long.bitCount(af(1L) ^ af(2L))}")
    assert(af(1L) != af(3L), "distinct audio content should not collide here")
    // VIDEO: pad-free raster → the shift is EXACTLY invariant for the
    // temporal gradients too (equal-count cross-multiplies)
    val vf = M.tHash(M.mediaFromDocs(docs)).toDF()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(vf(1L) == vf(2L),
      s"brightness shift changed the temporal hash: ${vf(1L)} vs ${vf(2L)}")
    assert(vf(1L) != vf(3L))
    // the three families fingerprint DIFFERENT structure of the same
    // doc — none may degenerate into another
    val df1 = M.dHash(M.mediaFromDocs(docs)).toDF()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(df1(1L) != vf(1L) && df1(1L) != af(1L) && vf(1L) != af(1L),
      s"fingerprint families collapsed: dhash=${df1(1L)} thash=${vf(1L)} ahash=${af(1L)}")
  }

  test("text ops are map-only: no shuffle in the plan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(TextAnalysis.qualityScore(docs, "text", "doc_id"))
    assert(!plan.contains("Exchange"), "quality scoring must not shuffle:\n" + plan)
  }

  test("pii scrub redacts emails, ips and phones; counts match; map-only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail jo.doe@corp.example.org then 10.0.0.7 or call 555-123-4567 x2 a@b.io"),
      (2L, "no pii here just words"),
      (3L, "dots 1.2.3.4 and 987-654-3210")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs, "text", "doc_id").orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 2 && out(0).getLong(2) == 1 && out(0).getLong(3) == 1)
    assert(out(1).getLong(1) == 0 && out(1).getLong(2) == 0 && out(1).getLong(3) == 0)
    assert(out(2).getLong(2) == 1 && out(2).getLong(3) == 1)
    val scrubbed = docs.select(TextAnalysis.piiScrubText(col("text")).as("s"))
      .orderBy(col("s")).collect().map(_.getString(0))
    assert(scrubbed.exists(_ == "mail <EMAIL> then <IP> or call <PHONE> x2 <EMAIL>"), scrubbed.mkString("|"))
    assert(scrubbed.exists(_ == "dots <IP> and <PHONE>"))
    val plan = planOf(TextAnalysis.piiScrub(docs, "text", "doc_id"))
    assert(!plan.contains("Exchange"), "pii scrub must not shuffle:\n" + plan)
  }

  test("weighted sampling: deterministic, rate-accurate, map-only") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val rates = Map("en" -> 0.35, "fr" -> 0.8)
    val kept = TextAnalysis.weightedSample(docs, "doc_id", "lang", rates)
    val a = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextAnalysis.weightedSample(docs, "doc_id", "lang", rates)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "sampling must be reproducible run-to-run")
    // empirical rate on the downsampled group: binomial sd at n≈200,
    // p=.35 is ~.034 — a ±0.15 band is a >4-sigma sanity check
    val en = docs.filter(col("lang") === "en").count().toDouble
    val enKept = kept.filter(col("lang") === "en").count().toDouble
    assert(math.abs(enKept / en - 0.35) < 0.15, s"en rate ${enKept / en}")
    // untouched groups pass through whole
    val de = docs.filter(col("lang") === "de").count()
    assert(kept.filter(col("lang") === "de").count() == de)
    val plan = planOf(kept)
    assert(!plan.contains("Exchange"), "sampling must not shuffle:\n" + plan)
  }

  test("token-budget mixing: exact integer thresholds, saturating budgets, deterministic") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "en", 100L), (2L, "en", 200L), (3L, "en", 300L), // en total 600, budget 300
      (4L, "fr", 50L), (5L, "fr", 50L),                     // fr total 100 ≤ budget → all kept
      (6L, "de", 70L)                                       // no budget → kept
    ).toDF("doc_id", "lang", "tok")
    val out = TextAnalysis.tokenBudgetSample(docs, "doc_id", "lang", "tok",
      Map("en" -> 300L, "fr" -> 200L))
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // en keeps exactly the ids whose md5 uniform clears budget·2³²//total
    val thrEn = 300L * 4294967296L / 600L
    val hashes = Seq(1L, 2L, 3L).toDF("id")
      .select(col("id"), TextAnalysis.sampleHash(col("id"), "mix").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = hashes.filter(_._2 < thrEn).keySet ++ Set(4L, 5L, 6L)
    assert(kept == expected, s"kept $kept, expected $expected")
    // reproducible run-to-run
    val again = TextAnalysis.tokenBudgetSample(docs, "doc_id", "lang", "tok",
      Map("en" -> 300L, "fr" -> 200L)).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
    // LLM-scale budgets must not wrap Long (3B budget over a 10B-token
    // group ⇒ ~30% rate, not zero), and a zero-total budgeted group
    // must saturate to keep-all, not vanish on the div-by-zero
    val big = Seq((1L, "en", 4000000000L), (2L, "en", 3000000000L),
      (3L, "en", 3000000000L), (4L, "xx", 0L)).toDF("doc_id", "lang", "tok")
    val bigKept = TextAnalysis.tokenBudgetSample(big, "doc_id", "lang", "tok",
      Map("en" -> 3000000000L, "xx" -> 10L)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val thrBig = (BigInt(3000000000L) * BigInt(4294967296L) / BigInt(10000000000L)).toLong
    val bigHash = Seq(1L, 2L, 3L).toDF("id")
      .select(col("id"), TextAnalysis.sampleHash(col("id"), "mix").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bigExpected = bigHash.filter(_._2 < thrBig).keySet ++ Set(4L)
    assert(bigKept == bigExpected, s"kept $bigKept, expected $bigExpected")
  }

  test("token-budget repetition: exact copy counts, sampler special case, zero-total and no-budget groups") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "en", 100L), (2L, "en", 200L), (3L, "en", 300L), // en total 600, budget 1500 = 2.5 epochs
      (4L, "fr", 50L), (5L, "fr", 50L),                     // fr total 100, budget 50 → sampler case
      (6L, "de", 70L),                                      // no budget → exactly once
      (7L, "xx", 0L)                                        // zero-total WITH budget → dropped
    ).toDF("doc_id", "lang", "tok")
    val out = TextAnalysis.tokenBudgetRepeat(docs, "doc_id", "lang", "tok",
      Map("en" -> 1500L, "fr" -> 50L, "xx" -> 10L))
    val copies = out.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // en: base 2 copies + one extra iff md5 uniform < (300/600)·2³²
    val h = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
      .select(col("id"), TextAnalysis.sampleHash(col("id"), "rep").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val enThr = (BigInt(1500 % 600) * BigInt(4294967296L) / BigInt(600)).toLong
    Seq(1L, 2L, 3L).foreach { id =>
      val expect = 2L + (if (h(id) < enThr) 1L else 0L)
      assert(copies.get(id).contains(expect), s"doc $id: ${copies.get(id)} vs $expect")
    }
    // fr: base 0 + fractional — identical to the p5 sampler decision
    val frThr = (BigInt(50) * BigInt(4294967296L) / BigInt(100)).toLong
    Seq(4L, 5L).foreach { id =>
      val expect = if (h(id) < frThr) Some(1L) else None
      assert(copies.get(id) == expect, s"doc $id: ${copies.get(id)} vs $expect")
    }
    assert(copies.get(6L).contains(1L))
    assert(!copies.contains(7L))
    // copy indexes are contiguous 0..n-1
    val idx = out.filter(col("doc_id") === 1L).select("copy")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(idx == (0L until copies(1L)).toSeq, idx.toString)
  }

  test("NULL-group docs survive every mixer: kept whole by samplers, exactly-once by repeat") {
    // pins the LEFT-join semantics (ADVICE r8): a doc whose group column
    // is NULL can never equi-match a totals row OR name a budget, so it
    // must ride the unknown-group default — kept whole, never dropped by
    // an inner join, never multiplied
    val s = spark
    import s.implicits._
    val docs = Seq[(Long, String, Long)](
      (1L, "en", 100L), (2L, null, 50L), (3L, null, 70L), (4L, "en", 500L)
    ).toDF("doc_id", "lang", "tok")
    // budget 1 token over en's 600: en nearly vanishes; NULL-group stays
    val sampled = TextAnalysis.tokenBudgetSample(docs, "doc_id", "lang", "tok",
      Map("en" -> 1L)).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(Set(2L, 3L).subsetOf(sampled), s"NULL-group docs dropped: $sampled")
    // budget 10x en's mass: en repeats ~10x; NULL-group emits exactly once
    val reps = TextAnalysis.tokenBudgetRepeat(docs, "doc_id", "lang", "tok",
      Map("en" -> 6000L)).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(2L) == 1L && reps(3L) == 1L, s"NULL-group copy counts: $reps")
    assert(reps(1L) >= 9L, s"budgeted group under-repeated: $reps")
    // weightedSample: NULL group rides the default rate on both extremes
    val keptAll = TextAnalysis.weightedSample(docs, "doc_id", "lang",
      Map("en" -> 0.0), default = 1.0).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptAll == Set(2L, 3L), s"default=1.0 must keep exactly the NULL-group: $keptAll")
    val keptNone = TextAnalysis.weightedSample(docs, "doc_id", "lang",
      Map("en" -> 1.0), default = 0.0).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptNone == Set(1L, 4L), s"default=0.0 must drop exactly the NULL-group: $keptNone")
  }

  test("epoch shuffle: bijective coordinates, contiguous per-shard ranks, epochs permute") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = docs.count()
    val e1 = TextAnalysis.epochShuffle(docs, "doc_id", epoch = 1, nShards = 8)
    // bijection: every doc gets exactly one (shard, pos); coordinates unique
    assert(e1.count() == n)
    assert(e1.select("shard", "pos").distinct().count() == n)
    // per-shard ranks are contiguous 0..count-1
    val bad = e1.groupBy("shard")
      .agg(count(lit(1)).as("c"), max("pos").as("mx"), min("pos").as("mn"))
      .filter(col("mx") =!= col("c") - 1 || col("mn") =!= 0)
    assert(bad.isEmpty, bad.collect().mkString(","))
    // deterministic run-to-run
    val again = TextAnalysis.epochShuffle(docs, "doc_id", epoch = 1, nShards = 8)
    assert(e1.exceptAll(again).isEmpty)
    // a different epoch is a genuinely different permutation
    val e2 = TextAnalysis.epochShuffle(docs, "doc_id", epoch = 2, nShards = 8)
    val moved = e1.as("a").join(e2.as("b"), Seq("doc_id"))
      .filter(col("a.shard") =!= col("b.shard") || col("a.pos") =!= col("b.pos"))
    assert(moved.count() > n / 2, s"epoch 2 moved only ${moved.count()} of $n docs")
  }

  test("p8 composite: every stage of the full recipe is active in composition") {
    val s = spark
    import s.implicits._
    import graft.dedup.Dedup
    // 15 shared tokens between docs 1 & 2 (stage-1 scrub), a 15-token
    // leak shared between train doc 3 and eval doc 100 (stage-2
    // decon), junk on doc 5 (stage-3 gate). Unique filler keeps the
    // rest un-marked.
    val dupSpan = (1 to 15).map(i => s"dup$i").mkString(" ")
    val leak = (1 to 15).map(i => s"leak$i").mkString(" ")
    def filler(d: Int) = (1 to 20).map(i => s"w${d}x$i").mkString(" ")
    val train = Seq(
      (1L, s"${filler(1)} $dupSpan", "en"),
      (2L, s"${filler(2)} $dupSpan", "en"),
      (3L, s"${filler(3)} $leak", "en"),
      (4L, s"${filler(4)}", "en"),
      (5L, s"${filler(5)} zzspam0 zzspam1 zzspam2 zzspam3", "fr"),
      (6L, s"${filler(6)}", "fr")
    ).toDF("doc_id", "text", "lang")
    val evalS = Seq((100L, s"${filler(100)} $leak")).toDF("doc_id", "text")
    val spans1 = Dedup.substringSpans(train, "text", "doc_id", 15)
    assert(spans1.filter(col("id").isin(1L, 2L)).count() == 2, "stage 1 found no dup spans")
    val scrub1 = Dedup.scrubSpans(train, spans1, "text", "doc_id")
      .select(col("id").as("doc_id"), col("scrubbed").as("text"))
    assert(!scrub1.filter($"doc_id" === 1L).head().getString(1).contains("dup1"),
      "stage 1 left the duplicated span in place")
    val spans2 = Dedup.decontaminateSpans(scrub1, evalS, "text", "doc_id", 15)
    assert(spans2.select("id").as[Long].collect().toSet == Set(3L),
      "stage 2 must mark exactly the leaked doc")
    val scrub2 = Dedup.scrubSpans(scrub1, spans2, "text", "doc_id")
      .select(col("id").as("doc_id"), col("scrubbed").as("text"))
    assert(!scrub2.filter($"doc_id" === 3L).head().getString(1).contains("leak1"),
      "stage 2 left the leak in place")
    // 4096 buckets: the ~100 filler tokens land collision-free with
    // the 4 junk buckets (verified offline; at the default 256 a
    // clean doc-4 token shared a bucket with zzspam and was flagged)
    val model = TextAnalysis.trainQualityModel(
      scrub2.withColumn("label", col("doc_id") =!= 5L), "text", "label",
      buckets = 4096)
    val kept = TextAnalysis.qualityScore(scrub2, "text", "doc_id", model)
      .filter(col("pred")).select(col("id").as("doc_id"))
    assert(kept.as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 6L),
      "stage 3 must drop exactly the junk doc")
    val counts = graft.text.Bpe.tokenCounts(scrub2.join(kept, "doc_id"),
        "text", "doc_id", graft.text.Bpe.DefaultMerges)
      .join(train.select("doc_id", "lang"), Seq("doc_id"))
    // en budget = 3x its mass → exactly 3 copies of every en doc
    // (budget % total = 0, no fractional copy); fr keeps 1 copy
    val enMass = counts.filter($"lang" === "en")
      .agg(sum("bpe_tokens")).head().getLong(0)
    val mixed = TextAnalysis.tokenBudgetRepeat(counts, "doc_id", "lang",
      "bpe_tokens", Map("en" -> 3 * enMass))
    assert(mixed.filter($"lang" === "en").groupBy("doc_id").count()
      .select("count").as[Long].collect().forall(_ == 3L), "stage 5 en docs must triple")
    val keyed = mixed.withColumn("__k", concat_ws(":", col("doc_id"), col("copy")))
    val out = TextAnalysis.epochShuffle(keyed, "__k", epoch = 1, nShards = 4)
      .select("doc_id", "copy", "shard", "pos").collect()
    assert(out.length == 13, s"12 en copies + 1 fr doc, got ${out.length}")
    // (shard, pos) is a permutation: unique coordinates, contiguous per shard
    val coords = out.map(r => (r.getInt(2), r.getLong(3)))
    assert(coords.distinct.length == coords.length, "stage 6 coordinates collide")
    coords.groupBy(_._1).foreach { case (sh, cs) =>
      assert(cs.map(_._2).sorted.sameElements(0L until cs.length),
        s"shard $sh positions not contiguous") }
  }

  test("quality classifier: learns exactly the planted bad vocabulary, scores a held-out split") {
    val s = spark
    import s.implicits._
    // train split: clean docs repeat a neutral vocab; low-quality docs
    // carry junk tokens; the held-out split reuses both plus a token
    // the model never saw (must stay neutral)
    val train = Seq(
      (1L, "alpha beta gamma delta alpha beta", true),
      (2L, "beta gamma delta alpha gamma beta", true),
      (3L, "alpha beta junky blargh junky spam9", false),
      (4L, "gamma delta junky spam9 blargh blargh", false),
      (5L, "alpha gamma delta beta alpha delta", true)
    ).toDF("doc_id", "text", "label")
    val model = TextAnalysis.trainQualityModel(train, "text", "label", buckets = 1024)
    // at 1024 buckets the 7 distinct tokens land collision-free (md5
    // spread); the learned bad set must be exactly the junk buckets
    val badBuckets = model.filter(col("purity") < expr("prior div 2"))
      .select("bucket").collect().map(_.getLong(0)).toSet
    val junk = Seq("junky", "blargh", "spam9").toDF("t")
      .select(TextAnalysis.tokenBucket(col("t"), 1024).as("b"))
      .collect().map(_.getLong(0)).toSet
    assert(badBuckets == junk, s"learned $badBuckets, planted $junk")
    val held = Seq(
      (10L, "alpha beta gamma delta unseen"),      // clean + unseen token
      (11L, "alpha junky beta blargh gamma spam9") // 3 of 6 junk
    ).toDF("doc_id", "text")
    val got = TextAnalysis.qualityScore(held, "text", "doc_id", model)
      .orderBy("id").collect()
    assert(got(0).getLong(1) == 5 && got(0).getLong(2) == 0 && got(0).getBoolean(4),
      s"clean doc mis-scored: ${got(0)}")
    assert(got(1).getLong(1) == 6 && got(1).getLong(2) == 3 && !got(1).getBoolean(4),
      s"junk doc mis-scored: ${got(1)}")
    assert(got(1).getDouble(3) == 0.5d, s"bad_frac ${got(1).getDouble(3)}")
    // a zero-token doc still gets a verdict (no bad evidence → passes)
    val empty = Seq((12L, "!!! ???")).toDF("doc_id", "text")
    val e = TextAnalysis.qualityScore(empty, "text", "doc_id", model).collect()
    assert(e.length == 1 && e(0).getLong(1) == 0 && e(0).getBoolean(4), e.mkString(","))
  }

  test("source cap: under-cap groups pass whole, over-cap kept mass lands on the cap, deterministic") {
    val s = spark
    import s.implicits._
    // a: total 600 > cap 250 → capped in md5 order; b: total 200 ≤ cap
    // → whole; null group: can't name a budget → whole
    val docs = Seq(
      (1L, Option("a"), 100L), (2L, Option("a"), 200L), (3L, Option("a"), 300L),
      (4L, Option("b"), 100L), (5L, Option("b"), 100L),
      (6L, Option.empty[String], 999L)
    ).toDF("doc_id", "source", "tok")
    val out = TextAnalysis.sourceCap(docs, "doc_id", "source", "tok", cap = 250L)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(4L) && kept.contains(5L) && kept.contains(6L),
      s"under-cap/null-group rows must pass whole: $kept")
    // recompute a's expected keep set: md5 order, exclusive prefix < cap
    val order = Seq(1L, 2L, 3L).toDF("id")
      .select(col("id"), TextAnalysis.sampleHash(col("id"), "cap").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(x => (x._2, x._1)).map(_._1)
    val toks = Map(1L -> 100L, 2L -> 200L, 3L -> 300L)
    var pre = 0L
    val expectA = order.takeWhile { id => val keep = pre < 250L; pre += toks(id); keep }.toSet
    assert((kept -- Set(4L, 5L, 6L)) == expectA, s"capped ${kept -- Set(4L, 5L, 6L)}, expected $expectA")
    // kept mass ≤ cap + the straddling doc; and ≥ cap (a doc straddles)
    val mass = expectA.map(toks).sum
    assert(mass >= 250L && mass <= 250L + toks(expectA.maxBy(id => order.indexOf(id))), s"mass $mass")
    // deterministic run-to-run
    val again = TextAnalysis.sourceCap(docs, "doc_id", "source", "tok", cap = 250L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
    // cap ≥ every total → identity (no row lost, no window applied)
    val all = TextAnalysis.sourceCap(docs, "doc_id", "source", "tok", cap = 10000L)
    assert(all.count() == 6)
  }

  test("surprisal: integer log2 bits, frequent < rare, zero-token docs, model-carried feature space") {
    val s = spark
    import s.implicits._
    // 'common' appears 8×, 'rare' once: bits(total div cnt) must rank
    // rare strictly above common, with values = floor(log2)+1 exactly
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common common common common rare"),
      (3L, "???")
    ).toDF("doc_id", "text")
    val model = TextAnalysis.trainUnigramModel(docs, "text", buckets = 1024)
    // total 9 tokens: common cnt 8 → bits(9 div 8 = 1) = 1; rare cnt 1
    // → bits(9) = 4 (1001b)
    val got = TextAnalysis.surprisalScore(docs, "text", "doc_id", model)
      .orderBy("id").collect()
    assert(got(0).getLong(1) == 4 && got(0).getLong(2) == 4, s"doc1 ${got(0)}")
    assert(got(1).getLong(1) == 5 && got(1).getLong(2) == 4 + 4, s"doc2 ${got(1)}")
    // fixed-point means: 4·10⁶/4 = 1000000, 8·10⁶/5 = 1600000
    assert(got(0).getLong(3) == 1000000L && got(1).getLong(3) == 1600000L,
      s"means ${got(0).getLong(3)}, ${got(1).getLong(3)}")
    // zero-token doc still gets a row, all zeros
    assert(got(2).getLong(1) == 0 && got(2).getLong(2) == 0 && got(2).getLong(3) == 0,
      s"empty doc ${got(2)}")
    // a token the model never saw scores the worst case, bits(total)
    val unseen = Seq((9L, "zzzzunseen")).toDF("doc_id", "text")
    val u = TextAnalysis.surprisalScore(unseen, "text", "doc_id", model).collect()(0)
    assert(u.getLong(2) == 4, s"unseen-token bits ${u.getLong(2)} (want bits(9) = 4)")
    // an EMPTY model (token-less training corpus) must still rule on
    // every doc — zero bits, not a crash; same for the quality gate
    val emptyModel = TextAnalysis.trainUnigramModel(
      Seq((1L, "???")).toDF("doc_id", "text"), "text", buckets = 64)
    val em = TextAnalysis.surprisalScore(docs, "text", "doc_id", emptyModel)
      .orderBy("id").collect()
    assert(em.length == 3 && em.forall(_.getLong(2) == 0L),
      s"empty-model scores ${em.mkString(",")}")
    val emptyQm = TextAnalysis.trainQualityModel(
      Seq((1L, "???", true)).toDF("doc_id", "text", "label"), "text", "label")
    val eq = TextAnalysis.qualityScore(docs, "text", "doc_id", emptyQm).collect()
    assert(eq.length == 3 && eq.forall(_.getBoolean(4)),
      s"empty-quality-model verdicts ${eq.mkString(",")}")
  }

  test("bigram surprisal: conditional bits, BOS context, +1-bit backoff legs, zero-token and empty-model rows") {
    val s = spark
    import s.implicits._
    // reference corpus "a b a b": pairs (BOS,a)=1, (a,b)=2, (b,a)=1 →
    // total 4; ctx BOS=1/a=2/b=1; unigram a=2/b=2 (derived FROM the
    // pair table). Hand-checked bits below assume a/b/zzz land in
    // distinct hash buckets (441/1022/107 of 1024 — verified).
    val ref = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val model = TextAnalysis.trainBigramModel(ref, "text")
    assert(model.count() == 3, "three distinct pairs")
    val docs = Seq(
      (1L, "a b"),     // all seen pairs: bits(1/1)+bits(2/2) = 1+1
      (2L, "b a b"),   // (BOS,b) unseen → backoff 1+bits(4/2)=3; +1+1
      (3L, "zzz"),     // unseen token → worst 1+bits(4)=4
      (4L, "???")      // zero tokens → all-zero row
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramSurprisal(docs, "text", "doc_id", model)
      .orderBy("id").collect()
    assert(got(0).getLong(1) == 2 && got(0).getLong(2) == 2, s"doc1 ${got(0)}")
    assert(got(1).getLong(1) == 3 && got(1).getLong(2) == 5, s"doc2 ${got(1)}")
    assert(got(2).getLong(1) == 1 && got(2).getLong(2) == 4, s"doc3 ${got(2)}")
    assert(got(3).getLong(1) == 0 && got(3).getLong(2) == 0 &&
      got(3).getLong(3) == 0, s"doc4 ${got(3)}")
    // the CCNet ranking property: in-domain < backoff < unseen mean bits
    assert(got(0).getLong(3) < got(1).getLong(3) &&
      got(1).getLong(3) < got(2).getLong(3),
      s"means ${got.map(_.getLong(3)).mkString(",")}")
    // fixed-point means exact: 2e6/2, 5e6 div 3, 4e6/1
    assert(got(0).getLong(3) == 1000000L && got(1).getLong(3) == 1666666L &&
      got(2).getLong(3) == 4000000L)
    // an EMPTY reference corpus must still rule on every doc — zero
    // bits, not a crash (the x10 empty-model contract)
    val emptyModel = TextAnalysis.trainBigramModel(
      Seq((1L, "???")).toDF("doc_id", "text"), "text")
    val em = TextAnalysis.bigramSurprisal(docs, "text", "doc_id", emptyModel)
      .orderBy("id").collect()
    assert(em.length == 4 && em.forall(_.getLong(2) == 0L),
      s"empty-model scores ${em.mkString(",")}")
  }

  test("cross-entropy difference: in-domain positive, out-of-domain negative, zero-token rows, feature-space guard") {
    val s = spark
    import s.implicits._
    // in-domain LM: "a b a b" (pairs (BOS,a)=1,(a,b)=2,(b,a)=1, total 4)
    // out-of-domain LM: that plus "x y x y" (total 8, ctx BOS=2)
    val inDocs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val pool = Seq((1L, "a b a b"), (2L, "x y x y")).toDF("doc_id", "text")
    val inM = TextAnalysis.trainBigramModel(inDocs, "text")
    val outM = TextAnalysis.trainBigramModel(pool, "text")
    val docs = Seq((1L, "a b"), (2L, "x y"), (3L, "???")).toDF("doc_id", "text")
    val got = TextAnalysis.crossEntropyDiff(docs, "text", "doc_id", inM, outM)
      .orderBy("id").collect()
    // "a b": in = bits(1/1)+bits(2/2) = 2; out = bits(2/1)+bits(2/2) = 3
    // → diff +1, selected (the target model predicts it more cheaply)
    assert(got(0).getLong(2) == 2 && got(0).getLong(3) == 3 &&
      got(0).getLong(4) == 1 && got(0).getBoolean(6), s"${got(0)}")
    // "x y": in = two unseen tokens (1+bits(4))·2 = 8; out = bits(2/1)
    // + bits(2/2) = 3 → diff −5, not selected
    assert(got(1).getLong(2) == 8 && got(1).getLong(3) == 3 &&
      got(1).getLong(4) == -5 && !got(1).getBoolean(6), s"${got(1)}")
    // diff_fp truncates toward zero identically on both engines
    assert(got(1).getLong(5) == -5L * 1000000L / 2L, s"${got(1)}")
    // zero-token doc: all-zero scores, NOT selected — a gate must rule
    assert(got(2).getLong(1) == 0 && got(2).getLong(4) == 0 &&
      !got(2).getBoolean(6), s"${got(2)}")
    // different feature spaces are refused loudly (bits would silently
    // compare incomparable hash buckets)
    val small = TextAnalysis.trainBigramModel(inDocs, "text", buckets = 512)
    intercept[IllegalArgumentException] {
      TextAnalysis.crossEntropyDiff(docs, "text", "doc_id", small, outM)
    }
    // an EMPTY reference slice is NOT a feature-space mismatch: it
    // adopts the other model's buckets and scores 0 bits on every
    // token (the x10 empty-model contract) — so diff = out_bits and
    // everything with out-model mass selects
    val emptyM = TextAnalysis.trainBigramModel(
      Seq((9L, "???")).toDF("doc_id", "text"), "text")
    val ed = TextAnalysis.crossEntropyDiff(docs, "text", "doc_id", emptyM, outM)
      .orderBy("id").collect()
    assert(ed(0).getLong(2) == 0 && ed(0).getLong(3) == 3 &&
      ed(0).getLong(4) == 3 && ed(0).getBoolean(6), s"${ed(0)}")
  }

  test("length-bucket batching: bucket edges, rank order, batch split, shard bound, padding account") {
    val s = spark
    import s.implicits._
    // widths 16: len 16 lands in bucket 0 (edge (16-1)//16), 17 in 1
    val lens = Seq((1L, 5L), (2L, 16L), (3L, 17L), (4L, 20L), (5L, 33L))
      .toDF("doc_id", "n_tok")
    val got = TextAnalysis.lengthBucketBatches(lens, "doc_id", "n_tok",
        bucketWidth = 16L, batchSize = 8L, shardSize = 100L)
      .orderBy("bucket", "shard", "batch").collect()
    assert(got.length == 3, s"3 batches, got ${got.mkString(";")}")
    // bucket 0 = {16, 5}: padded 2·16=32, waste (32-21)·1e6//32
    assert(got(0).getLong(0) == 0 && got(0).getLong(3) == 2 &&
      got(0).getLong(4) == 16 && got(0).getLong(5) == 21 &&
      got(0).getLong(6) == 32 && got(0).getLong(7) == 343750L, s"${got(0)}")
    // bucket 1 = {20, 17}: padded 40, waste 75000; bucket 2 singleton, waste 0
    assert(got(1).getLong(4) == 20 && got(1).getLong(5) == 37 &&
      got(1).getLong(7) == 75000L, s"${got(1)}")
    assert(got(2).getLong(3) == 1 && got(2).getLong(7) == 0L, s"${got(2)}")
    // batchSize 1 → every sequence its own batch, zero waste everywhere
    val solo = TextAnalysis.lengthBucketBatches(lens, "doc_id", "n_tok",
      bucketWidth = 16L, batchSize = 1L, shardSize = 100L).collect()
    assert(solo.length == 5 && solo.forall(_.getLong(7) == 0L))
    // shardSize 2 splits bucket 0's pair across id-range shards: ranks
    // are LOCAL to (bucket, shard) — two singleton batches, no
    // cross-shard batch ever forms
    val sharded = TextAnalysis.lengthBucketBatches(lens, "doc_id", "n_tok",
        bucketWidth = 16L, batchSize = 8L, shardSize = 2L)
      .filter(col("bucket") === 0L).orderBy("shard").collect()
    assert(sharded.length == 2 && sharded.forall(_.getLong(3) == 1),
      s"sharded ${sharded.mkString(";")}")
    // zero-length rows drop; batch ids are dense per (bucket, shard)
    val withZero = lens.union(Seq((6L, 0L)).toDF("doc_id", "n_tok"))
    assert(TextAnalysis.lengthBucketBatches(withZero, "doc_id", "n_tok",
      16L, 8L, 100L).agg(sum("n_seqs")).collect()(0).getLong(0) == 5L)
    // rank order inside a batch is (len desc, id): with batchSize 2 and
    // four same-bucket lens, the two longest share batch 0
    val four = Seq((1L, 10L), (2L, 12L), (3L, 14L), (4L, 16L)).toDF("doc_id", "n_tok")
    val b0 = TextAnalysis.lengthBucketBatches(four, "doc_id", "n_tok",
        16L, 2L, 100L).orderBy("batch").collect()
    assert(b0(0).getLong(4) == 16 && b0(0).getLong(5) == 30, s"${b0(0)}") // 16+14
    assert(b0(1).getLong(4) == 12 && b0(1).getLong(5) == 22, s"${b0(1)}") // 12+10
  }

  test("chunk windows: coverage, clipping, stride geometry, token-space text, zero-token docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 tokens
      (2L, "a b c d"),                        // exactly one window
      (3L, "a b c d e"),                      // one full + one clipped
      (4L, "solo"),
      (5L, "???")                              // zero tokens → no rows
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkWindows(docs, "text", "doc_id", window = 4, stride = 3)
      .orderBy("id", "chunk_idx").collect()
    val byId = got.groupBy(_.getLong(0))
    // doc1: kmax = ceil((10-4)/3) = 2 → 3 chunks at 0/3/6, all 4-token
    assert(byId(1L).length == 3)
    assert(byId(1L).map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 4L), (3L, 4L), (6L, 4L)))
    assert(byId(1L)(2).getString(4) == "t7 t8 t9 t10")
    // every token covered: last chunk reaches the end
    assert(byId(1L).last.getLong(2) + byId(1L).last.getLong(3) == 10L)
    // doc2: n == window → exactly 1 chunk, no trailing duplicate
    assert(byId(2L).length == 1 && byId(2L)(0).getString(4) == "a b c d")
    // doc3: clipped second chunk of 2 tokens starting at 3
    assert(byId(3L).map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 4L), (3L, 2L)))
    assert(byId(3L)(1).getString(4) == "d e")
    // doc4 singleton; doc5 absent
    assert(byId(4L).length == 1 && byId(4L)(0).getLong(3) == 1L)
    assert(!byId.contains(5L))
    // stride > window is refused (holes in coverage)
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkWindows(docs, "text", "doc_id", window = 4, stride = 5)
    }
  }

  test("plan pins: x20 corpus leg broadcast-only, p26 single exchange, x21 shuffle-free") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // executedPlan (post-EnsureRequirements) is where implicit
    // exchanges live; AQE off so the tree is concrete, not staged
    val aqe = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, "x y")).toDF("doc_id", "text")
      // x20: the CORPUS side must never sort-merge — every model leg is
      // a broadcast join, and the only exchanges downstream of a corpus
      // join are the doc-keyed aggregate + the rule-on-every-doc outer
      // join back (model-side exchanges shuffle bounded tables and
      // don't count against the shape)
      val model = TextAnalysis.trainBigramModel(docs, "text")
      val x20 = TextAnalysis.bigramSurprisal(docs, "text", "doc_id", model)
      val x20Plan = x20.queryExecution.executedPlan
      assert(!x20Plan.toString.contains("SortMergeJoin"), x20Plan.toString)
      assert(x20Plan.toString.contains("BroadcastHashJoin"), x20Plan.toString)
      // p26: the (bucket, shard) window exchange is the ONLY shuffle —
      // the per-batch aggregate rides the window's partitioning (its
      // grouping keys are a superset), so no second exchange may appear
      val lens = Seq((1L, 5L), (2L, 16L), (3L, 17L)).toDF("doc_id", "n_tok")
      val p26 = TextAnalysis.lengthBucketBatches(lens, "doc_id", "n_tok", 16L, 8L, 100L)
      val p26Ex = p26.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(p26Ex.length == 1,
        s"p26 must have exactly one exchange:\n${p26.queryExecution.executedPlan}")
      // x21: map-only — the 100 TB shape is the scan itself
      val x21 = TextAnalysis.chunkWindows(docs, "text", "doc_id", 4, 3)
      val x21Ex = x21.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(x21Ex.isEmpty, s"x21 must be shuffle-free:\n${x21.queryExecution.executedPlan}")
    } finally s.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("top-q gate: histogram shape equals the sort-window semantics, ties and edges included") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // heavy ties by construction (scores only 0..9): every group's
    // threshold score is shared by several docs, so the boundary
    // tie-break path is exercised, not just the strict-above filter
    val rng = new scala.util.Random(7)
    val docs = (0L until 400L).map { i =>
      (i, s"g${rng.nextInt(3)}", rng.nextInt(10).toLong)
    }.toDF("id", "grp", "score")
    for (qBp <- Seq(1, 1700, 5000, 9999)) {
      val got = TextAnalysis.topQualityFraction(docs, "id", "grp", "score", qBp)
        .select("id").as[Long].collect().toSet
      val w = Window.partitionBy("grp").orderBy(col("score").desc, col("id"))
      val expect = docs
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
        .filter(col("rn") <= expr(s"(n * $qBp + 9999) div 10000"))
        .select("id").as[Long].collect().toSet
      assert(got == expect, s"qBp=$qBp: got ${got.size}, want ${expect.size}")
    }
    // edges: 0% keeps nothing, 100% keeps everything
    assert(TextAnalysis.topQualityFraction(docs, "id", "grp", "score", 0).count() == 0L)
    assert(TextAnalysis.topQualityFraction(docs, "id", "grp", "score", 10000).count() == 400L)
    // NULL-group docs can't name a fraction — dropped, never crashing
    val withNull = docs.withColumn("grp",
      when(col("id") % 5 === 0, lit(null).cast("string")).otherwise(col("grp")))
    val gotNull = TextAnalysis.topQualityFraction(withNull, "id", "grp", "score", 10000)
    assert(gotNull.filter(col("grp").isNull).count() == 0L)
    assert(gotNull.count() == withNull.filter(col("grp").isNotNull).count())
  }

  test("top-q gate: NULL scores are excluded from n and never emitted") {
    val s = spark
    import s.implicits._
    // 40 scored docs + 10 null-score docs in one group: null scores
    // cannot rank — they leave both the histogram and n
    val docs = ((0L until 40L).map(i => (i, "g", java.lang.Long.valueOf(i % 4))) ++
      (100L until 110L).map(i => (i, "g", null.asInstanceOf[java.lang.Long])))
      .toDF("id", "grp", "score")
    // qBp=10000 with nulls present: ALL non-null docs keep (the round-9
    // shape counted nulls in n, made the null histogram row the
    // threshold row, and the whole group emitted ZERO rows here)
    val all = TextAnalysis.topQualityFraction(docs, "id", "grp", "score", 10000)
    assert(all.count() == 40L, "every non-null-score doc keeps at q=100%")
    assert(all.filter(col("score").isNull).count() == 0L)
    // mid fraction: k = ceil(q · 40), not ceil(q · 50)
    val half = TextAnalysis.topQualityFraction(docs, "id", "grp", "score", 5000)
    assert(half.count() == 20L, s"k over non-null count, got ${half.count()}")
    // an all-null-score group emits nothing — not a crash, not a null
    // threshold row
    val gone = TextAnalysis.topQualityFraction(
      docs.filter(col("score").isNull), "id", "grp", "score", 10000)
    assert(gone.count() == 0L)
  }

  test("top-q gate: degenerate all-one-score group ranks through bounded slices") {
    val s = spark
    import s.implicits._
    // 100k docs, ONE group, ONE score value: the boundary IS the group.
    // The distributed range-rank must still keep exactly the lowest k
    // ids, and the tie-break window must be partitioned by (slice,
    // group) — never by group alone, which would funnel the whole
    // group through a single partition's sort
    val n = 100000L
    val docs = s.range(n).select(col("id"), lit("g").as("grp"), lit(5L).as("score"))
    val qBp = 1700
    val k = (n * qBp + 9999) / 10000
    val got = TextAnalysis.topQualityFraction(docs, "id", "grp", "score", qBp)
    assert(got.count() == k, s"want $k of $n")
    assert(got.agg(max("id")).head.getLong(0) == k - 1, "ties keep the LOWEST ids")
    // plan shape: the rank window runs per (__pid, grp) slice
    val plan = planOf(TextAnalysis.topQualityFraction(docs, "id", "grp", "score", qBp))
    assert(plan.contains("__pid"),
      "tie-break window must be slice-partitioned, not group-partitioned:\n" + plan)
  }

  test("holdout split: exact counts equal the sort-window semantics; all paths agree") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(11)
    val docs = (0L until 400L).map(i => (i, s"g${rng.nextInt(3)}")).toDF("id", "grp")
    for (bp <- Seq(1, 1000, 5000, 9999)) {
      val got = TextAnalysis.holdoutSplit(docs, "id", "grp", bp)
      // the split PARTITIONS the corpus: every doc, exactly once
      assert(got.count() == 400L, s"bp=$bp emits the whole corpus")
      val hold = got.filter(col("split") === "holdout")
        .select("id").as[Long].collect().toSet
      // ground truth = the naive per-group sort the engine never runs
      val w = Window.partitionBy("grp")
        .orderBy(TextAnalysis.sampleHash(col("id"), "split"), col("id"))
      val expect = docs
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
        .filter(col("rn") <= expr(s"(n * $bp + 9999) div 10000"))
        .select("id").as[Long].collect().toSet
      assert(hold == expect, s"bp=$bp: got ${hold.size}, want ${expect.size}")
      // every bucketing of the uniform yields the SAME split: all-
      // boundary (bits=0, pure rank), per-value (bits=32), and the
      // sliced rank path (cutoff 1) must agree with the default
      for ((bits, cut) <- Seq((0, Long.MaxValue), (32, Long.MaxValue), (16, 1L))) {
        val alt = TextAnalysis.holdoutSplit(docs, "id", "grp", bp,
            bucketBits = bits, sliceCutoff = cut)
          .filter(col("split") === "holdout").select("id").as[Long].collect().toSet
        assert(alt == hold, s"bp=$bp bits=$bits cutoff=$cut diverged")
      }
    }
    // edges: 0% holds nothing, 100% holds every non-NULL-group doc
    assert(TextAnalysis.holdoutSplit(docs, "id", "grp", 0)
      .filter(col("split") === "holdout").count() == 0L)
    assert(TextAnalysis.holdoutSplit(docs, "id", "grp", 10000)
      .filter(col("split") === "train").count() == 0L)
    // NULL-group docs train whole (never leak into an eval set) — at
    // ANY fraction, including 100%
    val withNull = docs.withColumn("grp",
      when(col("id") % 5 === 0, lit(null).cast("string")).otherwise(col("grp")))
    val nullSplit = TextAnalysis.holdoutSplit(withNull, "id", "grp", 10000)
    assert(nullSplit.filter(col("grp").isNull && col("split") === "holdout").count() == 0L)
    assert(nullSplit.filter(col("grp").isNull).count() == 80L)
    // determinism under re-partitioning: the kept SET is a function of
    // (corpus, seed, fraction) alone
    val repart = TextAnalysis.holdoutSplit(docs.repartition(13), "id", "grp", 1700)
      .filter(col("split") === "holdout").select("id").as[Long].collect().toSet
    val base = TextAnalysis.holdoutSplit(docs, "id", "grp", 1700)
      .filter(col("split") === "holdout").select("id").as[Long].collect().toSet
    assert(repart == base)
    // output-column collision is loud
    intercept[IllegalArgumentException] {
      TextAnalysis.holdoutSplit(docs.withColumn("split", lit("x")), "id", "grp", 1000)
    }
  }

  test("holdout split: sliced boundary rank keeps exactly the smallest (u, id) and slices the sort") {
    val s = spark
    import s.implicits._
    // bucketBits = 0 makes the ONE bucket the boundary for the whole
    // group; sliceCutoff = 1 forces the distributed range-rank — the
    // degenerate shape where the boundary IS the corpus
    val docs = s.range(5000L).select(col("id"), lit("g").as("grp"))
    val got = TextAnalysis.holdoutSplit(docs, "id", "grp", 1700,
      bucketBits = 0, sliceCutoff = 1L)
    val hold = got.filter(col("split") === "holdout").select("id").as[Long].collect().toSet
    assert(hold.size == 850, s"exactly ceil(17% · 5000), got ${hold.size}")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      .orderBy(TextAnalysis.sampleHash(col("id"), "split"), col("id"))
    val expect = docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 850).select("id").as[Long].collect().toSet
    assert(hold == expect)
    // plan shape: the rank window runs per (__pid, grp) slice
    val plan = planOf(TextAnalysis.holdoutSplit(docs, "id", "grp", 1700,
      bucketBits = 0, sliceCutoff = 1L))
    assert(plan.contains("__pid"),
      "tie-break window must be slice-partitioned, not group-partitioned:\n" + plan)
    // the x11 plan discipline: the corpus side rides BROADCAST joins
    // against the group-sized thresholds — a SortMergeJoin would mean
    // the corpus is being shuffled against its own histogram
    val gate = planOf(TextAnalysis.holdoutSplit(docs, "id", "grp", 1700))
    assert(!gate.contains("SortMergeJoin"), "split must broadcast thresholds:\n" + gate)
    assert(gate.contains("BroadcastHashJoin") || gate.contains("BroadcastNestedLoopJoin"),
      "split should join via broadcast:\n" + gate)
  }

  test("compression ratio: integer bytes-per-token, UTF-8 bytes, zero-token docs, flag edges") {
    val s = spark
    import s.implicits._
    val merges = Seq(("a", "a"), ("aa", "aa"))
    val docs = Seq(
      (1L, "aaaa bb"), // aaaa → 1 token (4 bytes), bb → 2 → 6 bytes / 3 tokens = 20000
      (2L, ""), // zero words: 0 bytes, 0 tokens, bpt 0 → flagged
      (3L, "zz"), // 2 bytes / 2 tokens = 10000 — AT lo: not flagged (inclusive band)
      (4L, "éé") // UTF-8: 4 bytes, 4 byte-level tokens = 10000
    ).toDF("id", "text")
    val out = TextAnalysis.compressionRatio(docs, "text", "id", merges,
        lo = 10000L, hi = 15000L)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(out(0) == ((1L, 6L, 3L, 20000L, 1)), s"got ${out(0)}")
    assert(out(1) == ((2L, 0L, 0L, 0L, 1)), s"got ${out(1)}")
    assert(out(2) == ((3L, 2L, 2L, 10000L, 0)), s"got ${out(2)}")
    assert(out(3) == ((4L, 4L, 4L, 10000L, 0)), s"got ${out(3)}")
    // map-only: no shuffle anywhere in the plan
    val plan = planOf(TextAnalysis.compressionRatio(docs, "text", "id", merges))
    assert(!plan.contains("Exchange"), "compression ratio must be map-only:\n" + plan)
    intercept[IllegalArgumentException] {
      TextAnalysis.compressionRatio(docs.withColumn("flagged", lit(1)), "text", "id", merges)
    }
  }

  test("exact sample: exactly min(k, n) per named group, unnamed/NULL drop, all paths agree") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(17)
    val docs = (0L until 300L).map { i =>
      (i, if (i % 11 == 4) null.asInstanceOf[String] else s"g${rng.nextInt(4)}")
    }.toDF("id", "grp")
    // g3 is deliberately UNNAMED: least() ignores NULLs on both
    // engines, so a bare least(quota, n) hands unnamed groups a full
    // quota — the explicit NULL branch must drop them instead
    val counts = Map("g0" -> 17L, "g1" -> 100000L, "g2" -> 0L)
    val got = TextAnalysis.sampleExact(docs, "id", "grp", counts)
      .select("id", "grp").collect().map(r => (r.getLong(0), r.getString(1)))
    val byGrp = got.groupBy(_._2).view.mapValues(_.length).toMap
    val sizes = docs.filter(col("grp").isNotNull).groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp.getOrElse("g0", 0) == 17, s"g0: $byGrp")
    assert(byGrp.getOrElse("g1", 0) == sizes("g1").toInt, "over-sized quota keeps the whole group")
    assert(!byGrp.contains("g2") && !byGrp.contains("g3") && !byGrp.contains(null),
      s"k=0, unnamed, and NULL all drop: $byGrp")
    // ground truth = the naive sort
    val w = Window.partitionBy("grp")
      .orderBy(TextAnalysis.sampleHash(col("id"), "exact"), col("id"))
    val expect = docs.filter(col("grp").isin("g0", "g1"))
      .withColumn("rn", row_number().over(w))
      .filter(col("grp") === "g0" && col("rn") <= 17 || col("grp") === "g1")
      .select("id").as[Long].collect().toSet
    assert(got.map(_._1).toSet == expect)
    // the pure-rank and sliced machinery agree with the default
    for ((bits, cut) <- Seq((0, Long.MaxValue), (16, 1L))) {
      val alt = TextAnalysis.sampleExact(docs, "id", "grp", counts,
          bucketBits = bits, sliceCutoff = cut)
        .select("id").as[Long].collect().toSet
      assert(alt == expect, s"bits=$bits cutoff=$cut diverged")
    }
  }

  test("curriculum shuffle: stage-major within shards, bijective, null stages last, epochs permute") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = (0L until 300L).map { i =>
      (i, if (i % 7 == 3) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(i % 4))
    }.toDF("id", "stage")
    val got = TextAnalysis.curriculumShuffle(docs, "id", "stage", epoch = 1, nShards = 4)
    // bijective coordinates partitioning the corpus
    assert(got.count() == 300L)
    assert(got.select("shard", "pos").distinct().count() == 300L)
    // exact semantics: rank by (stage NULLS LAST, u, id) within shard
    val w = Window.partitionBy("shard")
      .orderBy(col("stage").asc_nulls_last,
        TextAnalysis.sampleHash(col("id"), "epoch1"), col("id"))
    val expect = got.drop("pos")
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select("id", "shard", "pos").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val gotSet = got.select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotSet == expect)
    // stages are non-decreasing in pos order within every shard, nulls at the tail
    got.collect().groupBy(_.getInt(2)).foreach { case (_, rows) =>
      val stages = rows.sortBy(_.getLong(3)).map(r => if (r.isNullAt(1)) Long.MaxValue else r.getLong(1))
      assert(stages.sameElements(stages.sorted), s"stage order broken: ${stages.mkString(",")}")
    }
    // a different epoch genuinely permutes
    val e2 = TextAnalysis.curriculumShuffle(docs, "id", "stage", epoch = 2, nShards = 4)
      .select("id", "shard", "pos").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(e2 != gotSet)
    intercept[IllegalArgumentException] {
      TextAnalysis.curriculumShuffle(docs.withColumn("pos", lit(1)), "id", "stage", 1, 4)
    }
  }

  test("mask stream: token projection equals packedTokenStream; doc_start flags exactly first tokens") {
    val s = spark
    import s.implicits._
    // handcrafted arrays force straddles at capacity 5: doc 1 (7 ids)
    // spans bins, doc 2 empty, doc 3 null array
    val rng = new scala.util.Random(5)
    val docs = (0L until 40L).map { i =>
      val n = if (i == 2) 0 else if (i == 3) -1 else 1 + rng.nextInt(9)
      val ids = if (n < 0) null else Array.tabulate(n)(k => (i * 100 + k).toInt)
      (i, s"g${i % 2}", ids)
    }.toDF("id", "grp", "ids")
    val mask = TextAnalysis.packedMaskStream(docs, "id", "grp", "ids", capacity = 5L, shardSize = 8L)
    val plain = TextAnalysis.packedTokenStream(docs, "id", "grp", "ids", capacity = 5L, shardSize = 8L)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "shard", "bin", "bin_pos", "token_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toSet
    assert(key(mask) == key(plain), "mask stream must be packedTokenStream plus columns")
    // exactly one doc_start per nonempty doc, at the doc's FIRST token
    val rows = mask.select("id", "bin", "bin_pos", "doc_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val byDoc = rows.groupBy(_._1)
    val nonEmpty = docs.collect().collect {
      case r if !r.isNullAt(2) && r.getSeq[Int](2).nonEmpty => r.getLong(0)
    }.toSet
    assert(byDoc.keySet == nonEmpty, "stream covers exactly the nonempty docs")
    byDoc.foreach { case (id, rs) =>
      val flagged = rs.filter(_._4 == 1)
      assert(flagged.length == 1, s"doc $id flags ${flagged.length} starts")
      val first = rs.minBy(r => (r._2, r._3))
      assert(flagged.head == first, s"doc $id start not at its first token")
    }
    // a straddling doc's continuation rows (bin > first bin) never flag
    val straddlers = byDoc.filter { case (_, rs) => rs.map(_._2).distinct.length > 1 }
    assert(straddlers.nonEmpty, "fixture must contain straddling docs")
    straddlers.foreach { case (id, rs) =>
      val firstBin = rs.map(_._2).min
      assert(rs.filter(_._2 > firstBin).forall(_._4 == 0), s"doc $id continuation flagged")
    }
  }

  test("KMV sketch: k minima match a local recompute; saturation = exact; partitioning-invariant") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(13)
    // ~60 distinct words per group → hundreds of distinct 3-grams
    val docs = (0L until 200L).map { i =>
      val words = Seq.fill(30)(s"w${rng.nextInt(60)}").mkString(" ")
      (i, s"g${i % 2}", words)
    }.toDF("id", "grp", "text")
    val k = 16
    val got = TextAnalysis.ngramKmv(docs, "text", "grp", n = 3, k = k)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // local ground truth: distinct 3-gram md5-32 hashes per group
    def h32(sff: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(sff.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val local = docs.collect().flatMap { r =>
      val ws = r.getString(2).split(" ").filter(_.nonEmpty)
      ws.sliding(3).filter(_.length == 3).map(g => (r.getString(1), h32(g.mkString(" "))))
    }.distinct.groupBy(_._1)
    local.foreach { case (grp, rows) =>
      val hs = rows.map(_._2).sorted
      val (n, est) = got(grp)
      assert(n == hs.length, s"$grp exact: got $n want ${hs.length}")
      val want = if (hs.length < k) hs.length.toLong
                 else (k - 1).toLong * 4294967296L / math.max(hs(k - 1), 1L)
      assert(est == want, s"$grp est: got $est want $want")
      // the estimator actually estimates (sanity, not exactness)
      assert(est > n / 3 && est < n * 3, s"$grp est $est wildly off exact $n")
    }
    // saturation: k above the vocabulary → est == exact
    val sat = TextAnalysis.ngramKmv(docs, "text", "grp", n = 3, k = 100000)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(sat.forall(p => p._1 == p._2), s"saturated sketch must be exact: ${sat.mkString(",")}")
    // partitioning invariance (the two-phase top-k must not depend on layout)
    val rep = TextAnalysis.ngramKmv(docs.repartition(11), "text", "grp", n = 3, k = k)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rep == got)
  }

  test("KMV sketch path: bounded aggregate, one state-sized exchange, no vocabulary shuffle") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(29)
    val docs = (0L until 300L).map { i =>
      (i, s"g${i % 3}", Seq.fill(25)(s"w${rng.nextInt(80)}").mkString(" "))
    }.toDF("id", "grp", "text")
    val k = 12
    val sk = TextAnalysis.ngramKmvSketch(docs.repartition(9), "text", "grp", n = 3, k = k)
    // plan pin (the r13 weak item): the sketch leg's ONLY exchange
    // carries the serialized ≤ k-long partial states — there must be no
    // distinct, no window, and no aggregate keyed by the n-gram hash
    // (any of those is the vocabulary-sized shuffle the sketch exists
    // to avoid). sparkPlan, not executedPlan: AQE wraps the latter.
    val plan = sk.queryExecution.sparkPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length == 1, s"sketch leg must have exactly one exchange:\n$plan")
    assert(plan.toString.contains("kmv_minima"), plan.toString)
    val aggKeys = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
        a.groupingExpressions.map(_.sql)
    }
    assert(aggKeys.length >= 2 && aggKeys.forall(ks => !ks.exists(_.contains("__h"))),
      s"partial+final object-hash aggregate keyed by the group only, got $aggKeys")
    // minima == distinct-then-rank ground truth (identical by construction)
    def h32(g: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(g.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val want = docs.collect().flatMap { r =>
      val ws = r.getString(2).split(" ").filter(_.nonEmpty)
      ws.sliding(3).filter(_.length == 3).map(g => (r.getString(1), h32(g.mkString(" "))))
    }.distinct.groupBy(_._1).map { case (g, rows) => g -> rows.map(_._2).sorted.take(k).toSeq }
    val gotMin = sk.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(gotMin == want, s"minima mismatch: $gotMin vs $want")
    // aggregate semantics: a duplicate arriving at capacity must not
    // evict a genuine minimum (TreeSet.add == false must skip the poll)
    val dup = (Seq.fill(50)(1L) ++ (1L to 5L)).toDF("v").repartition(7)
      .agg(graft.functions.KmvMinima.kmvMinima(col("v"), 3).as("m"))
      .head().getSeq[Long](0)
    assert(dup == Seq(1L, 2L, 3L), s"capped insert under duplicates: $dup")
    // NULLs are ignored; an empty input evaluates to an empty array
    val withNull = Seq[(java.lang.Long, Int)]((null, 0), (9L, 0), (null, 0), (2L, 0))
      .toDF("v", "g").groupBy("g")
      .agg(graft.functions.KmvMinima.kmvMinima(col("v"), 8).as("m"))
      .head().getSeq[Long](1)
    assert(withNull == Seq(2L, 9L), s"null handling: $withNull")
    val empty = Seq.empty[Long].toDF("v")
      .agg(graft.functions.KmvMinima.kmvMinima(col("v"), 3).as("m"))
      .head().getSeq[Long](0)
    assert(empty.isEmpty, s"empty input: $empty")
  }

  test("groupQuantiles: rank-based order statistics, ties, singletons, NULL hygiene") {
    import graft.text.TextAnalysis
    val s = spark
    import s.implicits._
    // g: multiset [10,10,10,20,30,30,40,50,60,100], n=10 →
    //   p10 = rank 1 = 10, p50 = rank 5 = 30, p90 = rank 9 = 60, p99 = rank 10 = 100
    // h: singleton [7] → every quantile = 7
    // NULL group and NULL score must drop (a NULL score must not shift ranks)
    val rows = Seq(10L, 10L, 10L, 20L, 30L, 30L, 40L, 50L, 60L, 100L)
      .map(v => ("g", java.lang.Long.valueOf(v))) ++
      Seq(("h", java.lang.Long.valueOf(7L)), (null.asInstanceOf[String], java.lang.Long.valueOf(1L)),
        ("g", null.asInstanceOf[java.lang.Long]))
    val df = rows.toDF("grp", "v")
    val qs = Seq("p10" -> 1000, "p50" -> 5000, "p90" -> 9000, "p99" -> 9900)
    val got = TextAnalysis.groupQuantiles(df, "grp", "v", qs)
      .collect().map(r => r.getString(0) -> (1 to 4).map(r.getLong)).toMap
    assert(got == Map("g" -> Seq(10L, 30L, 60L, 100L), "h" -> Seq(7L, 7L, 7L, 7L)), s"$got")
    // partitioning invariance (histogram + windows over histogram rows only)
    val rep = TextAnalysis.groupQuantiles(df.repartition(7), "grp", "v", qs)
      .collect().map(r => r.getString(0) -> (1 to 4).map(r.getLong)).toMap
    assert(rep == got)
  }

  test("StatsState: absorb/supersede/compact ≡ one-shot; replay no-op; kmv refresh valve") {
    import graft.text.StatsState
    val s = spark
    import s.implicits._
    def mk(rows: Seq[(Long, String, String)]) = rows.toDF("id", "grp", "text")
    val tbl = "sst_spec"
    val t0 = Seq(
      (1L, "a", "x y z x y z w q r s t"),
      (2L, "a", "p q r s"),
      (3L, "b", "m n o p m n"))
    StatsState.buildStatsState(mk(t0), "text", "grp", "id", tbl, n = 3, k = 8, buckets = 4)
    // absorb new ids, then REPLAY the same batch id — must be a no-op
    val b1 = Seq((4L, "b", "u v w x y"), (5L, "a", "x x y"))
    assert(StatsState.absorbIntoStatsState(s, mk(b1), "text", "grp", "id", tbl, 1L, 3, 8))
    assert(!StatsState.absorbIntoStatsState(s, mk(b1), "text", "grp", "id", tbl, 1L, 3, 8),
      "replaying a seen batch_id must be refused")
    // supersede the HARD way: doc 1 loses most of its text AND migrates
    // from group a to group b — the negation must clear its old-group cells
    val b2 = Seq((1L, "b", "z w only now"))
    assert(StatsState.absorbIntoStatsState(s, mk(b2), "text", "grp", "id", tbl, 2L, 3, 8))
    val effective = Seq((1L, "b", "z w only now"), (2L, "a", "p q r s"),
      (3L, "b", "m n o p m n"), (4L, "b", "u v w x y"), (5L, "a", "x x y"))
    def freqRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.toSeq.drop(1))).sortBy(_._1).toSeq
    val oneShotStats = freqRows(
      graft.text.TextAnalysis.tokenFrequencyStats(mk(effective), "text", "grp", 10))
    // frequency leg: EXACT under removal + group migration (the d8 identity)
    assert(freqRows(StatsState.tokenStatsReadout(s, tbl, 10)) == oneShotStats)
    // kmv leg: removal leaves an over-approximation (union of versions ⊇
    // effective grams), never an under-estimate
    def kmvMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShotKmv = kmvMap(graft.text.TextAnalysis
      .ngramKmv(mk(effective), "text", "grp", 3, 8).select(col("grp"), col("kmv_est")))
    val standingKmv = kmvMap(StatsState.kmvReadout(s, tbl, 8))
    assert(oneShotKmv.keySet == standingKmv.keySet)
    assert(oneShotKmv.forall { case (g, est) => standingKmv(g) >= est },
      s"sketch under deletion must over-approximate: $standingKmv vs $oneShotKmv")
    // compact: read-outs unchanged, log netted (no zero cells, one row
    // per live (id, group, token)), one kmv row per group, replay still guarded
    StatsState.compactStatsState(s, tbl, 8)
    assert(freqRows(StatsState.tokenStatsReadout(s, tbl, 10)) == oneShotStats)
    assert(kmvMap(StatsState.kmvReadout(s, tbl, 8)) == standingKmv)
    val log = s.table(s"${tbl}_freq")
    assert(log.filter(col("c") <= 0L).isEmpty, "compacted log must hold positive nets only")
    assert(log.groupBy("id", "group", "token").count().filter(col("count") > 1L).isEmpty)
    assert(log.filter(col("id") === 1L && col("group") === "a").isEmpty,
      "group-migrated doc's old-group cells must net to zero and vanish")
    assert(s.table(s"${tbl}_kmv").groupBy("group").count()
      .collect().forall(_.getLong(1) == 1L))
    assert(!StatsState.absorbIntoStatsState(s, mk(b1), "text", "grp", "id", tbl, 1L, 3, 8),
      "compaction must not re-open replay")
    // the scheduled-refresh valve restores sketch ≡ one-shot exactly
    StatsState.refreshKmvState(mk(effective), "text", "grp", tbl, 3, 8)
    assert(kmvMap(StatsState.kmvReadout(s, tbl, 8)) == oneShotKmv)
  }

  test("StatsState compact coalesces the freq log to ONE file per (partition, bucket)") {
    import graft.text.StatsState
    val s = spark
    import s.implicits._
    def mk(rows: Seq[(Long, String, String)]) = rows.toDF("id", "grp", "text")
    val tbl = "sst_census_spec"
    // shardSize 2 → ids 1..5 span shards 0..2; buckets 4
    StatsState.buildStatsState(mk(Seq(
      (1L, "a", "x y z w q"), (2L, "a", "p q r s t"), (4L, "b", "m n o p"))),
      "text", "grp", "id", tbl, n = 3, k = 8, buckets = 4, shardSize = 2L)
    // two absorbs touching the same shards → per-absorb appended files
    assert(StatsState.absorbIntoStatsState(s, mk(Seq((3L, "a", "x y q w"))),
      "text", "grp", "id", tbl, 1L, 3, 8))
    assert(StatsState.absorbIntoStatsState(s, mk(Seq((5L, "b", "p q m x"))),
      "text", "grp", "id", tbl, 2L, 3, 8))
    // census: (shard dir, bucket id from the file name) → file count
    def census(): Map[(String, Int), Int] = {
      val root = new java.io.File(
        new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath,
        s"${tbl}_freq")
      val bucketRe = "_(\\d+)\\.c".r
      root.listFiles().filter(d => d.isDirectory && d.getName.startsWith("shard="))
        .flatMap { d =>
          d.listFiles().filter(f => f.isFile && !f.getName.startsWith("."))
            .map(f => (d.getName,
              bucketRe.findFirstMatchIn(f.getName).get.group(1).toInt))
        }
        .groupBy(identity).map { case (key, v) => key -> v.length }
    }
    val before = census()
    assert(before.exists(_._2 > 1),
      s"absorbs should accumulate multiple files per (partition, bucket): $before")
    val reads = graft.text.StatsState.tokenStatsReadout(s, tbl, 10).collect().toSeq
    StatsState.compactStatsState(s, tbl, 8)
    val after = census()
    assert(after.nonEmpty && after.forall(_._2 == 1),
      s"compact must coalesce to one file per (partition, bucket): $after")
    // and the read-out is unchanged by the rewrite
    assert(graft.text.StatsState.tokenStatsReadout(s, tbl, 10).collect().toSeq == reads)
  }

  test("StatsState: supersede leg prunes to the touched shard partitions; broadcast path identical") {
    import graft.text.StatsState
    val s = spark
    import s.implicits._
    val tbl = "sst_prune"
    // 10 shards × 4 docs (shardSize 4): ids 0..39
    val docs = (0L until 40L).map(i => (i, "g", s"tok$i common")).toDF("id", "grp", "text")
    StatsState.buildStatsState(docs, "text", "grp", "id", tbl,
      n = 3, k = 8, buckets = 2, shardSize = 4L)
    // a batch touching ONE shard (ids 8, 9 → shard 2): STATIC pruning —
    // the negation leg's standing scan reads exactly 1 of 10 partitions
    val ids = Seq(8L, 9L).toDF("id")
    val net = StatsState.supersedeNet(s, tbl, ids, Seq(2L), batchId = 5L)
    val plan = planOf(net)
    assert(plan.contains("PartitionFilters") && plan.contains("shard"), plan)
    val pruned = net.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.selectedPartitions.partitionCount
    }
    assert(pruned == Seq(1),
      s"a one-shard batch must prune the standing scan to 1 of 10 partitions, got $pruned")
    val got = net.collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    assert(got == Set((8L, "tok8", -1L), (8L, "common", -1L),
      (9L, "tok9", -1L), (9L, "common", -1L)), s"$got")
    // above the threshold the shards frame rides a broadcast semi-join
    // (no giant literal tree) — same rows
    val viaJoin = StatsState.supersedeNet(s, tbl, ids, Seq(2L), 5L, isinShardMax = 0)
    assert(viaJoin.collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet == got)
  }

  test("StatsState: a crashed partial absorb replays exact; compact keeps in-flight batches raw") {
    import graft.text.StatsState
    val s = spark
    import s.implicits._
    def mk(rows: Seq[(Long, String, String)]) = rows.toDF("id", "grp", "text")
    def freqRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.toSeq.drop(1))).sortBy(_._1).toSeq
    val tbl = "sst_crash"
    val t0 = Seq((1L, "a", "x y z"), (2L, "a", "p q"), (3L, "b", "m n"))
    StatsState.buildStatsState(mk(t0), "text", "grp", "id", tbl,
      n = 3, k = 8, buckets = 4, shardSize = 2L)
    // CRASH SIMULATION for batch 9 = {(1,a,"x w"), (4,b,"u v")}: the
    // attempt appended its supersede negation of doc 1 AND part of its
    // contributions, then died before kmv/docs/marker — plant exactly
    // those rows through the same writer absorb uses
    StatsState.appendFreq(s, tbl, Seq(
      (1L, "a", "x", -1L, 9L, 0L), (1L, "a", "y", -1L, 9L, 0L),
      (1L, "a", "z", -1L, 9L, 0L), (4L, "b", "u", 1L, 9L, 2L)
    ).toDF("id", "group", "token", "c", "batch_id", "shard"))
    // the redelivery finds no marker, nets out the tagged partial rows
    // along with the genuine standing contribution, and lands EXACT
    assert(StatsState.absorbIntoStatsState(s, mk(Seq((1L, "a", "x w"), (4L, "b", "u v"))),
      "text", "grp", "id", tbl, 9L, 3, 8))
    val effective = Seq((1L, "a", "x w"), (2L, "a", "p q"),
      (3L, "b", "m n"), (4L, "b", "u v"))
    assert(freqRows(StatsState.tokenStatsReadout(s, tbl, 10)) ==
      freqRows(TextAnalysis.tokenFrequencyStats(mk(effective), "text", "grp", 10)))
    assert(s.table(s"${tbl}_docs").groupBy("id").count()
      .filter(col("count") > 1L).isEmpty, "roster must stay duplicate-free across the retry")
    // in-flight protection: plant a partial batch 11 (unmarked), compact
    // — the tagged rows must stay RAW (folding them into the settled net
    // would double-count the retry's recovery probe)
    StatsState.appendFreq(s, tbl,
      Seq((5L, "a", "k", 1L, 11L, 2L)).toDF("id", "group", "token", "c", "batch_id", "shard"))
    StatsState.compactStatsState(s, tbl, 8)
    assert(s.table(s"${tbl}_freq").filter(col("batch_id") === 11L).count() == 1L,
      "compaction must not fold an unmarked (in-flight) batch's rows")
    // and the retry of batch 11 still lands exact AFTER the compact
    assert(StatsState.absorbIntoStatsState(s, mk(Seq((5L, "a", "k k j"))),
      "text", "grp", "id", tbl, 11L, 3, 8))
    assert(freqRows(StatsState.tokenStatsReadout(s, tbl, 10)) ==
      freqRows(TextAnalysis.tokenFrequencyStats(
        mk(effective :+ (5L, "a", "k k j")), "text", "grp", 10)))
  }

  test("StatsState: loud requires — multi-version batch, non-positive batchId, missing layout") {
    import graft.text.StatsState
    val s = spark
    import s.implicits._
    def mk(rows: Seq[(Long, String, String)]) = rows.toDF("id", "grp", "text")
    val tbl = "sst_req"
    StatsState.buildStatsState(mk(Seq((1L, "a", "x"))), "text", "grp", "id", tbl,
      n = 3, k = 8, buckets = 2, shardSize = 4L)
    // two versions of one id in a batch have no defined latest
    val dup = intercept[IllegalArgumentException] {
      StatsState.absorbIntoStatsState(s, mk(Seq((7L, "a", "t"), (7L, "a", "u"))),
        "text", "grp", "id", tbl, 3L, 3, 8)
    }
    assert(dup.getMessage.contains("latestOnly"), dup.getMessage)
    // 0 and -1 are the build/compaction tags — user batches must be positive
    intercept[IllegalArgumentException] {
      StatsState.absorbIntoStatsState(s, mk(Seq((8L, "a", "t"))),
        "text", "grp", "id", tbl, 0L, 3, 8)
    }
    // a log created outside buildStatsState: no bucket spec → refuse
    // (a silently assumed layout would mis-place appends)
    Seq((1L, "a", "t", 1L, 0L, 0L)).toDF("id", "group", "token", "c", "batch_id", "shard")
      .write.partitionBy("shard").saveAsTable("sst_nobucket_freq")
    val nb = intercept[IllegalArgumentException] {
      StatsState.absorbIntoStatsState(s, mk(Seq((9L, "a", "t"))),
        "text", "grp", "id", "sst_nobucket", 4L, 3, 8)
    }
    assert(nb.getMessage.contains("bucket"), nb.getMessage)
    // bucketed but no pinned shard size → refuse (a guessed size would
    // silently miss standing rows in the supersede prune)
    Seq((1L, "a", "t", 1L, 0L, 0L)).toDF("id", "group", "token", "c", "batch_id", "shard")
      .write.partitionBy("shard").bucketBy(2, "token").sortBy("token")
      .saveAsTable("sst_noprop_freq")
    val np = intercept[IllegalArgumentException] {
      StatsState.absorbIntoStatsState(s, mk(Seq((9L, "a", "t"))),
        "text", "grp", "id", "sst_noprop", 4L, 3, 8)
    }
    assert(np.getMessage.contains(StatsState.ShardSizeProp), np.getMessage)
  }

  test("token frequency stats: exact integer ratios, tie-safe top-k mass, partitioning-invariant") {
    val s = spark
    import s.implicits._
    // group g: a×5, b×3, c×3, d×1, e×1 → total 13, types 5, hapax 2;
    // top-2 mass = 5 + 3 = 8 with a TIE at the boundary (b and c both
    // 3) — the sum must not depend on which survives the rank
    val docs = Seq(
      (1L, "g", "a a a b b c"),
      (2L, "g", "a a b c c d"),
      (3L, "g", "e"),
      (4L, null.asInstanceOf[String], "zz zz") // NULL group drops
    ).toDF("id", "grp", "text")
    val out = TextAnalysis.tokenFrequencyStats(docs, "text", "grp", topK = 2)
      .collect()
    assert(out.length == 1, s"NULL group must drop: ${out.mkString(",")}")
    val r = out(0)
    assert(r.getString(0) == "g")
    assert(r.getLong(1) == 13L, s"total ${r.getLong(1)}")
    assert(r.getLong(2) == 5L, s"types ${r.getLong(2)}")
    assert(r.getLong(3) == 2L, s"hapax ${r.getLong(3)}")
    assert(r.getLong(4) == 8L, s"top2 mass ${r.getLong(4)}")
    assert(r.getLong(5) == 5L * 10000 / 13, s"ttr ${r.getLong(5)}")
    assert(r.getLong(6) == 2L * 10000 / 5, s"hapax_x4 ${r.getLong(6)}")
    assert(r.getLong(7) == 8L * 10000 / 13, s"top2 share ${r.getLong(7)}")
    // partitioning invariance of the two-phase top-k
    val rep = TextAnalysis.tokenFrequencyStats(docs.repartition(7), "text", "grp", topK = 2)
      .collect()(0)
    assert(rep.toSeq == r.toSeq)
  }

  test("appended output column names collide loudly instead of duplicating") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "g", 5L, "some text")).toDF("id", "grp", "tok", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.packSequences(d.withColumn("bin_first", lit(1)), "id", "grp", "tok", 10L, 10L)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.epochShuffle(d.withColumn("pos", lit(1)), "id", 1, 4)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.temperatureMix(d.withColumn("copy", lit(1)), "id", "grp", "tok", 10L)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.qualityInt(d.withColumn("iq", lit(1)), "text", "id")
    }
  }

  test("plan shapes: gate/packer/mixer never sort-merge-join or globally sort the corpus") {
    val s = spark
    import s.implicits._
    val docs = (0L until 50L).map(i => (i, s"g${i % 3}", i % 7)).toDF("id", "grp", "score")
    // x11 gate: corpus side must ride BROADCAST joins (the thresholds
    // are group-sized); a SortMergeJoin would mean the corpus is being
    // shuffled against its own statistics
    val gate = planOf(TextAnalysis.topQualityFraction(docs, "id", "grp", "score", 2000))
    assert(!gate.contains("SortMergeJoin"), "gate must broadcast thresholds:\n" + gate)
    assert(gate.contains("BroadcastHashJoin") || gate.contains("BroadcastNestedLoopJoin"),
      "gate should join via broadcast:\n" + gate)
    // p10 packer: exactly one data shuffle (the (group, shard) window
    // partitioning); no join at all
    val toks = (0L until 50L).map(i => (i, s"s${i % 2}", 10L)).toDF("id", "src", "tok")
    val pack = planOf(TextAnalysis.packSequences(toks, "id", "src", "tok", 50L, 16L))
    assert(!pack.contains("Join"), "packer must not join:\n" + pack)
    assert(pack.split("Exchange").length - 1 <= 2, // hashpartition (+AQE repr)
      "packer should shuffle once, by (group, shard):\n" + pack)
    // p11 mixer: budgets broadcast; corpus never sort-merge-joined
    val mix = planOf(TextAnalysis.temperatureMix(toks, "id", "src", "tok", 100L))
    assert(!mix.contains("SortMergeJoin"), "mixer must broadcast budgets:\n" + mix)
    // p13 manifest: the packer plus ONE map-only explode — no new
    // join, no new shuffle class beyond the packer's window
    val man = planOf(TextAnalysis.packedBins(toks, "id", "src", "tok", 50L, 16L))
    assert(!man.contains("Join"), "manifest must not join:\n" + man)
    assert(man.split("Exchange").length - 1 <= 2,
      "manifest shuffles once, like the packer:\n" + man)
    assert(man.contains("Generate"), "manifest explodes per-bin rows:\n" + man)
  }

  test("temperature mix: equals repeat with sqrt-derived budgets; both regimes; NULL group once") {
    val s = spark
    import s.implicits._
    // group token masses chosen so α=1/2 budgets at T=1200 straddle
    // both regimes: big (tot 900, w 30) gets 1200·30/50 = 720 < 900
    // (thins); small (tot 400, w 20) gets 1200·20/50 = 480 > 400
    // (repeats); NULL-group docs ride along untouched
    val docs = ((0L until 90L).map(i => (i, "big", 10L)) ++
      (100L until 120L).map(i => (i, "small", 20L)) ++
      Seq((200L, null.asInstanceOf[String], 7L))).toDF("id", "grp", "tok")
    val got = TextAnalysis.temperatureMix(docs, "id", "grp", "tok",
      targetTokens = 1200L, seed = "x")
    // the mixer IS tokenBudgetRepeat under budgets derived from the
    // floor(sqrt) weights — p7's machinery carries its own spec, so
    // equality here pins exactly the weight/budget derivation
    val expect = TextAnalysis.tokenBudgetRepeat(docs, "id", "grp", "tok",
      budgets = Map("big" -> 720L, "small" -> 480L), seed = "x")
    assert(got.select("id", "copy").as[(Long, Long)].collect().sorted.toSeq ==
      expect.select("id", "copy").as[(Long, Long)].collect().sorted.toSeq)
    // regimes: big thins (strictly fewer emitted rows than docs, no
    // repeats), small repeats (every doc at least once, some twice)
    val bigRows = got.filter(col("grp") === "big")
    assert(bigRows.count() < 90L && bigRows.agg(max("copy")).head().getLong(0) == 0L)
    val smallRows = got.filter(col("grp") === "small")
    assert(smallRows.select("id").distinct().count() == 20L)
    assert(smallRows.count() > 20L)
    // NULL group: exactly once, copy 0
    assert(got.filter(col("grp").isNull).select("id", "copy")
      .as[(Long, Long)].collect().toSeq == Seq((200L, 0L)))
    // deterministic: a second run is identical
    val again = TextAnalysis.temperatureMix(docs, "id", "grp", "tok",
      targetTokens = 1200L, seed = "x")
    assert(again.select("id", "copy").as[(Long, Long)].collect().sorted.toSeq ==
      got.select("id", "copy").as[(Long, Long)].collect().sorted.toSeq)
  }

  test("sequence packing: placements match a local sequential packer; straddles and empties behave") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    // token counts straddle the capacity on purpose: some docs are
    // longer than a whole bin (span several), some are empty
    val rows = (0L until 300L).map { i =>
      (i, s"src${rng.nextInt(2)}", if (i % 37 == 0) 0L else rng.nextInt(130).toLong)
    }
    val docs = rows.toDF("id", "src", "tok")
    val got = TextAnalysis.packSequences(docs, "id", "src", "tok",
        capacity = 50L, shardSize = 64L)
      .select("id", "shard", "bin_first", "bin_last", "offset_in_bin")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // local model: per (src, shard) in id order, running prefix sum
    val local = rows.groupBy { case (i, src, _) => (src, i / 64L) }
      .flatMap { case ((_, shard), grp) =>
        var cum = 0L
        grp.sortBy(_._1).map { case (i, _, tok) =>
          val first = cum / 50L
          val last = if (tok <= 0L) first else (cum + tok - 1L) / 50L
          val off = cum % 50L
          cum += tok
          i -> ((shard, first, last, off))
        }
      }
    assert(got == local.toMap, "distributed placements differ from the sequential packer")
    // invariants: offsets inside the bin; a doc wider than capacity
    // spans >= 2 bins; zero-token docs are zero-width
    rows.foreach { case (i, _, tok) =>
      val (_, first, last, off) = got(i)
      assert(off >= 0L && off < 50L)
      if (tok > 50L) assert(last > first, s"doc $i with $tok tokens should straddle")
      if (tok == 0L) assert(last == first)
    }
  }

  test("packed token stream: bins are contiguous slices of the in-order doc concat") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(17)
    val rows = (0L until 120L).map { i =>
      val n = if (i % 37 == 0) 0 else rng.nextInt(130)
      (i, s"src${rng.nextInt(2)}", (0 until n).map(_ => rng.nextInt(100)).toArray)
    }
    val docs = rows.toDF("id", "src", "ids")
    val cap = 50L
    val got = TextAnalysis.packedTokenStream(docs, "id", "src", "ids", cap, 64L)
      .select("src", "shard", "bin", "bin_pos", "token_id").collect()
      .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)), r.getLong(3), r.getInt(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    // local model: per (src, shard) concatenate id arrays in id order,
    // slice every `cap` tokens — the single-sequence packer's output
    val local = rows.groupBy { case (i, src, _) => (src, i / 64L) }
      .toSeq.flatMap { case ((src, shard), grp) =>
        grp.sortBy(_._1).flatMap(_._3.toSeq).zipWithIndex.map { case (tok, pos) =>
          ((src, shard, pos / cap), pos % cap, tok)
        }
      }.sortBy(t => (t._1, t._2))
    assert(got == local, s"stream differs from the local packer (${got.size} vs ${local.size})")
  }

  test("epoch-ordered packing: placements follow the explicit (shard, pos) order") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(23)
    // explicit coordinates deliberately at odds with id order: shard
    // cycles mod 3, pos is a scrambled (non-monotone in id) rank
    val rows = (0L until 200L).map { i =>
      (i, s"src${rng.nextInt(2)}", if (i % 37 == 0) 0L else rng.nextInt(130).toLong,
        i % 3L, (i * 67L) % 199L)
    }
    val docs = rows.toDF("id", "src", "tok", "shard", "pos")
    val got = TextAnalysis.packSequencesBy(docs, "id", "src", "tok",
        capacity = 50L, shardCol = "shard", posCol = "pos")
      .select("id", "shard", "bin_first", "bin_last", "offset_in_bin")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // local model: per (src, shard) in (pos, id) order — NOT id order
    val local = rows.groupBy { case (_, src, _, shard, _) => (src, shard) }
      .flatMap { case ((_, shard), grp) =>
        var cum = 0L
        grp.sortBy(t => (t._5, t._1)).map { case (i, _, tok, _, _) =>
          val first = cum / 50L
          val last = if (tok <= 0L) first else (cum + tok - 1L) / 50L
          val off = cum % 50L
          cum += tok
          i -> ((shard, first, last, off))
        }
      }
    assert(got == local.toMap, "explicit-order placements differ from the sequential packer")
  }

  test("epoch-ordered token streams: epochs are permutations of one token multiset") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(29)
    val rows = (0L until 150L).map { i =>
      val n = if (i % 31 == 0) 0 else rng.nextInt(90)
      (i, s"src${rng.nextInt(2)}", (0 until n).map(_ => rng.nextInt(100)).toArray)
    }
    val docs = rows.toDF("id", "src", "ids")
    def stream(epoch: Int) = {
      val perm = TextAnalysis.epochShuffle(docs, "id", epoch, nShards = 4)
      TextAnalysis.packedTokenStreamBy(perm, "id", "src", "ids",
          capacity = 50L, shardCol = "shard", posCol = "pos")
        .select("src", "shard", "bin", "bin_pos", "token_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    }
    val (e0, e1) = (stream(0), stream(1))
    // the SAME token multiset flows through every epoch...
    assert(e0.map(_._5).sorted.toSeq == e1.map(_._5).sorted.toSeq,
      "epochs must emit one token multiset")
    assert(e0.map(_._5).sorted.toSeq == rows.flatMap(_._3).sorted.toSeq,
      "the stream must be exactly the corpus's tokens")
    // ...at genuinely different coordinates (the permutation moved)
    assert(e0.sortBy(t => (t._1, t._2, t._3, t._4)).toSeq
      != e1.sortBy(t => (t._1, t._2, t._3, t._4)).toSeq,
      "epoch 0 and 1 must place tokens differently")
    // per (group, shard, bin): non-final bins fill to capacity — the
    // tiling invariant holds in permuted order too
    val fills = e0.groupBy(t => (t._1, t._2, t._3)).view.mapValues(_.map(_._4).max + 1)
    val lastBin = fills.keys.groupBy(k => (k._1, k._2)).view
      .mapValues(_.map(_._3).max)
    fills.foreach { case ((src, sh, bin), fill) =>
      if (bin < lastBin((src, sh))) assert(fill == 50L, s"bin ($src,$sh,$bin) fill $fill")
    }
  }

  test("bin manifest: segments tile docs and bins exactly; straddle continuity holds") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(13)
    val rows = (0L until 300L).map { i =>
      (i, s"src${rng.nextInt(2)}", if (i % 37 == 0) 0L else rng.nextInt(130).toLong)
    }
    val docs = rows.toDF("id", "src", "tok")
    val cap = 50L
    val segs = TextAnalysis.packedBins(docs, "id", "src", "tok",
        capacity = cap, shardSize = 64L)
      .select("id", "src", "tok", "shard", "bin", "seg_start", "seg_len", "bin_offset")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // every doc appears (zero-token docs included, as one 0-length row)
    assert(segs.map(_._1).distinct.length == rows.length)
    // per doc: segments tile [0, tok) contiguously across CONSECUTIVE bins
    segs.groupBy(_._1).foreach { case (id, ss) =>
      val ordered = ss.sortBy(_._5)
      val tok = ordered.head._3
      assert(ordered.map(_._7).sum == tok, s"doc $id segments must sum to $tok")
      assert(ordered.head._6 == 0L, s"doc $id first segment starts at token 0")
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._5 == a._5 + 1, s"doc $id bins must be consecutive")
          assert(b._6 == a._6 + a._7, s"doc $id segments must be contiguous")
          assert(b._8 == 0L, s"doc $id continuation rows start at bin offset 0")
        case _ =>
      }
      // a continuation row exists iff the doc straddles
      if (tok > 0L) assert(ordered.last._6 + ordered.last._7 == tok)
    }
    // per (src, shard, bin): segments tile from offset 0 and sum to
    // <= capacity — exactly capacity for every non-final bin of a shard
    segs.groupBy(t => (t._2, t._4, t._5)).foreach { case ((src, shard, bin), ss) =>
      val filled = ss.map(_._7).sum
      assert(filled <= cap, s"bin ($src,$shard,$bin) overfilled: $filled")
      val maxBin = segs.filter(t => t._2 == src && t._4 == shard).map(_._5).max
      if (bin < maxBin) assert(filled == cap,
        s"non-final bin ($src,$shard,$bin) must be full, got $filled")
      val nz = ss.filter(_._7 > 0L).sortBy(_._8)
      if (nz.nonEmpty) {
        assert(nz.head._8 == 0L, s"bin ($src,$shard,$bin) must fill from offset 0")
        nz.sliding(2).foreach {
          case Array(a, b) => assert(b._8 == a._8 + a._7,
            s"bin ($src,$shard,$bin) segments must tile: ${a}, ${b}")
          case _ =>
        }
      }
    }
  }
}
