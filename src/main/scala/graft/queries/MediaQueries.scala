package graft
package queries

import graft.ann.Ann
import graft.multimodal.Multimodal
import graft.SparkEntry.t
import graft.queries.Fixtures._
import org.apache.spark.sql.functions._

/** Multimodal media metadata, signals and embeddings: the m* queries,
  * each engine next to its DuckDB oracle. */
private[graft] object MediaQueries {

  private val m9VectorSourceSql = "SELECT doc_id AS id, [ coalesce(list_sum(list_transform(s[16*d+1 : least(16*d+16, len(s))], x -> abs(x))), 0)::DOUBLE for d in range(0, 16) ] AS v FROM (SELECT doc_id, list_transform(range(1, length(text)+1), i -> (ascii(substr(text, i, 1)) - CASE WHEN i = 1 THEN 0 ELSE ascii(substr(text, i-1, 1)) END) * 256) AS s FROM documents)"

  // `sg` is a window SUM, which DuckDB types HUGEINT — so the composite
  // id must be cast back to BIGINT: a HUGEINT output column reaches
  // pandas as float64 (140000.0 vs Spark's int64 140000), which is
  // value-equal under the local selfcheck's check_dtype=False compare
  // but hash-DIFFERENT under the driver's canonicalization. This was
  // the r16–r18 m10 red row: the only oracle emitting HUGEINT ids, and
  // the only persistent hash_match=false — representation, not numerics
  // (the fixed-point exactness sweep was chasing the wrong class).
  private val m10VectorSourceSql = "SELECT (doc_id*1000 + sg)::BIGINT AS id, [ coalesce(fl[i+1], 0)::DOUBLE for i in range(0, 16) ] AS v FROM (SELECT doc_id, sg, list(ws ORDER BY fi) AS fl FROM (SELECT doc_id, fi, ws, sum(cut) OVER (PARTITION BY doc_id ORDER BY fi ROWS UNBOUNDED PRECEDING) AS sg FROM (SELECT doc_id, fi, ws, CASE WHEN abs(ws - lag(ws) OVER (PARTITION BY doc_id ORDER BY fi)) > 150 THEN 1 ELSE 0 END AS cut FROM (SELECT doc_id, fi, list_sum(b[fi*16+1 : least(fi*16+16, len(b))])::BIGINT AS ws FROM (SELECT doc_id, unnest(range(0, (length(text)+15)//16)) AS fi, list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))::BIGINT) AS b FROM documents WHERE doc_id % 20 = 0)))) GROUP BY 1, 2)"

  val defs: Seq[QueryDef] = Seq(

    QueryDef("m1_multimodal_meta", ((s, dir) =>
      // payloads are REAL PGM images (text bytes wrapped at width 16,
      // zero-padded) and the decode is a genuine Netpbm parse — the
      // features carry the DECODED dimensions + pixel stats, all
      // recomputable by the oracle from the text bytes + the encoder
      // contract (header = 11 + digits(height) bytes)
      Multimodal.features(s, t(s, dir, "documents")).orderBy("doc_id")),
      """WITH d AS (
        |  SELECT doc_id, length(text)::BIGINT AS n,
        |    list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))::BIGINT) AS bytes
        |  FROM documents),
        |p AS (SELECT doc_id, bytes, ((n + 15) // 16)::BIGINT AS h FROM d)
        |SELECT doc_id, 16::BIGINT AS width, h AS height, (16 * h)::BIGINT AS n_pixels,
        |  (11 + length(h::VARCHAR) + 16 * h)::BIGINT AS payload_bytes,
        |  (coalesce(list_sum(bytes), 0) % 997)::BIGINT AS checksum,
        |  h AS n_frames,
        |  coalesce(bytes[1], -1)::BIGINT AS first_byte
        |FROM p ORDER BY doc_id""".stripMargin),

    QueryDef("m2_multimodal_resize", ((s, dir) => {
      // the real image loop: decode PGM → 2-D average-pool (2×2 blocks,
      // integer div — exact) → re-encode as a smaller PGM → decode
      // AGAIN for features; one map-only typed pipeline, and DuckDB
      // recomputes the resized raster from the text bytes
      val media = Multimodal.mediaFromDocs(t(s, dir, "documents"))
      Multimodal.extractFeatures(Multimodal.asMedia(Multimodal.resize(media, 2))).toDF()
        .select("doc_id", "width", "height", "n_pixels", "checksum", "first_byte")
        .orderBy("doc_id")
    }),
      """WITH d AS (
        |  SELECT doc_id, length(text)::BIGINT AS n,
        |    list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))::BIGINT) AS tb
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, ((n + 15) // 16)::BIGINT AS h,
        |    [ coalesce(tb[i+1], 0) for i in range(0, 16 * ((n + 15) // 16)) ] AS px
        |  FROM d),
        |r AS (
        |  SELECT doc_id, (h // 2)::BIGINT AS h2,
        |    [ (px[32*(i//8) + 2*(i%8) + 1] + px[32*(i//8) + 2*(i%8) + 2]
        |       + px[32*(i//8) + 16 + 2*(i%8) + 1] + px[32*(i//8) + 16 + 2*(i%8) + 2]) // 4
        |      for i in range(0, 8 * (h // 2)) ] AS rp
        |  FROM p)
        |SELECT doc_id, 8::BIGINT AS width, h2 AS height, (8 * h2)::BIGINT AS n_pixels,
        |  (coalesce(list_sum(rp), 0) % 997)::BIGINT AS checksum,
        |  coalesce(rp[1], -1)::BIGINT AS first_byte
        |FROM r ORDER BY doc_id""".stripMargin),

    QueryDef("m3_multimodal_ann", ((s, dir) => {
      // the full multimodal loop in ONE plan: binary payload → embed
      // stub → exact cosine top-k (graft.ann) — media similarity search
      // with every stage map-only until the ANN join
      val emb = Multimodal.embed(Multimodal.mediaFromDocs(t(s, dir, "documents"))).toDF()
      Ann.bruteForceTopK(emb, "embedding", "doc_id", col("id") < 5, k = 3)
        .orderBy("query_id", "rnk")
    }),
      // the m4 embed-stub derivation through the shared fixed-projection
      // brute-force chain (one definition with s1 and the audit)
      Ann.bruteOracleSql(k = 3, queryPred = "q.id < 5",
      source = m4VectorSourceSql),
      audit = Some(Ann.bruteAuditSql(k = 3, queryPred = "q.id < 5",
      source = m4VectorSourceSql))),

    QueryDef("m4_multimodal_ann_indexed", ((s, dir) => {
      // m3's media-similarity loop in the DEPLOYMENT shape: the embed
      // stub feeds a standing IVF inverted file (trained centroids,
      // cell-bucketed layout) and probes ride the bucketed cells — no
      // exact all-pairs join anywhere, the multimodal corpus scales
      // like the s5/s9 vector indexes. Pure composition: zero new
      // machinery, buildIvfIndex + ivfTopKIndexed over embed()
      val emb = Multimodal.embed(Multimodal.mediaFromDocs(t(s, dir, "documents"))).toDF()
      val table = graft.core.Tables.scoped("ivf_idx_m4")
      Ann.buildIvfIndex(emb, "embedding", "doc_id", table)
      Ann.ivfTopKIndexed(s, table, queryFilter = col("id") < 5, k = 3)
        .orderBy("query_id", "rnk")
    }),
      // m3's embed-stub derivation swapped in as the vector source of the
      // FULL trained-IVF oracle chain (seed, Lloyd rounds, routing, nprobe
      // probing) — one parameter, the rest is s3/s5's proven construction
      Ann.ivfKmeansOracleSql(k = 3, queryPred = "id < 5",
      source = m4VectorSourceSql),
      audit = Some(Ann.ivfAuditSql(k = 3, queryPred = "id < 5",
      source = m4VectorSourceSql))),

    QueryDef("m6_multimodal_rgb", ((s, dir) => {
      // the codec's COLOR branch end to end: text-byte triples become
      // RGB pixels in a real PPM (P6) payload, the decoder validates
      // channels and emits exact per-channel sums — zero padding is
      // sum-neutral, so DuckDB recomputes each channel from the text
      // bytes by stride-3 positions
      Multimodal.rgbFeatures(Multimodal.mediaFromDocsRgb(t(s, dir, "documents")))
        .toDF().orderBy("doc_id")
    }),
      """WITH d AS (
        |  SELECT doc_id, length(text)::BIGINT AS n,
        |    list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))::BIGINT) AS tb
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n, tb,
        |    (((n + 2) // 3 + 15) // 16)::BIGINT AS h
        |  FROM d)
        |SELECT doc_id, 16::BIGINT AS width, h AS height, (16 * h)::BIGINT AS n_pixels,
        |  coalesce(list_sum([tb[i+1] for i in range(0, n) if i % 3 = 0]), 0)::BIGINT AS r_sum,
        |  coalesce(list_sum([tb[i+1] for i in range(0, n) if i % 3 = 1]), 0)::BIGINT AS g_sum,
        |  coalesce(list_sum([tb[i+1] for i in range(0, n) if i % 3 = 2]), 0)::BIGINT AS b_sum
        |FROM p ORDER BY doc_id""".stripMargin),

    QueryDef("m7_audio_energy", ((s, dir) => {
      // the codec family's AUDIO branch end to end: text bytes
      // delta-encode into PCM16 samples in a real RIFF/WAV payload (chunk-walking
      // parser, not a fixed-offset read), the decoder emits the
      // waveform statistics an audio front-end gates on — duration,
      // absolute energy, peak, zero crossings — all integer, all
      // recomputable by DuckDB from the text bytes; full-scale signed
      // samples mean an endianness or width bug in the codec shifts
      // every statistic
      Multimodal.audioFeatures(Multimodal.audioFromDocs(t(s, dir, "documents")))
        .toDF().orderBy("doc_id")
    }),
      // the waveform recompute from text bytes: delta samples
      // (b[i]-b[i-1])·256 with b[0]=0, abs/peak/sign-change statistics
      // over the sample list, payload = 44-byte canonical header + 2
      // bytes per sample
      """WITH d AS (
        |  SELECT doc_id, length(text)::BIGINT AS n,
        |    list_transform(range(1, length(text)+1),
        |      i -> (ascii(substr(text, i, 1)) - CASE WHEN i = 1 THEN 0 ELSE ascii(substr(text, i-1, 1)) END) * 256) AS s
        |  FROM documents)
        |SELECT doc_id, n AS n_samples, 8000::BIGINT AS sample_rate,
        |  (n * 1000 // 8000)::BIGINT AS duration_ms,
        |  (44 + 2 * n)::BIGINT AS payload_bytes,
        |  coalesce(list_sum(list_transform(s, x -> abs(x))), 0)::BIGINT AS sum_abs,
        |  coalesce(list_max(list_transform(s, x -> abs(x))), 0)::BIGINT AS peak,
        |  coalesce(len(list_filter(range(2, n+1), i -> (s[i] < 0) <> (s[i-1] < 0))), 0)::BIGINT AS zero_crossings
        |FROM d ORDER BY doc_id""".stripMargin),

    QueryDef("m9_audio_ann_indexed", ((s, dir) => {
      // the AUDIO branch's media-similarity loop in the deployment
      // shape (what m4 is to the image branch): WAV payloads decode,
      // the per-window energy profile embeds, and the vectors feed a
      // standing trained-IVF inverted file — probes ride the bucketed
      // cells, no exact all-pairs join anywhere. Pure composition:
      // audioEmbed + buildIvfIndex + ivfTopKIndexed, zero new
      // index machinery
      val emb = Multimodal.audioEmbed(Multimodal.audioFromDocs(t(s, dir, "documents"))).toDF()
      val table = graft.core.Tables.scoped("ivf_idx_m9")
      Ann.buildIvfIndex(emb, "embedding", "doc_id", table)
      Ann.ivfTopKIndexed(s, table, queryFilter = col("id") < 5, k = 3)
        .orderBy("query_id", "rnk")
    }),
      // m7's delta-waveform derivation + the per-window |s| sums swapped
      // in as the vector source of the FULL trained-IVF oracle chain —
      // the m4 parameterization applied to the audio branch
      Ann.ivfKmeansOracleSql(k = 3, queryPred = "id < 5",
      source = m9VectorSourceSql),
      audit = Some(Ann.ivfAuditSql(k = 3, queryPred = "id < 5",
      source = m9VectorSourceSql))),

    QueryDef("m10_segment_ann_indexed", ((s, dir) => {
      // the VIDEO branch's similarity loop, completing the media-
      // similarity story across all three branches (image m4, audio
      // m9, video here): m8's scene segments each embed as the
      // fixed-length head profile of their frame window-sums
      // (seg_id = doc_id·1000 + seg_idx) and feed the standing
      // trained-IVF index — "find similar shots" in the same
      // deployment shape; 1-in-20 docs bounds the frame fan-out as
      // m5/m8 do
      val media = Multimodal.mediaFromDocs(
        t(s, dir, "documents").filter(col("doc_id") % 20 === 0))
      val emb = Multimodal.segmentEmbed(media, threshold = 150L).toDF()
      val table = graft.core.Tables.scoped("ivf_idx_m10")
      Ann.buildIvfIndex(emb, "embedding", "seg_id", table)
      // queries = segment 0 of the first five sampled docs (seg_id
      // packing makes that id % 1000 = 0 below 100000)
      Ann.ivfTopKIndexed(s, table,
          queryFilter = col("id") % 1000 === 0 && col("id") < 100000, k = 3)
        .orderBy("query_id", "rnk")
    }),
      // the m8 segmentation chain (frame window-sums, lag-delta cut
      // flags, running cut count) grouped into per-segment frame lists,
      // head-profiled to 16 dims, swapped in as the vector source of the
      // trained-IVF oracle chain — the m4/m9 parameterization applied to
      // the video branch; the zero-pad tail of the raster is sum-neutral
      // so frames derive from the raw text bytes exactly as m8's oracle
      Ann.ivfKmeansOracleSql(k = 3,
      queryPred = "id % 1000 = 0 AND id < 100000",
      source = m10VectorSourceSql),
      audit = Some(Ann.ivfAuditSql(k = 3,
      queryPred = "id % 1000 = 0 AND id < 100000", source = m10VectorSourceSql))),

    QueryDef("m10_stage_digest", ((s, dir) => {
      // the r18 verdict's m10 localization harness: the SAME chain as
      // m10_segment_ann_indexed, but emitting one exact-integer digest
      // row per stage (index, centroids, routing, shortlist, top-k) —
      // all-BIGINT output, so a driver-side representation difference
      // cannot red it; a red row here names the first diverging stage
      val media = Multimodal.mediaFromDocs(
        t(s, dir, "documents").filter(col("doc_id") % 20 === 0))
      val emb = Multimodal.segmentEmbed(media, threshold = 150L).toDF()
      val table = graft.core.Tables.scoped("ivf_idx_m10d")
      Ann.buildIvfIndex(emb, "embedding", "seg_id", table)
      Ann.ivfStageDigests(s, table,
          queryFilter = col("id") % 1000 === 0 && col("id") < 100000, k = 3)
        .orderBy("stage")
    }),
      // the same chain as per-stage integer digests (r18 verdict 1a): an
      // all-BIGINT localization probe the driver's compare adjudicates
      // stage by stage — immune to representation/rounding divergence
      Ann.ivfStageDigestSql(k = 3,
      queryPred = "id % 1000 = 0 AND id < 100000",
      source = m10VectorSourceSql)),

    QueryDef("m8_scene_cuts", ((s, dir) => {
      // temporal segmentation over the decoded frame stream (the
      // shot-boundary step before per-segment sampling): a cut opens a
      // new segment where the inter-frame window-sum jumps > 150;
      // map-only decode + ONE doc-keyed shuffle (lag + running cut
      // count + the per-segment agg all ride one window partitioning);
      // 1-in-20 docs keeps the frame fan-out oracle-sized
      val media = Multimodal.mediaFromDocs(
        t(s, dir, "documents").filter(col("doc_id") % 20 === 0))
      Multimodal.sceneCuts(media, threshold = 150L)
        .orderBy("doc_id", "seg_idx")
    }),
      // the m5 frame construction + SQL windows: lag-delta cut flags,
      // running cut count = segment id, then the per-segment rollup
      """WITH b AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))::BIGINT) AS bytes
        |  FROM documents WHERE doc_id % 20 = 0),
        |fr AS (
        |  SELECT doc_id, unnest(range(0, (len(bytes)+15)//16)) AS fi, bytes
        |  FROM b),
        |wsum AS (
        |  SELECT doc_id, fi,
        |    list_sum(bytes[fi*16 + 1 : least(fi*16 + 16, len(bytes))])::BIGINT AS ws
        |  FROM fr),
        |c AS (
        |  SELECT doc_id, fi, ws,
        |    CASE WHEN abs(ws - lag(ws) OVER (PARTITION BY doc_id ORDER BY fi)) > 150
        |         THEN 1 ELSE 0 END AS cut
        |  FROM wsum),
        |s AS (
        |  SELECT doc_id, fi, ws,
        |    sum(cut) OVER (PARTITION BY doc_id ORDER BY fi)::BIGINT AS seg_idx
        |  FROM c)
        |SELECT doc_id, seg_idx, min(fi)::BIGINT AS first_frame,
        |  count(*)::BIGINT AS n_frames, sum(ws)::BIGINT AS seg_sum
        |FROM s GROUP BY 1, 2 ORDER BY doc_id, seg_idx""".stripMargin),

    QueryDef("m5_frame_stats", ((s, dir) => {
      // frame-LEVEL extraction with the NESTED output column
      // (array<struct> — the schema shape real per-frame features come
      // back in), exploded to one row per sampled frame. Every field
      // is SQL-recomputable from the text bytes (sampled offset, the
      // byte there, the stride-window sum), so the nested path gets a
      // full-value oracle like the scalar m1/m2 features. Map-only
      // until the explode; 1-in-20 docs keeps the frame fan-out
      // oracle-sized without losing any code path.
      val media = Multimodal.mediaFromDocs(
        t(s, dir, "documents").filter(col("doc_id") % 20 === 0))
      Multimodal.extractFrames(media).toDF()
        .select(col("doc_id"), explode(col("frames")).as("f"))
        .select(col("doc_id"), col("f.idx").as("frame_idx"),
          col("f.offset").as("frame_offset"), col("f.value").as("byte_value"),
          col("f.window_sum").as("window_sum"))
        .orderBy("doc_id", "frame_idx")
    }),
      """WITH b AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))::BIGINT) AS bytes
        |  FROM documents WHERE doc_id % 20 = 0),
        |fr AS (
        |  SELECT doc_id, unnest(range(0, (len(bytes)+15)//16)) AS fi, bytes
        |  FROM b)
        |SELECT doc_id, fi::INT AS frame_idx, (fi*16)::BIGINT AS frame_offset,
        |  bytes[fi*16 + 1]::BIGINT AS byte_value,
        |  list_sum(bytes[fi*16 + 1 : least(fi*16 + 16, len(bytes))])::BIGINT AS window_sum
        |FROM fr ORDER BY doc_id, frame_idx""".stripMargin))
}
