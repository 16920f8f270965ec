package graft
package queries

import graft.ann.Ann
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.streaming.OnChange
import graft.text.TextAnalysis
import graft.SparkEntry.{stageMicroBatches, stagePredChunks, t}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions._

/** Exact, near-duplicate, semantic, substring and media dedup: the d*
  * queries, each engine next to its DuckDB oracle. */
private[graft] object DedupQueries {

  /** The containment oracle chain shared by d27 (one-shot) and d28
    * (indexed delta) — ONE definition of the shingle CTEs, the
    * per-direction ratios, and the max-gate, so the verifier and the
    * deployment shape cannot drift; `pairPred` (ANDed after the gate)
    * restricts d28 to batch-touching pairs, the d8 identity. */
  private def containmentOracleSql(pairPred: String = ""): String =
    s"""WITH words AS (
       |  SELECT doc_id,
       |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), w -> w <> '') AS ws
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
       |  FROM words, unnest(range(1, len(ws)-1)) AS t(i)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |pr AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
       |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT a, b, inter::BIGINT AS inter,
       |  round(inter / sa.sz, 3) AS cont_ab, round(inter / sb.sz, 3) AS cont_ba
       |FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id
       |WHERE greatest(inter / sa.sz, inter / sb.sz) >= 0.9$pairPred ORDER BY a, b""".stripMargin

  /** The simhash fingerprint + Hamming oracle chain shared by
    * d4/d21/d22/d23 — ONE definition of the md5 tokenization, the
    * per-(doc, bit) sign sums, the PACKED 64-bit fingerprint (one
    * BIGINT per doc: bits sum UNSIGNED into a HUGEINT, then an
    * explicit two's-complement wrap — h − 2⁶⁴ when h ≥ 2⁶³ — lands it
    * in BIGINT, since DuckDB rejects `1::BIGINT << 63` and a signed
    * bit-63 term can't be shifted into place directly), and the
    * `bit_count(xor)` pair scan — so the
    * four oracles cannot drift (the `chunkPairKeys` discipline on the
    * SQL side). Packing is what makes the full-corpus oracle feasible
    * at sf1: the earlier per-(doc, bit) equi-join materialized
    * C(n,2)·64 rows through a GROUP BY (disk-infeasible at 50k docs —
    * it exhausted 76 GB of spill); the packed scan streams C(n,2)
    * single rows through one xor+popcount filter (~82 s at sf1).
    * Callers differ only in the doc source (`docsFrom`, fed by
    * optional single-line `prefixCtes` — single-line so stripMargin
    * can't eat a `||` at a continuation-line start) and the pair
    * scope (`pairPred`, ANDed after the Hamming cut). */
  private def simhashOracleSql(pairPred: String = "", prefixCtes: String = "",
                               docsFrom: String = "documents"): String =
    s"""WITH ${prefixCtes}w AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(regexp_replace(lower(text),'[^a-z0-9 ]',' ','g'),' '), x->x<>'')) AS wd
       |  FROM $docsFrom),
       |tok AS (SELECT doc_id, md5(wd) AS m FROM w),
       |bits AS (
       |  SELECT doc_id, j.j AS j,
       |    CASE WHEN ((
       |        (instr('0123456789abcdef', substr(m, 1+4*(j.j//16), 1))-1)*4096
       |      + (instr('0123456789abcdef', substr(m, 2+4*(j.j//16), 1))-1)*256
       |      + (instr('0123456789abcdef', substr(m, 3+4*(j.j//16), 1))-1)*16
       |      + (instr('0123456789abcdef', substr(m, 4+4*(j.j//16), 1))-1)
       |      ) >> (j.j % 16)) & 1 = 1 THEN 1 ELSE -1 END AS sgn
       |  FROM tok, unnest(range(0,64)) AS j(j)),
       |s AS (SELECT doc_id, j, CASE WHEN sum(sgn) > 0 THEN 1 ELSE 0 END AS bit FROM bits GROUP BY 1,2),
       |fph AS (SELECT doc_id, sum(bit::HUGEINT * (1::HUGEINT << j))::HUGEINT AS h FROM s GROUP BY 1),
       |fp AS (SELECT doc_id,
       |         (CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END)::BIGINT AS f
       |       FROM fph),
       |ham AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.f, y.f))::INT AS hamming
       |  FROM fp x JOIN fp y ON x.doc_id < y.doc_id)
       |SELECT a, b, hamming FROM ham WHERE hamming <= 10$pairPred ORDER BY a, b""".stripMargin

  /** Exact word-3-gram Jaccard pairs at threshold 0.8 — the oracle for
    * BOTH d2 (inverted-index exact join) and d3 (MinHash-LSH candidates +
    * exact verify): at this threshold LSH recall is ≈ 1, so both must
    * produce the identical pair set. */
  private val ngramJaccardSql: String =
    """WITH words AS (
      |  SELECT doc_id,
      |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), w -> w <> '') AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
      |  FROM words, unnest(range(1, len(ws)-1)) AS t(i)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |pr AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT a, b, round(inter / (sa.sz + sb.sz - inter), 3) AS jac
      |FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id
      |WHERE inter / (sa.sz + sb.sz - inter) >= 0.8 ORDER BY a, b""".stripMargin

  /** Threshold-margin audit for the embedding pair-dedup chains
    * (d5/d7/d11): min |sim − threshold| over the EXACT all-pairs set
    * plus the operand exactness class — the same verdict contract as
    * the rest of `auditSql`. `uCte` must end in a relation `u`
    * (vec_id, embedding); `pairPred` is ANDed onto the pair join. */
  private def embPairAuditSql(threshold: Double, uCte: String,
                              pairPred: String = ""): String =
    s"""WITH $uCte,
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM u),
       |fm AS (SELECT id, v, list_max([abs(x::DOUBLE) FOR x IN v]) AS mx FROM e),
       |fx AS (SELECT id, [floor(x::DOUBLE / mx * 1048576.0)::BIGINT FOR x IN v] AS f FROM fm),
       |pn AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm
       |       FROM (SELECT id, [x::DOUBLE FOR x IN f] AS v FROM fx)),
       |prs AS (SELECT list_inner_product(x.v, y.v) / (x.nrm * y.nrm) AS s
       |        FROM pn x JOIN pn y ON x.id < y.id$pairPred),
       |xc AS (SELECT ${graft.ann.Ann.integerExactCheck("pn", "v")}::INTEGER AS ok)
       |SELECT 'threshold' AS stage,
       |       (SELECT count(*) FROM prs WHERE s = $threshold)::BIGINT AS n_ties,
       |       coalesce((SELECT min(abs(s - $threshold)) FROM prs), 1.0) AS min_gap,
       |       (SELECT ok FROM xc) AS integer_exact""".stripMargin

  /** The perceptual-hash oracle chain of d32–d38, written once: the
    * [[Fixtures.mediaTwins]] CTE, per-doc samples `bs` over padded
    * length `P` (`bytes`, the `b` select list), 72 integer-boundary
    * cells, the gradient bits (`bits`, the `bitrows` join), the
    * HUGEINT-assembled fingerprint, then a brute-force Hamming scan at
    * radius 6; `pairPred` is ANDed after the radius gate. */
  private def phashOracleSql(bytes: String, bits: String, pairPred: String = ""): String =
    s"""WITH ${mediaTwins.sql},
        |d0 AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM tw),
        |b AS (SELECT doc_id,
        |        $bytes FROM d0),
        |cells AS (
        |  SELECT doc_id, g.g AS g,
        |    coalesce(list_sum(bs[(g.g*P//72)+1 : ((g.g+1)*P//72)]), 0) AS s,
        |    ((g.g+1)*P//72) - (g.g*P//72) AS n
        |  FROM b, unnest(range(0,72)) AS g(g)),
        |bitrows AS (
        |  $bits),
        |fph AS (SELECT doc_id, sum(1::HUGEINT << j)::HUGEINT AS h FROM bitrows GROUP BY 1),
        |fp AS (SELECT d0.doc_id,
        |        (CASE WHEN coalesce(h, 0::HUGEINT) >= 9223372036854775808::HUGEINT
        |              THEN coalesce(h, 0::HUGEINT) - 18446744073709551616::HUGEINT
        |              ELSE coalesce(h, 0::HUGEINT) END)::BIGINT AS f
        |       FROM d0 LEFT JOIN fph USING (doc_id)),
        |ham AS (SELECT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.f, y.f))::INT AS hamming
        |        FROM fp x JOIN fp y ON x.doc_id < y.doc_id)
        |SELECT a, b, hamming FROM ham WHERE hamming <= 6$pairPred ORDER BY a, b""".stripMargin

  /** Image and video samples: the raw bytes, padded to whole 16-byte rows. */
  private val rasterBytes =
    """list_transform(range(1, length(text)+1), i -> ascii(substr(text,i,1))::BIGINT) AS bs,
      |        ((length(text)+15)//16)*16 AS P""".stripMargin

  /** Audio samples: |byte delta| · 256 (audioFromDocs' synthesis), P = the exact sample count. */
  private val audioBands =
    """list_transform(range(1, length(text)+1),
      |          i -> abs((ascii(substr(text,i,1)) -
      |                    CASE WHEN i = 1 THEN 0 ELSE ascii(substr(text,i-1,1)) END) * 256)::BIGINT) AS bs,
      |        length(text) AS P""".stripMargin

  /** dHash / band-energy bits: each cell against its right neighbour within a 9-cell row. */
  private val spatialBits =
    """SELECT ca.doc_id, ((ca.g // 9) * 8 + (ca.g % 9))::BIGINT AS j
      |  FROM cells ca JOIN cells cb ON ca.doc_id = cb.doc_id AND cb.g = ca.g + 1
      |  WHERE ca.g % 9 < 8 AND ca.s * cb.n > cb.s * ca.n""".stripMargin

  /** Temporal-gradient bits: cell j against cell j+8, the same position one time-row later. */
  private val temporalBits =
    """SELECT ca.doc_id, ca.g::BIGINT AS j
      |  FROM cells ca JOIN cells cb ON ca.doc_id = cb.doc_id AND cb.g = ca.g + 8
      |  WHERE ca.g < 64 AND ca.s * cb.n > cb.s * ca.n""".stripMargin

  /** Pairs touching the twin batch: batch ids are offset past every
    * standing id, so "touches the batch" is exactly b >= offset (the
    * d8 delta identity for fingerprints). */
  private val twinPairs = " AND b >= 10000000"

  /** d20 and d24: the maximal spans of train docs (doc_id < 400) covered
    * by 15-grams that also occur on the eval side. */
  private val decontaminateSql: String =
    s"""WITH d0 AS (SELECT doc_id, ${plantSpan.sql} AS text FROM documents),
      |w AS (
      |  SELECT doc_id,
      |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
      |  FROM d0),
      |g AS (
      |  SELECT doc_id, t.i - 1 AS pos, md5(array_to_string(ws[t.i:t.i+14], ' ')) AS gh
      |  FROM w, unnest(range(1, len(ws)-13)) AS t(i)),
      |ev AS (SELECT DISTINCT gh FROM g WHERE doc_id >= 400),
      |m AS (SELECT doc_id, pos FROM g JOIN ev USING (gh) WHERE doc_id < 400),
      |isl AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN lag(pos) OVER win IS NULL OR pos - lag(pos) OVER win > 15 THEN 1 ELSE 0 END AS ns
      |  FROM m WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |sp AS (
      |  SELECT doc_id, pos,
      |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM isl)
      |SELECT doc_id AS id, min(pos) AS span_start, max(pos) + 15 - min(pos) AS span_len
      |FROM sp GROUP BY doc_id, sid ORDER BY id, span_start""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("d1_exact_dedup", ((s, dir) => {
      // two overlapping ingest sources -> exact content-hash dedup
      val docs = t(s, dir, "documents")
      Dedup.exact(docs.unionByName(docs), "text", "doc_id")
        .withColumn("kept_id", col("kept_id").cast("long"))
        .orderBy("content_hash")
    }),
      """WITH u AS (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |SELECT md5(text) AS content_hash, min(doc_id) AS kept_id, count(*) AS n_copies
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("d2_ngram_jaccard", ((s, dir) =>
      Dedup.ngramJaccard(t(s, dir, "documents"), "text", "doc_id", 3, 0.8)
        .orderBy("a", "b")),
      ngramJaccardSql),

    QueryDef("d3_minhash_lsh", ((s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), "text", "doc_id", 3,
          numHashes = 128, bandRows = 4, threshold = 0.8)
        .orderBy("a", "b")),
      ngramJaccardSql),

    QueryDef("d27_containment", ((s, dir) =>
      // asymmetric containment over the same shingle index: catches
      // the partial-copy class (short doc quoted inside a long one)
      // that symmetric Jaccard structurally misses — c(a→b) = 1 while
      // jac ≈ |a|/|b|; both directions emitted so a caller tells
      // "a inside b" from "mutual"
      Dedup.ngramContainment(t(s, dir, "documents"), "text", "doc_id", 3,
          threshold = 0.9)
        .orderBy("a", "b")),
      // the d2 chain with the containment tail: per-direction
      // inter/|S(side)| ratios, gate on the max of the two.
      // Cap assumption (shared with the d2/d3/d8 oracles): the SQL omits
      // the engine's maxDf=10000 stop-shingle cap, so it is exact only
      // while no fixture shingle's document frequency exceeds the cap —
      // true at every shipped SF (max df ≈ corpus size · shared-phrase
      // rate ≪ 10000), and containment is MORE cap-sensitive than
      // Jaccard (each direction's denominator shrinks independently), so
      // a future fixture crossing the cap must mirror it here (HAVING
      // count(*) <= 10000 on a df CTE) rather than widen the engine cap
      containmentOracleSql()),

    QueryDef("d4_simhash", ((s, dir) =>
      // maxDist 10: SimHash proximity is probabilistic, and the planted
      // jaccard>=0.95 pairs in the fixtures reach Hamming 9 — 10 keeps a
      // margin; candidates come from C(12,2) chunk-PAIR buckets with
      // ~11-bit keys (lossless by pigeonhole), so bucket occupancy stays
      // flat as the corpus grows
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id", maxDist = 10)
        .orderBy("a", "b")),
      // SimHash is md5-based precisely so DuckDB can recompute the whole
      // fingerprint: per-(doc, bit) sign sums from the 4x16-bit words of
      // md5(token), packed to one BIGINT per doc, then Hamming via
      // bit_count(xor) over the C(n,2) pair scan — sf1-feasible.
      // (The chunk buckets in the Spark plan are only a lossless candidate
      // generator — output semantics are "all pairs with Hamming <= 10".)
      simhashOracleSql()),

    QueryDef("d23_stream_simhash", ((s, dir) => {
      // streaming simhash dedup: docs [400, 600) arrive as two
      // micro-batches over the standing fingerprint index (the rest of
      // the corpus); each batch's within-radius pairs are judged
      // AS-OF-ARRIVAL (corpus so far + own batch), then the batch
      // absorbs so batch b pairs against batch a through the index
      // alone — the fifth dedup family's streaming closure
      val docs = t(s, dir, "documents")
      val table = graft.core.Tables.scoped("simhash_idx_stream")
      Dedup.buildSimhashIndex(docs.filter(col("doc_id") < 400 || col("doc_id") >= 600),
        "text", "doc_id", maxDist = 10, table, buckets = 16)
      val chunks = stageMicroBatches(docs, "doc_id",
        Seq((400L, 500L), (500L, 600L)), "sh")
      val pairs = java.nio.file.Files.createTempDirectory("graft_sh_pairs_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_sh_ckpt_").toString
      OnChange.streamingSimhashDedup(s, chunks, "text", "doc_id", 10, table, pairs, ckpt)
      s.read.parquet(pairs).select("a", "b", "hamming").orderBy("a", "b")
    }),
      // as-of-arrival ground truth: each within-radius pair touching the
      // stream region surfaces exactly once (in the later doc's batch),
      // so the union of per-batch outputs = all pairs with an endpoint
      // in [400, 600) — the d10 oracle shape for the fingerprint family
      simhashOracleSql(pairPred = " AND ((a >= 400 AND a < 600) OR (b >= 400 AND b < 600))")),

    QueryDef("d22_simhash_delta", ((s, dir) => {
      // incremental simhash near-dup — d4's operational loop, closing
      // the FIFTH dedup family's build/delta/absorb/compact discipline:
      // the standing corpus (doc_id < 400) is fingerprinted + key-
      // exploded once into a bucketed index; the new batch finds every
      // within-radius pair touching it (batch-internal + batch×corpus)
      // without the corpus re-fingerprinting or reshuffling
      val docs = t(s, dir, "documents")
      val table = graft.core.Tables.scoped("simhash_idx_delta")
      Dedup.buildSimhashIndex(docs.filter(col("doc_id") < 400), "text", "doc_id",
        maxDist = 10, table, buckets = 16)
      Dedup.simhashPairsDelta(s, docs.filter(col("doc_id") >= 400), "text", "doc_id",
          maxDist = 10, table)
        .orderBy("a", "b")
    }),
      // full-recompute ground truth restricted to pairs touching the
      // batch (the d8/d18 oracle identity): identical values prove the
      // incremental simhash path loses nothing
      simhashOracleSql(pairPred = " AND (a >= 400 OR b >= 400)")),

    QueryDef("d21_simhash_cert", ((s, dir) => {
      // d4's ANY-SCALE certificate: the full-corpus simhash oracle is
      // C(n,2)·64-bit quadratic and empirically disk-infeasible at sf1,
      // so independent verification rides a DETERMINISTIC
      // md5-thresholded doc sample sized ~400 REGARDLESS of corpus
      // size (threshold = 400·2³² div n, integer-exact on both
      // engines). The engine side still runs the real chunk-pair
      // candidate machinery — so fingerprint computation, candidate
      // losslessness, and the Hamming cut are all certified on a
      // representative subset at a cost that never grows past
      // O(target²) on the oracle side. The count() is one
      // metadata-sized action that sizes the threshold.
      val docs = t(s, dir, "documents")
      val thr = math.min(4294967296L, 400L * 4294967296L / docs.count())
      val samp = docs.filter(
        TextAnalysis.sampleHash(col("doc_id"), "cert") < lit(thr))
      Dedup.simhashPairs(samp, "text", "doc_id", maxDist = 10)
        .orderBy("a", "b")
    }),
      // the d4 chain restricted to the deterministic ~400-doc sample:
      // tokenization/fingerprints run only for sampled docs, the packed
      // pair scan is C(400,2) single rows — feasible at ANY corpus size,
      // which is the point (the full-corpus oracle, feasible at sf1
      // since the packing, still can't run at arbitrary scale)
      simhashOracleSql(
      prefixCtes = "nn AS (SELECT count(*) AS n FROM documents), samp AS (SELECT doc_id, text FROM documents, nn WHERE ('0x' || substr(md5('cert:' || doc_id), 1, 8))::BIGINT < least(4294967296, 400 * 4294967296 // n)), ",
      docsFrom = "samp")),

    QueryDef("d5_embedding_neardup", ((s, dir) => {
      // plant near-duplicates: a perturbed copy of every vector
      // (id+10000, first component +0.1 on unit-norm vectors → cosine
      // ≈ 0.995) so near-dup detection runs on a corpus that actually
      // contains near-dups. The construction is engine-exact: double
      // add, one IEEE round back to float — DuckDB reproduces it
      // bit-for-bit. Default path = LSH candidates → DotProduct verify
      // (no all-pairs join); the exact all-pairs oracle checks recall=1.
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val perturbed = e.select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") + lit(0.1d)).cast("float")).otherwise(x)).as("embedding"))
      Dedup.embeddingNearDup(e.unionByName(perturbed), "embedding", "vec_id", 0.9, dims = 64)
        .orderBy("a", "b")
    }),
      // exact all-pairs ground truth: the Spark side runs LSH candidates →
      // exact verify, so a hash match here proves candidate recall = 1
      """WITH e0 AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 10000 AS vec_id,
        |        [CASE WHEN i = 1 THEN ((embedding[i]::DOUBLE + 0.1)::FLOAT) ELSE embedding[i] END
        |         for i in range(1, len(embedding)+1)] AS embedding FROM e0),
        |u AS (SELECT * FROM e0 UNION ALL SELECT * FROM p),
        |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM u),
        |fm AS (SELECT id, v, list_max([abs(x::DOUBLE) FOR x IN v]) AS mx FROM e),
        |fx AS (SELECT id, [floor(x::DOUBLE / mx * 1048576.0)::BIGINT FOR x IN v] AS f FROM fm),
        |pn AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm
        |       FROM (SELECT id, [x::DOUBLE FOR x IN f] AS v FROM fx))
        |SELECT x.id AS a, y.id AS b,
        | round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS sim
        |FROM pn x JOIN pn y ON x.id < y.id
        |WHERE list_inner_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.9
        |ORDER BY a, b""".stripMargin,
      audit = Some(embPairAuditSql(0.9,
      """e0 AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 10000 AS vec_id,
        |        [CASE WHEN i = 1 THEN ((embedding[i]::DOUBLE + 0.1)::FLOAT) ELSE embedding[i] END
        |         for i in range(1, len(embedding)+1)] AS embedding FROM e0),
        |u AS (SELECT * FROM e0 UNION ALL SELECT * FROM p)""".stripMargin))),

    QueryDef("d6_dedup_clusters", ((s, dir) =>
      Dedup.clusters(Dedup.ngramJaccard(t(s, dir, "documents"), "text", "doc_id", 3, 0.8))
        .orderBy("id")),
      """WITH RECURSIVE words AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), w -> w <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
        |  FROM words, unnest(range(1, len(ws)-1)) AS t(i)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a, b FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id
        |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.8),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |r(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM r JOIN edges e ON r.dst = e.a)
        |SELECT src AS id, least(src, min(dst)) AS cluster_id
        |FROM r GROUP BY src ORDER BY id""".stripMargin),

    QueryDef("d32_phash_dedup", ((s, dir) => {
      // perceptual-hash image dedup — the key-level media screen
      // web-scale pipelines run (LAION-style dHash): planted re-ingest
      // twins are BRIGHTNESS-SHIFTED copies (every printable byte +1 —
      // different bytes, so d1's exact content hash misses all of
      // them), but dHash records brightness GRADIENTS, which a uniform
      // shift leaves bit-identical — the twins surface at Hamming 0.
      // Pairs ride d4's Manku chunk machinery (exact recall at the
      // radius, pairs only inside shared chunk buckets)
      val docs = t(s, dir, "documents")
      val twins = mediaTwins(docs)
      val fps = Multimodal.dHash(
        Multimodal.mediaFromDocs(docs.unionByName(twins))).toDF()
      Dedup.hammingPairs(fps, "doc_id", "phash", maxDist = 6)
        .orderBy("a", "b")
    }),
      // the dHash chain recomputed from the text bytes: padded raster
      // length → 72 integer-boundary cells (pad zeros are sum-neutral,
      // the count term carries them) → cross-multiplied gradient bits →
      // HUGEINT-assembled fingerprint → brute-force Hamming (the engine's
      // chunk buckets are exact at the radius, so brute force IS the
      // contract)
      phashOracleSql(rasterBytes, spatialBits)),

    QueryDef("d35_audio_phash", ((s, dir) => {
      // perceptual-hash AUDIO dedup — d32's screen applied to the
      // audio branch (r17 verdict "What's missing #3"): band-energy
      // gradient hash over the decoded waveform's |amplitude| pooled
      // into 72 time bands. The planted twins are the d32 byte-shift
      // re-encodes — the delta synthesis cancels a uniform shift in
      // every sample except the first, so the twins land at Hamming
      // ≤ maxDist while exact content-hash dedup sees nothing. Pairs
      // ride d4's Manku chunk machinery (exact recall at the radius)
      val docs = t(s, dir, "documents")
      val twins = mediaTwins(docs)
      val fps = Multimodal.audioHash(
        Multimodal.audioFromDocs(docs.unionByName(twins))).toDF()
      Dedup.hammingPairs(fps, "doc_id", "phash", maxDist = 6)
        .orderBy("a", "b")
    }),
      // d32's chain with the band-energy source: |sample| = |byte delta|
      // · 256 (audioFromDocs' synthesis), P = the exact sample count, and
      // the same 72-cell/right-neighbor gradient bits
      phashOracleSql(audioBands, spatialBits)),

    QueryDef("d36_video_phash", ((s, dir) => {
      // perceptual-hash VIDEO dedup — the third branch (r17 "What's
      // missing #3"): temporal-gradient (motion-signature) hash over
      // the decoded frame stream — bit (r,c) compares a time×position
      // cell against the SAME position one time-row later, so the 64
      // bits record what changes ACROSS frames where d32's dHash
      // records within-image structure. Brightness-shifted re-encodes
      // (the d32 twins) land at small Hamming; same chunk-pair
      // machinery, same exact recall at the radius
      val docs = t(s, dir, "documents")
      val twins = mediaTwins(docs)
      val fps = Multimodal.tHash(
        Multimodal.mediaFromDocs(docs.unionByName(twins))).toDF()
      Dedup.hammingPairs(fps, "doc_id", "phash", maxDist = 6)
        .orderBy("a", "b")
    }),
      // d32's chain with the TEMPORAL comparison: same cells over the
      // padded pixel stream, bit j = cell j vs cell j+8 (9 time-rows ×
      // 8 position columns — across-frame gradients)
      phashOracleSql(rasterBytes, temporalBits)),

    QueryDef("d37_audio_phash_delta", ((s, dir) => {
      // d35's DEPLOYMENT shape — the d33 discipline on the audio
      // fingerprint: the corpus's band-energy hashes feed the standing
      // chunk-bucket index (fingerprint-source-agnostic machinery,
      // unchanged); the byte-shift twin batch probes incrementally —
      // batch-internal + batch×corpus pairs only, the corpus never
      // re-decodes or re-fingerprints
      val docs = t(s, dir, "documents")
      val twins = mediaTwins(docs)
      val table = graft.core.Tables.scoped("aphash_idx_d37")
      Dedup.buildFingerprintIndex(
        Multimodal.audioHash(Multimodal.audioFromDocs(docs)).toDF(),
        "doc_id", "phash", maxDist = 6, table)
      Dedup.fingerprintPairsDelta(s,
          Multimodal.audioHash(Multimodal.audioFromDocs(twins)).toDF(),
          "doc_id", "phash", maxDist = 6, table)
        .orderBy("a", "b")
    }),
      // the d35/d36 one-shot chains restricted to batch-touching pairs —
      // the d33 identity applied to the audio / video fingerprints
      phashOracleSql(audioBands, spatialBits, twinPairs)),

    QueryDef("d38_video_phash_delta", ((s, dir) => {
      // d36's deployment shape — the d33 discipline on the temporal-
      // gradient video fingerprint, same agnostic index machinery
      val docs = t(s, dir, "documents")
      val twins = mediaTwins(docs)
      val table = graft.core.Tables.scoped("vphash_idx_d38")
      Dedup.buildFingerprintIndex(
        Multimodal.tHash(Multimodal.mediaFromDocs(docs)).toDF(),
        "doc_id", "phash", maxDist = 6, table)
      Dedup.fingerprintPairsDelta(s,
          Multimodal.tHash(Multimodal.mediaFromDocs(twins)).toDF(),
          "doc_id", "phash", maxDist = 6, table)
        .orderBy("a", "b")
    }),
      phashOracleSql(rasterBytes, temporalBits, twinPairs)),

    QueryDef("d33_phash_delta", ((s, dir) => {
      // d32's DEPLOYMENT shape: the corpus's perceptual hashes feed a
      // standing chunk-bucket index (built once per snapshot — the d4
      // index machinery, fingerprint-source-agnostic); the re-ingest
      // batch (the brightness-shifted twins) probes it incrementally —
      // batch-internal + batch×corpus pairs only, the corpus never
      // re-fingerprints. Oracle = the d32 one-shot restricted to
      // batch-touching pairs (the d8 identity)
      val docs = t(s, dir, "documents")
      val twins = mediaTwins(docs)
      val table = graft.core.Tables.scoped("phash_idx_d33")
      Dedup.buildFingerprintIndex(
        Multimodal.dHash(Multimodal.mediaFromDocs(docs)).toDF(),
        "doc_id", "phash", maxDist = 6, table)
      Dedup.fingerprintPairsDelta(s,
          Multimodal.dHash(Multimodal.mediaFromDocs(twins)).toDF(),
          "doc_id", "phash", maxDist = 6, table)
        .orderBy("a", "b")
    }),
      // the d32 one-shot chain restricted to batch-touching pairs (batch
      // ids are offset past every standing id, so "touches the batch" is
      // exactly b >= offset) — the d8 delta identity for fingerprints
      phashOracleSql(rasterBytes, spatialBits, twinPairs)),

    QueryDef("d34_stream_phash", ((s, dir) => {
      // the perceptual-hash family's STREAMING closure (the d23 loop,
      // fingerprint-agnostic): brightness-shifted re-ingest twins
      // arrive as two micro-batches over the standing phash index;
      // each batch's within-radius pairs are judged AS-OF-ARRIVAL,
      // then the batch absorbs so batch b pairs against batch a
      // through the index alone. Oracle = the one-shot d32 chain
      // restricted to twin-touching pairs (the streamed union covers
      // each such pair exactly once, at its later endpoint's batch)
      val docs = t(s, dir, "documents")
      val twins = mediaTwins(docs)
      val table = graft.core.Tables.scoped("phash_idx_stream")
      Dedup.buildFingerprintIndex(
        Multimodal.dHash(Multimodal.mediaFromDocs(docs)).toDF(),
        "doc_id", "phash", maxDist = 6, table, buckets = 16)
      val chunks = stagePredChunks(twins,
        Seq((col("doc_id") - 10000000L) % 20 === 0,
          (col("doc_id") - 10000000L) % 20 === 10), "ph")
      val pairs = java.nio.file.Files.createTempDirectory("graft_ph_pairs_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ph_ckpt_").toString
      OnChange.streamingFingerprintDedup(s, chunks, "doc_id", "phash", 6,
        table, pairs, ckpt,
        b => Multimodal.dHash(Multimodal.mediaFromDocs(b)).toDF())
      s.read.parquet(pairs).select("a", "b", "hamming").orderBy("a", "b")
    }),
      // the streamed as-of-arrival union equals the one-shot restricted
      // to twin-touching pairs — the SAME ground truth as d33 (each pair
      // emits exactly once, at its later endpoint's batch)
      phashOracleSql(rasterBytes, spatialBits, twinPairs)),

    QueryDef("d31_url_dedup", ((s, dir) =>
      // key-level dedup BEFORE content dedup — the step real web
      // pipelines (CCNet lineage) run first: canonicalize the planted
      // URL surface forms (case, www, default port, fragment, tracking
      // params, param order, trailing slash — all transport noise;
      // scheme is SEMANTIC, so the https twin stays distinct) and
      // keep-first per canonical key. Map-only normalization (pure
      // built-ins, full codegen) + ONE hash-agg shuffle
      Dedup.urlDedup(plantUrl(t(s, dir, "documents")), "url", "doc_id")
        .orderBy("canonical_url")),
      // the canonicalization pipeline mirrored step for step: fragment →
      // query split → scheme/authority lowering → www/default-port strip →
      // trailing-slash strip → tracking-param filter + param sort
      s"""WITH u AS (SELECT doc_id, ${plantUrl.sql} AS url FROM documents),
         |c1 AS (SELECT doc_id, str_split(url, '#')[1] AS nofrag FROM u),
         |c2 AS (SELECT doc_id, str_split(nofrag, '?')[1] AS pre,
         |         CASE WHEN contains(nofrag, '?')
         |              THEN regexp_extract(nofrag, '\\?(.*)$$', 1) ELSE '' END AS q
         |       FROM c1),
         |c3 AS (SELECT doc_id,
         |         lower(regexp_extract(pre, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |         regexp_replace(pre, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest, q
         |       FROM c2),
         |c4a AS (SELECT doc_id, scheme, q, str_split(rest, '/')[1] AS ar,
         |          regexp_replace(regexp_extract(rest, '^[^/]*(/.*)$$', 1), '/+$$', '') AS path
         |        FROM c3),
         |c4 AS (SELECT doc_id, scheme, q, path,
         |         CASE WHEN regexp_extract(ar, '^(.*)@[^@]*$$', 1) = ''
         |              THEN regexp_replace(lower(str_split(ar, '@')[-1]), '^www\\.', '')
         |              ELSE regexp_extract(ar, '^(.*)@[^@]*$$', 1) || '@' ||
         |                   regexp_replace(lower(str_split(ar, '@')[-1]), '^www\\.', '')
         |         END AS auth0
         |       FROM c4a),
         |c5 AS (SELECT doc_id, scheme, path,
         |         CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$$', '')
         |              WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$$', '')
         |              ELSE auth0 END AS auth,
         |         array_to_string(list_sort(list_filter(str_split(q, '&'),
         |           p -> NOT (starts_with(p, 'utm_') OR str_split(p, '=')[1] = 'fbclid'
         |                     OR str_split(p, '=')[1] = 'gclid' OR p = ''))), '&') AS qs
         |       FROM c4),
         |canon AS (SELECT doc_id,
         |            scheme || '://' || auth || path ||
         |            CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical_url
         |          FROM c5)
         |SELECT canonical_url, min(doc_id) AS kept_id, count(*)::BIGINT AS n_copies
         |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("d30_media_neardup", ((s, dir) => {
      // near-dup media removal at ingest — PURE COMPOSITION, zero new
      // machinery (the point): m4's media embeddings feed a standing
      // IVF index; a re-ingest batch (perturbed variants of the first
      // 100 docs' rasters — the d5/d14 construction, offset past any
      // doc id) screens through d14's semantic-dedup delta against
      // that index; the surfaced pairs cluster (d6's components) and
      // each near-dup cluster keeps its best variant by a media
      // quality stat (d25's policy; the first window-sum dim — the
      // perturbed re-encode scores fractionally higher, so keep-best
      // genuinely decides, not just tie-breaks). 0.9999 cosine: raster
      // window-sums of same-length text are correlated, so the
      // near-dup bar sits above the background (measured ~0.999)
      val emb = Multimodal.embed(Multimodal.mediaFromDocs(t(s, dir, "documents"))).toDF()
      val table = graft.core.Tables.scoped("ivf_idx_d30")
      Ann.buildIvfIndex(emb, "embedding", "doc_id", table)
      val batch = graft.ann.SemDedup.perturbedBatch(emb, "embedding", "doc_id",
        offset = 10000000L)
      val pairs = graft.ann.SemDedup.semanticDedupDelta(
        s, batch, "embedding", "doc_id", table, 0.9999)
      val quality = emb.select(col("doc_id").as("id"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("quality"))
        .unionByName(batch.select(col("doc_id").as("id"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("quality")))
      Dedup.keepBest(Dedup.clusters(pairs), quality, "id", "quality")
        .orderBy("cluster_id")
    }),
      // the d14 batch×cell construction over the m4 media derivation,
      // pairs clustered (d6) and keep-best decided (d25) — all in SQL
      graft.ann.SemDedup.mediaNeardupOracleSql(nlist = 16, rounds = 2,
        threshold = 0.9999,
        source = m4VectorSourceSql),
      audit = Some(graft.ann.SemDedup.mediaNeardupAuditSql(nlist = 16, rounds = 2,
      threshold = 0.9999, source = m4VectorSourceSql))),

    QueryDef("d25_keep_best", ((s, dir) => {
      // dedup DECISION by quality: near-dup clusters (d6's components)
      // ranked by the x2 heuristic score — keep each cluster's best
      // member (score desc, id asc), the keep-best policy real web
      // pipelines apply where keepCanonical/keep-first would keep an
      // arbitrary or merely-earliest copy. Oracle composes the d6
      // recursive-component chain with the x2 quality chain over ONE
      // shared words CTE.
      val docs = t(s, dir, "documents")
      val cl = Dedup.clusters(Dedup.ngramJaccard(docs, "text", "doc_id", 3, 0.8))
      val q = TextAnalysis.qualityScore(docs, "text", "doc_id")
        .select(col("doc_id"), col("quality"))
      Dedup.keepBest(cl, q, "doc_id", "quality").orderBy("cluster_id")
    }),
      """WITH RECURSIVE words AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), w -> w <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
        |  FROM words, unnest(range(1, len(ws)-1)) AS t(i)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a, b FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id
        |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.8),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |r(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM r JOIN edges e ON r.dst = e.a),
        |cl AS (SELECT src AS id, least(src, min(dst)) AS cluster_id FROM r GROUP BY src),
        |qs AS (
        |  SELECT doc_id,
        |    length(text)::BIGINT AS n_chars_c,
        |    len(ws)::BIGINT AS n_words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::BIGINT AS n_punct,
        |    len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x)))::BIGINT AS n_stop
        |  FROM words),
        |q AS (
        |  SELECT doc_id,
        |    (least(n_words, 100) * 50 + (n_stop * 3000 // greatest(n_words, 1))
        |     + 2000 - (n_punct * 2000 // greatest(n_chars_c, 1))) / 10000.0 AS quality
        |  FROM qs),
        |j AS (SELECT cl.cluster_id, cl.id, q.quality FROM cl JOIN q ON cl.id = q.doc_id),
        |rk AS (SELECT cluster_id, id, quality,
        |       row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, id) AS rk,
        |       count(*) OVER (PARTITION BY cluster_id) AS n_members
        |       FROM j)
        |SELECT cluster_id, id AS kept_id, quality AS kept_score, n_members
        |FROM rk WHERE rk = 1 ORDER BY cluster_id""".stripMargin),

    QueryDef("d8_dedup_delta", ((s, dir) => {
      // incremental ingest: the standing corpus (doc_id < 400) is
      // indexed once; the new batch dedups against the index + itself —
      // corpus × corpus never re-runs
      val docs = t(s, dir, "documents")
      val table = graft.core.Tables.scoped("shingle_idx_delta")
      Dedup.buildShingleIndex(docs.filter(col("doc_id") < 400), "text", "doc_id", 3, table, buckets = 16)
      Dedup.ngramJaccardDelta(s, docs.filter(col("doc_id") >= 400), "text", "doc_id", 3, 0.8, table)
        .orderBy("a", "b")
    }),
      // full-recompute ground truth restricted to pairs touching the new
      // batch — identical values prove the incremental path loses nothing
      """WITH words AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), w -> w <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
        |  FROM words, unnest(range(1, len(ws)-1)) AS t(i)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a, b, round(inter / (sa.sz + sb.sz - inter), 3) AS jac
        |FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id
        |WHERE inter / (sa.sz + sb.sz - inter) >= 0.8 AND (a >= 400 OR b >= 400)
        |ORDER BY a, b""".stripMargin),

    QueryDef("d28_containment_delta", ((s, dir) => {
      // d27's deployment shape — the quote/excerpt screen run per
      // ingest batch: the standing corpus (doc_id < 400) is indexed
      // once (the d8 index; `_sizes` already holds the |S|
      // denominators containment needs); the batch's partial-copy
      // pairs come from the bucket-riding batch×corpus join + the
      // batch self-join — the corpus never re-tokenizes. MinHash can't
      // estimate containment (the sketch is symmetric), so this exact
      // indexed delta IS the scale path, verified by the one-shot d27
      val docs = t(s, dir, "documents")
      val table = graft.core.Tables.scoped("shingle_idx_cont_delta")
      Dedup.buildShingleIndex(docs.filter(col("doc_id") < 400), "text", "doc_id", 3, table, buckets = 16)
      Dedup.containmentDelta(s, docs.filter(col("doc_id") >= 400), "text", "doc_id", 3, 0.9, table)
        .orderBy("a", "b")
    }),
      // full-recompute ground truth restricted to pairs touching the
      // batch — the d8 identity applied to the containment tail: values
      // identical to the one-shot proves the indexed delta loses nothing
      containmentOracleSql(
      pairPred = " AND (a >= 400 OR b >= 400)")),

    QueryDef("d29_stream_containment", ((s, dir) => {
      // streaming containment screening — the d10 loop with the
      // quote/excerpt screen as the per-batch pair generator: docs
      // [400, 600) arrive as two micro-batches over the standing
      // shingle index; each batch's containment pairs are judged
      // AS-OF-ARRIVAL (corpus so far + own batch), then the batch
      // absorbs so batch b screens against batch a through the index
      // alone — the containment family's streaming closure
      val docs = t(s, dir, "documents")
      val table = graft.core.Tables.scoped("shingle_idx_cont_stream")
      Dedup.buildShingleIndex(docs.filter(col("doc_id") < 400 || col("doc_id") >= 600),
        "text", "doc_id", 3, table, buckets = 16)
      val chunks = stageMicroBatches(docs, "doc_id",
        Seq((400L, 500L), (500L, 600L)), "ct")
      val pairs = java.nio.file.Files.createTempDirectory("graft_ct_pairs_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ct_ckpt_").toString
      OnChange.streamingContainment(s, chunks, "text", "doc_id", 3, 0.9, table, pairs, ckpt)
      s.read.parquet(pairs).select("a", "b", "inter", "cont_ab", "cont_ba")
        .orderBy("a", "b")
    }),
      // as-of-arrival ground truth (the d10 shape for containment): each
      // pair touching the stream region surfaces exactly once, in the
      // later doc's batch, so the union of per-batch outputs = all
      // containment pairs with an endpoint in [400, 600)
      containmentOracleSql(
      pairPred = " AND ((a >= 400 AND a < 600) OR (b >= 400 AND b < 600))")),

    QueryDef("d10_stream_dedup", ((s, dir) => {
      // streaming incremental dedup: the batch stream dedups against the
      // standing index and is absorbed into it batch by batch — the
      // union of per-batch pairs must equal the one-shot delta (d8's
      // oracle), with cross-batch pairs surfacing exactly once
      // streamed region = docs [400, 600): batches stay small next to
      // the corpus (the operational regime) at every SF
      val docs = t(s, dir, "documents")
      val table = graft.core.Tables.scoped("shingle_idx_stream")
      Dedup.buildShingleIndex(docs.filter(col("doc_id") < 400 || col("doc_id") >= 600),
        "text", "doc_id", 3, table, buckets = 16)
      val chunks = stageMicroBatches(docs, "doc_id",
        Seq((400L, 500L), (500L, 600L)), "dd")
      val pairs = java.nio.file.Files.createTempDirectory("graft_dd_pairs_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_dd_ckpt_").toString
      OnChange.streamingDedupDelta(s, chunks, "text", "doc_id", 3, 0.8, table, pairs, ckpt)
      s.read.parquet(pairs).select("a", "b", "jac").orderBy("a", "b")
    }),
      // same ground truth as d8: the streamed per-batch outputs must union
      // to exactly the one-shot delta over the whole stream region
      """WITH words AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), w -> w <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
        |  FROM words, unnest(range(1, len(ws)-1)) AS t(i)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a, b, round(inter / (sa.sz + sb.sz - inter), 3) AS jac
        |FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id
        |WHERE inter / (sa.sz + sb.sz - inter) >= 0.8
        |  AND ((a >= 400 AND a < 600) OR (b >= 400 AND b < 600))
        |ORDER BY a, b""".stripMargin),

    QueryDef("d11_stream_embed_dedup", ((s, dir) => {
      // streaming embedding dedup: perturbed near-dup copies of
      // vec_id < 100 arrive as two micro-batches, dedup against the
      // standing sketch index (batch × corpus rides the buckets), and
      // absorb — the union of per-batch pairs must equal the one-shot
      // exact pair set involving streamed ids (recall 1 at 0.9, as d5)
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val perturbed = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, (x.cast("double") + lit(0.1d)).cast("float")).otherwise(x)).as("embedding"))
      val table = graft.core.Tables.scoped("ann_idx_stream_d11")
      Ann.buildAnnIndex(e, "embedding", "vec_id", dims = 64, table, tables = 8, bits = 8, buckets = 16)
      val chunks = stageMicroBatches(perturbed, "vec_id",
        Seq((10000L, 10050L), (10050L, 10100L)), "vd")
      val pairs = java.nio.file.Files.createTempDirectory("graft_vd_pairs_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_vd_ckpt_").toString
      OnChange.streamingVectorDedup(s, chunks, "embedding", "vec_id", table, 0.9, pairs, ckpt)
      s.read.parquet(pairs).select("a", "b", "sim").orderBy("a", "b")
    }),
      // the one-shot exact pair set involving at least one streamed id
      // (a < b and streamed ids are the +10000 range, so "b >= 10000"
      // covers every such pair); cross-batch + batch×corpus + batch-local
      // pairs each surface exactly once across the per-batch outputs
      """WITH e0 AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 10000 AS vec_id,
        |        [CASE WHEN i = 1 THEN ((embedding[i]::DOUBLE + 0.1)::FLOAT) ELSE embedding[i] END
        |         for i in range(1, len(embedding)+1)] AS embedding FROM e0 WHERE vec_id < 100),
        |u AS (SELECT * FROM e0 UNION ALL SELECT * FROM p),
        |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM u),
        |fm AS (SELECT id, v, list_max([abs(x::DOUBLE) FOR x IN v]) AS mx FROM e),
        |fx AS (SELECT id, [floor(x::DOUBLE / mx * 1048576.0)::BIGINT FOR x IN v] AS f FROM fm),
        |pn AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm
        |       FROM (SELECT id, [x::DOUBLE FOR x IN f] AS v FROM fx))
        |SELECT x.id AS a, y.id AS b,
        | round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS sim
        |FROM pn x JOIN pn y ON x.id < y.id
        |WHERE list_inner_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.9
        |  AND y.id >= 10000
        |ORDER BY a, b""".stripMargin,
      audit = Some(embPairAuditSql(0.9,
      """e0 AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 10000 AS vec_id,
        |        [CASE WHEN i = 1 THEN ((embedding[i]::DOUBLE + 0.1)::FLOAT) ELSE embedding[i] END
        |         for i in range(1, len(embedding)+1)] AS embedding FROM e0 WHERE vec_id < 100),
        |u AS (SELECT * FROM e0 UNION ALL SELECT * FROM p)""".stripMargin,
      pairPred = " AND y.id >= 10000"))),

    QueryDef("d9_contamination", ((s, dir) => {
      // decontamination: per eval doc, the fraction of its 3-grams that
      // appear anywhere in the training split — high containment = the
      // doc leaked into training data
      val docs = t(s, dir, "documents")
      Dedup.contamination(docs.filter(col("doc_id") < 400),
          docs.filter(col("doc_id") >= 400), "text", "doc_id", 3)
        .orderBy("id")
    }),
      """WITH words AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), w -> w <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
        |  FROM words, unnest(range(1, len(ws)-1)) AS t(i)),
        |tr AS (SELECT DISTINCT s FROM sh WHERE doc_id < 400),
        |ev AS (SELECT doc_id, s FROM sh WHERE doc_id >= 400),
        |per AS (SELECT e.doc_id AS id, count(*) AS n_shingles, count(t.s) AS n_hit
        |        FROM ev e LEFT JOIN tr t ON e.s = t.s GROUP BY 1)
        |SELECT id, n_shingles, n_hit,
        |       (n_hit * 1000 // n_shingles) / 1000.0 AS containment
        |FROM per ORDER BY id""".stripMargin),

    QueryDef("d13_boilerplate", ((s, dir) =>
      // cross-doc boilerplate spans: 3-grams occurring in >= 3 docs;
      // per-doc ratio of shared spans (template/mirror detector)
      Dedup.boilerplate(t(s, dir, "documents"), "text", "doc_id", 3, 3)
        .orderBy("id")),
      """WITH words AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), w -> w <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
        |  FROM words, unnest(range(1, len(ws)-1)) AS t(i)),
        |df_ AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        |per AS (
        |  SELECT sh.doc_id AS id, count(*) AS n_shingles,
        |         count(CASE WHEN df_.df >= 3 THEN 1 END) AS n_boiler
        |  FROM sh JOIN df_ USING (s) GROUP BY 1)
        |SELECT id, n_shingles, n_boiler,
        |       (n_boiler * 1000 // n_shingles) / 1000.0 AS boiler_ratio
        |FROM per ORDER BY id""".stripMargin),

    QueryDef("d16_substring_dedup", ((s, dir) =>
      // exact substring dedup (Lee et al. 2021): maximal >= 15-token
      // spans occurring more than once anywhere in the corpus, as
      // (doc, span_start, span_len); a fixed 22-token sentence is
      // planted on every 10th doc so duplicated spans provably exist
      // at every SF, on top of whatever the corpus shares naturally
      Dedup.substringSpans(plantSpan(t(s, dir, "documents")), "text", "doc_id", 15)
        .orderBy("id", "span_start")),
      // from-scratch recompute of the whole substring-dedup chain:
      // positional 15-grams keyed by md5 (both engines hash identically),
      // occurrence count >= 2, gaps-and-islands maximal-span merge
      s"""WITH d0 AS (SELECT doc_id, ${plantSpan.sql} AS text FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM d0),
        |g AS (
        |  SELECT doc_id, t.i - 1 AS pos, md5(array_to_string(ws[t.i:t.i+14], ' ')) AS gh
        |  FROM w, unnest(range(1, len(ws)-13)) AS t(i)),
        |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
        |m AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
        |isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER win IS NULL OR pos - lag(pos) OVER win > 15 THEN 1 ELSE 0 END AS ns
        |  FROM m WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (
        |  SELECT doc_id, pos,
        |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM isl)
        |SELECT doc_id AS id, min(pos) AS span_start, max(pos) + 15 - min(pos) AS span_len
        |FROM sp GROUP BY doc_id, sid ORDER BY id, span_start""".stripMargin),

    QueryDef("d18_substring_delta", ((s, dir) => {
      // incremental exact-substring dedup — d16's operational loop:
      // the standing corpus (doc_id < 400) is gram-indexed once; the
      // new batch finds its duplicated spans against the index + itself
      // without the corpus re-tokenizing or reshuffling. Planted spans
      // land on every 10th doc, so cross (batch gram duplicated only in
      // the corpus) and batch-internal duplication both provably exist
      val docs = plantSpan(t(s, dir, "documents"))
      val table = graft.core.Tables.scoped("gram_idx_delta")
      Dedup.buildGramIndex(docs.filter(col("doc_id") < 400), "text", "doc_id", 15,
        table, buckets = 16)
      Dedup.substringSpansDelta(s, docs.filter(col("doc_id") >= 400), "text", "doc_id", 15, table)
        .orderBy("id", "span_start")
    }),
      // full-recompute ground truth restricted to batch docs — the delta
      // counts occurrences over corpus + batch, so its output is exactly
      // the one-shot chain's rows for doc_id >= 400 (identical values
      // prove the incremental path loses nothing)
      s"""WITH d0 AS (SELECT doc_id, ${plantSpan.sql} AS text FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM d0),
        |g AS (
        |  SELECT doc_id, t.i - 1 AS pos, md5(array_to_string(ws[t.i:t.i+14], ' ')) AS gh
        |  FROM w, unnest(range(1, len(ws)-13)) AS t(i)),
        |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
        |m AS (SELECT doc_id, pos FROM g JOIN dup USING (gh) WHERE doc_id >= 400),
        |isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER win IS NULL OR pos - lag(pos) OVER win > 15 THEN 1 ELSE 0 END AS ns
        |  FROM m WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (
        |  SELECT doc_id, pos,
        |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM isl)
        |SELECT doc_id AS id, min(pos) AS span_start, max(pos) + 15 - min(pos) AS span_len
        |FROM sp GROUP BY doc_id, sid ORDER BY id, span_start""".stripMargin),

    QueryDef("d20_decontaminate", ((s, dir) => {
      // span-level eval decontamination (GPT-3 §C): every maximal
      // ≥ 15-gram span of a TRAINING doc (< 400) that overlaps the
      // eval set (≥ 400) — one eval occurrence marks (the eval copy is
      // what matters). Planted sentences land on every 10th doc, so
      // train/eval overlap provably exists at every SF
      val docs = plantSpan(t(s, dir, "documents"))
      Dedup.decontaminateSpans(docs.filter(col("doc_id") < 400),
          docs.filter(col("doc_id") >= 400), "text", "doc_id", 15)
        .orderBy("id", "span_start")
    }),
      // from-scratch recompute: train grams marked by ANY occurrence in
      // the eval gram set, then the same maximal-span merge
      decontaminateSql),

    QueryDef("d24_bloom_decontaminate", ((s, dir) => {
      // d20 through the broadcast-Bloom prefilter — the 100 TB shape
      // when the eval gram set outgrows an exact broadcast: train grams
      // probe the sketch map-side, only fpp·grams + matches reach the
      // exact verify shuffle. RESULT-IDENTICAL to d20 by construction
      // (no false negatives; exact join kills false positives), so it
      // shares d20's oracle verbatim
      val docs = plantSpan(t(s, dir, "documents"))
      Dedup.bloomDecontaminateSpans(docs.filter(col("doc_id") < 400),
          docs.filter(col("doc_id") >= 400), "text", "doc_id", 15, fpp = 0.01)
        .orderBy("id", "span_start")
    }),
      // the Bloom prefilter is exact-verified, so its contract is
      // literally d20's: same oracle text
      decontaminateSql),

    QueryDef("d19_stream_substring", ((s, dir) => {
      // streaming substring dedup: docs [400, 600) arrive as two
      // micro-batches over the standing gram index (the rest of the
      // corpus); each batch's spans are judged AS-OF-ARRIVAL (corpus so
      // far + own batch — the keep-first/drop-later policy), then the
      // batch absorbs so batch b counts batch a's grams through the
      // index alone. Planted spans guarantee cross-batch duplication
      val docs = plantSpan(t(s, dir, "documents"))
      val table = graft.core.Tables.scoped("gram_idx_stream")
      Dedup.buildGramIndex(docs.filter(col("doc_id") < 400 || col("doc_id") >= 600),
        "text", "doc_id", 15, table, buckets = 16)
      val chunks = stageMicroBatches(docs, "doc_id",
        Seq((400L, 500L), (500L, 600L)), "sg")
      val spans = java.nio.file.Files.createTempDirectory("graft_sg_spans_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_sg_ckpt_").toString
      OnChange.streamingSubstringDedup(s, chunks, "text", "doc_id", 15, table, spans, ckpt)
      s.read.parquet(spans).select("id", "span_start", "span_len")
        .orderBy("id", "span_start")
    }),
      // per-batch-causal recompute: batch a's docs are judged against
      // (standing corpus ∪ a), batch b's against everything — the
      // as-of-arrival semantics the streaming loop implements
      s"""WITH d0 AS (SELECT doc_id, ${plantSpan.sql} AS text FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM d0),
        |g AS (
        |  SELECT doc_id, t.i - 1 AS pos, md5(array_to_string(ws[t.i:t.i+14], ' ')) AS gh
        |  FROM w, unnest(range(1, len(ws)-13)) AS t(i)),
        |na AS (SELECT gh FROM g WHERE doc_id < 500 OR doc_id >= 600 GROUP BY gh HAVING count(*) >= 2),
        |nb AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
        |m AS (
        |  SELECT doc_id, pos FROM g JOIN na USING (gh) WHERE doc_id >= 400 AND doc_id < 500
        |  UNION ALL
        |  SELECT doc_id, pos FROM g JOIN nb USING (gh) WHERE doc_id >= 500 AND doc_id < 600),
        |isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER win IS NULL OR pos - lag(pos) OVER win > 15 THEN 1 ELSE 0 END AS ns
        |  FROM m WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (
        |  SELECT doc_id, pos,
        |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM isl)
        |SELECT doc_id AS id, min(pos) AS span_start, max(pos) + 15 - min(pos) AS span_len
        |FROM sp GROUP BY doc_id, sid ORDER BY id, span_start""".stripMargin),

    QueryDef("d14_semantic_delta", ((s, dir) => {
      // incremental semantic dedup: the standing inverted file carries
      // the frozen quantizer; a batch of NEW vectors (perturbed copies
      // of ids < 100, the d5 construction) routes to its cells and
      // pairs only against cell members + itself — corpus × corpus
      // never runs, nothing re-trains
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val batch = graft.ann.SemDedup.perturbedBatch(e, "embedding", "vec_id")
      val table = graft.core.Tables.scoped("ivf_idx_d14")
      Ann.buildIvfIndex(e, "embedding", "vec_id", table)
      graft.ann.SemDedup.semanticDedupDelta(s, batch, "embedding", "vec_id", table, 0.9)
        .orderBy("a", "b")
    }),
      graft.ann.SemDedup.deltaOracleSql(nlist = 16, rounds = 2, threshold = 0.9),
      audit = Some(graft.ann.SemDedup.deltaAuditSql(nlist = 16, rounds = 2, threshold = 0.9))),

    QueryDef("d26_semantic_decon", ((s, dir) => {
      // semantic train/eval decontamination — the decon triad's third
      // member (d9 n-gram containment, d20/d24 span excision, this the
      // REPHRASED leak neither sees): the eval set is perturbed copies
      // of train vectors (the rephrase analog, d5's construction);
      // eval routes to its nprobe = 2 nearest cells under the standing
      // train index's frozen quantizer (the recall knob a decon run
      // turns up: a rephrasing that drifted across a cell boundary is
      // still caught) and flags the train members ≥ 0.9 cosine — the
      // train corpus never reshuffles or re-trains
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val eval = graft.ann.SemDedup.perturbedBatch(e, "embedding", "vec_id")
      val table = graft.core.Tables.scoped("ivf_idx_d26")
      Ann.buildIvfIndex(e, "embedding", "vec_id", table)
      graft.ann.SemDedup.semanticDecontaminate(s, eval, "embedding", "vec_id", table, 0.9,
          nprobe = 2)
        .orderBy("id")
    }),
      graft.ann.SemDedup.deconOracleSql(nlist = 16, rounds = 2, threshold = 0.9, nprobe = 2),
      audit = Some(graft.ann.SemDedup.deconAuditSql(nlist = 16, rounds = 2,
      threshold = 0.9, nprobe = 2))),

    QueryDef("d17_stream_semantic", ((s, dir) => {
      // streaming semantic ingest: d14's delta through the OnChange
      // loop — the perturbed batch (d5 construction, ids +10000)
      // arrives as two micro-batches; each routes under the frozen
      // quantizer, pairs against its cells, and is absorbed, so the
      // second batch pairs against the first through the index alone;
      // the union of per-batch pairs must equal the one-shot delta
      // (d14's oracle)
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val batch = graft.ann.SemDedup.perturbedBatch(e, "embedding", "vec_id")
      val table = graft.core.Tables.scoped("ivf_idx_d17")
      Ann.buildIvfIndex(e, "embedding", "vec_id", table)
      val chunks = stageMicroBatches(batch, "vec_id",
        Seq((10000L, 10050L), (10050L, 10100L)), "sd")
      val pairs = java.nio.file.Files.createTempDirectory("graft_sd_pairs_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_sd_ckpt_").toString
      OnChange.streamingSemanticDedup(s, chunks, "embedding", "vec_id", table, 0.9, pairs, ckpt)
      s.read.parquet(pairs).select("a", "b", "sim").orderBy("a", "b")
    }),
      // same ground truth as d14: the streamed per-batch outputs union to
      // exactly the one-shot semantic delta over the whole batch region
      graft.ann.SemDedup.deltaOracleSql(nlist = 16, rounds = 2, threshold = 0.9),
      audit = Some(graft.ann.SemDedup.deltaAuditSql(nlist = 16, rounds = 2, threshold = 0.9))),

    QueryDef("d15_semantic_indexed", ((s, dir) => {
      // d12 against the standing inverted file (deployment shape):
      // same trained quantizer → identical output, so it shares d12's
      // oracle; the bucketed cid self-join runs shuffle-free
      val table = graft.core.Tables.scoped("ivf_idx_d15")
      Ann.buildIvfIndex(t(s, dir, "embeddings"), "embedding", "vec_id", table)
      graft.ann.SemDedup.semanticDedupIndexed(s, table, 0.4)
        .orderBy("id")
    }),
      graft.ann.SemDedup.oracleSql(nlist = 16, rounds = 2, threshold = 0.4),
      audit = Some(graft.ann.SemDedup.auditSql(nlist = 16, rounds = 2, threshold = 0.4))),

    QueryDef("d12_semantic_dedup", ((s, dir) =>
      // SemDeDup: k-means cells route the near-dup scan — pairs are
      // only generated inside a cluster, so the corpus shuffles once on
      // cid instead of the d7 all-pairs kernel; drop rule = smaller-id
      // representative wins at >= 0.4 cosine
      graft.ann.SemDedup.semanticDedup(t(s, dir, "embeddings"), "embedding", "vec_id",
          nlist = 16, rounds = 2, threshold = 0.4)
        .orderBy("id")),
      graft.ann.SemDedup.oracleSql(nlist = 16, rounds = 2, threshold = 0.4),
      audit = Some(graft.ann.SemDedup.auditSql(nlist = 16, rounds = 2, threshold = 0.4))),

    QueryDef("d7_embedding_simjoin", ((s, dir) =>
      // EXACT similarity join at a moderate threshold (LSH recall can't
      // reach 1 down here) — block-pair replication: no broadcast of the
      // corpus, no BNLJ, shuffle = n*blocks rows
      Dedup.embeddingSimJoin(t(s, dir, "embeddings"), "embedding", "vec_id", 0.4)
        .orderBy("a", "b")),
      // fixed-projection pair sims since r18 (the exactness sweep): the
      // threshold compares bit-identical doubles on any engine build
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |fm AS (SELECT id, v, list_max([abs(x::DOUBLE) FOR x IN v]) AS mx FROM e),
        |fx AS (SELECT id, [floor(x::DOUBLE / mx * 1048576.0)::BIGINT FOR x IN v] AS f FROM fm),
        |pn AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm
        |       FROM (SELECT id, [x::DOUBLE FOR x IN f] AS v FROM fx))
        |SELECT x.id AS a, y.id AS b,
        | round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS sim
        |FROM pn x JOIN pn y ON x.id < y.id
        |WHERE list_inner_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4
        |ORDER BY a, b""".stripMargin,
      audit = Some(embPairAuditSql(0.4,
      "u AS (SELECT vec_id, embedding FROM embeddings)"))))
}
