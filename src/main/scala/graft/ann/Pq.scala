package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding search — the 100 TB
  * compression path: a D-dim vector becomes m sub-codes (one byte each
  * at ksub ≤ 256), a 32× storage cut at D=64/m=8 against float32, and
  * queries score the compressed corpus without ever decompressing it to
  * floats on disk (ADC — here expressed as reconstruction cosine, which
  * is algebraically the same sum). No reference analog (LLM-pipeline
  * mandate, like the rest of graft.ann); the natural composition at
  * extreme scale is IVF cells routing + PQ codes inside each cell.
  *
  * Engine-exact by the same discipline as `Ann.trainCentroids`: vectors
  * snap to the shared ∞-normalized integer fixed point
  * (floor(x/max|x|·2^20) — Ann.normed's `fu`), per-subspace codebooks are k-means-trained with
  * integer-exact averaging, and every distance/score consumes identical
  * int-valued doubles sequentially on both engines — so the DuckDB
  * oracle (`oracleSql`) re-derives codebooks, codes, reconstructions
  * and the final top-k from scratch.
  *
  * Shapes: training/encoding are broadcast equi-joins on the subspace
  * id (the codebook table is m·ksub rows) followed by one map-side
  * min_by — no corpus-keyed shuffle; the only wide exchanges group by
  * (id, sub) to pick winners and by id to reassemble codes, both on
  * rows of a few bytes. */
object Pq {

  import graft.functions.VectorFunctions.dot

  private def fixedD(f: Column): Column = transform(f, _.cast("double"))

  // the fixed-point projection is Ann.normed's shared `fu`
  // (∞-normalized — graft.functions.FixedUnitProject): max is exact
  // and order-independent, so the projection is engine-build-stable
  // where the previous L2-unit division (a float accumulation feeding
  // floor) was not — a single-nonzero-coordinate vector sat EXACTLY on
  // a floor boundary there. Cosine is per-vector-scale-invariant, so
  // the ADC/rerank semantics are unchanged; only the codebook
  // geometry's quantization grid moves (recall re-measured in
  // PERF.md's Recall table).

  /** Exact squared L2 between int-valued double arrays, written as
    * |x|² − 2·x·c + |c|² so both engines evaluate the identical exact
    * expression (all terms are exact integers in double range). */
  private def l2sq(x: Column, c: Column): Column =
    dot(x, x) - lit(2.0d) * dot(x, c) + dot(c, c)

  /** (id, sub, x) sub-vector rows of the fixed unit vectors. `dims = 0`
    * derives the subspace width PER ROW from the vector itself
    * (`size(fu) div m` — a codegen'd int op), so no caller ever needs a
    * driver-side dims probe before training. */
  private def subRows(e: DataFrame, m: Int, dims: Int): DataFrame = {
    val dsub: Column =
      if (dims > 0) lit(dims / m)
      else floor(size(col("fu")) / lit(m)).cast("int")
    val rows = e.select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        transform(col("fu"), _.cast("long")).as("fu"))
    // the derived-width path must fail loudly on indivisible vectors —
    // floor() would silently drop the trailing dims from every subspace
    // (the encode kernel already throws; training has to match)
    val guarded =
      if (dims > 0) rows
      else rows.where(coalesce(assert_true(size(col("fu")) % m === 0,
        concat(lit("vector dims "), size(col("fu")),
          lit(s" must split into $m subspaces"))), lit(true)))
    guarded.select(col("id"), col("sub"),
      slice(col("fu"), col("sub") * dsub + 1, dsub).as("x"))
  }

  /** Nearest codeword per (row, subspace) under the given codebooks:
    * broadcast join on `sub`, exact-L2 min_by with code tie-break. */
  private def assign(su: DataFrame, books: DataFrame): DataFrame =
    su.join(broadcast(books), Seq("sub"))
      .select(col("id"), col("sub"), col("x"), col("code"),
        l2sq(fixedD(col("x")), fixedD(col("cw"))).as("d2"))
      .groupBy("id", "sub")
      .agg(min_by(struct(col("code"), col("x")), struct(col("d2"), col("code"))).as("a"))
      .select(col("id"), col("sub"), col("a.code").as("code"), col("a.x").as("x"))

  /** Per-subspace k-means codebooks: (sub, code, cw array<long>) —
    * m·ksub rows. Seeded by the md5-ranked corpus sample (each seed
    * row's subvectors seed the same code index in every subspace);
    * `rounds` Lloyd iterations with integer-exact averaging; empty
    * codes keep their previous codeword. */
  def trainCodebooks(emb: DataFrame, vecCol: String, idCol: String,
                     m: Int = 8, ksub: Int = 16, rounds: Int = 1, dims: Int = 0): DataFrame = {
    val e = Ann.normed(emb, vecCol, idCol)
    // dims = 0 is fine: subRows derives the subspace width per row, so
    // no job fires before the training's first real stage
    if (dims > 0) require(dims % m == 0, s"dims $dims must split into $m subspaces")
    // n·m tiny rows, a pure projection off the vector scan — cheaper to
    // recompute per round than to materialize
    val su = subRows(e, m, dims)
    // windowless rank of the ksub seed ids (same single-row aggregate
    // + array_sort + posexplode idiom as Ann.trainCentroids — an
    // unpartitioned window here spammed WindowExec WARNs every build)
    val ord = e.select(col("id"))
      .withColumn("__r", md5(concat(lit("cent:"), col("id"))))
      .orderBy(col("__r"), col("id")).limit(ksub)
      .agg(array_sort(collect_list(struct(col("__r"), col("id")))).as("__a"))
      .select(posexplode(col("__a")).as(Seq("code", "__s")))
      .select(col("__s.id").as("id"), col("code").cast("long").as("code"))
    var books = su.join(broadcast(ord), Seq("id"))
      .select(col("sub"), col("code"), col("x").as("cw"))
    for (_ <- 1 to rounds) {
      val upd = assign(su, books)
        .select(col("sub"), col("code"), posexplode(col("x")).as(Seq("dim", "xi")))
        .groupBy("sub", "code", "dim").agg(sum("xi").as("sx"), count(lit(1)).as("cnt"))
        .groupBy("sub", "code")
        .agg(transform(array_sort(collect_list(struct(col("dim"),
          expr("sx div cnt").as("q")))), s => s.getField("q")).as("nf"))
      books = graft.core.Checkpoints.truncate(
        books.as("p").join(upd.as("u"), Seq("sub", "code"), "left")
          .select(col("sub"), col("code"), coalesce(col("u.nf"), col("p.cw")).as("cw")))
    }
    books
  }

  /** PQ codes per document: (id, codes array<long> of length m) — the
    * compressed representation a deployment stores (m bytes/vector at
    * ksub ≤ 256). */
  def encode(emb: DataFrame, vecCol: String, idCol: String, books: DataFrame,
             m: Int = 8): DataFrame = {
    // the codebook is metadata-sized (m·ksub rows) — collect it once
    // and fuse the whole encode into the codegen'd per-row PqEncode
    // kernel: corpus encoding becomes ONE map-only pass with zero
    // Exchanges (the declarative subspace-explode + broadcast-join +
    // two-aggregation route paid two corpus-keyed shuffles; engine
    // exactness is argued at graft.functions.PqEncode)
    val rows = books.select(col("sub").cast("int"), col("code").cast("int"), col("cw")).collect()
    val mEff = if (m > 0) m else rows.iterator.map(_.getInt(0)).max + 1
    val ksub = rows.iterator.map(_.getInt(1)).max + 1
    val tbl = new Array[Array[Long]](mEff * ksub)
    rows.foreach { r => tbl(r.getInt(0) * ksub + r.getInt(1)) = r.getSeq[Long](2).toArray }
    import org.apache.spark.sql.graft.ColumnBridge
    emb.select(col(idCol).as("id"),
      ColumnBridge.column(graft.functions.PqEncode(
        ColumnBridge.expr(col(vecCol)), tbl, mEff, ksub)).as("codes"))
  }

  /** The codebook's own ksub (max code + 1) — probes are
    * SELF-DESCRIBING: deriving the lookup arithmetic from `_books`
    * itself means a build/probe parameter mismatch (or a codebook
    * seeded with fewer than ksub codes on a tiny corpus) can never
    * silently misalign the decode. Metadata-sized read. */
  private def ksubOf(books: DataFrame): Int =
    books.agg(max(col("code").cast("int"))).head().getInt(0) + 1

  /** The m·ksub codebook collapsed to ONE lookup-array row (element
    * sub·ksub + code + 1 = that codeword's int-valued double
    * coordinates): broadcast it and ADC reconstruction becomes m array
    * lookups per row — completely map-side, no corpus shuffle. */
  private def booksArray(books: DataFrame, ksub: Int): DataFrame =
    books.agg(transform(array_sort(collect_list(struct(
        (col("sub") * ksub + col("code")).as("idx"), fixedD(col("cw")).as("cd")))),
      s => s.getField("cd")).as("barr"))

  /** Adds (rv, rnorm) — the reconstructed unit vector and its norm —
    * to any DataFrame carrying a `codes` column, map-side off the
    * broadcast codebook lookup array: m lookups + one flatten per row,
    * rnorm exact (int-valued squares sum exactly in double), and the
    * downstream cosine consumes the same sequential doubles as a
    * from-scratch reconstruction. MAP-ONLY over the codes side. */
  private[ann] def adcAugment(codes: DataFrame, books: DataFrame): DataFrame = {
    val ksub = ksubOf(books)
    codes.join(broadcast(booksArray(books, ksub)))
      .withColumn("rv", flatten(transform(col("codes"), (code, sub) =>
        element_at(col("barr"), (sub * ksub + code + lit(1)).cast("int")))))
      .withColumn("rnorm", sqrt(dot(col("rv"), col("rv"))))
  }

  private def adcScores(codes: DataFrame, books: DataFrame, q: DataFrame): DataFrame =
    adcAugment(codes, books)
      .join(broadcast(q), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (dot(col("qv"), col("rv")) / (col("qnorm") * col("rnorm"))).as("sim"))

  /** Exact rerank of a (query, neighbor) shortlist: only these rows —
    * queries·shortlist of them — ever read full-precision vectors. */
  private[ann] def rerank(short: DataFrame, e: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val exact = broadcast(short)
      .join(e, col("neighbor_id") === col("id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qnorm") * col("norm"))).as("sim"))
    Ann.topKPerQuery(exact, k, salts = 32)
  }

  /** PQ ANN top-k, the production two-stage shape: the COMPRESSED
    * corpus is scanned with ADC (reconstruction cosine — quantization
    * collapses near-identical vectors, so ADC alone cannot order within
    * a tight cluster), a per-query SHORTLIST survives, and only the
    * shortlist's full vectors are fetched for the exact rerank. At
    * 100 TB the first stage touches m-byte codes; full vectors are read
    * for queries·shortlist rows only. */
  def pqTopK(emb: DataFrame, vecCol: String, idCol: String,
             queryFilter: Column, k: Int, m: Int = 8, ksub: Int = 16,
             rounds: Int = 1, shortlist: Int = 50, dims: Int = 0): DataFrame = {
    val e = Ann.normed(emb, vecCol, idCol)
    val books = trainCodebooks(emb, vecCol, idCol, m, ksub, rounds, dims)
    val codes = encode(emb, vecCol, idCol, books, m)
    val q = e.filter(queryFilter)
      .select(col("id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val short = Ann.topKPerQuery(adcScores(codes, books, q), shortlist, salts = 32)
      .select(col("query_id"), col("neighbor_id"))
    rerank(short, e, q, k)
  }

  /** Materialize the PQ index — the deployment split `pqTopK` fuses
    * inline: the corpus is trained + encoded ONCE per snapshot, and
    * every later probe batch ADC-scans the stored codes. Written
    * artifacts: `<table>` = the codes (id, codes array<long> of length
    * m — m bytes a row at ksub ≤ 256, the 32× compressed corpus) and
    * `<table>_books` = the m·ksub codebook companion (a constant-sized
    * metadata table read by every probe, same discipline as
    * `buildIvfIndex`'s `_cent`). */
  def buildPqIndex(emb: DataFrame, vecCol: String, idCol: String, table: String,
                   m: Int = 8, ksub: Int = 16, rounds: Int = 1, dims: Int = 0): String = {
    val spark = emb.sparkSession
    graft.core.Tables.reset(spark, table, "_books")
    trainCodebooks(emb, vecCol, idCol, m, ksub, rounds, dims)
      .write.mode("overwrite").saveAsTable(s"${table}_books")
    encode(emb, vecCol, idCol, spark.table(s"${table}_books"), m)
      .write.mode("overwrite").saveAsTable(table)
    table
  }

  /** `pqTopK` against the pre-built PQ index: the ADC stage reads ONLY
    * the stored codes (map-side reconstruction off the broadcast
    * `<table>_books` companion); `emb` is touched exactly twice — the
    * query vectors (a filter-pruned scan) and the shortlist's exact
    * rerank. No codebook re-training, no corpus re-encode, no
    * full-vector scan before the rerank. Output is identical to
    * `pqTopK` with the build's parameters (training and encoding are
    * deterministic). The probe is SELF-DESCRIBING: the decode
    * arithmetic derives from the `_books` companion itself, so there
    * is no build parameter to keep in sync. */
  def pqTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                    emb: DataFrame, vecCol: String, idCol: String,
                    queryFilter: Column, k: Int,
                    shortlist: Int = 50): DataFrame = {
    val e = Ann.normed(emb, vecCol, idCol)
    val q = e.filter(queryFilter)
      .select(col("id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val approx = adcScores(spark.table(table), spark.table(s"${table}_books"), q)
    val short = Ann.topKPerQuery(approx, shortlist, salts = 32)
      .select(col("query_id"), col("neighbor_id"))
    rerank(short, e, q, k)
  }

  /** DuckDB SQL re-deriving the ENTIRE PQ pipeline from scratch —
    * fixed-point unit vectors, the md5 seed, every unrolled Lloyd
    * round per subspace, encoding, reconstruction, and the exact
    * top-k. */
  def oracleSql(k: Int, m: Int = 8, dsub: Int = 8, ksub: Int = 16, rounds: Int = 1,
                shortlist: Int = 50, queryPred: String = "q.id < 10"): String =
    s"""WITH ${pqCtes(m, dsub, ksub, rounds, shortlist, queryPred)}
       |SELECT query_id, neighbor_id, round(sim, 4) AS sim, rnk
       |FROM r WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** The train→encode→ADC→rerank CTE chain shared by [[oracleSql]] and
    * [[auditSql]] — ends in `r` (exact-reranked shortlist, ranked); the
    * ranked intermediates `encr` (per-subspace code argmin with its
    * integer L2) and `scr` (ADC scores ranked per query) stay open for
    * the audit's gap probes. */
  private def pqCtes(m: Int, dsub: Int, ksub: Int, rounds: Int,
                     shortlist: Int, queryPred: String): String = {
    def l2 = "(list_inner_product(s.xd, s.xd) - 2*list_inner_product(s.xd, b.cd) + list_inner_product(b.cd, b.cd))"
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"b${r - 1}"
      s"""bd$r AS (SELECT sub, code, cw, [c::DOUBLE FOR c IN cw] AS cd FROM $prev),
         |asg$r AS (SELECT id, sub, x, code FROM (
         |    SELECT s.id, s.sub, s.x, b.code,
         |           row_number() OVER (PARTITION BY s.id, s.sub ORDER BY $l2, b.code) AS rn
         |    FROM sud s JOIN bd$r b USING (sub)) WHERE rn = 1),
         |sums$r AS (SELECT sub, code, t.i AS i, sum(x[t.i])::BIGINT AS sx, count(*) AS cnt
         |           FROM asg$r, unnest(range(1, $dsub + 1)) AS t(i) GROUP BY sub, code, t.i),
         |nw$r AS (SELECT sub, code, list(sx // cnt ORDER BY i) AS cw FROM sums$r GROUP BY sub, code),
         |b$r AS (SELECT p.sub, p.code, coalesce(nw.cw, p.cw) AS cw
         |        FROM $prev p LEFT JOIN nw$r nw USING (sub, code))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |fm AS (SELECT id, v, list_max([abs(x::DOUBLE) FOR x IN v]) AS mx FROM e),
       |fu AS (SELECT id, [floor(x::DOUBLE / mx * 1048576.0)::BIGINT FOR x IN v] AS f FROM fm),
       |su AS (SELECT id, s.s AS sub, f[s.s*$dsub+1 : s.s*$dsub+$dsub] AS x
       |       FROM fu, unnest(range(0, $m)) AS s(s)),
       |sud AS (SELECT id, sub, x, [xx::DOUBLE FOR xx IN x] AS xd FROM su),
       |ord AS (SELECT id, row_number() OVER (ORDER BY md5('cent:' || id), id) - 1 AS code
       |        FROM (SELECT id FROM fu ORDER BY md5('cent:' || id), id LIMIT $ksub)),
       |b0 AS (SELECT su.sub, ord.code, su.x AS cw FROM ord JOIN su USING (id)),
       |$roundCtes,
       |bdF AS (SELECT sub, code, cw, [c::DOUBLE FOR c IN cw] AS cd FROM b$rounds),
       |encr AS (
       |    SELECT s.id, s.sub, b.code, $l2 AS d2,
       |           row_number() OVER (PARTITION BY s.id, s.sub ORDER BY $l2, b.code) AS rn
       |    FROM sud s JOIN bdF b USING (sub)),
       |enc AS (SELECT id, sub, code FROM encr WHERE rn = 1),
       |recon AS (SELECT enc.id, flatten(list(b.cd ORDER BY enc.sub)) AS rv
       |          FROM enc JOIN bdF b ON enc.sub = b.sub AND enc.code = b.code GROUP BY enc.id),
       |rcn AS (SELECT id, rv, sqrt(list_inner_product(rv, rv)) AS rnorm FROM recon),
       |sc AS (SELECT q.id AS query_id, x.id AS neighbor_id,
       |              list_inner_product(q.v, x.rv) / (q.nrm * x.rnorm) AS sim
       |       FROM n q JOIN rcn x ON x.id <> q.id WHERE $queryPred),
       |scr AS (SELECT query_id, neighbor_id, sim,
       |               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS srn
       |        FROM sc),
       |shortl AS (SELECT query_id, neighbor_id FROM scr WHERE srn <= $shortlist),
       |ex AS (SELECT s.query_id, s.neighbor_id,
       |              list_inner_product(q.v, x.v) / (q.nrm * x.nrm) AS sim
       |       FROM shortl s JOIN n q ON q.id = s.query_id JOIN n x ON x.id = s.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
       |      FROM ex)""".stripMargin
  }

  /** Float-ranking audit for the PQ chain (s7/s8): the per-subspace
    * encode argmin is INTEGER-exact (fixed-point unit vectors, L2 in
    * exact integer range — ties break to the low code identically on
    * both engines), but the ADC shortlist cut and the exact rerank
    * rank RAW-float cosines, so those stages are pinned tie-free. */
  def auditSql(k: Int, m: Int = 8, dsub: Int = 8, ksub: Int = 16, rounds: Int = 1,
               shortlist: Int = 50, queryPred: String = "q.id < 10"): String =
    s"""WITH ${pqCtes(m, dsub, ksub, rounds, shortlist, queryPred)},
       |eg AS (
       |  SELECT id, sub, max(CASE WHEN rn = 2 THEN d2 END)
       |            - max(CASE WHEN rn = 1 THEN d2 END) AS g
       |  FROM encr WHERE rn <= 2 GROUP BY id, sub HAVING count(*) = 2),
       |sg0 AS (
       |  SELECT query_id, sim - lead(sim) OVER
       |           (PARTITION BY query_id ORDER BY srn) AS g
       |  FROM scr WHERE srn <= ${shortlist + 1}),
       |sg AS (SELECT query_id, g FROM sg0 WHERE g IS NOT NULL),
       |kg0 AS (
       |  SELECT query_id, sim - lead(sim) OVER
       |           (PARTITION BY query_id ORDER BY rnk) AS g
       |  FROM r WHERE rnk <= ${k + 1}),
       |kg AS (SELECT query_id, g FROM kg0 WHERE g IS NOT NULL)
       |SELECT 'encode' AS stage,
       |       (SELECT count(*) FROM eg WHERE g = 0)::BIGINT AS n_ties,
       |       coalesce((SELECT min(g)::DOUBLE FROM eg), 1.0) AS min_gap,
       |       1 AS integer_exact
       |UNION ALL
       |SELECT 'adc_shortlist',
       |       (SELECT count(*) FROM sg WHERE g = 0)::BIGINT,
       |       coalesce((SELECT min(g) FROM sg), 1.0),
       |       0
       |UNION ALL
       |SELECT 'rerank',
       |       (SELECT count(*) FROM kg WHERE g = 0)::BIGINT,
       |       coalesce((SELECT min(g) FROM kg), 1.0),
       |       0""".stripMargin
}
