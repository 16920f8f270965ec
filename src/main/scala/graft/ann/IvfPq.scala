package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF×PQ — the billion-vector index layout (no reference analog;
  * LLM-pipeline mandate): a coarse IVF quantizer routes vectors into
  * nlist cells (`Ann.trainCentroids`, the s3/s5 machinery) and each
  * cell stores its members as PQ CODES (`Pq`, the s7/s8 machinery)
  * instead of full vectors — so the inverted file holds m bytes per
  * vector, a probe ADC-scans only its nprobe cells' codes, and full
  * vectors are read for the shortlist rerank alone. At 100 TB of
  * float32 embeddings the index is ~3 TB of codes, a probe touches
  * ~nprobe/nlist of it, and no stage ever scans the raw corpus.
  *
  * Engine-exact by construction: both trainings are the integer
  * fixed-point Lloyd iterations the s3/s7 oracles already re-derive,
  * and the composed `oracleSql` chains both derivations (prefixed
  * CTEs) into the routed ADC + rerank. */
object IvfPq {

  import graft.functions.VectorFunctions.dot

  /** Materialize the IVF×PQ index. Written artifacts:
    *  - `<table>`        — (id, cid, codes): the inverted file, PQ
    *    codes bucketed by cell id (probes ride the buckets);
    *  - `<table>_cent`   — the one-row trained-centroid array (the
    *    router, broadcast by every probe);
    *  - `<table>_books`  — the m·ksub PQ codebook (the ADC decoder,
    *    broadcast by every probe).
    * Codebooks are GLOBAL (trained corpus-wide, not per cell): ADC
    * scores stay comparable across probed cells and the decode
    * companion stays constant-sized. */
  def buildIvfPqIndex(emb: DataFrame, vecCol: String, idCol: String, table: String,
                      nlist: Int = 16, ivfRounds: Int = 2, m: Int = 8, ksub: Int = 16,
                      pqRounds: Int = 1, dims: Int = 0, buckets: Int = 16,
                      keep: Seq[String] = Nil): String = {
    val spark = emb.sparkSession
    graft.core.Tables.reset(spark, table, "_cent", "_books")
    Ann.trainCentroids(emb, vecCol, idCol, nlist, ivfRounds)
      .write.mode("overwrite").saveAsTable(s"${table}_cent")
    Pq.trainCodebooks(emb, vecCol, idCol, m, ksub, pqRounds, dims)
      .write.mode("overwrite").saveAsTable(s"${table}_books")
    val codes = Pq.encode(emb, vecCol, idCol, spark.table(s"${table}_books"), m)
    // `keep`: filterable metadata stored inline with the codes (same
    // filtered-search layout as Ann.buildIvfIndex)
    val assign = Ann.routed(spark, Ann.normed(emb, vecCol, idCol), table).select("id", "cid")
    Ann.withKeep(assign, emb, idCol, keep).join(codes, Seq("id"))
      .write.mode("overwrite")
      .bucketBy(buckets, "cid").sortBy("cid")
      .saveAsTable(table)
    table
  }

  /** Probe the IVF×PQ index: queries rank cells map-side against the
    * broadcast `<table>_cent` router; the nprobe candidate cells come
    * out of the bucketed inverted file as a cid equi-join (the corpus
    * never reshuffles); candidates are ADC-scored map-side off the
    * broadcast `<table>_books` decoder (reconstruction happens per
    * CANDIDATE row, after the cell cut — unprobed cells never decode);
    * and only the per-query shortlist reads full vectors for the exact
    * rerank. The decode is SELF-DESCRIBING (arithmetic derived from
    * the `_books` companion — no build parameter to keep in sync).
    *
    * `neighborPred` = filtered search over `keep` metadata stored
    * inline at build: a map-side filter on the bucketed codes scan,
    * applied BEFORE the ADC stage — non-qualifying codes are never
    * decoded and cannot starve the shortlist or the final k. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                       emb: DataFrame, vecCol: String, idCol: String,
                       queryFilter: Column, k: Int, nprobe: Int = 4,
                       shortlist: Int = 50,
                       neighborPred: Column = lit(true)): DataFrame = {
    val e = Ann.normed(emb, vecCol, idCol)
    val cent = spark.table(s"${table}_cent")
    // ONE filter-pruned scan extracts the query set; cell ranking and
    // the rerank both derive from it. Cell ranking rides the fu/fnorm
    // fixed-point projection (engine-build-deterministic routing);
    // ADC and the exact rerank keep the RAW query vector.
    val q0 = e.filter(queryFilter)
    val probes = q0.join(broadcast(cent))
      .select(col("id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"),
        explode(transform(slice(Ann.sortedCells, 1, nprobe), c => c.getField("cid"))).as("cid"))
    val q = q0.select(col("id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val codes = spark.table(table).filter(neighborPred)
    val cand = codes.join(broadcast(probes),
      codes("cid") === probes("cid") && col("id") =!= col("query_id"))
    val scored = Pq.adcAugment(cand, spark.table(s"${table}_books"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (dot(col("qv"), col("rv")) / (col("qnorm") * col("rnorm"))).as("sim"))
    val short = Ann.topKPerQuery(scored, shortlist, salts = 32)
      .select(col("query_id"), col("neighbor_id"))
    Pq.rerank(short, e, q, k)
  }

  /** Absorb a batch of NEW vectors into the standing IVF×PQ index:
    * the batch is ENCODED under the frozen `<table>_books` codebook
    * (one map-only `PqEncode` pass) and ROUTED under the frozen
    * `<table>_cent` quantizer, then appended under the cid bucket spec
    * — the coarse structure and the codebooks are as-of-build, exactly
    * how a faiss IVF-PQ `add` behaves; re-train by rebuilding.
    * Append-only: to re-ingest an id, `compactIvfPqIndex` first. With
    * both artifacts frozen, compact + absorb round-trips the index
    * bit-for-bit. */
  def absorbIntoIvfPqIndex(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                           vecCol: String, idCol: String, table: String): Unit = {
    // m = 0: encode derives the subspace count from the codebook itself
    val codes = Pq.encode(batch, vecCol, idCol, spark.table(s"${table}_books"), m = 0)
    val assign = Ann.routed(spark, Ann.normed(batch, vecCol, idCol), table).select("id", "cid")
    // keep-metadata columns (filtered-search layout) are derived from
    // the table's own schema, so absorb works against any build
    val keep = spark.table(table).columns.toSeq.filterNot(Set("id", "cid", "codes"))
    graft.core.Tables.append(spark, table, Ann.withKeep(assign, batch, idCol, keep).join(codes, Seq("id")))
  }

  /** Remove the given ids from the standing IVF×PQ index (anti-join
    * rewrite + atomic rename; the `_cent`/`_books` companions are
    * as-of-build metadata and stay untouched). */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                        ids: DataFrame): Unit =
    graft.core.Tables.compactById(spark, table, ids)

  /** DuckDB SQL re-deriving the WHOLE IVF×PQ pipeline from scratch:
    * the IVF chain (`Ann.ivfKmeansOracleSql`'s CTEs, prefixed `i`)
    * trains the router and assigns cells + probe sets; the PQ chain
    * (`Pq.oracleSql`'s CTEs, prefixed `p`) trains codebooks, encodes,
    * and reconstructs; the composition ADC-scores candidates routed
    * through shared cells and reranks the shortlist exactly. */
  def oracleSql(k: Int, nlist: Int = 16, nprobe: Int = 4, ivfRounds: Int = 2,
                m: Int = 8, dsub: Int = 8, ksub: Int = 16, pqRounds: Int = 1,
                shortlist: Int = 50, queryPred: String = "id < 10",
                neighborPred: String = "TRUE"): String =
    s"""WITH ${ivfPqCtes(nlist, nprobe, ivfRounds, m, dsub, ksub, pqRounds,
                         shortlist, queryPred, neighborPred)}
       |SELECT query_id, neighbor_id, round(sim, 4) AS sim, rnk
       |FROM r WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** The composed IVF×PQ CTE chain shared by [[oracleSql]] and
    * [[auditSql]] — ends in `r`; `irankedF` (integer-exact routing),
    * `scr` (ADC ranked) and `r` (rerank ranked) stay open for the
    * audit's per-stage gap probes. */
  private def ivfPqCtes(nlist: Int, nprobe: Int, ivfRounds: Int,
                        m: Int, dsub: Int, ksub: Int, pqRounds: Int,
                        shortlist: Int, queryPred: String,
                        neighborPred: String): String = {
    val nfilter = if (neighborPred == "TRUE") ""
      else s"\n       WHERE a.id IN (SELECT vec_id FROM embeddings WHERE $neighborPred)"
    val ivfRoundCtes = (1 to ivfRounds).map { r =>
      val prev = s"ic${r - 1}"
      s"""icdn$r AS (SELECT cid, cfd, sqrt(list_inner_product(cfd, cfd)) AS cfn
         |           FROM (SELECT cid, [x::DOUBLE FOR x IN f] AS cfd FROM $prev)),
         |isims$r AS (
         |  SELECT p.id, p.f, c.cid,
         |         list_inner_product(p.fv, c.cfd) / (p.fn * c.cfn) AS csim
         |  FROM ipn p, icdn$r c),
         |iasg$r AS (
         |  SELECT id, f, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS rn
         |    FROM isims$r) WHERE rn = 1),
         |isums$r AS (
         |  SELECT cid, t.i AS i, sum(f[t.i])::BIGINT AS sx, count(*) AS cnt
         |  FROM iasg$r, unnest(range(1, len(f) + 1)) AS t(i) GROUP BY cid, t.i),
         |inw$r AS (SELECT cid, list(sx // cnt ORDER BY i) AS f FROM isums$r GROUP BY cid),
         |ic$r AS (SELECT p.cid, coalesce(nw.f, p.f) AS f FROM $prev p LEFT JOIN inw$r nw USING (cid))"""
        .stripMargin
    }.mkString(",\n")
    def l2 = "(list_inner_product(s.xd, s.xd) - 2*list_inner_product(s.xd, b.cd) + list_inner_product(b.cd, b.cd))"
    val pqRoundCtes = (1 to pqRounds).map { r =>
      val prev = s"pb${r - 1}"
      s"""pbd$r AS (SELECT sub, code, cw, [c::DOUBLE FOR c IN cw] AS cd FROM $prev),
         |pasg$r AS (SELECT id, sub, x, code FROM (
         |    SELECT s.id, s.sub, s.x, b.code,
         |           row_number() OVER (PARTITION BY s.id, s.sub ORDER BY $l2, b.code) AS rn
         |    FROM psud s JOIN pbd$r b USING (sub)) WHERE rn = 1),
         |psums$r AS (SELECT sub, code, t.i AS i, sum(x[t.i])::BIGINT AS sx, count(*) AS cnt
         |            FROM pasg$r, unnest(range(1, $dsub + 1)) AS t(i) GROUP BY sub, code, t.i),
         |pnw$r AS (SELECT sub, code, list(sx // cnt ORDER BY i) AS cw FROM psums$r GROUP BY sub, code),
         |pb$r AS (SELECT p.sub, p.code, coalesce(nw.cw, p.cw) AS cw
         |         FROM $prev p LEFT JOIN pnw$r nw USING (sub, code))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |ifm AS (SELECT id, v, list_max([abs(x::DOUBLE) FOR x IN v]) AS mx FROM e),
       |ifx AS (SELECT id, CASE WHEN mx = 0 THEN [0::BIGINT FOR x IN v]
       |                   ELSE [floor(x::DOUBLE / mx * 1048576.0)::BIGINT FOR x IN v] END AS f
       |        FROM ifm),
       |ipn AS (SELECT id, fv, sqrt(list_inner_product(fv, fv)) AS fn, f
       |        FROM (SELECT id, [x::DOUBLE FOR x IN f] AS fv, f FROM ifx)),
       |ic0 AS (SELECT row_number() OVER (ORDER BY md5('cent:' || id), id) - 1 AS cid, f
       |        FROM (SELECT id, f FROM ifx ORDER BY md5('cent:' || id), id LIMIT $nlist)),
       |$ivfRoundCtes,
       |icdnF AS (SELECT cid, cfd, sqrt(list_inner_product(cfd, cfd)) AS cfn
       |          FROM (SELECT cid, [x::DOUBLE FOR x IN f] AS cfd FROM ic$ivfRounds)),
       |isimsF AS (
       |  SELECT n.id, n.v, n.nrm, c.cid,
       |         list_inner_product(p.fv, c.cfd) / (p.fn * c.cfn) AS csim
       |  FROM n JOIN ipn p ON n.id = p.id, icdnF c),
       |irankedF AS (
       |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS crn
       |  FROM isimsF),
       |iassign AS (SELECT id, cid FROM irankedF WHERE crn = 1),
       |iprobes AS (SELECT id AS query_id, v AS qv, nrm AS qnorm, cid
       |            FROM irankedF WHERE $queryPred AND crn <= $nprobe),
       |pfm AS (SELECT id, v, list_max([abs(x::DOUBLE) FOR x IN v]) AS mx FROM e),
       |pfu AS (SELECT id, [floor(x::DOUBLE / mx * 1048576.0)::BIGINT FOR x IN v] AS f FROM pfm),
       |psu AS (SELECT id, s.s AS sub, f[s.s*$dsub+1 : s.s*$dsub+$dsub] AS x
       |        FROM pfu, unnest(range(0, $m)) AS s(s)),
       |psud AS (SELECT id, sub, x, [xx::DOUBLE FOR xx IN x] AS xd FROM psu),
       |pord AS (SELECT id, row_number() OVER (ORDER BY md5('cent:' || id), id) - 1 AS code
       |         FROM (SELECT id FROM pfu ORDER BY md5('cent:' || id), id LIMIT $ksub)),
       |pb0 AS (SELECT psu.sub, pord.code, psu.x AS cw FROM pord JOIN psu USING (id)),
       |$pqRoundCtes,
       |pbdF AS (SELECT sub, code, cw, [c::DOUBLE FOR c IN cw] AS cd FROM pb$pqRounds),
       |penc AS (SELECT id, sub, code FROM (
       |    SELECT s.id, s.sub, b.code,
       |           row_number() OVER (PARTITION BY s.id, s.sub ORDER BY $l2, b.code) AS rn
       |    FROM psud s JOIN pbdF b USING (sub)) WHERE rn = 1),
       |precon AS (SELECT penc.id, flatten(list(b.cd ORDER BY penc.sub)) AS rv
       |           FROM penc JOIN pbdF b ON penc.sub = b.sub AND penc.code = b.code GROUP BY penc.id),
       |prcn AS (SELECT id, rv, sqrt(list_inner_product(rv, rv)) AS rnorm FROM precon),
       |sc AS (SELECT p.query_id, a.id AS neighbor_id,
       |              list_inner_product(p.qv, x.rv) / (p.qnorm * x.rnorm) AS sim
       |       FROM iassign a JOIN iprobes p ON a.cid = p.cid AND a.id <> p.query_id
       |       JOIN prcn x ON x.id = a.id$nfilter),
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

  /** Per-stage float-ranking audit for the IVF×PQ chain (s9/s11): the
    * coarse routing rides the fixed-point projection (integer-exact —
    * ties benign), the ADC shortlist cut and the exact rerank rank
    * RAW-float cosines and are pinned tie-free. */
  def auditSql(k: Int, nlist: Int = 16, nprobe: Int = 4, ivfRounds: Int = 2,
               m: Int = 8, dsub: Int = 8, ksub: Int = 16, pqRounds: Int = 1,
               shortlist: Int = 50, queryPred: String = "id < 10",
               neighborPred: String = "TRUE"): String =
    s"""WITH ${ivfPqCtes(nlist, nprobe, ivfRounds, m, dsub, ksub, pqRounds,
                         shortlist, queryPred, neighborPred)},
       |agap AS (
       |  SELECT id, max(CASE WHEN crn = 1 THEN csim END)
       |           - max(CASE WHEN crn = 2 THEN csim END) AS g
       |  FROM irankedF WHERE crn <= 2 GROUP BY id HAVING count(*) = 2),
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
       |SELECT 'routing' AS stage,
       |       (SELECT count(*) FROM agap WHERE g = 0)::BIGINT AS n_ties,
       |       coalesce((SELECT min(g) FROM agap), 1.0) AS min_gap,
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
