package graft
package queries

import graft.ann.Ann
import graft.SparkEntry.t
import org.apache.spark.sql.functions._

/** Similarity search by brute force, LSH, IVF and PQ: the s* queries,
  * each engine next to its DuckDB oracle. */
private[graft] object SearchQueries {

  val defs: Seq[QueryDef] = Seq(

    QueryDef("s1_ann_bruteforce", ((s, dir) =>
      Ann.bruteForceTopK(t(s, dir, "embeddings"), "embedding", "vec_id",
          col("id") < 10, k = 5)
        .orderBy("query_id", "rnk")),
      // fixed-projection ranking since r18 (the exactness sweep): the
      // engine and the oracle rank bit-identical doubles on any build
      Ann.bruteOracleSql(k = 5, queryPred = "q.id < 10"),
      audit = Some(Ann.bruteAuditSql(k = 5, queryPred = "q.id < 10"))),

    QueryDef("s4_ann_indexed", ((s, dir) => {
      // ANN against the standing sketch index (deployment shape):
      // result must equal s2's recompute-everything path, so it shares
      // s2's end-to-end oracle
      val table = graft.core.Tables.scoped("ann_idx_s4")
      Ann.buildAnnIndex(t(s, dir, "embeddings"), "embedding", "vec_id", dims = 64, table)
      Ann.lshTopKIndexed(s, table, queryFilter = col("id") < 10, k = 5)
        .orderBy("query_id", "rnk")
    }),
      Ann.lshOracleSql(dims = 64, k = 5),
      audit = Some(Ann.lshAuditSql(dims = 64, k = 5))),

    QueryDef("s2_ann_lsh", ((s, dir) =>
      Ann.lshTopK(t(s, dir, "embeddings"), "embedding", "vec_id", dims = 64,
          queryFilter = col("id") < 10, k = 5)
        .orderBy("query_id", "rnk")),
      Ann.lshOracleSql(dims = 64, k = 5),
      audit = Some(Ann.lshAuditSql(dims = 64, k = 5))),

    QueryDef("s7_ann_pq", ((s, dir) =>
      // product-quantized ANN: per-subspace k-means codebooks, corpus
      // stored as m codes (32× compression), full-precision queries
      // score reconstructions (ADC) — train/encode/score in one plan
      graft.ann.Pq.pqTopK(t(s, dir, "embeddings"), "embedding", "vec_id",
          queryFilter = col("id") < 10, k = 5, dims = 64)
        .orderBy("query_id", "rnk")),
      graft.ann.Pq.oracleSql(k = 5),
      audit = Some(graft.ann.Pq.auditSql(k = 5))),

    QueryDef("s9_ivfpq_indexed", ((s, dir) => {
      // IVF×PQ: the billion-vector layout — trained cells route the
      // probe, PQ codes inside each cell carry the ADC scan, full
      // vectors only surface for the shortlist rerank
      val table = graft.core.Tables.scoped("ivfpq_idx_s9")
      graft.ann.IvfPq.buildIvfPqIndex(t(s, dir, "embeddings"), "embedding", "vec_id",
        table, dims = 64)
      graft.ann.IvfPq.ivfPqTopKIndexed(s, table, t(s, dir, "embeddings"), "embedding", "vec_id",
          queryFilter = col("id") < 10, k = 5)
        .orderBy("query_id", "rnk")
    }),
      graft.ann.IvfPq.oracleSql(k = 5),
      audit = Some(graft.ann.IvfPq.auditSql(k = 5))),

    QueryDef("s11_filtered_ivfpq", ((s, dir) => {
      // filtered search on the billion-vector layout: the label rides
      // the codes table; non-qualifying codes are cut map-side BEFORE
      // the ADC stage, so they are never decoded and cannot starve the
      // shortlist or the final k
      val table = graft.core.Tables.scoped("ivfpq_idx_s11")
      graft.ann.IvfPq.buildIvfPqIndex(t(s, dir, "embeddings"), "embedding", "vec_id",
        table, dims = 64, keep = Seq("label"))
      graft.ann.IvfPq.ivfPqTopKIndexed(s, table, t(s, dir, "embeddings"), "embedding", "vec_id",
          queryFilter = col("id") < 10, k = 5, neighborPred = col("label") === 1)
        .orderBy("query_id", "rnk")
    }),
      graft.ann.IvfPq.oracleSql(k = 5, neighborPred = "label = 1"),
      audit = Some(graft.ann.IvfPq.auditSql(k = 5, neighborPred = "label = 1"))),

    QueryDef("s10_filtered_ann", ((s, dir) => {
      // FILTERED vector search (hybrid metadata+vector retrieval): the
      // label column is stored INLINE in the inverted file, so the
      // attribute predicate is a map-side filter on the bucketed scan
      // (pre-filtering — the top-k ranks only qualifying neighbors)
      val table = graft.core.Tables.scoped("ivf_idx_s10")
      Ann.buildIvfIndex(t(s, dir, "embeddings"), "embedding", "vec_id", table,
        keep = Seq("label"))
      Ann.ivfTopKIndexed(s, table, queryFilter = col("id") < 10, k = 5,
          neighborPred = col("label") === 1)
        .orderBy("query_id", "rnk")
    }),
      Ann.ivfKmeansOracleSql(k = 5, neighborPred = "label = 1"),
      audit = Some(Ann.ivfAuditSql(k = 5, neighborPred = "label = 1"))),

    QueryDef("s8_ann_pq_indexed", ((s, dir) => {
      // PQ against the STANDING index (deployment shape): codes +
      // codebook companion are built once; the probe ADC-scans stored
      // codes and reranks the shortlist — identical output to s7, so it
      // shares s7's from-scratch oracle
      val table = graft.core.Tables.scoped("pq_idx_s8")
      graft.ann.Pq.buildPqIndex(t(s, dir, "embeddings"), "embedding", "vec_id", table, dims = 64)
      graft.ann.Pq.pqTopKIndexed(s, table, t(s, dir, "embeddings"), "embedding", "vec_id",
          queryFilter = col("id") < 10, k = 5)
        .orderBy("query_id", "rnk")
    }),
      // identical output to s7 by construction (deterministic train +
      // encode); the oracle re-derives everything from scratch either way
      graft.ann.Pq.oracleSql(k = 5),
      audit = Some(graft.ann.Pq.auditSql(k = 5))),

    QueryDef("s3_ann_ivf", ((s, dir) =>
      Ann.ivfTopK(t(s, dir, "embeddings"), "embedding", "vec_id",
          queryFilter = col("id") < 10, k = 5)
        .orderBy("query_id", "rnk")),
      Ann.ivfKmeansOracleSql(k = 5),
      audit = Some(Ann.ivfAuditSql(k = 5))),

    QueryDef("s5_ivf_indexed", ((s, dir) => {
      // IVF against the standing inverted file — shares s3's oracle
      // (identical output by construction)
      val table = graft.core.Tables.scoped("ivf_idx_s5")
      Ann.buildIvfIndex(t(s, dir, "embeddings"), "embedding", "vec_id", table)
      Ann.ivfTopKIndexed(s, table, queryFilter = col("id") < 10, k = 5)
        .orderBy("query_id", "rnk")
    }),
      Ann.ivfKmeansOracleSql(k = 5),
      audit = Some(Ann.ivfAuditSql(k = 5))))
}
