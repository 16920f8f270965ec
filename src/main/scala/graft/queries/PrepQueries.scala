package graft
package queries

import graft.dedup.Dedup
import graft.jobs.DatasetRegistry
import graft.streaming.OnChange
import graft.text.{PackIndex, TextAnalysis}
import graft.SparkEntry.{stageMicroBatches, t}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions._

/** Training-data prep (sampling, mixing, packing, full recipes): the
  * p* queries, each engine next to its DuckDB oracle. */
private[graft] object PrepQueries {

  /** The p14/p21 oracle: the x12 segmentation aggregated to per-doc id
    * arrays, the p10 placement arithmetic, the p13 segment explode,
    * per-segment token unnest. `withDoc` additionally threads doc
    * identity through the explode and emits the p21 `doc_start` flag
    * (1 exactly on a doc's first token — continuation segments have
    * seg_start > 0). */
  private def packedStreamSql(withDoc: Boolean, rel: String = "documents",
                              prefixCtes: String = ""): String = {
    val base = "abcdefghijklmnopqrstuvwxyz0123456789"
    val vocabRows = (base.zipWithIndex.map { case (c, i) => s"('$c', $i)" } ++
      graft.text.Bpe.DefaultMerges.zipWithIndex.map { case ((a, b), r) =>
        s"('${a + b}', ${36 + r})"
      }).mkString(", ")
    val segDoc = if (withDoc) " p.doc_id," else ""
    val outDoc = if (withDoc)
      ",\n  doc_id,\n  (CASE WHEN seg_start = 0 AND u.k = 1 THEN 1 ELSE 0 END)::INT AS doc_start"
    else ""
    s"""WITH ${prefixCtes}w AS (
       |  SELECT doc_id,
       |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
       |  FROM $rel),
       |t AS (SELECT doc_id, t.i AS widx, ws[t.i] AS wd FROM w, unnest(range(1, len(ws)+1)) AS t(i)),
       |enc AS (SELECT doc_id, widx, ${graft.text.Bpe.mergeChainSql("wd", graft.text.Bpe.DefaultMerges)} AS s FROM t),
       |sym AS (
       |  SELECT doc_id, widx, u.j AS sidx, l[u.j] AS sym
       |  FROM (SELECT doc_id, widx, regexp_extract_all(s, '\\(([^()]*)\\)', 1) AS l FROM enc),
       |       unnest(range(1, len(l)+1)) AS u(j)),
       |v(sym, id) AS (VALUES $vocabRows),
       |ids AS (
       |  SELECT doc_id, array_agg(v.id ORDER BY widx, sidx) AS ids
       |  FROM sym JOIN v USING (sym) GROUP BY doc_id),
       |d AS (
       |  SELECT d0.doc_id, d0.source,
       |    coalesce(len(ids.ids), 0)::BIGINT AS n,
       |    coalesce(ids.ids, CAST([] AS INT[])) AS ids,
       |    (d0.doc_id // 1000)::BIGINT AS shard
       |  FROM $rel d0 LEFT JOIN ids USING (doc_id)),
       |c AS (
       |  SELECT doc_id, source, n, ids, shard,
       |    coalesce(sum(n) OVER (PARTITION BY source, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pre
       |  FROM d),
       |p AS (
       |  SELECT doc_id, source, n, ids, shard, pre,
       |    (pre // 512)::BIGINT AS bin_first,
       |    (CASE WHEN n <= 0 THEN pre // 512 ELSE (pre + n - 1) // 512 END)::BIGINT AS bin_last
       |  FROM c),
       |seg AS (
       |  SELECT$segDoc source, shard, b.bin::BIGINT AS bin, ids,
       |    (CASE WHEN b.bin = bin_first THEN 0 ELSE b.bin * 512 - pre END)::BIGINT AS seg_start,
       |    (CASE WHEN n <= 0 THEN 0
       |          ELSE least(pre + n, (b.bin + 1) * 512) - greatest(pre, b.bin * 512) END)::BIGINT AS seg_len,
       |    greatest(pre - b.bin * 512, 0)::BIGINT AS bin_offset
       |  FROM p, unnest(range(bin_first, bin_last + 1)) AS b(bin))
       |SELECT source, shard, bin,
       |  (bin_offset + u.k - 1)::BIGINT AS bin_pos,
       |  ids[(seg_start + u.k)::INT]::INT AS token_id$outDoc
       |FROM seg, unnest(range(1, seg_len + 1)) AS u(k)
       |WHERE seg_len > 0
       |ORDER BY source, shard, bin, bin_pos""".stripMargin
  }

  /** One span-scrub pass as DuckDB CTEs — the p8 oracle chain
    * parameterized so the p12 delta oracle can instantiate it four
    * times (standing stage 1/2, batch stage 1/2). From words CTE
    * `src`(doc_id, ws): 15-grams (`${p}g`), a duplicated-gram set
    * (`${p}dup` := `dupSql`, which may reference `${p}g` or an eval
    * gram CTE), maximal-island merge on docs matching `cond`, token
    * excision, re-emit `${p}out`(doc_id, ws) for those docs. */
  private def scrubChainSql(p: String, src: String, cond: String, dupSql: String): String =
    s"""${p}g AS (
       |  SELECT doc_id, t.i - 1 AS pos, md5(array_to_string(ws[t.i:t.i+14], ' ')) AS gh
       |  FROM $src, unnest(range(1, len(ws)-13)) AS t(i)),
       |${p}dup AS ($dupSql),
       |${p}m AS (SELECT doc_id, pos FROM ${p}g JOIN ${p}dup USING (gh) WHERE $cond),
       |${p}isl AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN lag(pos) OVER win IS NULL OR pos - lag(pos) OVER win > 15 THEN 1 ELSE 0 END AS ns
       |  FROM ${p}m WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |${p}sp AS (
       |  SELECT doc_id, pos,
       |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM ${p}isl),
       |${p}spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 15 - min(pos) AS l FROM ${p}sp GROUP BY doc_id, sid),
       |${p}tk AS (
       |  SELECT doc_id, t.i - 1 AS pos, ws[t.i] AS wd
       |  FROM $src, unnest(range(1, len(ws)+1)) AS t(i) WHERE $cond),
       |${p}tkf AS (
       |  SELECT k.doc_id, k.pos, k.wd FROM ${p}tk k
       |  WHERE NOT EXISTS (SELECT 1 FROM ${p}spans s
       |                    WHERE s.doc_id = k.doc_id AND k.pos >= s.s AND k.pos < s.s + s.l)),
       |${p}out AS (
       |  SELECT d.doc_id, coalesce(a.ws, CAST([] AS VARCHAR[])) AS ws
       |  FROM (SELECT doc_id FROM $src WHERE $cond) d
       |  LEFT JOIN (SELECT doc_id, array_agg(wd ORDER BY pos) AS ws FROM ${p}tkf GROUP BY doc_id) a USING (doc_id))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("p22_leak_split", ((s, dir) => {
      // LEAK-PROOF eval split: the split decision is made per near-dup
      // CLUSTER (d6's components; singletons are their own rep), so no
      // near-dup pair can ever cross the train/eval boundary — the
      // contamination d9/d20/d26 report after the fact, prevented at
      // split time
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccard(docs, "text", "doc_id", 3, 0.8)
      Dedup.leakProofSplit(docs, "doc_id", pairs, holdBp = 2000)
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    }),
      // the d6 component chain joined back to every doc (singletons are
      // their own rep), then the md5-of-rep threshold decision — both
      // members of a pair share a rep, so no pair crosses by construction
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
        |  SELECT r.src, e.b FROM r JOIN edges e ON r.dst = e.a),
        |cl AS (SELECT src AS id, least(src, min(dst)) AS cluster_id FROM r GROUP BY src),
        |rep AS (
        |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN ('0x' || substr(md5('lsplit:' || cluster_id), 1, 8))::BIGINT < 858993459
        |       THEN 'holdout' ELSE 'train' END AS split
        |FROM rep ORDER BY doc_id""".stripMargin),

    QueryDef("p25_split_drift", ((s, dir) => {
      // bridge-drift monitor for the one-shot leak-proof split (p22's
      // documented limitation as a MONITORED SIGNAL): the standing
      // corpus (doc_id < 400) is clustered and split once; the delta
      // batch — new docs (doc_id >= 400) PLUS re-emits of docs 0..19
      // carrying donor text from docs 200..219 (deterministic plant,
      // mirrored in the oracle) — produces its d8-shaped delta pairs,
      // and every pair bridging two standing clusters surfaces with
      // each side's split verdict: true = leak materialized (re-split
      // due), false = same-side growth, null = a side the standing
      // split never saw (new cluster)
      val docs = t(s, dir, "documents")
      val standing = docs.filter(col("doc_id") < 400)
      val table = graft.core.Tables.scoped("shingle_idx_drift")
      Dedup.buildShingleIndex(standing, "text", "doc_id", 3, table, buckets = 16)
      val assign = Dedup.clusters(Dedup.ngramJaccard(standing, "text", "doc_id", 3, 0.8))
      val splits = Dedup.leakProofSplitAssigned(standing, "doc_id", assign, holdBp = 2000)
        .select(col("cluster_id"), col("split")).distinct()
      val donor = docs.select((col("doc_id") - 200).as("doc_id"), col("text").as("__t"))
      val reem = docs.filter(col("doc_id") < 20).drop("text")
        .join(donor, Seq("doc_id")).withColumnRenamed("__t", "text")
      val batch = reem.unionByName(docs.filter(col("doc_id") >= 400))
      val batchPairs = Dedup.ngramJaccardDelta(s, batch, "text", "doc_id", 3, 0.8, table)
      Dedup.splitDriftProbe(batchPairs, assign, splits)
        .withColumn("crosses_split_boundary", col("crosses_split_boundary").cast("int"))
        .orderBy("a", "b")
    }),
      """WITH RECURSIVE batch AS (
        |  SELECT d.doc_id, d2.text
        |  FROM documents d JOIN documents d2 ON d2.doc_id = d.doc_id + 200
        |  WHERE d.doc_id < 20
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 400),
        |standing AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
        |words_s AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), w -> w <> '') AS ws
        |  FROM standing),
        |sh_s AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
        |  FROM words_s, unnest(range(1, len(ws)-1)) AS t(i)),
        |sz_s AS (SELECT doc_id, count(*) AS sz FROM sh_s GROUP BY 1),
        |pr_s AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        |         FROM sh_s a JOIN sh_s b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs_s AS (
        |  SELECT a, b FROM pr_s JOIN sz_s sa ON pr_s.a = sa.doc_id JOIN sz_s sb ON pr_s.b = sb.doc_id
        |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.8),
        |edges_s AS (SELECT a, b FROM pairs_s UNION SELECT b, a FROM pairs_s),
        |r_s(src, dst) AS (
        |  SELECT a, b FROM edges_s
        |  UNION
        |  SELECT r_s.src, e.b FROM r_s JOIN edges_s e ON r_s.dst = e.a),
        |cl_s AS (SELECT src AS id, least(src, min(dst)) AS cluster_id FROM r_s GROUP BY src),
        |rep_s AS (
        |  SELECT s.doc_id, coalesce(cl_s.cluster_id, s.doc_id) AS cluster_id
        |  FROM standing s LEFT JOIN cl_s ON s.doc_id = cl_s.id),
        |splits AS (
        |  SELECT DISTINCT cluster_id,
        |    CASE WHEN ('0x' || substr(md5('lsplit:' || cluster_id), 1, 8))::BIGINT < 858993459
        |         THEN 'holdout' ELSE 'train' END AS split
        |  FROM rep_s),
        |eff AS (
        |  SELECT doc_id, text FROM standing WHERE doc_id NOT IN (SELECT doc_id FROM batch)
        |  UNION ALL SELECT doc_id, text FROM batch),
        |words_e AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), w -> w <> '') AS ws
        |  FROM eff),
        |sh_e AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
        |  FROM words_e, unnest(range(1, len(ws)-1)) AS t(i)),
        |sz_e AS (SELECT doc_id, count(*) AS sz FROM sh_e GROUP BY 1),
        |pr_e AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        |         FROM sh_e a JOIN sh_e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs_e AS (
        |  SELECT a, b FROM pr_e JOIN sz_e sa ON pr_e.a = sa.doc_id JOIN sz_e sb ON pr_e.b = sb.doc_id
        |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.8),
        |bpairs AS (
        |  SELECT a, b FROM pairs_e
        |  WHERE a IN (SELECT doc_id FROM batch) OR b IN (SELECT doc_id FROM batch)),
        |br AS (
        |  SELECT a, b, coalesce(ca.cluster_id, a) AS cluster_a, coalesce(cb.cluster_id, b) AS cluster_b
        |  FROM bpairs LEFT JOIN cl_s ca ON bpairs.a = ca.id LEFT JOIN cl_s cb ON bpairs.b = cb.id
        |  WHERE coalesce(ca.cluster_id, a) <> coalesce(cb.cluster_id, b))
        |SELECT br.a, br.b, br.cluster_a, br.cluster_b, sa.split AS split_a, sb.split AS split_b,
        |  CASE WHEN sa.split IS NOT NULL AND sb.split IS NOT NULL
        |       THEN (sa.split <> sb.split)::INT END AS crosses_split_boundary
        |FROM br LEFT JOIN splits sa ON br.cluster_a = sa.cluster_id
        |        LEFT JOIN splits sb ON br.cluster_b = sb.cluster_id
        |ORDER BY br.a, br.b""".stripMargin),

    QueryDef("p2_weighted_sample", ((s, dir) =>
      // training-mix sampling: downweight the dominant language,
      // lightly trim fr, pass the rest — decided per row by the
      // deterministic md5 hash, so the sampled corpus is reproducible
      TextAnalysis.weightedSample(t(s, dir, "documents"), "doc_id", "lang",
          rates = Map("en" -> 0.35, "fr" -> 0.8))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ('0x' || substr(md5('samp:' || doc_id), 1, 8))::BIGINT <
         |  CASE lang WHEN 'en' THEN ${TextAnalysis.sampleThreshold(0.35)}
         |            WHEN 'fr' THEN ${TextAnalysis.sampleThreshold(0.8)}
         |            ELSE ${TextAnalysis.sampleThreshold(1.0)} END
         |ORDER BY doc_id""".stripMargin),

    QueryDef("p23_exact_sample", ((s, dir) =>
      // fixed-COUNT per-group draw: exactly 120 en docs and 40 fr docs
      // in the deterministic md5 order; zh's over-sized quota
      // saturates (the whole group keeps); unnamed groups drop — the
      // p19 machinery with a quota map instead of a fraction
      TextAnalysis.sampleExact(t(s, dir, "documents"), "doc_id", "lang",
          counts = Map("en" -> 120L, "fr" -> 40L, "zh" -> 1000000L))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),
      // the naive sort the engine never runs: rn over the md5 order,
      // keep rn <= quota per named group (zh's quota exceeds n → whole
      // group), unnamed groups drop
      """WITH u AS (
        |  SELECT doc_id, lang, source,
        |    ('0x' || substr(md5('exact:' || doc_id), 1, 8))::BIGINT AS u
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn
        |  FROM u)
        |SELECT doc_id, lang, source FROM r
        |WHERE rn <= CASE lang WHEN 'en' THEN 120 WHEN 'fr' THEN 40
        |                      WHEN 'zh' THEN 1000000 ELSE 0 END
        |ORDER BY doc_id""".stripMargin),

    QueryDef("p19_holdout_split", ((s, dir) =>
      // deterministic EXACT-COUNT eval split: exactly ceil(10% · n)
      // docs per language to the holdout, decided by the md5-uniform
      // order — computed as a coarse-bucket histogram + broadcast
      // threshold + boundary-bucket-only rank, never a per-group sort
      // of the corpus; the oracle IS that sort (row_number window)
      TextAnalysis.holdoutSplit(t(s, dir, "documents"), "doc_id", "lang", holdBp = 1000)
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")),
      // the naive sort the engine never runs: per-language row_number
      // over the md5-uniform order, holdout = the first ceil(10% · n);
      // NULL-lang rows can't rank and train whole
      """WITH u AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT AS u
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, u,
        |    row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM u)
        |SELECT doc_id, lang,
        |  CASE WHEN lang IS NOT NULL AND rn <= (n * 1000 + 9999) // 10000
        |       THEN 'holdout' ELSE 'train' END AS split
        |FROM r ORDER BY doc_id""".stripMargin),

    QueryDef("p5_token_budget_mix", ((s, dir) => {
      // mixture/budget accounting: weigh languages into a training
      // recipe by TOKEN budget, not doc count — per-lang BPE token
      // totals (the x8 kernel) set exact integer acceptance
      // thresholds; the md5 uniform decides each doc. en/fr are
      // capped, the rest pass whole; a lang already under its budget
      // keeps everything (threshold saturates) at small SFs
      val docs = t(s, dir, "documents")
      val counts = graft.text.Bpe.tokenCounts(docs, "text", "doc_id",
          graft.text.Bpe.DefaultMerges)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      TextAnalysis.tokenBudgetSample(counts, "doc_id", "lang", "bpe_tokens",
          Map("en" -> 10000L, "fr" -> 5000L))
        .select("doc_id", "lang", "bpe_tokens").orderBy("doc_id")
    }),
      // full recompute: the x8 merge chain for per-doc token counts, then
      // the same integer threshold (budget * 2^32 // lang_total) against
      // the same md5 uniform
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM documents),
         |t AS (SELECT doc_id, t.w AS wd FROM w, unnest(ws) AS t(w)),
         |enc AS (SELECT doc_id, ${graft.text.Bpe.mergeChainSql("wd", graft.text.Bpe.DefaultMerges)} AS s FROM t),
         |per AS (
         |  SELECT doc_id, sum(length(s) - length(replace(s, '(', '')))::BIGINT AS bpe
         |  FROM enc GROUP BY doc_id),
         |cnt AS (
         |  SELECT w.doc_id, d0.lang, coalesce(per.bpe, 0)::BIGINT AS bpe_tokens
         |  FROM w LEFT JOIN per ON w.doc_id = per.doc_id
         |  JOIN documents d0 ON w.doc_id = d0.doc_id),
         |tot AS (SELECT lang, sum(bpe_tokens)::BIGINT AS tot FROM cnt GROUP BY 1),
         |thr AS (SELECT lang,
         |  CASE lang WHEN 'en' THEN CASE WHEN tot <= 10000 THEN 4294967296 ELSE 10000 * 4294967296 // tot END
         |            WHEN 'fr' THEN CASE WHEN tot <= 5000 THEN 4294967296 ELSE 5000 * 4294967296 // tot END
         |            ELSE 4294967296 END AS thr FROM tot)
         |SELECT cnt.doc_id, cnt.lang, cnt.bpe_tokens
         |FROM cnt LEFT JOIN thr USING (lang)
         |WHERE ('0x' || substr(md5('mix:' || cnt.doc_id), 1, 8))::BIGINT < coalesce(thr, 4294967296)
         |ORDER BY cnt.doc_id""".stripMargin),

    QueryDef("p7_token_budget_repeat", ((s, dir) => {
      // the up-sampling half of the mixture: en's budget EXCEEDS its
      // token mass at the gate SF (docs repeat, copy-indexed), fr's
      // sits below it (the sampler special case) — one operator covers
      // the whole epochs-per-source recipe
      val docs = t(s, dir, "documents")
      val counts = graft.text.Bpe.tokenCounts(docs, "text", "doc_id",
          graft.text.Bpe.DefaultMerges)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      TextAnalysis.tokenBudgetRepeat(counts, "doc_id", "lang", "bpe_tokens",
          Map("en" -> 50000L, "fr" -> 2000L))
        .select("doc_id", "lang", "bpe_tokens", "copy")
        .orderBy("doc_id", "copy")
    }),
      // the x8 merge chain for counts, then floor(budget/total) full
      // copies + one md5-decided fractional copy per doc
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM documents),
         |t AS (SELECT doc_id, t.w AS wd FROM w, unnest(ws) AS t(w)),
         |enc AS (SELECT doc_id, ${graft.text.Bpe.mergeChainSql("wd", graft.text.Bpe.DefaultMerges)} AS s FROM t),
         |per AS (
         |  SELECT doc_id, sum(length(s) - length(replace(s, '(', '')))::BIGINT AS bpe
         |  FROM enc GROUP BY doc_id),
         |cnt AS (
         |  SELECT w.doc_id, d0.lang, coalesce(per.bpe, 0)::BIGINT AS bpe_tokens
         |  FROM w LEFT JOIN per ON w.doc_id = per.doc_id
         |  JOIN documents d0 ON w.doc_id = d0.doc_id),
         |tot AS (SELECT lang, sum(bpe_tokens)::BIGINT AS tot FROM cnt GROUP BY 1),
         |par AS (SELECT lang, tot,
         |  CASE lang WHEN 'en' THEN 50000 WHEN 'fr' THEN 2000 ELSE NULL END AS b FROM tot),
         |n AS (SELECT c.doc_id, c.lang, c.bpe_tokens,
         |  CASE WHEN p.b IS NULL THEN 1
         |       WHEN p.tot = 0 THEN 0
         |       ELSE (p.b // p.tot) + CASE WHEN ('0x' || substr(md5('rep:' || c.doc_id), 1, 8))::BIGINT < ((p.b % p.tot) * 4294967296 // p.tot) THEN 1 ELSE 0 END
         |  END AS copies
         |  FROM cnt c LEFT JOIN par p USING (lang))
         |SELECT doc_id, lang, bpe_tokens, t.c::BIGINT AS copy
         |FROM n, unnest(range(0, copies)) AS t(c) ORDER BY doc_id, copy""".stripMargin),

    QueryDef("p8_full_recipe", ((s, dir) => {
      // THE full pre-training data recipe, end-to-end in ONE plan —
      // every round-7 stage active and oracle-checked in composition:
      // exact substring scrub (d16) → eval decontamination (d20) →
      // learned quality gate (x9) → BPE token counts (x8) →
      // token-budget repetition (p7, the p5 superset) → epoch shuffle
      // (p6). Plants make each stage provably active at every SF:
      // plantSpan (in-train duplicates, stage 1), plantLeak (train-unique
      // but eval-repeated, stage 2), plantJunk (labeled junk, the
      // gate). Every stage is linear-volume shuffles over the corpus
      // plus a broadcastable model/budget head — the same 100 TB
      // shapes as the component queries, just composed.
      val base = plantRecipe(t(s, dir, "documents"))
      val train0 = base.filter(col("doc_id") < 400)
      val evalS = base.filter(col("doc_id") >= 400)
      // 1. duplicated-span scrub within the training corpus.
      // scrub1/scrub2 each feed MULTIPLE downstream stages (scrub1 →
      // spans2 + scrub2; scrub2 → model training + gating join + BPE
      // counts): pin them (localCheckpoint) so the expensive span
      // machinery runs once per stage, not once per consumer — the
      // same materialize-between-stages shape a production recipe
      // would use (each stage's output written to storage)
      val spans1 = Dedup.substringSpans(train0, "text", "doc_id", 15)
      val scrub1 = graft.core.Checkpoints.truncate(
        Dedup.scrubSpans(train0, spans1, "text", "doc_id")
          .select(col("id").as("doc_id"), col("scrubbed").as("text")))
      // 2. excise any >= 15-gram overlap with the eval set
      val spans2 = Dedup.decontaminateSpans(scrub1, evalS, "text", "doc_id", 15)
      val scrub2 = graft.core.Checkpoints.truncate(
        Dedup.scrubSpans(scrub1, spans2, "text", "doc_id")
          .select(col("id").as("doc_id"), col("scrubbed").as("text")))
      // 3. learned quality gate, trained on the corpus's own labels
      val model = TextAnalysis.trainQualityModel(
        scrub2.withColumn("label", col("doc_id") % 4 =!= 1), "text", "label")
      val gated = scrub2.join(
        TextAnalysis.qualityScore(scrub2, "text", "doc_id", model)
          .filter(col("pred")).select(col("id").as("doc_id")), "doc_id")
      // 4+5. BPE token mass per doc -> per-lang budget repetition:
      // en's budget EXCEEDS its gated mass (docs repeat), fr's sits
      // below (the sampler case), de/es/zh pass whole
      val counts = graft.text.Bpe.tokenCounts(gated, "text", "doc_id",
          graft.text.Bpe.DefaultMerges)
        .join(base.select("doc_id", "lang"), Seq("doc_id"))
      val mixed = TextAnalysis.tokenBudgetRepeat(counts, "doc_id", "lang",
        "bpe_tokens", Map("en" -> 30000L, "fr" -> 800L), seed = "rep")
      // 6. epoch-1 permutation of the final mixture, keyed by (doc, copy)
      val keyed = mixed.withColumn("__k",
        concat_ws(":", col("doc_id"), col("copy")))
      TextAnalysis.epochShuffle(keyed, "__k", epoch = 1, nShards = 8)
        .select("doc_id", "copy", "lang", "bpe_tokens", "shard", "pos")
        .orderBy("doc_id", "copy")
    }),
      // from-scratch recompute of the ENTIRE six-stage recipe: substring
      // scrub -> eval decontamination -> learned quality gate -> BPE
      // counts -> budget repetition -> epoch shuffle, each stage the
      // same SQL as its component oracle, chained through token arrays
      s"""WITH d0 AS (SELECT doc_id, lang, ${plantRecipe.sql} AS text FROM documents),
         |w AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM d0),
         |g1 AS (
         |  SELECT doc_id, t.i - 1 AS pos, md5(array_to_string(ws[t.i:t.i+14], ' ')) AS gh
         |  FROM w, unnest(range(1, len(ws)-13)) AS t(i) WHERE doc_id < 400),
         |dup1 AS (SELECT gh FROM g1 GROUP BY gh HAVING count(*) >= 2),
         |m1 AS (SELECT doc_id, pos FROM g1 JOIN dup1 USING (gh)),
         |isl1 AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN lag(pos) OVER win IS NULL OR pos - lag(pos) OVER win > 15 THEN 1 ELSE 0 END AS ns
         |  FROM m1 WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |sp1 AS (
         |  SELECT doc_id, pos,
         |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM isl1),
         |spans1 AS (SELECT doc_id, min(pos) AS s, max(pos) + 15 - min(pos) AS l FROM sp1 GROUP BY doc_id, sid),
         |tk0 AS (
         |  SELECT doc_id, t.i - 1 AS pos, ws[t.i] AS wd
         |  FROM w, unnest(range(1, len(ws)+1)) AS t(i) WHERE doc_id < 400),
         |tk1 AS (
         |  SELECT k.doc_id, k.pos, k.wd FROM tk0 k
         |  WHERE NOT EXISTS (SELECT 1 FROM spans1 s
         |                    WHERE s.doc_id = k.doc_id AND k.pos >= s.s AND k.pos < s.s + s.l)),
         |w1 AS (
         |  SELECT d.doc_id, coalesce(a.ws, CAST([] AS VARCHAR[])) AS ws
         |  FROM (SELECT doc_id FROM d0 WHERE doc_id < 400) d
         |  LEFT JOIN (SELECT doc_id, array_agg(wd ORDER BY pos) AS ws FROM tk1 GROUP BY doc_id) a USING (doc_id)),
         |ge AS (
         |  SELECT DISTINCT md5(array_to_string(ws[t.i:t.i+14], ' ')) AS gh
         |  FROM w, unnest(range(1, len(ws)-13)) AS t(i) WHERE doc_id >= 400),
         |g2 AS (
         |  SELECT doc_id, t.i - 1 AS pos, md5(array_to_string(ws[t.i:t.i+14], ' ')) AS gh
         |  FROM w1, unnest(range(1, len(ws)-13)) AS t(i)),
         |m2 AS (SELECT doc_id, pos FROM g2 JOIN ge USING (gh)),
         |isl2 AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN lag(pos) OVER win IS NULL OR pos - lag(pos) OVER win > 15 THEN 1 ELSE 0 END AS ns
         |  FROM m2 WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |sp2 AS (
         |  SELECT doc_id, pos,
         |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM isl2),
         |spans2 AS (SELECT doc_id, min(pos) AS s, max(pos) + 15 - min(pos) AS l FROM sp2 GROUP BY doc_id, sid),
         |tk2 AS (
         |  SELECT doc_id, t.i - 1 AS pos, ws[t.i] AS wd
         |  FROM w1, unnest(range(1, len(ws)+1)) AS t(i)),
         |tk3 AS (
         |  SELECT k.doc_id, k.pos, k.wd FROM tk2 k
         |  WHERE NOT EXISTS (SELECT 1 FROM spans2 s
         |                    WHERE s.doc_id = k.doc_id AND k.pos >= s.s AND k.pos < s.s + s.l)),
         |w2 AS (
         |  SELECT d.doc_id, coalesce(a.ws, CAST([] AS VARCHAR[])) AS ws
         |  FROM (SELECT doc_id FROM d0 WHERE doc_id < 400) d
         |  LEFT JOIN (SELECT doc_id, array_agg(wd ORDER BY pos) AS ws FROM tk3 GROUP BY doc_id) a USING (doc_id)),
         |tok AS (
         |  SELECT doc_id, (doc_id % 4 <> 1) AS label,
         |         ('0x' || substr(md5(t.w), 1, 8))::BIGINT % 256 AS bucket
         |  FROM w2, unnest(ws) AS t(w)),
         |per AS (SELECT bucket, sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos, count(*) AS tot FROM tok GROUP BY 1),
         |pri AS (SELECT (sum(CASE WHEN label THEN 1 ELSE 0 END) + 1) * 1000000 // (count(*) + 2) AS prior FROM tok),
         |bad AS (SELECT bucket FROM per, pri WHERE (pos + 1) * 1000000 // (tot + 2) < prior // 2),
         |fl AS (SELECT tok.doc_id, count(bad.bucket) AS n_flagged FROM tok LEFT JOIN bad USING (bucket) GROUP BY 1),
         |gated AS (SELECT w2.doc_id, w2.ws FROM w2 LEFT JOIN fl USING (doc_id) WHERE coalesce(fl.n_flagged, 0) = 0),
         |t4 AS (SELECT doc_id, t.w AS wd FROM gated, unnest(ws) AS t(w)),
         |enc AS (SELECT doc_id, ${graft.text.Bpe.mergeChainSql("wd", graft.text.Bpe.DefaultMerges)} AS s FROM t4),
         |per4 AS (
         |  SELECT doc_id, sum(length(s) - length(replace(s, '(', '')))::BIGINT AS bpe
         |  FROM enc GROUP BY doc_id),
         |cnt AS (
         |  SELECT g.doc_id, d0.lang, coalesce(per4.bpe, 0)::BIGINT AS bpe_tokens
         |  FROM gated g JOIN d0 USING (doc_id) LEFT JOIN per4 USING (doc_id)),
         |tot AS (SELECT lang, sum(bpe_tokens)::BIGINT AS tot FROM cnt GROUP BY 1),
         |par AS (SELECT lang, tot,
         |  CASE lang WHEN 'en' THEN 30000 WHEN 'fr' THEN 800 ELSE NULL END AS b FROM tot),
         |n AS (SELECT c.doc_id, c.lang, c.bpe_tokens,
         |  CASE WHEN p.b IS NULL THEN 1
         |       WHEN p.tot = 0 THEN 0
         |       ELSE (p.b // p.tot) + CASE WHEN ('0x' || substr(md5('rep:' || c.doc_id), 1, 8))::BIGINT < ((p.b % p.tot) * 4294967296 // p.tot) THEN 1 ELSE 0 END
         |  END AS copies
         |  FROM cnt c LEFT JOIN par p USING (lang)),
         |mx AS (SELECT doc_id, lang, bpe_tokens, t.c::BIGINT AS copy FROM n, unnest(range(0, copies)) AS t(c)),
         |sh AS (SELECT doc_id, lang, bpe_tokens, copy,
         |  ('0x' || substr(md5('epoch1:' || doc_id || ':' || copy), 1, 8))::BIGINT AS u FROM mx)
         |SELECT doc_id, copy, lang, bpe_tokens,
         |       (u * 8 // 4294967296)::INT AS shard,
         |       (row_number() OVER (PARTITION BY (u * 8 // 4294967296)
         |                           ORDER BY u, doc_id::VARCHAR || ':' || copy::VARCHAR) - 1)::BIGINT AS pos
         |FROM sh ORDER BY doc_id, copy""".stripMargin),

    QueryDef("p12_recipe_delta", ((s, dir) => {
      // the OPERATIONAL form of p8 — the standing refinery routing an
      // ingest batch through its standing state: corpus (< 300) is
      // gram-indexed + modeled + ledgered once; the batch = new docs
      // [300, 400) PLUS re-ingested revisions of every 50th standing
      // doc and of doc 13 (the planted eval-leak carrier), so
      // supersede, cross/batch-internal span duplication, and eval
      // decon are all provably active. Stages run in their delta
      // shapes: d18 span probe against the standing gram index, decon
      // off the standing eval index, the STANDING x9 model, BPE
      // counts, budget copies against the superseded-updated ledger
      // totals. Oracle: the one-shot chain over the effective corpus
      // restricted to batch docs (the d18 delta identity), with
      // model/ledger state as of the batch's arrival.
      val base = plantRecipe(t(s, dir, "documents"))
      val std = base.filter(col("doc_id") < 300)
      val evalS = base.filter(col("doc_id") >= 400)
      val batch = base.filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .unionByName(std.filter(col("doc_id") % 50 === 0 || col("doc_id") === 13)
          .withColumn("text", concat(lit("revision two of this document "), col("text"))))
      val st = graft.jobs.Recipe.buildStanding(s,
        std.withColumn("label", col("doc_id") % 4 =!= 1), evalS,
        "text", "doc_id", "lang", "label", k = 15,
        graft.text.Bpe.DefaultMerges, prefix = graft.core.Tables.scoped("p12rd"), buckets = 16)
      graft.jobs.Recipe.processBatch(s, st, batch, "text", "doc_id", "lang",
          Map("en" -> 30000L, "fr" -> 800L), k = 15, graft.text.Bpe.DefaultMerges)
        .emission
        .select("doc_id", "lang", "bpe_tokens", "copy")
        .orderBy("doc_id", "copy")
    }),
      // the p12 delta oracle: the one-shot recipe chain instantiated
      // TWICE — once over the standing corpus alone (the state as built
      // at T0: model + budget ledger) and once over the effective
      // corpus (standing minus superseded ∪ batch) restricted to batch
      // docs (the d18 delta identity for spans) — then batch copies
      // drawn against the superseded-updated ledger totals
      s"""WITH d0 AS (SELECT doc_id, lang, ${plantRecipe.sql} AS text FROM documents),
         |std AS (SELECT doc_id, lang, text FROM d0 WHERE doc_id < 300),
         |bat AS (
         |  SELECT doc_id, lang, text FROM d0 WHERE doc_id >= 300 AND doc_id < 400
         |  UNION ALL
         |  SELECT doc_id, lang, 'revision two of this document ' || text
         |  FROM std WHERE doc_id % 50 = 0 OR doc_id = 13),
         |eff AS (
         |  SELECT * FROM std WHERE doc_id % 50 <> 0 AND doc_id <> 13
         |  UNION ALL SELECT * FROM bat),
         |wstd AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM std),
         |weff AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM eff),
         |weval AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM d0 WHERE doc_id >= 400),
         |geval AS (
         |  SELECT DISTINCT md5(array_to_string(ws[t.i:t.i+14], ' ')) AS gh
         |  FROM weval, unnest(range(1, len(ws)-13)) AS t(i)),
         |${scrubChainSql("a1", "wstd", "1=1",
             "SELECT gh FROM a1g GROUP BY gh HAVING count(*) >= 2")},
         |${scrubChainSql("a2", "a1out", "1=1", "SELECT gh FROM geval")},
         |tokS AS (
         |  SELECT doc_id, (doc_id % 4 <> 1) AS label,
         |         ('0x' || substr(md5(t.w), 1, 8))::BIGINT % 256 AS bucket
         |  FROM a2out, unnest(ws) AS t(w)),
         |perS AS (SELECT bucket, sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos, count(*) AS tot FROM tokS GROUP BY 1),
         |priS AS (SELECT (sum(CASE WHEN label THEN 1 ELSE 0 END) + 1) * 1000000 // (count(*) + 2) AS prior FROM tokS),
         |badS AS (SELECT bucket FROM perS, priS WHERE (pos + 1) * 1000000 // (tot + 2) < prior // 2),
         |flS AS (SELECT tokS.doc_id, count(badS.bucket) AS n_flagged FROM tokS LEFT JOIN badS USING (bucket) GROUP BY 1),
         |gatedS AS (SELECT a2out.doc_id, a2out.ws FROM a2out LEFT JOIN flS USING (doc_id) WHERE coalesce(flS.n_flagged, 0) = 0),
         |t4S AS (SELECT doc_id, t.w AS wd FROM gatedS, unnest(ws) AS t(w)),
         |encS AS (SELECT doc_id, ${graft.text.Bpe.mergeChainSql("wd", graft.text.Bpe.DefaultMerges)} AS s FROM t4S),
         |perTS AS (
         |  SELECT doc_id, sum(length(s) - length(replace(s, '(', '')))::BIGINT AS bpe
         |  FROM encS GROUP BY doc_id),
         |cntS AS (
         |  SELECT g.doc_id, d0.lang, coalesce(perTS.bpe, 0)::BIGINT AS bpe_tokens
         |  FROM gatedS g JOIN d0 USING (doc_id) LEFT JOIN perTS USING (doc_id)),
         |${scrubChainSql("b1", "weff", "(doc_id >= 300 OR doc_id % 50 = 0 OR doc_id = 13)",
             "SELECT gh FROM b1g GROUP BY gh HAVING count(*) >= 2")},
         |${scrubChainSql("b2", "b1out", "1=1", "SELECT gh FROM geval")},
         |tokB AS (
         |  SELECT doc_id, ('0x' || substr(md5(t.w), 1, 8))::BIGINT % 256 AS bucket
         |  FROM b2out, unnest(ws) AS t(w)),
         |flB AS (SELECT tokB.doc_id, count(badS.bucket) AS n_flagged FROM tokB LEFT JOIN badS USING (bucket) GROUP BY 1),
         |gatedB AS (SELECT b2out.doc_id, b2out.ws FROM b2out LEFT JOIN flB USING (doc_id) WHERE coalesce(flB.n_flagged, 0) = 0),
         |t4B AS (SELECT doc_id, t.w AS wd FROM gatedB, unnest(ws) AS t(w)),
         |encB AS (SELECT doc_id, ${graft.text.Bpe.mergeChainSql("wd", graft.text.Bpe.DefaultMerges)} AS s FROM t4B),
         |perTB AS (
         |  SELECT doc_id, sum(length(s) - length(replace(s, '(', '')))::BIGINT AS bpe
         |  FROM encB GROUP BY doc_id),
         |cntB AS (
         |  SELECT g.doc_id, d0.lang, coalesce(perTB.bpe, 0)::BIGINT AS bpe_tokens
         |  FROM gatedB g JOIN d0 USING (doc_id) LEFT JOIN perTB USING (doc_id)),
         |tot AS (SELECT lang, sum(bpe_tokens)::BIGINT AS tot FROM (
         |  SELECT lang, bpe_tokens FROM cntS WHERE doc_id % 50 <> 0 AND doc_id <> 13
         |  UNION ALL SELECT lang, bpe_tokens FROM cntB) GROUP BY 1),
         |par AS (SELECT lang, tot,
         |  CASE lang WHEN 'en' THEN 30000 WHEN 'fr' THEN 800 ELSE NULL END AS b FROM tot),
         |n AS (SELECT c.doc_id, c.lang, c.bpe_tokens,
         |  CASE WHEN p.b IS NULL THEN 1
         |       WHEN p.tot = 0 THEN 0
         |       ELSE (p.b // p.tot) + CASE WHEN ('0x' || substr(md5('rep:' || c.doc_id), 1, 8))::BIGINT < ((p.b % p.tot) * 4294967296 // p.tot) THEN 1 ELSE 0 END
         |  END AS copies
         |  FROM cntB c LEFT JOIN par p USING (lang))
         |SELECT doc_id, lang, bpe_tokens, t.c::BIGINT AS copy
         |FROM n, unnest(range(0, copies)) AS t(c) ORDER BY doc_id, copy""".stripMargin),

    QueryDef("p9_source_cap", ((s, dir) => {
      // domain capping: bound every source's token contribution at a
      // fixed budget — at the gate SFs some sources sit under the cap
      // (pass whole, no window touches them) and some over (kept in
      // deterministic md5 order until the budget is hit), so both
      // branches are active; at 10×+ every source is over-cap
      val docs = t(s, dir, "documents")
      val counts = TextAnalysis.tokenCounts(docs, "text", "doc_id")
        .select(col("doc_id"), col("ws_tokens"))
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
      TextAnalysis.sourceCap(counts, "doc_id", "source", "ws_tokens", cap = 1300L)
        .select("doc_id", "source", "ws_tokens")
        .orderBy("doc_id")
    }),
      // per-source prefix-sum recompute of the cap: same md5 order, same
      // exclusive-prefix < cap rule; under-cap sources pass whole. LEFT
      // join + explicit NULL branch: a NULL-source doc matches no totals
      // row and must pass whole, the engine's documented contract (an
      // inner join would silently drop it)
      """WITH c AS (
        |  SELECT doc_id, source, len(regexp_extract_all(text, '\S+'))::BIGINT AS ws_tokens
        |  FROM documents),
        |tot AS (SELECT source, sum(ws_tokens)::BIGINT AS tot FROM c GROUP BY 1),
        |u AS (SELECT c.doc_id, c.source, c.ws_tokens, tot.tot,
        |        ('0x' || substr(md5('cap:' || c.doc_id), 1, 8))::BIGINT AS u
        |      FROM c LEFT JOIN tot USING (source)),
        |pre AS (
        |  SELECT doc_id, source, ws_tokens, tot,
        |    sum(ws_tokens) OVER (PARTITION BY source ORDER BY u, doc_id ROWS UNBOUNDED PRECEDING) - ws_tokens AS pre
        |  FROM u)
        |SELECT doc_id, source, ws_tokens FROM pre
        |WHERE tot IS NULL OR tot <= 1300 OR pre < 1300 ORDER BY doc_id""".stripMargin),

    QueryDef("p11_temperature_mix", ((s, dir) => {
      // α=1/2 temperature mixing at a target just under the corpus token
      // mass: the dominant language's √-deflated share thins it while
      // minority languages land budgets ABOVE their mass and repeat —
      // both regimes of the mixer active in one run
      val docs = t(s, dir, "documents")
      val counts = docs.select(col("doc_id"), col("lang"),
        TextAnalysis.wsTokens(col("text")).as("ws_tokens"))
      TextAnalysis.temperatureMix(counts, "doc_id", "lang", "ws_tokens",
          targetTokens = 30000L)
        .select("doc_id", "lang", "ws_tokens", "copy")
        .orderBy("doc_id", "copy")
    }),
      // α=1/2 temperature mix: weights floor(sqrt(tokens)) — IEEE sqrt
      // is correctly rounded, so both engines floor the same double —
      // budgets target·w//sumw, copies via the p7 repeat machinery
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS ws_tokens
        |  FROM documents),
        |tot AS (
        |  SELECT lang, sum(ws_tokens)::BIGINT AS tot FROM t
        |  WHERE lang IS NOT NULL GROUP BY 1),
        |wts AS (SELECT lang, tot, CAST(floor(sqrt(tot)) AS BIGINT) AS w FROM tot),
        |sw AS (SELECT sum(w)::BIGINT AS sumw FROM wts),
        |bud AS (
        |  SELECT lang, tot,
        |    (CAST(30000 AS HUGEINT) * w // greatest(sumw, 1))::BIGINT AS b
        |  FROM wts, sw),
        |n AS (
        |  SELECT t.doc_id, t.lang, t.ws_tokens,
        |    CASE WHEN b.b IS NULL THEN 1
        |         WHEN b.tot = 0 THEN 0
        |         ELSE (b.b // b.tot) + CASE WHEN ('0x' || substr(md5('temp:' || t.doc_id), 1, 8))::BIGINT < ((b.b % b.tot) * 4294967296 // b.tot) THEN 1 ELSE 0 END
        |    END AS copies
        |  FROM t LEFT JOIN bud b USING (lang))
        |SELECT doc_id, lang, ws_tokens, c.c::BIGINT AS copy
        |FROM n, unnest(range(0, copies)) AS c(c)
        |ORDER BY doc_id, copy""".stripMargin),

    QueryDef("p26_length_buckets", ((s, dir) => {
      // padding-minimizing length-bucketed batching (the seq2seq
      // bucketing step): 16-token-wide length buckets, batches of 8,
      // ranks sharded per 256-doc id range (the packSequences
      // discipline — no global per-bucket sort exists in the plan);
      // each batch row carries the padding account a team sizes
      // bucketWidth by
      val docs = t(s, dir, "documents")
      val lens = docs.select(col("doc_id"),
        size(TextAnalysis.words(col("text"))).cast("long").as("n_tok"))
      TextAnalysis.lengthBucketBatches(lens, "doc_id", "n_tok",
          bucketWidth = 16L, batchSize = 8L, shardSize = 256L)
        .orderBy("bucket", "shard", "batch")
    }),
      // from-scratch recompute of the sharded bucket ranks: the same
      // (bucket, shard)-partitioned row_number (tie-broken len desc, id)
      // and the per-batch padding account in integer fixed point
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |l AS (SELECT doc_id, len(ws)::BIGINT AS n_tok FROM w WHERE len(ws) > 0),
        |b AS (SELECT doc_id, n_tok, (n_tok - 1) // 16 AS bucket, doc_id // 256 AS shard FROM l),
        |r AS (SELECT *, row_number() OVER (PARTITION BY bucket, shard ORDER BY n_tok DESC, doc_id) AS rn FROM b),
        |g AS (SELECT bucket, shard, (rn - 1) // 8 AS batch, count(*)::BIGINT AS n_seqs,
        |        max(n_tok)::BIGINT AS max_len, sum(n_tok)::BIGINT AS sum_len
        |      FROM r GROUP BY 1, 2, 3)
        |SELECT bucket, shard, batch, n_seqs, max_len, sum_len,
        |  (max_len * n_seqs)::BIGINT AS padded_tokens,
        |  ((max_len * n_seqs - sum_len) * 1000000 // (max_len * n_seqs))::BIGINT AS waste_fp
        |FROM g ORDER BY bucket, shard, batch""".stripMargin),

    QueryDef("p10_pack_sequences", ((s, dir) => {
      // loader-prep: concat-and-chunk into 512-token training
      // sequences, packed per (source, 1000-doc shard) so every
      // prefix-sum window is bounded by the shard size and shards pack
      // in parallel after one uniform shuffle — the global concat
      // order a single-sequence packer would need (one task, the whole
      // corpus through it) never exists
      val docs = t(s, dir, "documents")
      val counts = docs.select(col("doc_id"), col("source"),
        TextAnalysis.wsTokens(col("text")).as("ws_tokens"))
      TextAnalysis.packSequences(counts, "doc_id", "source", "ws_tokens",
          capacity = 512L, shardSize = 1000L)
        .select("doc_id", "source", "shard", "bin_first", "bin_last", "offset_in_bin")
        .orderBy("doc_id")
    }),
      // concat-and-chunk packing: per (source, 1000-doc shard), docs in
      // doc_id order; each doc's placement = its exclusive prefix token
      // sum divided into 512-token bins. Pure integer arithmetic.
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS ws_tokens,
        |    (doc_id // 1000)::BIGINT AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, ws_tokens, shard,
        |    coalesce(sum(ws_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pre
        |  FROM t)
        |SELECT doc_id, source, shard,
        |  (pre // 512)::BIGINT AS bin_first,
        |  (CASE WHEN ws_tokens <= 0 THEN pre // 512
        |        ELSE (pre + ws_tokens - 1) // 512 END)::BIGINT AS bin_last,
        |  (pre % 512)::BIGINT AS offset_in_bin
        |FROM c ORDER BY doc_id""".stripMargin),

    QueryDef("p20_curriculum", ((s, dir) => {
      // curriculum-ordered epoch shuffle: the quality quartile is the
      // stage (best docs stage 0), shuffled within each stage by the
      // epoch uniform — shard assignment unchanged from p6, so stage
      // ranges align across shards and a loader interleaving shards
      // reads easy→hard without any global stage-sort
      val docs = t(s, dir, "documents")
      val staged = TextAnalysis.qualityInt(docs, "text", "doc_id")
        .select(col("doc_id"),
          greatest(lit(0L), lit(3L) - expr("iq div 2500")).as("stage"))
      TextAnalysis.curriculumShuffle(staged, "doc_id", "stage", epoch = 1, nShards = 8)
        .orderBy("doc_id")
    }),
      // the x11 iq chain feeds the quartile stage; coordinates = p6's
      // shard arithmetic with the rank ordered (stage, u, doc_id)
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws,
        |    text
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    length(text)::BIGINT AS n_chars_c,
        |    len(ws)::BIGINT AS n_words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::BIGINT AS n_punct,
        |    len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x)))::BIGINT AS n_stop
        |  FROM w),
        |q AS (
        |  SELECT doc_id,
        |    (least(n_words, 100) * 50 + (n_stop * 3000 // greatest(n_words, 1))
        |     + 2000 - (n_punct * 2000 // greatest(n_chars_c, 1)))::BIGINT AS iq
        |  FROM s),
        |st AS (
        |  SELECT doc_id, greatest(0, 3 - iq // 2500)::BIGINT AS stage,
        |    ('0x' || substr(md5('epoch1:' || doc_id), 1, 8))::BIGINT AS u
        |  FROM q),
        |sh AS (SELECT doc_id, stage, u, (u * 8 // 4294967296)::INT AS shard FROM st)
        |SELECT doc_id, stage, shard,
        |  (row_number() OVER (PARTITION BY shard ORDER BY stage, u, doc_id) - 1)::BIGINT AS pos
        |FROM sh ORDER BY doc_id""".stripMargin),

    QueryDef("p21_mask_stream", ((s, dir) => {
      // the packed token stream WITH document boundaries — the
      // attention-mask loader view (packed pretraining resets
      // attention at doc boundaries): every token carries its doc and
      // a doc_start flag on the doc's first token; continuation
      // segments of straddling docs never flag
      val docs = t(s, dir, "documents")
      val enc = docs.select(col("doc_id"), col("source"),
        graft.text.Bpe.bpeEncode(TextAnalysis.words(col("text")),
          graft.text.Bpe.DefaultMerges).as("ids"))
      TextAnalysis.packedMaskStream(enc, "doc_id", "source", "ids",
          capacity = 512L, shardSize = 1000L)
        .select(col("source"), col("shard"), col("bin"), col("bin_pos"),
          col("token_id").cast("int").as("token_id"), col("doc_id"), col("doc_start"))
        .orderBy("source", "shard", "bin", "bin_pos")
    }),
      // the same chain carrying doc identity through the segment explode:
      // doc_start = 1 exactly on each doc's first token (a straddling
      // doc's continuation segment has seg_start > 0 and never flags)
      packedStreamSql(withDoc = true)),

    QueryDef("p24_split_pack", ((s, dir) => {
      // split × pack composed under ONE oracle (the p18 discipline
      // applied to the EVAL BOUNDARY): p19's exact-count holdout
      // decides the cut, the train side flows through the p21
      // doc-carrying packer. The oracle packs an INDEPENDENTLY
      // recomputed train side, so equality proves both contracts at
      // once: the packed train stream equals the one-shot packer over
      // the train docs, and — because every token row carries its
      // doc_id and one extra doc would shift every later placement —
      // no holdout doc's tokens can appear in it
      val docs = t(s, dir, "documents")
      val train = TextAnalysis.holdoutSplit(docs, "doc_id", "lang", holdBp = 1000)
        .filter(col("split") === "train")
      val enc = train.select(col("doc_id"), col("source"),
        graft.text.Bpe.bpeEncode(TextAnalysis.words(col("text")),
          graft.text.Bpe.DefaultMerges).as("ids"))
      TextAnalysis.packedMaskStream(enc, "doc_id", "source", "ids",
          capacity = 512L, shardSize = 1000L)
        .select(col("source"), col("shard"), col("bin"), col("bin_pos"),
          col("token_id").cast("int").as("token_id"), col("doc_id"), col("doc_start"))
        .orderBy("source", "shard", "bin", "bin_pos")
    }),
      // the p19 split CTE recomputed from scratch picks the train side,
      // then the FULL p21 chain packs it — the train stream must equal
      // the one-shot packer over exactly those docs, and (doc ids ride
      // every row) contain no holdout doc's tokens
      packedStreamSql(withDoc = true, rel = "train_docs",
      prefixCtes =
        """su AS (
          |  SELECT doc_id, lang,
          |    ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT AS u
          |  FROM documents),
          |sr AS (
          |  SELECT doc_id, lang, u,
          |    row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn,
          |    count(*) OVER (PARTITION BY lang) AS n
          |  FROM su),
          |train_docs AS (
          |  SELECT d.* FROM documents d JOIN sr USING (doc_id)
          |  WHERE NOT (sr.lang IS NOT NULL AND sr.rn <= (sr.n * 1000 + 9999) // 10000)),
          |""".stripMargin)),

    QueryDef("p14_packed_tokens", ((s, dir) => {
      // the END of the pipeline: fixed-capacity training sequences as
      // token-id streams — x12's encoder feeds p13's segments, one row
      // per token at its (source, shard, bin, bin_pos) coordinate.
      // Packing counts come from the id arrays themselves, so stream
      // and placement cannot disagree
      val docs = t(s, dir, "documents")
      val enc = docs.select(col("doc_id"), col("source"),
        graft.text.Bpe.bpeEncode(TextAnalysis.words(col("text")),
          graft.text.Bpe.DefaultMerges).as("ids"))
      TextAnalysis.packedTokenStream(enc, "doc_id", "source", "ids",
          capacity = 512L, shardSize = 1000L)
        .select(col("source"), col("shard"), col("bin"),
          col("bin_pos"), col("token_id").cast("int").as("token_id"))
        .orderBy("source", "shard", "bin", "bin_pos")
    }),
      // x12's segmentation aggregated to per-doc id arrays, p13's
      // placement arithmetic on their lengths, then each segment
      // unnested to (bin_pos, token_id) rows
      packedStreamSql(withDoc = false)),

    QueryDef("p15_pack_delta", ((s, dir) => {
      // INCREMENTAL packing — the loader-side delta loop: the standing
      // corpus (doc_id < 400) is packed once into a shard-partitioned
      // placement table; the new batch extends/repacks ONLY its
      // touched shards (token counts from standing rows — no corpus
      // re-tokenization, no untouched-shard rewrite: shard 0 here is
      // never read). Emitted: the standing state after one
      // build→delta→absorb cycle, whose oracle is the ONE-SHOT p10
      // packer over the whole corpus — the delta identity that holds
      // after every absorb. shardSize 300 puts the batch at shard 1's
      // tail (with standing docs 300..399 ahead of it) and creates
      // fresh shards beyond — both delta regimes exercised at each SF
      val docs = t(s, dir, "documents")
      val counts = docs.select(col("doc_id"), col("source"),
        TextAnalysis.wsTokens(col("text")).as("ws_tokens"))
      val table = graft.core.Tables.scoped("pack_state_p15")
      PackIndex.buildPackState(counts.filter(col("doc_id") < 400),
        "doc_id", "source", "ws_tokens", capacity = 512L, shardSize = 300L, table)
      val delta = PackIndex.packDelta(s, counts.filter(col("doc_id") >= 400),
        "doc_id", "source", "ws_tokens", capacity = 512L, shardSize = 300L, table)
      PackIndex.absorbPackDelta(s, table, delta)
      s.table(table)
        .select(col("id").as("doc_id"), col("grp").as("source"), col("shard"),
          col("bin_first"), col("bin_last"), col("offset_in_bin"))
        .orderBy("doc_id")
    }),
      // the delta-identity oracle: after build→delta→absorb the standing
      // placement table must equal the ONE-SHOT packer over the whole
      // corpus — p10's arithmetic at the p15 parameters
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS ws_tokens,
        |    (doc_id // 300)::BIGINT AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, ws_tokens, shard,
        |    coalesce(sum(ws_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pre
        |  FROM t)
        |SELECT doc_id, source, shard,
        |  (pre // 512)::BIGINT AS bin_first,
        |  (CASE WHEN ws_tokens <= 0 THEN pre // 512
        |        ELSE (pre + ws_tokens - 1) // 512 END)::BIGINT AS bin_last,
        |  (pre % 512)::BIGINT AS offset_in_bin
        |FROM c ORDER BY doc_id""".stripMargin),

    QueryDef("p17_stream_pack", ((s, dir) => {
      // STREAMING incremental packing — p15's operational loop under
      // Structured Streaming: docs [400, 600) arrive as two
      // micro-batches over the standing pack state (the rest of the
      // corpus); each batch extends/repacks only its touched shards
      // and absorbs so batch b packs against batch a through the
      // standing state alone. Each batch emits the FULL touched-shard
      // delta (a superseding batch displaces same-shard standing
      // placements, so a loader must see every placement that may
      // have moved); the consumer view is LATEST EMISSION PER ID —
      // which equals the one-shot packer restricted to the ids of the
      // touched shards ([300, 600) here: docs 400..599 stream, their
      // shard-1 neighbours 300..399 re-emit), because an id's shard
      // is only ever repacked to its current one-shot placement
      val docs = t(s, dir, "documents")
      val counts = docs.select(col("doc_id"), col("source"),
        TextAnalysis.wsTokens(col("text")).as("ws_tokens"))
      val table = graft.core.Tables.scoped("pack_state_p17")
      PackIndex.buildPackState(counts.filter(col("doc_id") < 400 || col("doc_id") >= 600),
        "doc_id", "source", "ws_tokens", capacity = 512L, shardSize = 300L, table)
      val chunks = stageMicroBatches(counts, "doc_id",
        Seq((400L, 500L), (500L, 600L)), "pk")
      val out = java.nio.file.Files.createTempDirectory("graft_pk_out_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_pk_ckpt_").toString
      OnChange.streamingPackDelta(s, chunks, "doc_id", "source", "ws_tokens",
        capacity = 512L, shardSize = 300L, table, out, ckpt)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("batch_id").desc)
      s.read.parquet(out)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("id").as("doc_id"), col("grp").as("source"), col("shard"),
          col("bin_first"), col("bin_last"), col("offset_in_bin"))
        .orderBy("doc_id")
    }),
      // the one-shot packer restricted to the TOUCHED SHARDS' ids
      // (streamed docs 400..599 plus their shard-1 neighbours 300..399,
      // re-emitted by the full-delta contract) — valid because the
      // latest emission per id is always its current one-shot placement
      // (see the query comment)
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS ws_tokens,
        |    (doc_id // 300)::BIGINT AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, ws_tokens, shard,
        |    coalesce(sum(ws_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pre
        |  FROM t)
        |SELECT doc_id, source, shard,
        |  (pre // 512)::BIGINT AS bin_first,
        |  (CASE WHEN ws_tokens <= 0 THEN pre // 512
        |        ELSE (pre + ws_tokens - 1) // 512 END)::BIGINT AS bin_last,
        |  (pre % 512)::BIGINT AS offset_in_bin
        |FROM c WHERE doc_id >= 300 AND doc_id < 600 ORDER BY doc_id""".stripMargin),

    QueryDef("p18_chain", ((s, dir) => {
      // THE OPERATIONAL CHAIN under ONE oracle — three CronJobs
      // sharing one registry (the reference's jobs-chained-through-
      // datasets shape): raw log → recipeJob (standing refinery,
      // tombstone-retracting emission upsert) → emissionRollupJob
      // (per-doc emitted token mass into the token log) → packJob
      // (standing shard-partitioned placements). Simulated schedule:
      // window 1 = new docs [300,350); window 2 = docs [350,400) PLUS
      // re-ingested revisions of every 50th standing doc and doc 13
      // (supersede propagates through ALL THREE links); day 3 fires
      // EMPTY (all tokens current — every link no-ops). Emitted: the
      // final standing placement table, whose oracle is the one-shot
      // recipe replayed window-by-window (the p12 as-of-arrival
      // identity, ledger evolving across windows) composed with the
      // one-shot packer over the final per-doc masses (the p15
      // identity) — the emission schema, supersede propagation, and
      // token discipline the links share, pinned end to end
      import graft.jobs._
      import java.time.LocalDateTime
      val budgets = Map("en" -> 30000L, "fr" -> 800L)
      val base = plantRecipe(t(s, dir, "documents"))
      val std = base.filter(col("doc_id") < 300)
      val evalS = base.filter(col("doc_id") >= 400)
      val w1 = base.filter(col("doc_id") >= 300 && col("doc_id") < 350)
        .withColumn("recorded", lit(1L))
      val w2 = base.filter(col("doc_id") >= 350 && col("doc_id") < 400)
        .unionByName(std.filter(col("doc_id") % 50 === 0 || col("doc_id") === 13)
          .withColumn("text", concat(lit("revision two of this document "), col("text"))))
        .withColumn("recorded", lit(2L))
      val st = graft.jobs.Recipe.buildStanding(s,
        std.withColumn("label", col("doc_id") % 4 =!= 1), evalS,
        "text", "doc_id", "lang", "label", k = 15,
        graft.text.Bpe.DefaultMerges, prefix = graft.core.Tables.scoped("p18rc"), buckets = 16)
      // bootstrap: the standing corpus's own one-shot emission masses
      // seed the token log and the pack state (recorded 0 — before any
      // window; ungated standing docs seed zero mass)
      val totS = s.table(st.counts).groupBy("lang")
        .agg(sum("bpe_tokens").cast("long").as("__tot"))
      val massS = TextAnalysis.tokenBudgetRepeatAgainst(
          s.table(st.counts), totS, "doc_id", "lang", budgets)
        .groupBy("doc_id").agg(sum("bpe_tokens").cast("long").as("emitted_tokens"))
      val toklog0 = graft.core.Checkpoints.truncate(
        std.select(col("doc_id"), col("lang"))
          .join(massS, Seq("doc_id"), "left")
          .withColumn("emitted_tokens", coalesce(col("emitted_tokens"), lit(0L)))
          .withColumn("recorded", lit(0L)))
      val reg = new DatasetRegistry
      reg.put("rawlog", w1)
      reg.put("toklog", toklog0)
      val packTbl = graft.core.Tables.scoped("p18_pack")
      PackIndex.buildPackState(toklog0, "doc_id", "lang", "emitted_tokens",
        capacity = 512L, shardSize = 300L, packTbl)
      val sched = new CronScheduler(Seq(
        graft.jobs.Recipe.recipeJob(reg, st, "rawlog", "doc_id", "recorded",
          "text", "lang", budgets, k = 15, graft.text.Bpe.DefaultMerges,
          "emission", cron = "0 3 * * *"),
        graft.jobs.Recipe.emissionRollupJob(reg, "rawlog", "emission", "toklog",
          "doc_id", "lang", "recorded", cron = "30 3 * * *"),
        PackIndex.packJob(reg, "toklog", "doc_id", "lang", "emitted_tokens",
          "recorded", capacity = 512L, shardSize = 300L, packTbl,
          "placements", cron = "0 4 * * *")))
      def day(d: Int): Unit = {
        sched.tick(s, reg, LocalDateTime.of(2026, 8, d, 3, 0))
        sched.tick(s, reg, LocalDateTime.of(2026, 8, d, 3, 30))
        sched.tick(s, reg, LocalDateTime.of(2026, 8, d, 4, 0))
      }
      day(14)
      reg.put("rawlog", w1.unionByName(w2))
      day(15)
      day(16) // nothing recorded past the tokens: every link no-ops
      s.table(packTbl)
        .select(col("id").as("doc_id"), col("grp").as("lang"),
          col("tok").as("emitted_tokens"), col("shard"),
          col("bin_first"), col("bin_last"), col("offset_in_bin"))
        .orderBy("doc_id")
    }),
      // THE CHAIN oracle: the one-shot recipe replayed WINDOW BY WINDOW
      // (standing → +w1 → +w2, the p12 as-of-arrival identity with the
      // ledger evolving across windows — each window's copies are drawn
      // against the totals as of ITS arrival and never recomputed),
      // rolled up to per-doc emitted masses (gated-out docs mass 0),
      // composed with the one-shot packer (the p15 identity) over the
      // final per-doc token table. The prefix chains are p12's and the
      // packer arithmetic is p15's — prefixed and joined
      s"""WITH d0 AS (SELECT doc_id, lang, ${plantRecipe.sql} AS text FROM documents),
         |std AS (SELECT doc_id, lang, text FROM d0 WHERE doc_id < 300),
         |w1d AS (SELECT doc_id, lang, text FROM d0 WHERE doc_id >= 300 AND doc_id < 350),
         |w2d AS (
         |  SELECT doc_id, lang, text FROM d0 WHERE doc_id >= 350 AND doc_id < 400
         |  UNION ALL
         |  SELECT doc_id, lang, 'revision two of this document ' || text
         |  FROM std WHERE doc_id % 50 = 0 OR doc_id = 13),
         |eff1 AS (SELECT * FROM std UNION ALL SELECT * FROM w1d),
         |eff2 AS (
         |  SELECT * FROM std WHERE doc_id % 50 <> 0 AND doc_id <> 13
         |  UNION ALL SELECT * FROM w1d UNION ALL SELECT * FROM w2d),
         |wstd AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM std),
         |weff1 AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM eff1),
         |weff2 AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM eff2),
         |weval AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM d0 WHERE doc_id >= 400),
         |geval AS (
         |  SELECT DISTINCT md5(array_to_string(ws[t.i:t.i+14], ' ')) AS gh
         |  FROM weval, unnest(range(1, len(ws)-13)) AS t(i)),
         |${scrubChainSql("a1", "wstd", "1=1",
             "SELECT gh FROM a1g GROUP BY gh HAVING count(*) >= 2")},
         |${scrubChainSql("a2", "a1out", "1=1", "SELECT gh FROM geval")},
         |tokS AS (
         |  SELECT doc_id, (doc_id % 4 <> 1) AS label,
         |         ('0x' || substr(md5(t.w), 1, 8))::BIGINT % 256 AS bucket
         |  FROM a2out, unnest(ws) AS t(w)),
         |perS AS (SELECT bucket, sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos, count(*) AS tot FROM tokS GROUP BY 1),
         |priS AS (SELECT (sum(CASE WHEN label THEN 1 ELSE 0 END) + 1) * 1000000 // (count(*) + 2) AS prior FROM tokS),
         |badS AS (SELECT bucket FROM perS, priS WHERE (pos + 1) * 1000000 // (tot + 2) < prior // 2),
         |flS AS (SELECT tokS.doc_id, count(badS.bucket) AS n_flagged FROM tokS LEFT JOIN badS USING (bucket) GROUP BY 1),
         |gatedS AS (SELECT a2out.doc_id, a2out.ws FROM a2out LEFT JOIN flS USING (doc_id) WHERE coalesce(flS.n_flagged, 0) = 0),
         |t4S AS (SELECT doc_id, t.w AS wd FROM gatedS, unnest(ws) AS t(w)),
         |encS AS (SELECT doc_id, ${graft.text.Bpe.mergeChainSql("wd", graft.text.Bpe.DefaultMerges)} AS s FROM t4S),
         |perTS AS (
         |  SELECT doc_id, sum(length(s) - length(replace(s, '(', '')))::BIGINT AS bpe
         |  FROM encS GROUP BY doc_id),
         |cntS AS (
         |  SELECT g.doc_id, d0.lang, coalesce(perTS.bpe, 0)::BIGINT AS bpe_tokens
         |  FROM gatedS g JOIN d0 USING (doc_id) LEFT JOIN perTS USING (doc_id)),
         |totS AS (SELECT lang, sum(bpe_tokens)::BIGINT AS tot FROM cntS GROUP BY 1),
         |parS AS (SELECT lang, tot,
         |  CASE lang WHEN 'en' THEN 30000 WHEN 'fr' THEN 800 ELSE NULL END AS b FROM totS),
         |nS AS (SELECT c.doc_id, c.bpe_tokens,
         |  CASE WHEN p.b IS NULL THEN 1
         |       WHEN p.tot = 0 THEN 0
         |       ELSE (p.b // p.tot) + CASE WHEN ('0x' || substr(md5('rep:' || c.doc_id), 1, 8))::BIGINT < ((p.b % p.tot) * 4294967296 // p.tot) THEN 1 ELSE 0 END
         |  END AS copies
         |  FROM cntS c LEFT JOIN parS p USING (lang)),
         |massS AS (SELECT doc_id, (bpe_tokens * copies)::BIGINT AS m FROM nS),
         |${scrubChainSql("c1", "weff1", "(doc_id >= 300 AND doc_id < 350)",
             "SELECT gh FROM c1g GROUP BY gh HAVING count(*) >= 2")},
         |${scrubChainSql("c2", "c1out", "1=1", "SELECT gh FROM geval")},
         |tokC AS (
         |  SELECT doc_id, ('0x' || substr(md5(t.w), 1, 8))::BIGINT % 256 AS bucket
         |  FROM c2out, unnest(ws) AS t(w)),
         |flC AS (SELECT tokC.doc_id, count(badS.bucket) AS n_flagged FROM tokC LEFT JOIN badS USING (bucket) GROUP BY 1),
         |gatedC AS (SELECT c2out.doc_id, c2out.ws FROM c2out LEFT JOIN flC USING (doc_id) WHERE coalesce(flC.n_flagged, 0) = 0),
         |t4C AS (SELECT doc_id, t.w AS wd FROM gatedC, unnest(ws) AS t(w)),
         |encC AS (SELECT doc_id, ${graft.text.Bpe.mergeChainSql("wd", graft.text.Bpe.DefaultMerges)} AS s FROM t4C),
         |perTC AS (
         |  SELECT doc_id, sum(length(s) - length(replace(s, '(', '')))::BIGINT AS bpe
         |  FROM encC GROUP BY doc_id),
         |cnt1 AS (
         |  SELECT g.doc_id, d0.lang, coalesce(perTC.bpe, 0)::BIGINT AS bpe_tokens
         |  FROM gatedC g JOIN d0 USING (doc_id) LEFT JOIN perTC USING (doc_id)),
         |tot1 AS (SELECT lang, sum(bpe_tokens)::BIGINT AS tot FROM (
         |  SELECT lang, bpe_tokens FROM cntS UNION ALL SELECT lang, bpe_tokens FROM cnt1) GROUP BY 1),
         |par1 AS (SELECT lang, tot,
         |  CASE lang WHEN 'en' THEN 30000 WHEN 'fr' THEN 800 ELSE NULL END AS b FROM tot1),
         |n1 AS (SELECT c.doc_id, c.bpe_tokens,
         |  CASE WHEN p.b IS NULL THEN 1
         |       WHEN p.tot = 0 THEN 0
         |       ELSE (p.b // p.tot) + CASE WHEN ('0x' || substr(md5('rep:' || c.doc_id), 1, 8))::BIGINT < ((p.b % p.tot) * 4294967296 // p.tot) THEN 1 ELSE 0 END
         |  END AS copies
         |  FROM cnt1 c LEFT JOIN par1 p USING (lang)),
         |mass1 AS (SELECT doc_id, (bpe_tokens * copies)::BIGINT AS m FROM n1),
         |${scrubChainSql("e1", "weff2",
             "((doc_id >= 350 AND doc_id < 400) OR (doc_id < 300 AND (doc_id % 50 = 0 OR doc_id = 13)))",
             "SELECT gh FROM e1g GROUP BY gh HAVING count(*) >= 2")},
         |${scrubChainSql("e2", "e1out", "1=1", "SELECT gh FROM geval")},
         |tokE AS (
         |  SELECT doc_id, ('0x' || substr(md5(t.w), 1, 8))::BIGINT % 256 AS bucket
         |  FROM e2out, unnest(ws) AS t(w)),
         |flE AS (SELECT tokE.doc_id, count(badS.bucket) AS n_flagged FROM tokE LEFT JOIN badS USING (bucket) GROUP BY 1),
         |gatedE AS (SELECT e2out.doc_id, e2out.ws FROM e2out LEFT JOIN flE USING (doc_id) WHERE coalesce(flE.n_flagged, 0) = 0),
         |t4E AS (SELECT doc_id, t.w AS wd FROM gatedE, unnest(ws) AS t(w)),
         |encE AS (SELECT doc_id, ${graft.text.Bpe.mergeChainSql("wd", graft.text.Bpe.DefaultMerges)} AS s FROM t4E),
         |perTE AS (
         |  SELECT doc_id, sum(length(s) - length(replace(s, '(', '')))::BIGINT AS bpe
         |  FROM encE GROUP BY doc_id),
         |cnt2 AS (
         |  SELECT g.doc_id, d0.lang, coalesce(perTE.bpe, 0)::BIGINT AS bpe_tokens
         |  FROM gatedE g JOIN d0 USING (doc_id) LEFT JOIN perTE USING (doc_id)),
         |tot2 AS (SELECT lang, sum(bpe_tokens)::BIGINT AS tot FROM (
         |  SELECT lang, bpe_tokens FROM cntS WHERE doc_id % 50 <> 0 AND doc_id <> 13
         |  UNION ALL SELECT lang, bpe_tokens FROM cnt1
         |  UNION ALL SELECT lang, bpe_tokens FROM cnt2) GROUP BY 1),
         |par2 AS (SELECT lang, tot,
         |  CASE lang WHEN 'en' THEN 30000 WHEN 'fr' THEN 800 ELSE NULL END AS b FROM tot2),
         |n2 AS (SELECT c.doc_id, c.bpe_tokens,
         |  CASE WHEN p.b IS NULL THEN 1
         |       WHEN p.tot = 0 THEN 0
         |       ELSE (p.b // p.tot) + CASE WHEN ('0x' || substr(md5('rep:' || c.doc_id), 1, 8))::BIGINT < ((p.b % p.tot) * 4294967296 // p.tot) THEN 1 ELSE 0 END
         |  END AS copies
         |  FROM cnt2 c LEFT JOIN par2 p USING (lang)),
         |mass2 AS (SELECT doc_id, (bpe_tokens * copies)::BIGINT AS m FROM n2),
         |tt AS (
         |  SELECT u.doc_id, u.lang,
         |    coalesce(CASE WHEN u.doc_id >= 350 THEN e_m.m
         |                  WHEN u.doc_id >= 300 THEN c_m.m
         |                  WHEN u.doc_id % 50 = 0 OR u.doc_id = 13 THEN e_m.m
         |                  ELSE a_m.m END, 0)::BIGINT AS tok
         |  FROM (SELECT doc_id, lang FROM d0 WHERE doc_id < 400) u
         |  LEFT JOIN massS a_m ON u.doc_id = a_m.doc_id
         |  LEFT JOIN mass1 c_m ON u.doc_id = c_m.doc_id
         |  LEFT JOIN mass2 e_m ON u.doc_id = e_m.doc_id),
         |pc AS (
         |  SELECT doc_id, lang, tok, (doc_id // 300)::BIGINT AS shard,
         |    coalesce(sum(tok) OVER (PARTITION BY lang, (doc_id // 300) ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pre
         |  FROM tt)
         |SELECT doc_id, lang, tok::BIGINT AS emitted_tokens, shard,
         |  (pre // 512)::BIGINT AS bin_first,
         |  (CASE WHEN tok <= 0 THEN pre // 512
         |        ELSE (pre + tok - 1) // 512 END)::BIGINT AS bin_last,
         |  (pre % 512)::BIGINT AS offset_in_bin
         |FROM pc ORDER BY doc_id""".stripMargin),

    QueryDef("p13_bin_manifest", ((s, dir) => {
      // the loader-facing view of p10: per (shard, bin) the ordered doc
      // segments (token range within the doc + offset within the bin),
      // straddle continuation rows included — what a data loader reads
      // to assemble each fixed-capacity training sequence. Same packing
      // parameters as p10, plus one map-only bounded explode
      val docs = t(s, dir, "documents")
      val counts = docs.select(col("doc_id"), col("source"),
        TextAnalysis.wsTokens(col("text")).as("ws_tokens"))
      TextAnalysis.packedBins(counts, "doc_id", "source", "ws_tokens",
          capacity = 512L, shardSize = 1000L)
        .select("doc_id", "source", "shard", "bin", "seg_start", "seg_len", "bin_offset")
        .orderBy("doc_id", "bin")
    }),
      // p10's placements exploded to per-(shard, bin) doc segments: each
      // doc emits one row per bin it touches; segment arithmetic is the
      // intersection of [pre, pre+tokens) with the bin's token window
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS ws_tokens,
        |    (doc_id // 1000)::BIGINT AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, ws_tokens, shard,
        |    coalesce(sum(ws_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pre
        |  FROM t),
        |p AS (
        |  SELECT doc_id, source, ws_tokens, shard, pre,
        |    (pre // 512)::BIGINT AS bin_first,
        |    (CASE WHEN ws_tokens <= 0 THEN pre // 512
        |          ELSE (pre + ws_tokens - 1) // 512 END)::BIGINT AS bin_last
        |  FROM c)
        |SELECT doc_id, source, shard, b.bin::BIGINT AS bin,
        |  (CASE WHEN b.bin = bin_first THEN 0 ELSE b.bin * 512 - pre END)::BIGINT AS seg_start,
        |  (CASE WHEN ws_tokens <= 0 THEN 0
        |        ELSE least(pre + ws_tokens, (b.bin + 1) * 512) - greatest(pre, b.bin * 512)
        |   END)::BIGINT AS seg_len,
        |  greatest(pre - b.bin * 512, 0)::BIGINT AS bin_offset
        |FROM p, unnest(range(bin_first, bin_last + 1)) AS b(bin)
        |ORDER BY doc_id, bin""".stripMargin),

    QueryDef("p6_epoch_shuffle", ((s, dir) =>
      // loader-prep: epoch 3's deterministic permutation of the corpus
      // as (shard, pos) coordinates — no global sort (the md5 uniform
      // is the permutation; shard assignment is map-only, ranks are
      // per-shard windows running in parallel)
      TextAnalysis.epochShuffle(t(s, dir, "documents"), "doc_id", epoch = 3, nShards = 8)
        .select("doc_id", "shard", "pos").orderBy("doc_id")),
      // same md5 uniform, same integer shard arithmetic, same rank order
      s"""WITH u AS (
         |  SELECT doc_id, ('0x' || substr(md5('epoch3:' || doc_id), 1, 8))::BIGINT AS u
         |  FROM documents),
         |sh AS (SELECT doc_id, u, (u * 8 // 4294967296)::INT AS shard FROM u)
         |SELECT doc_id, shard,
         |       (row_number() OVER (PARTITION BY shard ORDER BY u, doc_id) - 1)::BIGINT AS pos
         |FROM sh ORDER BY doc_id""".stripMargin),

    QueryDef("p16_epoch_pack", ((s, dir) => {
      // epoch-ORDERED packing: p6's permutation feeds p10's packer —
      // placements are computed IN the epoch order (shard = the
      // permutation's shard, rank = its pos), so the packed stream IS
      // the epoch ordering rather than raw id order. Still no global
      // sort anywhere: the md5 uniform is the permutation, shard
      // assignment is map-only, and the prefix sums are per-(group,
      // shard) windows packing in parallel
      val docs = t(s, dir, "documents")
      val counts = docs.select(col("doc_id"), col("source"),
        TextAnalysis.wsTokens(col("text")).as("ws_tokens"))
      val perm = TextAnalysis.epochShuffle(counts, "doc_id", epoch = 3, nShards = 8)
      TextAnalysis.packSequencesBy(perm, "doc_id", "source", "ws_tokens",
          capacity = 512L, shardCol = "shard", posCol = "pos")
        .select(col("doc_id"), col("source"), col("shard").cast("long").as("shard"),
          col("bin_first"), col("bin_last"), col("offset_in_bin"))
        .orderBy("doc_id")
    }),
      // p6's permutation machinery composed with p10's placement
      // arithmetic: prefix sums run per (source, permutation-shard)
      // ordered by the permutation's pos (doc_id breaking ties)
      """WITH u AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS ws_tokens,
        |    ('0x' || substr(md5('epoch3:' || doc_id), 1, 8))::BIGINT AS u
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, ws_tokens, (u * 8 // 4294967296)::BIGINT AS shard,
        |    (row_number() OVER (PARTITION BY (u * 8 // 4294967296) ORDER BY u, doc_id) - 1)::BIGINT AS pos
        |  FROM u),
        |c AS (
        |  SELECT doc_id, source, ws_tokens, shard,
        |    coalesce(sum(ws_tokens) OVER (PARTITION BY source, shard ORDER BY pos, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pre
        |  FROM p)
        |SELECT doc_id, source, shard,
        |  (pre // 512)::BIGINT AS bin_first,
        |  (CASE WHEN ws_tokens <= 0 THEN pre // 512
        |        ELSE (pre + ws_tokens - 1) // 512 END)::BIGINT AS bin_last,
        |  (pre % 512)::BIGINT AS offset_in_bin
        |FROM c ORDER BY doc_id""".stripMargin),

    QueryDef("p4_sharded_export", ((s, dir) => {
      // last mile: hash-sharded corpus export + manifest; the shard
      // assignment is the deterministic md5 uniform, so the manifest
      // is engine-recomputable (bytes are parquet-specific and spec-
      // checked instead). Fixed path + overwrite: repeated bench
      // passes rewrite one copy instead of accumulating temp dirs
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_export_p4").getAbsolutePath
      graft.jobs.Export.shardedExport(t(s, dir, "documents"), "doc_id", out, 8)
        .select(col("shard"), col("n_rows")).orderBy("shard")
    }),
      """SELECT ('0x' || substr(md5('shard:' || doc_id), 1, 8))::BIGINT % 8 AS shard,
        |       count(*) AS n_rows
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("p3_clean_pipeline", ((s, dir) => {
      // the round-6 cleaning loop composed end-to-end: plant PII (x7's
      // construction) → scrub → boilerplate gate (scrub artifacts
      // become shared spans and are counted as such) → weighted
      // training-mix sample → per-(lang, source) corpus stats
      val docs = t(s, dir, "documents")
      val scrubbed = plantPii(docs)
        .withColumn("text", TextAnalysis.piiScrubText(col("text")))
      // scale-aware boilerplate cut: "shared by many docs" must mean a
      // FRACTION of the corpus, not an absolute 3, or the gate
      // saturates as a fixed-vocabulary corpus grows (at 5k+ synthetic
      // docs every 3-gram lands in >= 3 docs). max(3, 0.2%) keeps the
      // sf0.01 gate exactly as before
      val minDocs = math.max(3L, docs.count() * 2 / 1000).toInt
      val keep = Dedup.boilerplate(scrubbed, "text", "doc_id", 3, minDocs)
        .filter(col("boiler_ratio") <= 0.5).select(col("id").as("doc_id"))
      val sampled = TextAnalysis.weightedSample(scrubbed.join(keep, "doc_id"),
        "doc_id", "lang", rates = Map("en" -> 0.35, "fr" -> 0.8))
      val toks = TextAnalysis.tokenCounts(sampled, "text", "doc_id")
        .select(col("doc_id"), col("ws_tokens"))
      sampled.join(toks, "doc_id")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("ws_tokens").cast("long").as("total_tokens"))
        .orderBy("lang", "source")
    }),
      s"""WITH aug AS (
         |  SELECT doc_id, lang, source, ${plantPii.sql} AS text
         |  FROM documents),
         |scr AS (
         |  SELECT doc_id, lang, source,
         |    ${scrubSql("text")} AS text
         |  FROM aug),
         |words AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), w -> w <> '') AS ws
         |  FROM scr),
         |sh AS (
         |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
         |  FROM words, unnest(range(1, len(ws)-1)) AS t(i)),
         |df_ AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
         |per AS (
         |  SELECT sh.doc_id AS id, count(*) AS n_shingles,
         |         count(CASE WHEN df_.df >= greatest(3, (SELECT count(*) * 2 // 1000 FROM documents)) THEN 1 END) AS n_boiler
         |  FROM sh JOIN df_ USING (s) GROUP BY 1),
         |keepb AS (SELECT id FROM per WHERE (n_boiler * 1000 // n_shingles) / 1000.0 <= 0.5),
         |samp AS (
         |  SELECT s.* FROM scr s JOIN keepb k ON s.doc_id = k.id
         |  WHERE ('0x' || substr(md5('samp:' || s.doc_id), 1, 8))::BIGINT <
         |    CASE s.lang WHEN 'en' THEN ${TextAnalysis.sampleThreshold(0.35)}
         |                WHEN 'fr' THEN ${TextAnalysis.sampleThreshold(0.8)}
         |                ELSE ${TextAnalysis.sampleThreshold(1.0)} END)
         |SELECT lang, source, count(*) AS n_docs,
         |       sum(len(regexp_extract_all(text, '\\S+')))::BIGINT AS total_tokens
         |FROM samp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // The full training-data prep loop: language gate + quality gate +
    // near-dup removal (keep the smaller doc id of each pair), then
    // per-source corpus statistics. Every stage is one of the operators
    // above — this query exists to prove they compose.
    QueryDef("p1_training_corpus", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lang = TextAnalysis.langId(docs, "text", "doc_id").select(col("doc_id"), col("pred_lang"))
      val qual = TextAnalysis.qualityScore(docs, "text", "doc_id").select(col("doc_id"), col("quality"))
      val toks = TextAnalysis.tokenCounts(docs, "text", "doc_id").select(col("doc_id"), col("ws_tokens"))
      val dupDrop = Dedup.ngramJaccard(docs, "text", "doc_id", 3, 0.8)
        .select(col("b").as("doc_id")).distinct()
      docs
        .join(lang, "doc_id").join(qual, "doc_id").join(toks, "doc_id")
        .join(dupDrop, Seq("doc_id"), "left_anti")
        .filter(col("pred_lang") === "en" && col("quality") >= 0.40)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("ws_tokens").as("total_tokens"),
          round(sum("quality"), 2).as("sum_quality"))
        .orderBy("source")
    }),
      """WITH w AS (
        |  SELECT doc_id, text, source,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |lang AS (
        |  SELECT doc_id,
        |    len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','ein','nicht'], x))) AS de,
        |    len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS en,
        |    len(list_filter(ws, x -> list_contains(['el','la','de','que','y','un','en'], x))) AS es,
        |    len(list_filter(ws, x -> list_contains(['le','la','de','et','un','dans','est'], x))) AS fr,
        |    len(list_filter(ws, x -> list_contains(['de','le','shi','bu','wo','you','zai'], x))) AS zh
        |  FROM w),
        |pred AS (
        |  SELECT doc_id,
        |    CASE WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
        |         WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
        |         WHEN es >= fr AND es >= zh THEN 'es'
        |         WHEN fr >= zh THEN 'fr' ELSE 'zh' END AS pred_lang
        |  FROM lang),
        |q AS (
        |  SELECT doc_id,
        |    (least(len(ws), 100) * 50
        |     + (len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x)))::BIGINT * 3000 // greatest(len(ws)::BIGINT, 1))
        |     + 2000
        |     - (len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::BIGINT * 2000 // greatest(length(text)::BIGINT, 1))) / 10000.0 AS quality
        |  FROM w),
        |tk AS (SELECT doc_id, len(regexp_extract_all(text, '\S+'))::BIGINT AS ws_tokens FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[t.i:t.i+2], ' ') AS s
        |  FROM w, unnest(range(1, len(ws)-1)) AS t(i)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |dup AS (
        |  SELECT DISTINCT b AS doc_id
        |  FROM pr JOIN sz sa ON pr.a = sa.doc_id JOIN sz sb ON pr.b = sb.doc_id
        |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.8)
        |SELECT d.source, count(*) AS n_docs, sum(tk.ws_tokens)::BIGINT AS total_tokens,
        |       round(sum(q.quality), 2) AS sum_quality
        |FROM documents d
        | JOIN pred USING (doc_id) JOIN q USING (doc_id) JOIN tk USING (doc_id)
        |WHERE pred.pred_lang = 'en' AND q.quality >= 0.40
        |  AND doc_id NOT IN (SELECT doc_id FROM dup)
        |GROUP BY d.source ORDER BY d.source""".stripMargin))
}
