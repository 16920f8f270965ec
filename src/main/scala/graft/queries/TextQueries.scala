package graft
package queries

import graft.text.TextAnalysis
import graft.SparkEntry.t
import graft.queries.Fixtures._
import org.apache.spark.sql.functions._

/** Text analysis (language, quality, tokens, corpus statistics): the
  * x* queries, each engine next to its DuckDB oracle. */
private[graft] object TextQueries {

  /** The deep-table BYTE-LEVEL encode replay shared by the x13/x14
    * oracles: a 4096-deep single replace chain blows the DuckDB
    * parser, so the rank-order sweep runs as 64 sequential CTEs of 64
    * nested replaces each — same semantics, bounded expression depth —
    * over the DISTINCT words (vocabulary-sized, not corpus-sized),
    * joined back to word instances. Byte-level ids: single-char
    * symbols fall through to ord() (≡ the byte value while the corpus
    * is ASCII — verified single-byte), merge symbols hit 256+rank
    * rows generated from the same checked-in table the kernel
    * carries. `head` supplies the CTE(s) ending in w(doc_id, ws). */
  /** The shared front of the deep replays: `head`'s CTEs (ending in
    * w(doc_id, ws)), word instances `t`, distinct words `dw`, and the
    * chunked merge-sweep chain. Returns (cte block, last cte name) —
    * [[deepEncodeSql]] appends the token-id tail, the x15 oracle a
    * per-doc counting tail. */
  private def deepChainCtes(head: String): (String, String) = {
    val merges = graft.text.Bpe.DeepMerges
    val chunk = 64
    val ctes = merges.grouped(chunk).zipWithIndex.map { case (ms, ci) =>
      val expr = ms.foldLeft("s") { case (e, (a, b)) =>
        s"replace($e,'($a)($b)','(${a + b})')"
      }
      s"c${ci + 1} AS (SELECT wd, $expr AS s FROM c$ci)"
    }.mkString(",\n")
    val last = s"c${(merges.size + chunk - 1) / chunk}"
    (s"""$head,
       |t AS (SELECT doc_id, t.i AS widx, ws[t.i] AS wd FROM w, unnest(range(1, len(ws)+1)) AS t(i)),
       |dw AS (SELECT DISTINCT wd FROM t),
       |c0 AS (SELECT wd, regexp_replace(wd, '(.)', '(\\1)', 'g') AS s FROM dw),
       |$ctes""".stripMargin, last)
  }

  private def deepEncodeSql(head: String): String = {
    val merges = graft.text.Bpe.DeepMerges
    val (chain, last) = deepChainCtes(head)
    val mergeVals = merges.zipWithIndex
      .map { case ((a, b), r) => s"('${a + b}', ${256 + r})" }.mkString(", ")
    s"""WITH $chain,
       |sym AS (
       |  SELECT wd, u.j AS sidx, l[u.j] AS sym
       |  FROM (SELECT wd, regexp_extract_all(s, '\\(([^()]*)\\)', 1) AS l FROM $last),
       |       unnest(range(1, len(l)+1)) AS u(j)),
       |v(sym, id) AS (VALUES $mergeVals),
       |ids AS (SELECT wd, sidx, coalesce(v.id, ord(sym))::INT AS id
       |        FROM sym LEFT JOIN v USING (sym))
       |SELECT t.doc_id,
       |  (row_number() OVER (PARTITION BY t.doc_id ORDER BY t.widx, ids.sidx) - 1)::BIGINT AS pos,
       |  ids.id AS token_id
       |FROM t JOIN ids USING (wd)
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** The x15 oracle's per-doc counting tail over [[deepChainCtes]]:
    * byte-level token count per distinct word = its '(' wrapper count
    * after the sweep, byte mass = strlen (the corpus is verified
    * single-byte ASCII), summed per doc over word instances; zero-word
    * docs re-enter via the left join with 0/0 and flag. */
  private def deepCompressionSql(head: String, lo: Long, hi: Long): String = {
    val (chain, last) = deepChainCtes(head)
    s"""WITH $chain,
       |cnt AS (SELECT wd, (length(s) - length(replace(s, '(', '')))::BIGINT AS c,
       |               strlen(wd)::BIGINT AS b FROM $last),
       |per AS (
       |  SELECT t.doc_id, sum(cnt.b)::BIGINT AS n_bytes, sum(cnt.c)::BIGINT AS bpe_tokens
       |  FROM t JOIN cnt USING (wd) GROUP BY 1),
       |cov AS (
       |  SELECT w.doc_id, coalesce(per.n_bytes, 0)::BIGINT AS n_bytes,
       |         coalesce(per.bpe_tokens, 0)::BIGINT AS bpe_tokens
       |  FROM w LEFT JOIN per USING (doc_id)),
       |r AS (
       |  SELECT doc_id, n_bytes, bpe_tokens,
       |    (CASE WHEN bpe_tokens = 0 THEN 0 ELSE n_bytes * 10000 // bpe_tokens END)::BIGINT AS bpt_x4
       |  FROM cov)
       |SELECT doc_id, n_bytes, bpe_tokens, bpt_x4,
       |  (CASE WHEN bpt_x4 < $lo OR bpt_x4 > $hi THEN 1 ELSE 0 END)::INT AS flagged
       |FROM r ORDER BY doc_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("x1_langid", ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"), "text", "doc_id").orderBy("doc_id")),
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','ein','nicht'], x))) AS score_de,
        |    len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS score_en,
        |    len(list_filter(ws, x -> list_contains(['el','la','de','que','y','un','en'], x))) AS score_es,
        |    len(list_filter(ws, x -> list_contains(['le','la','de','et','un','dans','est'], x))) AS score_fr,
        |    len(list_filter(ws, x -> list_contains(['de','le','shi','bu','wo','you','zai'], x))) AS score_zh
        |  FROM w)
        |SELECT doc_id,
        |  CASE WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
        |       WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
        |       WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
        |       WHEN score_fr >= score_zh THEN 'fr'
        |       ELSE 'zh' END AS pred_lang,
        |  score_de, score_en, score_es, score_fr, score_zh
        |FROM s ORDER BY doc_id""".stripMargin),

    QueryDef("x2_quality_score", ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"), "text", "doc_id").orderBy("doc_id")),
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    length(text)::BIGINT AS n_chars_c,
        |    len(ws)::BIGINT AS n_words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::BIGINT AS n_punct,
        |    len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x)))::BIGINT AS n_stop,
        |    (list_sum(list_transform(ws, x -> length(x)::BIGINT)))::BIGINT AS word_chars
        |  FROM w)
        |SELECT doc_id, n_chars_c, n_words,
        |  (word_chars * 100 // greatest(n_words, 1)) / 100.0 AS avg_word_len,
        |  (n_punct * 10000 // greatest(n_chars_c, 1)) / 10000.0 AS punct_ratio,
        |  (n_stop * 10000 // greatest(n_words, 1)) / 10000.0 AS stop_ratio,
        |  (least(n_words, 100) * 50 + (n_stop * 3000 // greatest(n_words, 1))
        |   + 2000 - (n_punct * 2000 // greatest(n_chars_c, 1))) / 10000.0 AS quality
        |FROM s ORDER BY doc_id""".stripMargin),

    QueryDef("x3_token_count", ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "text", "doc_id").orderBy("doc_id")),
      """SELECT doc_id,
        | length(text)::BIGINT AS n_chars_c,
        | len(regexp_extract_all(text, '\S+'))::BIGINT AS ws_tokens,
        | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))::BIGINT AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    QueryDef("x4_fingerprint", ((s, dir) =>
      TextAnalysis.fingerprints(t(s, dir, "documents"), "text", "doc_id").orderBy("doc_id")),
      """SELECT doc_id, md5(text) AS content_md5,
        | list_reduce(
        |   list_prepend(0::BIGINT, list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))::BIGINT)),
        |   (a, b) -> (a*31 + b) % 1000000007) AS rolling_hash
        |FROM documents ORDER BY doc_id""".stripMargin),

    QueryDef("x5_repetition", ((s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents"), "text", "doc_id").orderBy("doc_id")),
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    [array_to_string(ws[i:i+2], ' ') for i in range(1, greatest(len(ws)-1, 1))] AS tri,
        |    [array_to_string(ws[i:i+1], ' ') for i in range(1, greatest(len(ws), 1))] AS bi
        |  FROM w),
        |tri AS (
        |  SELECT doc_id, len(tri)::BIGINT AS n_3grams, len(list_distinct(tri))::BIGINT AS n_distinct_3grams
        |  FROM g),
        |bic AS (
        |  SELECT doc_id, b.g AS gram, count(*) AS cnt
        |  FROM g, unnest(bi) AS b(g) GROUP BY 1, 2),
        |bia AS (
        |  SELECT doc_id, max(cnt)::BIGINT AS top_cnt, sum(cnt)::BIGINT AS n_2grams
        |  FROM bic GROUP BY 1)
        |SELECT t.doc_id, t.n_3grams, t.n_distinct_3grams,
        |  ((t.n_3grams - t.n_distinct_3grams) * 10000 // greatest(t.n_3grams, 1)) / 10000.0 AS dup3_frac,
        |  coalesce((b.top_cnt * 10000 // greatest(b.n_2grams, 1)) / 10000.0, 0.0) AS top_bigram_share
        |FROM tri t LEFT JOIN bia b USING (doc_id) ORDER BY t.doc_id""".stripMargin),

    QueryDef("x6_keywords", ((s, dir) =>
      TextAnalysis.keywords(t(s, dir, "documents"), "text", "doc_id", 3)
        .orderBy("doc_id", "rnk")),
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |wc AS (
        |  SELECT doc_id, t.w AS w, count(*) AS tf
        |  FROM w, unnest(ws) AS t(w) GROUP BY 1, 2),
        |df_ AS (SELECT w, count(*) AS df FROM wc GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT wc.doc_id, wc.w, wc.tf, df_.df, wc.tf * (n.n // df_.df) AS score
        |  FROM wc JOIN df_ USING (w), n),
        |r AS (
        |  SELECT doc_id, w, tf, df, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rnk
        |  FROM scored)
        |SELECT doc_id, w AS term, tf, df, score, rnk
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),

    QueryDef("x7_pii_scrub", ((s, dir) =>
      // the corpus is synthetic word salad, so PII is PLANTED
      // deterministically (the d5 idiom: identical construction in the
      // oracle) and then scrubbed by the map-only redaction pass
      TextAnalysis.piiScrub(plantPii(t(s, dir, "documents")), "text", "doc_id")
        .orderBy("doc_id")),
      s"""WITH aug AS (
         |  SELECT doc_id, ${plantPii.sql} AS text
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '${TextAnalysis.EmailRe}'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(text, '${TextAnalysis.IpRe}'))::BIGINT AS n_ips,
         |  len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}'))::BIGINT AS n_phones,
         |  md5(${scrubSql("text")}) AS scrubbed_md5
         |FROM aug ORDER BY doc_id""".stripMargin),

    QueryDef("x8_bpe_tokens", ((s, dir) =>
      // vocab-driven token counting: the REAL BPE merge loop (x3's
      // regex count is the heuristic fallback) under the checked-in
      // corpus-trained merges table, fused into one codegen'd map-only
      // kernel — the number mixture/budget accounting downstream uses
      graft.text.Bpe.tokenCounts(t(s, dir, "documents"), "text", "doc_id",
          graft.text.Bpe.DefaultMerges)
        .orderBy("doc_id")),
      // the merge chain (one replace per merge, rank order) re-applies
      // the EXACT sweep semantics of the BpeCount kernel — see
      // Bpe.mergeChainSql; token count = count of '(' wrappers
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM documents),
         |t AS (SELECT doc_id, t.w AS wd FROM w, unnest(ws) AS t(w)),
         |enc AS (SELECT doc_id, ${graft.text.Bpe.mergeChainSql("wd", graft.text.Bpe.DefaultMerges)} AS s FROM t),
         |per AS (
         |  SELECT doc_id, sum(length(s) - length(replace(s, '(', '')))::BIGINT AS bpe
         |  FROM enc GROUP BY doc_id)
         |SELECT w.doc_id, len(w.ws)::BIGINT AS n_words, coalesce(per.bpe, 0)::BIGINT AS bpe_tokens
         |FROM w LEFT JOIN per ON w.doc_id = per.doc_id ORDER BY w.doc_id""".stripMargin),

    QueryDef("x12_bpe_encode", ((s, dir) => {
      // the tokenizer's LOADER output: per doc the flat BPE token-ID
      // sequence (x8 is its counting shadow — same segmentation loop,
      // so the sequence length equals the count by construction) under
      // the public id contract: 0–35 the fixed base alphabet a..z0..9,
      // 36+r for merge r. One codegen'd map-only projection; exploded
      // to (doc_id, pos, token_id) scalar rows for the exact compare
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
          posexplode(graft.text.Bpe.bpeEncode(TextAnalysis.words(col("text")),
            graft.text.Bpe.DefaultMerges)).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id").cast("int").as("token_id"))
        .orderBy("doc_id", "pos")
    }),
      // the merge chain's parenthesized symbol string is the SEGMENTATION
      // itself: extract the symbols, map each to its vocab id (base
      // alphabet VALUES + one row per merge, generated from the same
      // Scala table the kernel carries), flatten in (word, symbol) order
      {
      val base = "abcdefghijklmnopqrstuvwxyz0123456789"
      val vocabRows = (base.zipWithIndex.map { case (c, i) => s"('$c', $i)" } ++
        graft.text.Bpe.DefaultMerges.zipWithIndex.map { case ((a, b), r) =>
          s"('${a + b}', ${36 + r})"
        }).mkString(", ")
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
         |  FROM documents),
         |t AS (SELECT doc_id, t.i AS widx, ws[t.i] AS wd FROM w, unnest(range(1, len(ws)+1)) AS t(i)),
         |enc AS (SELECT doc_id, widx, ${graft.text.Bpe.mergeChainSql("wd", graft.text.Bpe.DefaultMerges)} AS s FROM t),
         |sym AS (
         |  SELECT doc_id, widx, u.j AS sidx, l[u.j] AS sym
         |  FROM (SELECT doc_id, widx, regexp_extract_all(s, '\\(([^()]*)\\)', 1) AS l FROM enc),
         |       unnest(range(1, len(l)+1)) AS u(j)),
         |v(sym, id) AS (VALUES $vocabRows)
         |SELECT doc_id,
         |  (row_number() OVER (PARTITION BY doc_id ORDER BY widx, sidx) - 1)::BIGINT AS pos,
         |  v.id::INT AS token_id
         |FROM sym JOIN v USING (sym)
         |ORDER BY doc_id, pos""".stripMargin
    }),

    QueryDef("x13_bpe_encode_deep", ((s, dir) => {
      // the REALISTIC-vocab encode: x12's loader output under (a) the
      // byte-level id contract — base ids 0–255 ARE the byte values,
      // merge r at 256+r, the GPT-2-style base that needs no
      // per-deployment alphabet — and (b) a 4096-merge table trained
      // by trainFast on the deterministic deep corpus (the synthetic
      // corpus's own closure exhausts in double digits; applying a
      // foreign tokenizer's deep vocab IS the deployment). Same
      // codegen'd map-only kernel; counting shadow unchanged
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
          posexplode(graft.text.Bpe.bpeEncodeBytes(TextAnalysis.words(col("text")),
            graft.text.Bpe.DeepMerges)).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id").cast("int").as("token_id"))
        .orderBy("doc_id", "pos")
    }),
      // the deep-vocab replay (see deepEncodeSql) over the 36-symbol
      // words split — x13's corpus is lowercase-alnum by construction
      deepEncodeSql(
      """w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents)""".stripMargin)),

    QueryDef("x14_bpe_bytes", ((s, dir) => {
      // the byte-level contract EXERCISED beyond [a-z0-9] (x13 feeds
      // it only lowercase-alnum words): plant deterministic ASCII
      // punctuation into every doc, split on WHITESPACE ONLY — the
      // punctuation stays inside the words — and encode under the
      // same 4096-merge byte-level table. Alphabetic runs still merge
      // (ids 256+) while ',' '%' '"' '=' pass through as their raw
      // byte ids (44, 37, 34, 61): no per-deployment alphabet had to
      // anticipate them, which is the point of the byte base
      val aug = plantPunct(t(s, dir, "documents"))
      aug.select(col("doc_id"),
          posexplode(graft.text.Bpe.bpeEncodeBytes(TextAnalysis.wsWords(col("text")),
            graft.text.Bpe.DeepMerges)).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id").cast("int").as("token_id"))
        .orderBy("doc_id", "pos")
    }),
      // the same replay over WHITESPACE-split words of the punctuation-
      // planted corpus: symbols outside [a-z0-9] fall through the merge
      // VALUES to ord() — ',' hashes to 44, '%' to 37 — exactly the
      // kernel's byte ids (corpus is ASCII, so byte ≡ codepoint)
      deepEncodeSql(
      s"aug AS (SELECT doc_id, ${plantPunct.sql} AS text FROM documents),\n" +
        "w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM aug)")),

    QueryDef("x17_token_stats", ((s, dir) =>
      // corpus-health distribution stats per language: type-token
      // ratio, hapax share, head-mass concentration — one corpus pass
      // (the map-side-combined frequency count), everything after is
      // vocabulary-bounded
      TextAnalysis.tokenFrequencyStats(t(s, dir, "documents"), "text", "lang")
        .orderBy("lang")),
      // frequency table per (lang, token), then vocabulary-bounded
      // aggregates; topk_mass sums the 10 largest counts (tie-safe: a
      // boundary tie cannot change the sum of a count multiset)
      """WITH w AS (
        |  SELECT lang,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |f AS (
        |  SELECT lang, t.w AS tok, count(*)::BIGINT AS c
        |  FROM w, unnest(ws) AS t(w)
        |  WHERE lang IS NOT NULL GROUP BY 1, 2),
        |a AS (
        |  SELECT lang, sum(c)::BIGINT AS total_tokens, count(*)::BIGINT AS n_types,
        |         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
        |  FROM f GROUP BY 1),
        |r AS (SELECT lang, c, row_number() OVER (PARTITION BY lang ORDER BY c DESC) AS rn FROM f),
        |tp AS (SELECT lang, sum(c)::BIGINT AS topk_mass FROM r WHERE rn <= 10 GROUP BY 1)
        |SELECT a.lang, a.total_tokens, a.n_types, a.n_hapax,
        |  coalesce(tp.topk_mass, 0)::BIGINT AS topk_mass,
        |  (a.n_types * 10000 // greatest(a.total_tokens, 1))::BIGINT AS ttr_x4,
        |  (a.n_hapax * 10000 // greatest(a.n_types, 1))::BIGINT AS hapax_x4,
        |  (coalesce(tp.topk_mass, 0) * 10000 // greatest(a.total_tokens, 1))::BIGINT AS topk_share_x4
        |FROM a LEFT JOIN tp USING (lang) ORDER BY a.lang""".stripMargin),

    QueryDef("x16_ngram_kmv", ((s, dir) =>
      // engine-exact KMV distinct sketch: per-language distinct
      // 3-gram cardinality estimated from the 256 minimum md5 values
      // next to the exact count — both engines pick the identical k
      // minima, so the estimate is bit-identical (the thing HLL can
      // never be across engines). The sketch leg runs the bounded
      // KmvMinima aggregate (no distinct shuffle — the deployment
      // kernel, here put under the oracle); the exact count is the
      // verification column
      TextAnalysis.ngramKmv(t(s, dir, "documents"), "text", "lang")
        .orderBy("lang")),
      // the same k smallest md5 values on both engines → bit-identical
      // estimate; saturated groups (n < k) emit the exact count
      """WITH w AS (
        |  SELECT lang,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT lang,
        |    ('0x' || substr(md5(array_to_string(ws[t.i:t.i+2], ' ')), 1, 8))::BIGINT AS h
        |  FROM w, unnest(range(1, len(ws)-1)) AS t(i)
        |  WHERE lang IS NOT NULL),
        |r AS (
        |  SELECT lang, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM g)
        |SELECT lang, max(n)::BIGINT AS n_distinct,
        |  (CASE WHEN max(n) < 256 THEN max(n)
        |        ELSE (255 * 4294967296) // greatest(max(CASE WHEN rn = 256 THEN h END), 1) END)::BIGINT AS kmv_est
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin),

    QueryDef("x18_standing_stats", ((s, dir) => {
      // the x16/x17 statistics with STANDING state (StatsState):
      // build on the even half, absorb the odd half, REPLAY it (the
      // marker makes it a no-op), then supersede every doc_id%10==0
      // doc with append-edited text, compact the log — the read-outs
      // must equal the one-shot statistics over the EFFECTIVE corpus
      // (the d8 delta identity; append-edits keep the sketch exact
      // too — grams are only ever added, see StatsState's contract)
      val docs = t(s, dir, "documents")
      val tbl = graft.core.Tables.scoped("x18_stats")
      graft.text.StatsState.buildStatsState(docs.filter(col("doc_id") % 2 === 0),
        "text", "lang", "doc_id", tbl)
      val odd = docs.filter(col("doc_id") % 2 === 1)
      graft.text.StatsState.absorbIntoStatsState(s, odd,
        "text", "lang", "doc_id", tbl, batchId = 1L)
      graft.text.StatsState.absorbIntoStatsState(s, odd,
        "text", "lang", "doc_id", tbl, batchId = 1L) // at-least-once replay
      graft.text.StatsState.absorbIntoStatsState(s,
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("text", concat(col("text"), lit(" graftxa graftxb graftxa"))),
        "text", "lang", "doc_id", tbl, batchId = 2L)
      graft.text.StatsState.compactStatsState(s, tbl)
      graft.text.StatsState.tokenStatsReadout(s, tbl)
        .join(graft.text.StatsState.kmvReadout(s, tbl), Seq("group"))
        .withColumnRenamed("group", "lang")
        .orderBy("lang")
    }),
      // absorbed-state ≡ one-shot over the EFFECTIVE corpus: the x17 and
      // x16 chains recomputed over documents with every doc_id%10==0
      // text append-edited (the superseded version) — the oracle never
      // sees the standing log, only the corpus the state must equal
      """WITH eff AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' graftxa graftxb graftxa'
        |         ELSE text END AS text
        |  FROM documents),
        |w AS (
        |  SELECT lang,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM eff),
        |f AS (
        |  SELECT lang, t.w AS tok, count(*)::BIGINT AS c
        |  FROM w, unnest(ws) AS t(w)
        |  WHERE lang IS NOT NULL GROUP BY 1, 2),
        |a AS (
        |  SELECT lang, sum(c)::BIGINT AS total_tokens, count(*)::BIGINT AS n_types,
        |         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
        |  FROM f GROUP BY 1),
        |r AS (SELECT lang, c, row_number() OVER (PARTITION BY lang ORDER BY c DESC) AS rn FROM f),
        |tp AS (SELECT lang, sum(c)::BIGINT AS topk_mass FROM r WHERE rn <= 10 GROUP BY 1),
        |g AS (
        |  SELECT DISTINCT lang,
        |    ('0x' || substr(md5(array_to_string(ws[t.i:t.i+2], ' ')), 1, 8))::BIGINT AS h
        |  FROM w, unnest(range(1, len(ws)-1)) AS t(i)
        |  WHERE lang IS NOT NULL),
        |kr AS (
        |  SELECT lang, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM g),
        |km AS (
        |  SELECT lang,
        |    (CASE WHEN max(n) < 256 THEN max(n)
        |          ELSE (255 * 4294967296) // greatest(max(CASE WHEN rn = 256 THEN h END), 1) END)::BIGINT AS kmv_est
        |  FROM kr GROUP BY lang)
        |SELECT a.lang, a.total_tokens, a.n_types, a.n_hapax,
        |  coalesce(tp.topk_mass, 0)::BIGINT AS topk_mass,
        |  (a.n_types * 10000 // greatest(a.total_tokens, 1))::BIGINT AS ttr_x4,
        |  (a.n_hapax * 10000 // greatest(a.n_types, 1))::BIGINT AS hapax_x4,
        |  (coalesce(tp.topk_mass, 0) * 10000 // greatest(a.total_tokens, 1))::BIGINT AS topk_share_x4,
        |  km.kmv_est
        |FROM a LEFT JOIN tp USING (lang) JOIN km USING (lang) ORDER BY a.lang""".stripMargin),

    QueryDef("x15_compression_ratio", ((s, dir) => {
      // tokenizer compression-ratio junk signal over the punctuation-
      // planted corpus (the x14 byte-level construction): bytes per
      // BPE token in ×10⁴ fixed point under the 4096-merge table —
      // natural words merge (high bytes/token), planted punctuation
      // costs a token per byte — flag outside [lo, hi]; one codegen'd
      // map-only projection, no shuffle
      val aug = plantPunct(t(s, dir, "documents"))
      TextAnalysis.compressionRatio(aug, "text", "doc_id", graft.text.Bpe.DeepMerges)
        .orderBy("doc_id")
    }),
      // the same sweep aggregated to per-doc byte/token masses: the
      // compression-ratio arithmetic (bytes·10⁴ // tokens + the [lo, hi]
      // flag) recomputed over the x14 punctuation-planted head
      deepCompressionSql(
      s"aug AS (SELECT doc_id, ${plantPunct.sql} AS text FROM documents),\n" +
        "w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM aug)",
      lo = 15500L, hi = 90000L)),

    QueryDef("x9_quality_classifier", ((s, dir) => {
      // learned doc-quality gate (fastText/CCNet shape, deterministic
      // core): junk tokens are PLANTED on every 4th doc; the model
      // trains on the labeled split (doc_id < 400) — per hashed token
      // bucket, fixed-point NB purity; buckets below half the prior
      // are the learned bad vocabulary — and scores the held-out split
      // by bad-token fraction. The plant is outside the corpus
      // vocabulary, so a correct train pass must recover exactly it
      val docs = plantJunk(t(s, dir, "documents"))
        .withColumn("label", col("doc_id") % 4 =!= 1)
      val model = TextAnalysis.trainQualityModel(
        docs.filter(col("doc_id") < 400), "text", "label")
      TextAnalysis.qualityScore(docs.filter(col("doc_id") >= 400), "text", "doc_id", model)
        .orderBy("id")
    }),
      // full recompute of the learned filter: same plant, same md5 bucket
      // hash, same fixed-point purity/prior integer arithmetic
      s"""WITH d0 AS (SELECT doc_id, ${plantJunk.sql} AS text, (doc_id % 4 <> 1) AS label FROM documents),
        |w AS (
        |  SELECT doc_id, label,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM d0),
        |tok AS (
        |  SELECT doc_id, label, ('0x' || substr(md5(t.t), 1, 8))::BIGINT % 256 AS bucket
        |  FROM w, unnest(ws) AS t(t)),
        |tr AS (SELECT * FROM tok WHERE doc_id < 400),
        |per AS (SELECT bucket, sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos, count(*) AS tot FROM tr GROUP BY 1),
        |pri AS (SELECT (sum(CASE WHEN label THEN 1 ELSE 0 END) + 1) * 1000000 // (count(*) + 2) AS prior FROM tr),
        |bad AS (SELECT bucket FROM per, pri WHERE (pos + 1) * 1000000 // (tot + 2) < prior // 2),
        |sc AS (SELECT tok.doc_id AS id, count(*) AS n_tokens, count(bad.bucket) AS n_flagged
        |       FROM tok LEFT JOIN bad USING (bucket) WHERE tok.doc_id >= 400 GROUP BY 1),
        |ids AS (SELECT doc_id AS id FROM d0 WHERE doc_id >= 400)
        |SELECT ids.id, coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens,
        |       coalesce(sc.n_flagged, 0)::BIGINT AS n_flagged,
        |       (coalesce(sc.n_flagged, 0) * 1000000 // greatest(coalesce(sc.n_tokens, 0), 1)) / 1000000.0 AS bad_frac,
        |       coalesce(sc.n_flagged, 0) = 0 AS pred
        |FROM ids LEFT JOIN sc USING (id) ORDER BY id""".stripMargin),

    QueryDef("x10_surprisal", ((s, dir) => {
      // perplexity-style corpus scoring (CCNet shape, integer log2):
      // the unigram model trains on the corpus itself, every doc gets
      // its mean token surprisal in bits — the LM-quality signal a
      // data team gates on, with no float log anywhere
      val docs = t(s, dir, "documents")
      val model = TextAnalysis.trainUnigramModel(docs, "text")
      TextAnalysis.surprisalScore(docs, "text", "doc_id", model)
        .orderBy("id")
    }),
      // from-scratch unigram-LM recompute: bucket counts, integer-log2
      // bits via the identical length(bin(..)) both engines expose, and
      // the fixed-point per-doc mean
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, ('0x' || substr(md5(t.t), 1, 8))::BIGINT % 4096 AS bucket FROM w, unnest(ws) AS t(t)),
        |per AS (SELECT bucket, count(*) AS cnt FROM tok GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM tok),
        |m AS (SELECT bucket, length(bin(total // cnt))::BIGINT AS bits FROM per, tot),
        |sc AS (SELECT doc_id AS id, count(*) AS n_tokens, sum(bits)::BIGINT AS sum_bits
        |       FROM tok JOIN m USING (bucket) GROUP BY 1),
        |ids AS (SELECT DISTINCT doc_id AS id FROM documents)
        |SELECT ids.id, coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens,
        |       coalesce(sc.sum_bits, 0)::BIGINT AS sum_bits,
        |       (coalesce(sc.sum_bits, 0) * 1000000 // greatest(coalesce(sc.n_tokens, 0), 1))::BIGINT AS mean_bits_fp
        |FROM ids LEFT JOIN sc USING (id) ORDER BY id""".stripMargin),

    QueryDef("x11_quality_topq", ((s, dir) => {
      // adaptive per-language quality gate (keep each language's best
      // 20% by the fixed-point quality score): computed as a bounded-
      // domain histogram + broadcast per-group threshold + boundary-
      // only tie-break — never a per-group sort of the corpus. The
      // oracle IS that sort (row_number window); equality proves the
      // histogram shape exact, ties and all
      // the score table is PINNED before the gate (the p8 materialize-
      // between-stages shape): the gate's histogram + both filter
      // branches each consume it, and without the pin every consumer
      // re-runs the regex-heavy score derivation over the raw text —
      // 3 text passes where one (id, lang, iq) table (tiny vs the
      // corpus — exactly what a production run would persist) serves
      // all three
      val docs = t(s, dir, "documents")
      val scored = graft.core.Checkpoints.truncate(
        TextAnalysis.qualityInt(docs, "text", "doc_id")
          .select("doc_id", "lang", "iq"))
      TextAnalysis.topQualityFraction(scored, "doc_id", "lang", "iq", qBp = 2000)
        .select(col("doc_id"), col("lang"), expr("iq / 10000.0D").as("quality"))
        .orderBy("doc_id")
    }),
      // the oracle is the semantics the histogram shape must reproduce
      // exactly: per-language row_number by (quality desc, doc_id), keep
      // rn <= ceil(n * 20%) — ties at the threshold keep the lowest ids
      """WITH w AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    length(text)::BIGINT AS n_chars_c,
        |    len(ws)::BIGINT AS n_words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::BIGINT AS n_punct,
        |    len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x)))::BIGINT AS n_stop
        |  FROM w),
        |q AS (
        |  SELECT doc_id, lang,
        |    (least(n_words, 100) * 50 + (n_stop * 3000 // greatest(n_words, 1))
        |     + 2000 - (n_punct * 2000 // greatest(n_chars_c, 1)))::BIGINT AS iq
        |  FROM s),
        |r AS (
        |  SELECT doc_id, lang, iq,
        |    row_number() OVER (PARTITION BY lang ORDER BY iq DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM q)
        |SELECT doc_id, lang, iq / 10000.0 AS quality FROM r
        |WHERE lang IS NOT NULL AND rn <= (n * 2000 + 9999) // 10000
        |ORDER BY doc_id""".stripMargin),

    QueryDef("x19_quality_quantiles", ((s, dir) =>
      // per-language quality percentiles (p50/p90/p99 of the
      // fixed-point score): the read-out a team inspects before
      // choosing x11's q — rank-based order statistics from a
      // bounded-domain histogram CDF (one map-side-combined count +
      // windows over histogram rows; the corpus is never per-group
      // sorted); the oracle IS that sort
      TextAnalysis.groupQuantiles(
          TextAnalysis.qualityInt(t(s, dir, "documents"), "text", "doc_id")
            .select("doc_id", "lang", "iq"),
          "lang", "iq",
          Seq("p50_iq" -> 5000, "p90_iq" -> 9000, "p99_iq" -> 9900))
        .orderBy("lang")),
      // the naive per-group sort the engine never runs: the x11 iq
      // formula, then each percentile = the iq at row_number rank
      // ceil(q·n/10⁴) in ascending order (tie order cannot change the
      // value AT a rank, so row_number is safe here)
      """WITH w AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    length(text)::BIGINT AS n_chars_c,
        |    len(ws)::BIGINT AS n_words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::BIGINT AS n_punct,
        |    len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x)))::BIGINT AS n_stop
        |  FROM w WHERE lang IS NOT NULL),
        |q AS (
        |  SELECT doc_id, lang,
        |    (least(n_words, 100) * 50 + (n_stop * 3000 // greatest(n_words, 1))
        |     + 2000 - (n_punct * 2000 // greatest(n_chars_c, 1)))::BIGINT AS iq
        |  FROM s),
        |r AS (
        |  SELECT lang, iq,
        |    row_number() OVER (PARTITION BY lang ORDER BY iq) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM q)
        |SELECT lang,
        |  min(CASE WHEN rn = (n * 5000 + 9999) // 10000 THEN iq END)::BIGINT AS p50_iq,
        |  min(CASE WHEN rn = (n * 9000 + 9999) // 10000 THEN iq END)::BIGINT AS p90_iq,
        |  min(CASE WHEN rn = (n * 9900 + 9999) // 10000 THEN iq END)::BIGINT AS p99_iq
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin),

    QueryDef("x20_bigram_surprisal", ((s, dir) => {
      // context-sensitive LM quality scoring (CCNet's reference-corpus
      // deployment shape): the bigram model trains on the English
      // slice ONLY, the whole corpus is scored under it — in-domain
      // docs ride cheap seen-pair conditional bits, out-of-domain docs
      // pay the backoff (+1 bit through the unigram leg, worst-case
      // 1+bits(total) for vocabulary the reference corpus never saw);
      // all model legs broadcast (bounded pair table), the corpus pays
      // one map-only pair pass + one doc-keyed aggregate
      val docs = t(s, dir, "documents")
      val model = TextAnalysis.trainBigramModel(
        docs.filter(col("lang") === "en"), "text")
      TextAnalysis.bigramSurprisal(docs, "text", "doc_id", model)
        .orderBy("id")
    }),
      // from-scratch bigram-LM recompute: the (prev,cur) hashed pair
      // stream with the -1 BOS context, the model trained on the en
      // slice only, and the three surprisal legs (seen-pair conditional
      // bits, +1-bit unigram backoff, 1+bits(total) worst case) via the
      // identical length(bin(..)) integer log2 both engines expose
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |pr AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN t.i = 1 THEN -1
        |         ELSE ('0x' || substr(md5(ws[t.i-1]), 1, 8))::BIGINT % 1024 END AS pb,
        |    ('0x' || substr(md5(ws[t.i]), 1, 8))::BIGINT % 1024 AS cb
        |  FROM w, unnest(range(1, len(ws)+1)) AS t(i)),
        |pair AS (SELECT pb, cb, count(*)::BIGINT AS cnt FROM pr WHERE lang = 'en' GROUP BY 1, 2),
        |ctx AS (SELECT pb, sum(cnt)::BIGINT AS ctx_cnt FROM pair GROUP BY 1),
        |uni AS (SELECT cb, sum(cnt)::BIGINT AS ucnt FROM pair GROUP BY 1),
        |tot AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS total FROM pair),
        |pbits AS (SELECT pair.pb, pair.cb, length(bin(ctx_cnt // cnt))::BIGINT AS pair_bits
        |          FROM pair JOIN ctx USING (pb)),
        |ubits AS (SELECT cb, (1 + length(bin(total // ucnt)))::BIGINT AS uni_bits FROM uni, tot),
        |sc AS (SELECT pr.doc_id AS id, count(*)::BIGINT AS n_tokens,
        |         sum(coalesce(pair_bits, coalesce(uni_bits, 1 + length(bin(total)))))::BIGINT AS sum_bits
        |       FROM pr LEFT JOIN pbits USING (pb, cb) LEFT JOIN ubits USING (cb), tot
        |       GROUP BY 1),
        |ids AS (SELECT DISTINCT doc_id AS id FROM documents)
        |SELECT ids.id, coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens,
        |       coalesce(sc.sum_bits, 0)::BIGINT AS sum_bits,
        |       (coalesce(sc.sum_bits, 0) * 1000000 // greatest(coalesce(sc.n_tokens, 0), 1))::BIGINT AS mean_bits_fp
        |FROM ids LEFT JOIN sc USING (id) ORDER BY id""".stripMargin),

    QueryDef("x21_chunk_windows", ((s, dir) =>
      // long-document handling: 64-token windows every 48 tokens (the
      // context-window slicing an embedding/indexing pipeline feeds on)
      // — every token covered, last window clipped, chunk text re-joined
      // in token space; one higher-order transform + explode, map-only
      TextAnalysis.chunkWindows(t(s, dir, "documents"), "text", "doc_id",
          window = 64, stride = 48)
        .orderBy("id", "chunk_idx")),
      // sliding-window recompute: chunk count 1 + max(0, ceil((n-64)/48)),
      // 1-based inclusive list slice re-joined on spaces
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |k AS (SELECT doc_id, ws, len(ws)::BIGINT AS n,
        |        CASE WHEN len(ws) <= 64 THEN 0 ELSE (len(ws) - 64 + 47) // 48 END AS kmax
        |      FROM w WHERE len(ws) > 0)
        |SELECT doc_id AS id, t.i AS chunk_idx, (t.i * 48)::BIGINT AS start_tok,
        |  least(64, n - t.i * 48)::BIGINT AS n_tok,
        |  array_to_string(ws[(t.i * 48 + 1):(t.i * 48 + 64)], ' ') AS chunk_text
        |FROM k, unnest(range(0, kmax + 1)) AS t(i)
        |ORDER BY id, chunk_idx""".stripMargin),

    QueryDef("x22_cross_entropy_diff", ((s, dir) => {
      // Moore–Lewis data selection: in-domain LM = the en slice,
      // out-of-domain LM = the whole pool; each doc's diff_bits =
      // surprisal under the pool model minus under the target model —
      // positive = reads more like the target domain than the pool —
      // and selected is the threshold-0 gate. Both models' legs
      // broadcast onto ONE pair pass (six bounded joins + one doc agg)
      val docs = t(s, dir, "documents")
      val inM = TextAnalysis.trainBigramModel(
        docs.filter(col("lang") === "en"), "text")
      val outM = TextAnalysis.trainBigramModel(docs, "text")
      TextAnalysis.crossEntropyDiff(docs, "text", "doc_id", inM, outM)
        .orderBy("id")
    }),
      // the x20 chain twice from ONE pair stream: the en-trained
      // in-domain model and the whole-pool out-of-domain model, each
      // expanded into its three surprisal legs; diff = out − in
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |pr AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN t.i = 1 THEN -1
        |         ELSE ('0x' || substr(md5(ws[t.i-1]), 1, 8))::BIGINT % 1024 END AS pb,
        |    ('0x' || substr(md5(ws[t.i]), 1, 8))::BIGINT % 1024 AS cb
        |  FROM w, unnest(range(1, len(ws)+1)) AS t(i)),
        |pairI AS (SELECT pb, cb, count(*)::BIGINT AS cnt FROM pr WHERE lang = 'en' GROUP BY 1, 2),
        |ctxI AS (SELECT pb, sum(cnt)::BIGINT AS ctx_cnt FROM pairI GROUP BY 1),
        |uniI AS (SELECT cb, sum(cnt)::BIGINT AS ucnt FROM pairI GROUP BY 1),
        |totI AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS total FROM pairI),
        |pbI AS (SELECT pairI.pb, pairI.cb, length(bin(ctx_cnt // cnt))::BIGINT AS pair_bits
        |        FROM pairI JOIN ctxI USING (pb)),
        |ubI AS (SELECT cb, (1 + length(bin(total // ucnt)))::BIGINT AS uni_bits FROM uniI, totI),
        |pairO AS (SELECT pb, cb, count(*)::BIGINT AS cnt FROM pr GROUP BY 1, 2),
        |ctxO AS (SELECT pb, sum(cnt)::BIGINT AS ctx_cnt FROM pairO GROUP BY 1),
        |uniO AS (SELECT cb, sum(cnt)::BIGINT AS ucnt FROM pairO GROUP BY 1),
        |totO AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS total FROM pairO),
        |pbO AS (SELECT pairO.pb, pairO.cb, length(bin(ctx_cnt // cnt))::BIGINT AS pair_bits
        |        FROM pairO JOIN ctxO USING (pb)),
        |ubO AS (SELECT cb, (1 + length(bin(total // ucnt)))::BIGINT AS uni_bits FROM uniO, totO),
        |sc AS (SELECT pr.doc_id AS id, count(*)::BIGINT AS n_tokens,
        |         sum(coalesce(pbI.pair_bits, coalesce(ubI.uni_bits, 1 + length(bin(totI.total)))))::BIGINT AS in_bits,
        |         sum(coalesce(pbO.pair_bits, coalesce(ubO.uni_bits, 1 + length(bin(totO.total)))))::BIGINT AS out_bits
        |       FROM pr
        |       LEFT JOIN pbI ON pbI.pb = pr.pb AND pbI.cb = pr.cb
        |       LEFT JOIN ubI ON ubI.cb = pr.cb
        |       LEFT JOIN pbO ON pbO.pb = pr.pb AND pbO.cb = pr.cb
        |       LEFT JOIN ubO ON ubO.cb = pr.cb, totI, totO
        |       GROUP BY 1),
        |ids AS (SELECT DISTINCT doc_id AS id FROM documents)
        |SELECT ids.id, coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens,
        |       coalesce(sc.in_bits, 0)::BIGINT AS in_bits,
        |       coalesce(sc.out_bits, 0)::BIGINT AS out_bits,
        |       (coalesce(sc.out_bits, 0) - coalesce(sc.in_bits, 0))::BIGINT AS diff_bits,
        |       ((coalesce(sc.out_bits, 0) - coalesce(sc.in_bits, 0)) * 1000000
        |         // greatest(coalesce(sc.n_tokens, 0), 1))::BIGINT AS diff_fp,
        |       (coalesce(sc.out_bits, 0) - coalesce(sc.in_bits, 0)) > 0 AS selected
        |FROM ids LEFT JOIN sc USING (id) ORDER BY id""".stripMargin))
}
