package graft.queries

import graft.core.Tpch
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The planted fixtures and SQL fragments more than one query family
  * reads. Each planted fixture is ONE value holding both of its sides —
  * the DataFrame transform the engine applies and the DuckDB expression
  * (or CTE) its oracle replays — so the two cannot drift apart.
  *
  * The SQL sides are single-line where they are interpolated as
  * expressions ON PURPOSE: a multi-line fragment interpolated into a
  * stripMargin template would lose one `|` of every leading `||`. */
private[queries] object Fixtures {

  /** A planted fixture: `frame` on the engine side, `sql` on the oracle
    * side. Applied like a function to the engine's input. */
  final case class Fixture(frame: DataFrame => DataFrame, sql: String) {
    def apply(docs: DataFrame): DataFrame = frame(docs)

    /** This text plant, then `next`: the frames compose, and `next.sql`
      * (an expression over `text`) reads this plant's SQL as its
      * `text`. */
    def andThen(next: Fixture): Fixture = {
      require(next.sql.startsWith("text "), s"not a text plant: ${next.sql.take(40)}")
      Fixture(frame.andThen(next.frame), sql + next.sql.stripPrefix("text"))
    }
  }

  /** `suffix` appended to `text` wherever `cond` (SQL: `condSql`) holds. */
  private def appendText(cond: Column, condSql: String, suffix: String): Fixture =
    Fixture(
      _.withColumn("text", concat(col("text"), when(cond, lit(" " + suffix)).otherwise(lit("")))),
      s"text || CASE WHEN $condSql THEN ' $suffix' ELSE '' END")

  val tpchBase: String = Tpch.base

  val custUri = s"'${tpchBase}customer/' || c_custkey"
  val suppUri = s"'${tpchBase}supplier/' || s_suppkey"
  val natUri = s"'${tpchBase}nation/' || n_nationkey"

  /** Deterministic PII planting shared by the x7/p3 queries: an email
    * on every 7th doc, a phone number on every 5th, an IPv4 host on
    * every 3rd. */
  val plantPii: Fixture = Fixture(
    _.withColumn("text", concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" reach me at user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(" call 555-867-5309")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" from host 10.1.2."), col("doc_id") % 256)).otherwise(lit("")))),
    "text" +
      " || CASE WHEN doc_id % 7 = 0 THEN ' reach me at user' || doc_id || '@example.com' ELSE '' END" +
      " || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END" +
      " || CASE WHEN doc_id % 3 = 0 THEN ' from host 10.1.2.' || (doc_id % 256) ELSE '' END")

  /** `TextAnalysis.piiScrubText` as a SQL expression over `c`. */
  def scrubSql(c: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($c, " +
      s"'${TextAnalysis.EmailRe}', '<EMAIL>', 'g'), " +
      s"'${TextAnalysis.IpRe}', '<IP>', 'g'), " +
      s"'${TextAnalysis.PhoneRe}', '<PHONE>', 'g')"

  /** Deterministic URL planting shared by d31 — four surface forms of
    * the same logical resource per base (doc_id div 4; host from
    * base % 7): uppercased scheme/host + www + default port + tracking
    * params, plain form with swapped param order, an https twin (a
    * DIFFERENT resource — scheme is semantic), and a trailing-slash +
    * fragment form. The SQL side is the `url` expression over
    * `documents.doc_id`. */
  val plantUrl: Fixture = Fixture(
    docs => {
      val base = expr("doc_id div 4")
      val h = base % 7
      docs.withColumn("url",
        when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://WWW.SITE"), h, lit(".EXAMPLE.COM:80/articles/item"),
            base, lit("/?utm_source=feed&b=2&a=1")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://site"), h, lit(".example.com/articles/item"),
            base, lit("?b=2&a=1")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://site"), h, lit(".example.com/articles/item"),
            base, lit("?a=1&b=2")))
        .otherwise(
          concat(lit("http://site"), h, lit(".example.com/articles/item"),
            base, lit("/?a=1&b=2#frag"))))
    },
    "CASE doc_id % 4" +
      " WHEN 0 THEN 'HTTP://WWW.SITE' || ((doc_id // 4) % 7) || '.EXAMPLE.COM:80/articles/item' || (doc_id // 4) || '/?utm_source=feed&b=2&a=1'" +
      " WHEN 1 THEN 'http://site' || ((doc_id // 4) % 7) || '.example.com/articles/item' || (doc_id // 4) || '?b=2&a=1'" +
      " WHEN 2 THEN 'https://site' || ((doc_id // 4) % 7) || '.example.com/articles/item' || (doc_id // 4) || '?a=1&b=2'" +
      " ELSE 'http://site' || ((doc_id // 4) % 7) || '.example.com/articles/item' || (doc_id // 4) || '/?a=1&b=2#frag' END")

  /** Deterministic ASCII-punctuation planting shared by the x14/x15
    * queries — bytes the 36-symbol alphabet cannot express (no parens
    * or single quotes: the oracle's parenthesized-symbol replay
    * machinery owns those). */
  val plantPunct: Fixture = Fixture(
    docs => docs.select(col("doc_id"), concat(substring(col("text"), 1, 200),
      lit(" mix: id="), col("doc_id"),
      lit(", 50% off!! a.b=c; path/to/file \"q\" & #tag ?end.")).as("text")),
    "substr(text, 1, 200) || ' mix: id=' || doc_id || " +
      "', 50% off!! a.b=c; path/to/file \"q\" & #tag ?end.'")

  /** Deterministic duplicated-span planting shared by the d16 family
    * and the recipes: a fixed 22-token sentence appended to every 10th
    * doc, so the corpus provably contains ≥ k-token exact duplicate
    * spans at every SF (the d5/x7 planting idiom). All-lowercase alnum
    * — the tokenizer passes it through verbatim. */
  val plantSpan: Fixture = appendText(col("doc_id") % 10 === 0, "doc_id % 10 = 0",
    "the quick brown fox jumps over the lazy dog while seven wizards " +
      "brew strong coffee near the old stone bridge at dawn")

  /** Deterministic low-quality planting for the x9 learned filter (the
    * x7/d16 idiom): junk tokens appended to every 4th doc (offset 1),
    * label = not planted. Tokens stay outside the corpus vocabulary so
    * the classifier must RECOVER the plant from label evidence alone. */
  val plantJunk: Fixture = appendText(col("doc_id") % 4 === 1, "doc_id % 4 = 1",
    "zzspam0 zzspam1 zzspam2 zzspam3 zzspam4 zzspam5 zzspam6 zzspam7")

  /** Deterministic eval-leak planting for the recipes: a 17-token
    * sentence on exactly ONE training doc (13) and every 10th eval doc
    * (403, 413, …). Unique WITHIN train, so the stage-1 substring
    * scrub (occurrences ≥ 2) leaves it alone and the stage-2
    * decontaminator provably has work at every SF — the two stages
    * answer different questions and the plant separates them. */
  val plantLeak: Fixture = appendText(
    col("doc_id") === 13 || (col("doc_id") >= 400 && col("doc_id") % 10 === 3),
    "doc_id = 13 OR (doc_id >= 400 AND doc_id % 10 = 3)",
    "purple elephants quietly discuss ancient theorems beneath silver " +
      "moonlight while patient rivers carry forgotten melodies home tonight")

  /** The recipe corpus of p8/p12/p18: plantSpan, then plantJunk, then
    * plantLeak. */
  val plantRecipe: Fixture = plantSpan.andThen(plantJunk).andThen(plantLeak)

  /** The byte-shifted media re-ingest twins of d32–d38: every 10th doc,
    * id offset by 10,000,000 (past every standing id), each printable
    * byte +1 — different bytes, same gradients. The SQL side is the
    * `tw` CTE; its translate() builds both alphabets via chr-range
    * string_agg so no quote-escaping enters the literal. */
  val mediaTwins: Fixture = Fixture(
    docs => docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
      .withColumn("text", translate(col("text"),
        (32 to 126).map(_.toChar).mkString, (33 to 127).map(_.toChar).mkString)),
    """tw AS (
      |  SELECT doc_id + 10000000 AS doc_id,
      |    translate(text,
      |      (SELECT string_agg(chr(i.i::INT), '' ORDER BY i.i) FROM unnest(range(32,127)) i(i)),
      |      (SELECT string_agg(chr(i.i::INT), '' ORDER BY i.i) FROM unnest(range(33,128)) i(i))) AS text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin)

  // the m-family oracle vector-source derivations, shared by the
  // correctness oracles, d30's media chain, and the float-ranking
  // audits (ONE definition each so the audited chain is exactly the
  // verified chain)
  val m4VectorSourceSql = "SELECT doc_id AS id, [ coalesce(list_sum(bytes[16*d+1 : least(16*d+16, len(bytes))]), 0)::DOUBLE for d in range(0, 16) ] AS v FROM (SELECT doc_id, list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))::BIGINT) AS bytes FROM documents)"
}
