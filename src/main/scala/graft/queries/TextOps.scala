package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Portable.pround
import graft.functions.TextFns
import graft.functions.TextFns._

/** Text-analysis query surface over `documents` (SURVEY.md §2 E*).
  *
  * All four ops are map-only scans — no shuffle at any scale; the
  * kernels live in [[graft.functions.TextFns]]. Oracle SQL for the
  * lang-id scores is *generated from the same stopword map* the
  * Spark side uses, so the two can't silently drift.
  */
object TextOps {

  /** DuckDB list literal for a stopword set. */
  private def swList(lang: String): String =
    TextFns.stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  /** E1: per-doc language scores + argmax prediction. The synthetic
    * corpus carries no real language signal (same vocab for every
    * `lang` label), so the oracle pins the scoring arithmetic; the
    * accuracy claim is spec-checked on real-language fixtures. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val scores = langs.map(l => l -> langScore(col("text"), l))
    documents(s, dir)
      .select(col("doc_id") +: scores.map { case (l, c) => c.as(s"s_$l") } :+
        langPredict(scores.map { case (l, _) => l -> col(s"s_$l") }).as("pred_lang"): _*)
  }

  val langIdSql: String = {
    val scoreCols = langs.map { l =>
      s"len(list_filter(toks, t -> list_contains(${swList(l)}, t))) AS s_$l"
    }.mkString(",\n  ")
    val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val pred = langs.map(l => s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
    s"""SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
       |  CASE $pred ELSE 'und' END AS pred_lang
       |FROM (
       |  SELECT doc_id, $m AS m, ${langs.map(l => s"s_$l").mkString(", ")} FROM (
       |    SELECT doc_id,
       |  $scoreCols
       |    FROM (SELECT doc_id,
       |            list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
       |          FROM documents)))""".stripMargin
  }

  /** E2: quality scoring — length, punctuation ratio, stopword
    * ratio, mean token length, composite score. */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val nTok = greatest(wsTokenCount(col("text")), lit(1))
    val punctRatio = punctCount(col("text")).cast("double") / length(col("text"))
    val stopRatio = langScore(col("text"), "en").cast("double") / nTok
    documents(s, dir).select(
      col("doc_id"),
      wsTokenCount(col("text")).as("n_tok"),
      pround(punctRatio, 4).as("punct_ratio"),
      pround(stopRatio, 4).as("stop_ratio"),
      pround(length(regexp_replace(col("text"), " ", "")).cast("double") / nTok, 4)
        .as("avg_tok_len"),
      pround(least(nTok, lit(100)).cast("double") / 100 * (lit(1) - punctRatio), 4)
        .as("quality"))
  }

  val textQualitySql: String =
    s"""SELECT doc_id, n_tok,
       |  floor((punct / len) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
       |  floor((stop_hits / nt) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
       |  floor((nospace / nt) * 10000.0 + 0.5) / 10000.0 AS avg_tok_len,
       |  floor((least(nt, 100) / 100 * (1 - punct / len)) * 10000.0 + 0.5) / 10000.0 AS quality
       |FROM (
       |  SELECT doc_id,
       |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok,
       |    greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1)::DOUBLE AS nt,
       |    length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE AS punct,
       |    length(text)::DOUBLE AS len,
       |    length(regexp_replace(text, ' ', '', 'g'))::DOUBLE AS nospace,
       |    len(list_filter(string_split(lower(text), ' '),
       |        t -> list_contains(${swList("en")}, t)))::DOUBLE AS stop_hits
       |  FROM documents)""".stripMargin

  /** E3: token counting — whitespace tokens vs BPE-ish lexer tokens. */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(
      col("doc_id"),
      wsTokenCount(col("text")).as("ws_tokens"),
      reTokenCount(col("text")).as("re_tokens"),
      length(col("text")).as("n_chars_txt"))

  val tokenCountSql: String =
    """SELECT doc_id,
      |  len(list_filter(string_split(text, ' '), t -> t <> '')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens,
      |  length(text) AS n_chars_txt
      |FROM documents""".stripMargin

  /** E4: rolling-hash fingerprint per doc — portable hash family, so
    * the oracle replays it exactly; semantics are property-tested. */
  def docFingerprintQ(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(col("doc_id"), docFingerprint(col("text")).as("fp"))

  /** DuckDB twin of [[graft.functions.TextFns.docFingerprint]]: the
    * outer 131-fold over per-token char-level 31-folds, both as
    * list_reduce with a prepended 0 accumulator. */
  val docFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(list_prepend(0::BIGINT,
      |    [list_reduce(list_prepend(0::BIGINT,
      |        [ascii(c)::BIGINT for c in string_split(t, '')]),
      |      (a, x) -> (a * 31 + x) % 1000000007)
      |     for t in list_filter(string_split(lower(text), ' '), t -> t <> '')]),
      |    (acc, h) -> (acc * 131 + h) % 1000000007) AS fp
      |FROM documents""".stripMargin

  /** Terms reported by [[buildIndexQ]] (top by df) and the postings
    * prefix carried per term. */
  val IdxTopTerms = 200
  val IdxPostingsCap = 10

  /** URL pattern — no lookaround, identical in Java regex and RE2. */
  val UrlRe = "https?://[A-Za-z0-9.-]+/[A-Za-z0-9/_-]*"

  /** K-line: per-domain URL profile — the blocklist/allowlist input a
    * crawl-curation pipeline computes before domain filtering. The
    * corpus is synthetic and URL-free, so deterministic URLs are
    * PLANTED first (the scrub_pii pattern): doc_id%5==0 gets an
    * https page URL on one of 7 sites, doc_id%9==0 an http cdn URL
    * on one of 3 hosts. Extraction is regexp_extract_all + one
    * domain-keyed aggregate — map-only scan then a tiny shuffle. */
  def domainStats(s: SparkSession, dir: String): DataFrame = {
    val txt = concat(col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/page"), (col("doc_id") % 13).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 9 === 0,
        concat(lit(" http://cdn"), (col("doc_id") % 3).cast("string"),
          lit(".example.org/asset")))
        .otherwise(lit("")))
    documents(s, dir)
      .select(col("doc_id"), explode(regexp_extract_all(txt, lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), "https?://([A-Za-z0-9.-]+)/", 1).as("domain"),
        (col("url").startsWith("https")).as("https"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(when(col("https"), 1L).otherwise(0L)).as("n_https"))
  }

  val domainStatsSql: String =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    text || CASE WHEN doc_id % 5 = 0
       |                 THEN ' https://site' || CAST(doc_id % 7 AS VARCHAR)
       |                      || '.example.com/page' || CAST(doc_id % 13 AS VARCHAR)
       |                 ELSE '' END
       |         || CASE WHEN doc_id % 9 = 0
       |                 THEN ' http://cdn' || CAST(doc_id % 3 AS VARCHAR)
       |                      || '.example.org/asset'
       |                 ELSE '' END AS txt
       |  FROM documents),
       |u AS (SELECT doc_id, unnest(regexp_extract_all(txt, '$UrlRe')) AS url FROM p)
       |SELECT regexp_extract(url, 'https?://([A-Za-z0-9.-]+)/', 1) AS domain,
       |  count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs,
       |  sum(CASE WHEN url LIKE 'https%' THEN 1 ELSE 0 END)::BIGINT AS n_https
       |FROM u GROUP BY 1""".stripMargin

  /** K-line: inverted-index build statistics — per-term document
    * frequency, collection frequency, and the head of the sorted
    * postings list, for the [[IdxTopTerms]] highest-df terms. The
    * shape of a distributed index build: postings are (term, doc)
    * rows, ONE term-keyed shuffle produces df/cf/postings together
    * (at 100 TB each reducer owns a term range — exactly how sharded
    * index segments are written; the LIMIT here is only the report
    * cut, a real build writes every term's full postings from the
    * same shuffle). The postings head is deterministic: sorted doc
    * ids, capped, comma-joined. */
  def buildIndexQ(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(col("doc_id"),
      explode(TextFns.wsTokens(lower(col("text")))).as("w"))
    toks.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("cf"),
        concat_ws(",", transform(
          slice(array_sort(collect_set(col("doc_id"))), 1, IdxPostingsCap),
          x => x.cast("string"))).as("postings_head"))
      .orderBy(col("df").desc, col("w")).limit(IdxTopTerms)
  }

  val buildIndexSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
       |  FROM documents)
       |SELECT w, count(DISTINCT doc_id) AS df, count(*) AS cf,
       |  array_to_string(list_sort(list_distinct(list(doc_id)))[1:$IdxPostingsCap], ',') AS postings_head
       |FROM toks GROUP BY w
       |ORDER BY df DESC, w LIMIT $IdxTopTerms""".stripMargin

  /** Cross-engine-safe PII patterns (no lookaround — identical
    * semantics in Java regex and RE2). */
  val EmailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}"

  /** G17: PII scrubbing — mask email/phone tokens before training.
    * The corpus is synthetic and PII-free, so the query PLANTS
    * deterministic PII first (an email for doc_id%7==0, a phone for
    * doc_id%11==0) and then proves the scrub relationally: per-doc
    * match counts, residual matches after masking (must be 0), and
    * the masked length. Map-only — two regex passes per row, no
    * shuffle at any scale. */
  def scrubPii(s: SparkSession, dir: String): DataFrame = {
    val txt = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" +31-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    val scrubbed = regexp_replace(
      regexp_replace(col("txt"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
    documents(s, dir)
      .withColumn("txt", txt)
      .withColumn("scrubbed", scrubbed)
      .select(col("doc_id"),
        regexp_count(col("txt"), lit(EmailRe)).as("n_email"),
        regexp_count(col("txt"), lit(PhoneRe)).as("n_phone"),
        (regexp_count(col("scrubbed"), lit(EmailRe)) +
          regexp_count(col("scrubbed"), lit(PhoneRe))).as("n_residual"),
        length(col("scrubbed")).as("len_after"))
  }

  val scrubPiiSql: String =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    text || CASE WHEN doc_id % 7 = 0
       |                 THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |                 ELSE '' END
       |         || CASE WHEN doc_id % 11 = 0
       |                 THEN ' +31-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |                 ELSE '' END AS txt
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, txt,
       |    regexp_replace(regexp_replace(txt, '$EmailRe', '<EMAIL>', 'g'),
       |                   '$PhoneRe', '<PHONE>', 'g') AS scrubbed
       |  FROM p)
       |SELECT doc_id,
       |  len(regexp_extract_all(txt, '$EmailRe')) AS n_email,
       |  len(regexp_extract_all(txt, '$PhoneRe')) AS n_phone,
       |  len(regexp_extract_all(scrubbed, '$EmailRe'))
       |    + len(regexp_extract_all(scrubbed, '$PhoneRe')) AS n_residual,
       |  length(scrubbed) AS len_after
       |FROM s""".stripMargin

  /** G10 inputs: a fixed keyword query against the corpus. */
  val Bm25Query: Seq[String] = Seq("query", "join", "filter")
  val K1 = 1.2
  val B = 0.75
  val TopK = 10

  /** G10: BM25 ranked retrieval — top-[[TopK]] docs for [[Bm25Query]].
    * Fully relational AND a single lazy plan: token postings → tf per
    * (doc, term), df per term, dl per doc, and the corpus stats
    * (n, avgdl) as a one-row aggregate broadcast-cross-joined into
    * the scoring — no driver-side count()/collect() per invocation.
    * Postings for the tf side are pre-filtered to the query terms, so
    * the expensive join is query-sized, not corpus-sized.
    * Deterministic tiebreak (score desc, doc_id) keeps the limit
    * stable. */
  def bm25Topk(s: SparkSession, dir: String): DataFrame =
    bm25Scored(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TopK)

  /** The un-limited BM25 scored frame (doc_id, score) for [[Bm25Query]]
    * — shared by [[bm25Topk]] and the hybrid-retrieval fusion
    * ([[graft.operators.Retrieval]]), which cuts it at its own depth. */
  private[graft] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val posts = docs.select(col("doc_id"),
      explode(wsTokens(lower(col("text")))).as("tok"))
    val dl = posts.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    // one-row corpus stats, same double arithmetic as the old
    // driver-side form: n as double, avgdl = sum(dl)/n
    val stats = docs.agg(count(lit(1)).cast("double").as("n"))
      .crossJoin(dl.agg(sum(col("dl")).as("sumdl")))
      .select(col("n"), (col("sumdl").cast("double") / col("n")).as("avgdl"))
    val qposts = posts.filter(col("tok").isin(Bm25Query: _*))
    val tf = qposts.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = df.crossJoin(broadcast(stats)).withColumn("idf",
      log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    tf.join(broadcast(idf), "tok")
      .join(dl, "doc_id")
      .withColumn("contrib",
        col("idf") * (col("tf") * (K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(pround(sum(col("contrib")), 4).as("score"))
  }

  /** H10: per-document top-[[TfidfK]] TF-IDF terms — the classic
    * corpus-vectorization pass (keyword extraction / sparse features
    * for retrieval). One postings shuffle for tf, a term-keyed agg
    * for df (tiny: vocab-sized, broadcast back), map-side scoring,
    * then a per-doc window rank. idf = ln(n/df) with the corpus size
    * as a broadcast one-row aggregate — a single lazy plan, no
    * driver actions (the bm25 lesson). */
  val TfidfK = 3

  def tfidfTopterms(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val posts = docs.select(col("doc_id"),
      explode(wsTokens(lower(col("text")))).as("tok"))
    val tf = posts.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val idf = df.crossJoin(broadcast(n))
      .withColumn("idf", log(col("n") / col("df")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    tf.join(broadcast(idf.select(col("tok"), col("idf"))), "tok")
      .withColumn("score", col("tf") * col("idf"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TfidfK)
      .select(col("doc_id"), col("tok"), col("rnk"), pround(col("score"), 4).as("score"))
  }

  val tfidfTopTermsSql: String =
    s"""WITH posts AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM posts GROUP BY 1, 2),
       |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.tok, tf.tf * ln(n.n / df.df) AS score
       |  FROM tf JOIN df USING (tok), n)
       |SELECT doc_id, tok, rnk, floor((score) * 10000.0 + 0.5) / 10000.0 AS score FROM (
       |  SELECT doc_id, tok, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk
       |  FROM scored) WHERE rnk <= $TfidfK""".stripMargin

  /** DuckDB twin of [[bm25Scored]] as CTEs ending in
    * `bscore(doc_id, score)` — shared with the hybrid-retrieval
    * fusion oracle. */
  private[graft] val bm25ScoredCtes: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""posts AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM posts GROUP BY 1),
       |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |                 (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM posts
       |       WHERE tok IN ($terms) GROUP BY 1, 2),
       |idf AS (SELECT tok, ln((stats.n - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
       |        FROM tf, stats GROUP BY tok, stats.n),
       |bscore AS (
       |  SELECT doc_id, floor((sum(contrib)) * 10000.0 + 0.5) / 10000.0 AS score FROM (
       |    SELECT tf.doc_id,
       |      idf.idf * (tf.tf * ($K1 + 1)) /
       |        (tf.tf + $K1 * (1 - $B + $B * dl.dl / stats.avgdl)) AS contrib
       |    FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id), stats)
       |  GROUP BY doc_id)""".stripMargin
  }

  val bm25TopkSql: String =
    s"""WITH $bm25ScoredCtes
       |SELECT doc_id, score FROM bscore
       |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin

  /** J-line: language-ID confusion matrix — the accuracy audit of the
    * [[langId]] heuristic against the labeled `lang` column, as a
    * queryable result instead of a spec assertion: (truth, predicted,
    * n) cells plus the diagonal flag. Reuses the E1 scoring columns;
    * one count-sized aggregate on top. */
  def langConfusion(s: SparkSession, dir: String): DataFrame =
    langId(s, dir).select(col("doc_id"), col("pred_lang"))
      .join(documents(s, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("pred_lang"), col("n"),
        (col("lang") === col("pred_lang")).as("correct"))

  val langConfusionSql: String =
    s"""WITH li AS (
       |$langIdSql
       |)
       |SELECT d.lang, li.pred_lang, count(*) AS n,
       |  d.lang = li.pred_lang AS correct
       |FROM li JOIN documents d USING (doc_id)
       |GROUP BY 1, 2""".stripMargin

  /** J-line: tokenizer fertility per language — BPE-ish lexer tokens
    * per whitespace word, THE metric a multilingual tokenizer eval
    * reports (high fertility = the tokenizer fragments that language).
    * Exact integer sums, one division. Map-side aggregate only. */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(reTokenCount(col("text")).cast("long")).as("re_tokens"),
        sum(wsTokenCount(col("text")).cast("long")).as("ws_tokens"))
      .select(col("lang"), col("n_docs"), col("re_tokens"), col("ws_tokens"),
        pround(col("re_tokens").cast("double") / col("ws_tokens"), 4).as("fertility"))

  val tokenizerFertilitySql: String =
    """SELECT lang, count(*) AS n_docs,
      |  sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::BIGINT AS re_tokens,
      |  sum(len(list_filter(string_split(text, ' '), t -> t <> '')))::BIGINT AS ws_tokens,
      |  floor((sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::DOUBLE
      |    / sum(len(list_filter(string_split(text, ' '), t -> t <> ''))))
      |    * 10000.0 + 0.5) / 10000.0 AS fertility
      |FROM documents GROUP BY lang""".stripMargin

  /** J-line: vocabulary-concentration (Gini/Simpson) diversity per
    * doc — 1 − Σ(c_w/n)² as the EXACT RATIONAL (n² − Σc_w²)/n², the
    * transcendental-free alternative to token entropy (same ordering
    * of "repetitive vs diverse"; entropy's Σp·log p is a cross-engine
    * 1-ulp hash risk). One doc-keyed count + one doc-keyed sum of
    * squares. */
  def giniDiversity(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") * col("cnt")).as("ss"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        pround((col("n_words") * col("n_words") - col("ss")).cast("double") /
          (col("n_words") * col("n_words")), 4).as("gini"))

  val giniDiversitySql: String =
    """SELECT doc_id, n_words, n_distinct,
      |  floor(((n_words * n_words - ss)::DOUBLE / (n_words * n_words)) * 10000.0 + 0.5) / 10000.0 AS gini
      |FROM (
      |  SELECT doc_id, sum(cnt)::BIGINT AS n_words, count(*) AS n_distinct,
      |    sum(cnt * cnt)::BIGINT AS ss
      |  FROM (
      |    SELECT doc_id, w, count(*) AS cnt FROM (
      |      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
      |      FROM documents)
      |    GROUP BY 1, 2)
      |  GROUP BY doc_id)""".stripMargin

  /** K36: CANONICAL-URL DEDUP — the CommonCrawl-style URL-level
    * dedup pass that precedes any content dedup: raw URLs collapse
    * under canonicalization (lowercase host, strip query string and
    * fragment, scheme-insensitive), keep-first by doc_id. Planted
    * raw forms (deterministic doc_id arithmetic, the [[domainStats]]
    * convention) vary case, `?utm_…` tracking params and `#fragment`
    * over shared canonical targets, so the collapse is real and
    * exactly replayable. The shape is the C1 exact-dedup contract on
    * the canonical key: regex canonicalization is pure map work, ONE
    * canonical-keyed aggregate does the dedup — no pairwise
    * comparison, shuffle rows = distinct raw URLs. */
  def urlDedup(s: SparkSession, dir: String): DataFrame = {
    val host = concat(lit("site"), (col("doc_id") % 7).cast("string"),
      lit(".example.com"))
    val raw = concat(
      lit("https://"),
      when(col("doc_id") % 4 === 1, upper(host)).otherwise(host),
      lit("/page"), (col("doc_id") % 13).cast("string"),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed"), (col("doc_id") % 5).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit("#sec")).otherwise(lit("")))
    documents(s, dir)
      .select(col("doc_id"), raw.as("url"))
      .select(col("doc_id"), col("url"),
        concat(
          lower(regexp_extract(col("url"), "https?://([A-Za-z0-9.-]+)", 1)),
          regexp_extract(col("url"), "https?://[A-Za-z0-9.-]+([^?#]*)", 1))
          .as("canon"))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("url")).as("n_raw_forms"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keeper_doc"))
  }

  val urlDedupSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    'https://'
      |    || CASE WHEN doc_id % 4 = 1
      |         THEN upper('site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com')
      |         ELSE 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' END
      |    || '/page' || CAST(doc_id % 13 AS VARCHAR)
      |    || CASE WHEN doc_id % 3 = 0
      |         THEN '?utm_source=feed' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0 THEN '#sec' ELSE '' END AS url
      |  FROM documents)
      |SELECT lower(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1))
      |    || regexp_extract(url, 'https?://[A-Za-z0-9.-]+([^?#]*)', 1) AS canon,
      |  count(*) AS n_urls,
      |  count(DISTINCT url)::BIGINT AS n_raw_forms,
      |  count(DISTINCT doc_id)::BIGINT AS n_docs,
      |  min(doc_id) AS keeper_doc
      |FROM u GROUP BY 1""".stripMargin

  /** K125: URL ADMISSION FILTER — the crawl-frontier URL gate that
    * runs BEFORE any fetch or text processing (the RefinedWeb/CCNet
    * URL-filtering step; K36 url_dedup assumes its survivors):
    * every planted URL (the K36 synthesis extended with ads paths,
    * binary extensions and parameter bloat, all doc_id-derived) is
    * classified by FIRST-MATCH rule precedence — blocklisted host >
    * flagged path segment > non-content extension > parameter
    * bloat > keep — and the report is the per-verdict rollup a
    * curation review reads: URL count, distinct hosts, per-mille
    * share. Precedence as a single CASE chain keeps the verdict
    * total (every URL exactly one verdict; conservation
    * spec-pinned). Map-only classification + one verdict-keyed
    * aggregate + a 1-row total broadcast — at 100 TB the frontier
    * scan dominates and nothing else shuffles. */
  def urlFilter(s: SparkSession, dir: String): DataFrame = {
    val host = concat(lit("site"), (col("doc_id") % 7).cast("string"),
      lit(".example.com"))
    val url = concat(
      lit("https://"), host,
      when(col("doc_id") % 9 === 0, lit("/ads")).otherwise(lit("")),
      lit("/page"), (col("doc_id") % 13).cast("string"),
      when(col("doc_id") % 8 === 5, lit(".zip")).otherwise(lit("")),
      when(col("doc_id") % 6 === 2, lit("?a=1&b=2&c=3&d=4")).otherwise(lit("")))
    val nParams = size(split(regexp_extract(col("url"), "\\?(.*)$", 1), "&"))
      - when(regexp_extract(col("url"), "\\?(.*)$", 1) === "", 1).otherwise(0)
    val verdict =
      when(regexp_extract(col("url"), "https?://([a-z0-9.-]+)", 1)
        .isin(BlockedHosts: _*), "drop_domain")
        .when(col("url").rlike("/(ads|tracker)(/|$)"), "drop_path")
        .when(col("url").rlike("\\.(zip|exe|jpg|png)([?#]|$)"), "drop_ext")
        .when(col("n_params") > MaxUrlParams, "drop_params")
        .otherwise("keep")
    val scored = documents(s, dir)
      .select(col("doc_id"), url.as("url"))
      .withColumn("n_params", nParams)
      .withColumn("verdict", verdict)
      .withColumn("host", regexp_extract(col("url"), "https?://([a-z0-9.-]+)", 1))
    val byV = scored.groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("host")).as("n_hosts"))
      .localCheckpoint() // ≤ 5 rows; the total derives from it, so
                         // the frontier scans ONCE (PlanSpec-gated)
    val tot = byV.agg(sum(col("n_urls")).as("n_total"))
    byV.crossJoin(broadcast(tot)) // 1-row scalar frame
      .select(col("verdict"), col("n_urls"), col("n_hosts"), col("n_total"),
        expr("(n_urls * 1000) div n_total").as("share_permille"))
  }

  /** Blocklisted crawl hosts (the planted stand-in for a domain
    * blocklist feed) and the query-parameter bloat cap. */
  val BlockedHosts: Seq[String] =
    Seq("site5.example.com", "site6.example.com")
  val MaxUrlParams = 3

  val urlFilterSql: String = {
    val hosts = BlockedHosts.map(h => s"'$h'").mkString(", ")
    s"""WITH u AS (
       |  SELECT doc_id,
       |    'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
       |    || CASE WHEN doc_id % 9 = 0 THEN '/ads' ELSE '' END
       |    || '/page' || CAST(doc_id % 13 AS VARCHAR)
       |    || CASE WHEN doc_id % 8 = 5 THEN '.zip' ELSE '' END
       |    || CASE WHEN doc_id % 6 = 2 THEN '?a=1&b=2&c=3&d=4' ELSE '' END AS url
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, url,
       |    regexp_extract(url, 'https?://([a-z0-9.-]+)', 1) AS host,
       |    CASE WHEN regexp_extract(url, '\\?(.*)$$', 1) = '' THEN 0
       |         ELSE len(string_split(regexp_extract(url, '\\?(.*)$$', 1), '&'))
       |    END AS n_params
       |  FROM u),
       |v AS (
       |  SELECT *,
       |    CASE WHEN host IN ($hosts) THEN 'drop_domain'
       |         WHEN regexp_matches(url, '/(ads|tracker)(/|$$)') THEN 'drop_path'
       |         WHEN regexp_matches(url, '\\.(zip|exe|jpg|png)([?#]|$$)')
       |           THEN 'drop_ext'
       |         WHEN n_params > $MaxUrlParams THEN 'drop_params'
       |         ELSE 'keep' END AS verdict
       |  FROM c),
       |b AS (
       |  SELECT verdict, count(*) AS n_urls,
       |    count(DISTINCT host)::BIGINT AS n_hosts
       |  FROM v GROUP BY 1),
       |t AS (SELECT sum(n_urls)::BIGINT AS n_total FROM b)
       |SELECT verdict, n_urls, n_hosts, n_total,
       |  (n_urls * 1000 // n_total)::BIGINT AS share_permille
       |FROM b, t""".stripMargin
  }

  /** Keyness list size per source and the occurrence floor below
    * which a phrase can't be called "distinctive" (rate estimates on
    * 1-2 occurrences are noise at any corpus size). */
  val KeyK = 10
  val KeyMinCount = 3

  /** K88: KEYNESS TERMS — per-source DISTINCTIVE phrases: for every
    * (source, bigram), the source-internal rate vs the rate in the
    * REST of the corpus, as a smoothed relative-risk score; top
    * [[KeyK]] per source. The corpus-linguistics contrast read
    * (tfidf_topterms ranks within a document; this ranks a SOURCE
    * against everything else) run before trusting a feed's topical
    * balance. All arithmetic is per-million integer rates
    * (a_pm = a·10⁶ div srcTot, b_pm likewise over the rest) and the
    * score a_pm·10⁶ div (b_pm + 1) — the +1 smoothing keeps
    * source-exclusive phrases finite and every quantity ≤ 10¹⁸ at
    * ANY corpus size (rates are bounded by 10⁶ regardless of N).
    * Shape: one (source, gram) aggregate (the only rows-scale
    * shuffle), gram totals aggregated FROM those cells (strictly
    * smaller), the [[KeyMinCount]] floor applied before the gram
    * join so only candidate cells ride it, and a top-K window over
    * the floored candidates per source. */
  def keynessTerms(s: SparkSession, dir: String): DataFrame = {
    // four consumers (scoring, source totals, gram totals, corpus
    // total) read the cell frame — persist so the corpus is scanned
    // and bigram-aggregated ONCE (the gramPosts convention); the
    // frame is vocabulary-sized (distinct (source, gram)), bounded
    // far below the corpus at any scale
    val sg = keynessCells(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = keynessFrame(sg)
      .localCheckpoint() // report-sized; release the cached cells
    sg.unpersist()
    out
  }

  /** The (source, bigram) occurrence cells for [[keynessTerms]]:
    * bigram instances come MAP-SIDE from the one-pass
    * [[graft.plans.TokenGramsAll]] kernel (sliding grams in order,
    * multiplicity kept; < 2-token docs yield an empty array), so the
    * only rows-scale shuffle in the whole operator is the
    * (source, gram) cell aggregate. The r8 form paired tokens with a
    * lead over a doc-keyed window, which forced a full token-stream
    * exchange BEFORE any aggregation; the r9-r13 zip_with chain paid
    * an interpreted slice/concat lambda per gram. Warm 0.994 → 0.684 s
    * against the chain (OPTIMIZATION_r14.md row 18); the chain had
    * beaten the window 1.16 vs 1.34 s warm med at sf0.1 (SURVEY §4). */
  private[graft] def keynessCells(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("source"),
        explode(call_function("token_grams_all",
          lower(col("text")), lit(2L))).as("gram"))
      .groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("a"))

  /** The un-checkpointed scoring plan over given cells, split out so
    * PlanSpec can assert the single-aggregation / broadcast shape
    * (the ngramNoveltyFrame convention). */
  private[graft] def keynessFrame(sg: DataFrame): DataFrame = {
    val st = sg.groupBy(col("source")).agg(sum(col("a")).as("stot"))
    val gt = sg.groupBy(col("gram")).agg(sum(col("a")).as("gtot"))
    val tot = st.agg(sum(col("stot")).as("n"))
    val scored = sg.filter(col("a") >= KeyMinCount)
      .join(broadcast(st), "source")
      .join(gt, "gram")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("gram"), col("a"),
        expr("(a * 1000000) div stot").as("a_pm"),
        expr("((gtot - a) * 1000000) div (n - stot)").as("b_pm"))
      .withColumn("score", expr("(a_pm * 1000000) div (b_pm + 1)"))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("a").desc, col("gram"))
    scored.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= KeyK)
      .select(col("source"), col("gram"), col("a"), col("a_pm"),
        col("b_pm"), col("score"), col("rn"))
  }

  val keynessTermsSql: String =
    s"""WITH toks AS (
       |  SELECT source, doc_id,
       |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
       |  FROM documents),
       |p AS (
       |  SELECT source,
       |    unnest([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]) AS gram
       |  FROM toks),
       |sg AS (SELECT source, gram, count(*) AS a FROM p GROUP BY 1, 2),
       |st AS (SELECT source, sum(a)::BIGINT AS stot FROM sg GROUP BY 1),
       |gt AS (SELECT gram, sum(a)::BIGINT AS gtot FROM sg GROUP BY 1),
       |tot AS (SELECT sum(stot)::BIGINT AS n FROM st),
       |sc AS (
       |  SELECT sg.source, sg.gram, sg.a,
       |    (sg.a * 1000000) // st.stot AS a_pm,
       |    ((gt.gtot - sg.a) * 1000000) // (tot.n - st.stot) AS b_pm
       |  FROM sg JOIN st USING (source) JOIN gt USING (gram), tot
       |  WHERE sg.a >= $KeyMinCount),
       |r AS (
       |  SELECT *, (a_pm * 1000000) // (b_pm + 1) AS score,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY (a_pm * 1000000) // (b_pm + 1) DESC, a DESC, gram) AS rn
       |  FROM sc)
       |SELECT source, gram, a, a_pm, b_pm, score, rn
       |FROM r WHERE rn <= $KeyK""".stripMargin

  /** Bloom geometry for [[ngramNovelty]]'s train-gram prefilter —
    * H15's sizing convention (items, bits): ~8 bits/item keeps the
    * false-positive rate low enough that the pruned eval fraction is
    * real; FPs are resolved by the exact semi join, so geometry never
    * affects the result. */
  val NoveltyBloomItems = 1000000L
  val NoveltyBloomBits = 8000000L

  /** K71: N-GRAM NOVELTY — the measurement twin of G11's
    * decontaminate filter: for each held-out document (doc_id ≡ 8,9
    * mod 10 as the eval split), the fraction of its distinct 3-gram
    * shingles never seen in the train split — the memorization /
    * generalization probe run before trusting an eval set.
    *
    * Shape (the 100 TB path, H15's bloom pattern made code):
    * per-doc totals aggregate on the cheap (doc, source) key with no
    * join at all; the SEEN count is the only gram-keyed work, and its
    * eval side is prefiltered MAP-SIDE by a bloom over the train
    * grams (built by one fully-combining bloom_agg pass over the
    * train postings — membership needs no distinct — and shipped as
    * a 1-row broadcast). Definitely-novel grams never ride the gram
    * shuffle; possibly-seen grams hit an exact LEFT SEMI join against
    * the deduped train universe, which removes the bloom's false
    * positives, so the result is exactly the unfiltered join's. */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    // the shingle explode is the expensive stage and four subplans
    // read postings (bloom build, totals, train distinct, seen join)
    // — persist so the corpus shingles ONCE (the gramPosts
    // convention), released after the report materializes below
    val posts = ngramPosts(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = ngramNoveltyFrame(s, posts)
      .localCheckpoint() // eval-doc-sized; release the cached postings
    posts.unpersist()
    out
  }

  /** (doc_id, source, gram) postings from the codegen `token_grams`
    * kernel: warm 3.515 → 1.215 s against the interpreted
    * transform/slice chain (OPTIMIZATION_r14.md row 8). */
  private[graft] def ngramPosts(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.HashFns.shingles(col("text"))).as("gram"))

  /** The un-checkpointed novelty plan over given postings, split out
    * so PlanSpec can assert the bloom/semi-join shape (the
    * jaccard_neighbors convention — localCheckpoint above truncates
    * the executed plan). */
  private[graft] def ngramNoveltyFrame(s: SparkSession, posts: DataFrame): DataFrame = {
    val trainPosts = posts.filter(col("doc_id") % 10 < 8)
    val evalPosts = posts.filter(col("doc_id") % 10 >= 8)
    // might_contain demands its bloom as a scalar subquery (H15's
    // form): the subquery aggregates ONCE and ships to every task
    trainPosts.createOrReplaceTempView("graft_novelty_train")
    evalPosts.createOrReplaceTempView("graft_novelty_eval")
    val totals = evalPosts.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"))
    val seen = s.sql(
      s"""SELECT doc_id, source, gram FROM graft_novelty_eval
         |WHERE bloom_contains(
         |  (SELECT bloom_agg(xxhash64(gram), ${NoveltyBloomItems}L,
         |                    ${NoveltyBloomBits}L)
         |   FROM graft_novelty_train),
         |  xxhash64(gram))""".stripMargin)
      // the semi build pre-aggregates train grams to distinct: its
      // ~7× smaller sort input pays for the extra aggregate (warm med
      // 3.55 vs 3.86 s without it — OPTIMIZATION_r13.md, "Measured and
      // REJECTED")
      .join(trainPosts.select(col("gram")).distinct(), Seq("gram"), "left_semi")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_seen"))
    totals
      .join(seen, Seq("doc_id", "source"), "left_outer")
      .na.fill(0L, Seq("n_seen"))
      .select(col("doc_id"), col("source"), col("n_grams"),
        (col("n_grams") - col("n_seen")).as("n_novel"))
      .withColumn("novelty",
        pround(col("n_novel").cast("double") / col("n_grams"), 4))
  }

  /** DuckDB twin — the same distinct-shingle definition as the dedup
    * family's gramsCte (list_distinct 3-grams; short docs collapse to
    * one whole-doc shingle). */
  val ngramNoveltySql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, CASE WHEN len(toks) >= 3
      |    THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                        for i in range(1, len(toks) - 1)])
      |    ELSE [array_to_string(toks, ' ')] END AS gs
      |  FROM toks),
      |posts AS (SELECT doc_id, source, unnest(gs) AS gram FROM g),
      |train AS (SELECT DISTINCT gram FROM posts WHERE doc_id % 10 < 8)
      |SELECT p.doc_id, p.source, count(*) AS n_grams,
      |  sum(CASE WHEN t.gram IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_novel,
      |  floor((sum(CASE WHEN t.gram IS NULL THEN 1 ELSE 0 END)::DOUBLE
      |        / count(*)) * 10000.0 + 0.5) / 10000.0 AS novelty
      |FROM posts p LEFT JOIN train t ON p.gram = t.gram
      |WHERE p.doc_id % 10 >= 8
      |GROUP BY 1, 2""".stripMargin

  /** K120: VOCABULARY DRIFT MONITOR — the one-number alarm a corpus
    * ingest watches between the reference split and an incoming
    * batch (K71's split convention: doc_id mod 10 < 8 = reference,
    * ≥ 8 = incoming): total-variation distance between the two token
    * distributions, plus OOV mass — the "did the crawl change under
    * me" read (TVD is the engine-exact drift metric of the
    * dist_drift family: no logs, the K5 lesson). ONE postings pass
    * with conditional (ref, inc) counts per token — shuffle ∝ vocab
    * with map-side combine; the 1-row totals broadcast back.
    * Arithmetic: TVD/2 = Σ|ca·Nb − cb·Na| over 2·Na·Nb, all of it in
    * exact 128-bit integers (Spark DECIMAL(38,0), DuckDB HUGEINT) —
    * in BIGINT the per-term product ca·Nb alone overflows past
    * ~3·10⁹ tokens per side and the ×10⁶ scaling far earlier (the r9
    * advisory); at 1e38 headroom the chain is exact beyond 10¹⁶
    * tokens per side. The two per-million divisions are exact FLOOR
    * division spelled portably as (x − x % d) / d: the subtraction
    * makes the quotient integral, so Spark's scale-rounded decimal
    * division and DuckDB's `//` return the identical value. */
  def vocabDrift(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(
      (col("doc_id") % 10 < 8).as("is_ref"),
      explode(wsTokens(lower(col("text")))).as("tok"))
    val cell = toks.groupBy(col("tok"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cb"))
    val tot = cell.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    cell.crossJoin(broadcast(tot)) // 1-row scalar frame
      .agg(
        max(col("na")).as("n_tok_ref"), max(col("nb")).as("n_tok_inc"),
        sum(when(col("ca") > 0, 1L).otherwise(0L)).as("vocab_ref"),
        sum(when(col("cb") > 0, 1L).otherwise(0L)).as("vocab_inc"),
        sum(when(col("ca") === 0 && col("cb") > 0, 1L).otherwise(0L))
          .as("n_oov_types"),
        sum(when(col("ca") === 0, col("cb")).otherwise(0L)).as("oov_toks"),
        sum(abs(col("ca").cast("decimal(38,0)") * col("nb")
          - col("cb").cast("decimal(38,0)") * col("na"))).as("s"))
      .withColumn("o6", expr("CAST(oov_toks AS DECIMAL(38,0)) * 1000000"))
      .withColumn("s6", expr("s * 1000000"))
      .withColumn("dn", expr("CAST(n_tok_inc AS DECIMAL(38,0))"))
      .withColumn("dd",
        expr("2 * CAST(n_tok_ref AS DECIMAL(38,0)) * CAST(n_tok_inc AS DECIMAL(38,0))"))
      .select(col("n_tok_ref"), col("n_tok_inc"),
        col("vocab_ref"), col("vocab_inc"), col("n_oov_types"),
        expr("CAST((o6 - o6 % dn) / dn AS BIGINT)").as("oov_pm"),
        expr("CAST((s6 - s6 % dd) / dd AS BIGINT)").as("tvd_pm"))
  }

  val vocabDriftSql: String =
    """WITH toks AS (
      |  SELECT doc_id % 10 < 8 AS is_ref,
      |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
      |  FROM documents),
      |cell AS (
      |  SELECT tok,
      |    sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS ca,
      |    sum(CASE WHEN is_ref THEN 0 ELSE 1 END)::BIGINT AS cb
      |  FROM toks GROUP BY 1),
      |tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM cell)
      |SELECT na AS n_tok_ref, nb AS n_tok_inc,
      |  sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_ref,
      |  sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_inc,
      |  sum(CASE WHEN ca = 0 AND cb > 0 THEN 1 ELSE 0 END)::BIGINT AS n_oov_types,
      |  (sum(CASE WHEN ca = 0 THEN cb ELSE 0 END)::HUGEINT * 1000000
      |     // nb::HUGEINT)::BIGINT AS oov_pm,
      |  (sum(abs(ca::HUGEINT * nb - cb::HUGEINT * na)) * 1000000
      |     // (2 * na::HUGEINT * nb))::BIGINT AS tvd_pm
      |FROM cell, tot GROUP BY na, nb""".stripMargin

  /** Winnowing gram size (tokens per k-gram). */
  val WinK = 4
  /** Winnowing window: every [[WinW]] consecutive k-grams contribute
    * at least one fingerprint (the coverage guarantee). */
  val WinW = 8
  /** Position encoder for the rightmost-min argmax: key =
    * (P − h)·[[WinM]] + p, so max(key) IS the window's minimal hash
    * with rightmost-position tie-break, in one plain integer
    * aggregate both engines share. Caps positions at 2²⁰ grams/doc —
    * a ~1M-token document; longer docs raise WinM (key headroom:
    * 2³⁰·WinM must stay under 2⁶³). */
  val WinM = 1048576L

  /** K137: WINNOWING FINGERPRINTS — the published local-fingerprint
    * selection (Schleimer, Wilkerson & Aiken, SIGMOD 2003) behind
    * MOSS and the code-corpus local-overlap dedup family: hash every
    * k-gram, slide a w-gram window, keep each window's MINIMAL hash
    * (rightmost on ties). Unlike E4's whole-doc hash or C2's global
    * MinHash, the selected set is POSITIONAL and guarantees any
    * shared run of ≥ w+k−1 tokens between two docs shares a
    * fingerprint — the property that localizes copied spans instead
    * of flagging whole documents. Report per doc: grams,
    * fingerprints kept, density (expected ≈ 2/(w+1)), and how many
    * of its fingerprints also appear in ANOTHER doc (the MOSS
    * overlap signal).
    *
    * Determinism/portability: gram hashes are the portable poly fold
    * ([[graft.functions.TextFns.docFingerprint]]'s char fold per
    * gram string); the rightmost-min selection is max((P−h)·M + p) —
    * a single integer aggregate, no argmax/struct-ordering
    * dependence. Short docs (< w grams) winnow one whole-doc window;
    * docs shorter than k tokens contribute their single whole-text
    * gram.
    *
    * Scale shape: gram hashes come from one map-side kernel pass;
    * the selection is ONE doc-keyed running window (shuffle ∝
    * tokens); fingerprint dedup and the cross-doc share join are
    * fingerprint-sized (∝ tokens·2/(w+1)). Nothing is pairwise. */
  def winnowFingerprint(s: SparkSession, dir: String): DataFrame =
    winnowFrame(winnowFps(s, dir))

  /** The selected-fingerprint frame (doc_id, ng, h): the codegen'd
    * [[graft.plans.TokenGramHashes]] gram kernel (hash values
    * identical to char-folding each gram string, no gram strings, no
    * HOFs, the empty-doc filter folded into the empty array) + ONE
    * doc-keyed running window (max(key) over ROWS [WinW−1 PRECEDING,
    * CURRENT]; the frame self-truncates at partition start, which IS
    * the short-doc whole-window semantics). Measured at sf0.1 (warm
    * med, SURVEY §4): 0.80 s vs 2.87 for the column-chain gram
    * build; the oracle's ×w window fanout with a (doc, end) max
    * aggregate read 3.25 vs 2.86 s for the window on the same chain
    * (the ×w shuffle volume costs more than the doc-keyed sort
    * saves); hashes composed from per-token hashes in column algebra
    * read 3.71 vs 3.04 s (the nested HOF runs interpreted). */
  private[graft] def winnowFps(s: SparkSession, dir: String): DataFrame = {
    val P = graft.functions.HashFns.P
    // running max over the trailing w grams: row p carries the
    // rightmost-min of the window ENDING at p; rows with
    // p < min(w−1, ng−1) are partial prefixes of the first full
    // window, dropped — except the whole-doc window of a short doc,
    // which ends at ng−1 and survives the filter
    val wSpec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(-(WinW - 1), 0)
    documents(s, dir)
      .select(col("doc_id"),
        call_function("token_gram_hashes",
          lower(col("text")), lit(WinK.toLong)).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("ng"),
        posexplode(col("hs")).as(Seq("p", "h")))
      .withColumn("key", expr(s"(${P}L - h) * $WinM + p"))
      .withColumn("key", max(col("key")).over(wSpec))
      .filter(col("p") >= least(lit(WinW - 1), col("ng") - 1))
      .select(col("doc_id"), col("ng"), col("key")).distinct()
      .select(col("doc_id"), col("ng"), expr(s"${P}L - key div $WinM").as("h"))
  }

  /** The per-doc report over a selected-fingerprint frame. */
  private[graft] def winnowFrame(fps: DataFrame): DataFrame = {
    val shared = fps.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"))
    fps.join(shared, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .join(fps.groupBy(col("doc_id"), col("ng"))
        .agg(count(lit(1)).as("n_fps")), Seq("doc_id"), "right_outer")
      .na.fill(0L, Seq("n_shared"))
      .select(col("doc_id"), col("ng").as("n_grams"), col("n_fps"),
        col("n_shared"),
        expr("n_fps * 1000000 div ng").as("density_pm"))
  }

  val winnowFingerprintSql: String = {
    val P = graft.functions.HashFns.P
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
       |  FROM documents WHERE len(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) > 0),
       |gr AS (
       |  SELECT doc_id, CASE WHEN len(toks) >= $WinK
       |    THEN [array_to_string(toks[i:i+${WinK - 1}], ' ')
       |          for i in range(1, len(toks) - ${WinK - 2})]
       |    ELSE [array_to_string(toks, ' ')] END AS gs
       |  FROM t),
       |g AS (
       |  SELECT doc_id, len(gs) AS ng, generate_subscripts(gs, 1) - 1 AS p,
       |    list_reduce(list_prepend(0::BIGINT,
       |      [ascii(c)::BIGINT for c in string_split(unnest(gs), '')]),
       |      (a, x) -> (a * 31 + x) % $P) AS h
       |  FROM gr),
       |wk AS (
       |  SELECT doc_id, ng, ($P - h) * $WinM + p AS key,
       |    unnest(range(greatest(p, least(${WinW - 1}, ng - 1)),
       |                 least(p + ${WinW - 1}, ng - 1) + 1)) AS i
       |  FROM g),
       |sel AS (
       |  SELECT DISTINCT doc_id, ng, key FROM (
       |    SELECT doc_id, ng, i, max(key) AS key FROM wk GROUP BY 1, 2, 3)),
       |fps AS (SELECT doc_id, ng, $P - key // $WinM AS h FROM sel),
       |sh AS (SELECT h FROM fps GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |ns AS (
       |  SELECT doc_id, count(*) AS n_shared
       |  FROM fps WHERE h IN (SELECT h FROM sh) GROUP BY 1),
       |nf AS (SELECT doc_id, ng, count(*) AS n_fps FROM fps GROUP BY 1, 2)
       |SELECT nf.doc_id, ng AS n_grams, n_fps,
       |  coalesce(ns.n_shared, 0) AS n_shared,
       |  (n_fps * 1000000 // ng)::BIGINT AS density_pm
       |FROM nf LEFT JOIN ns USING (doc_id)""".stripMargin
  }

  /** Robots rules fixture: (host, path prefix, allow). Every site
    * host disallows /ads and /private but re-allows /ads/ok (the
    * RFC's worked longest-match example shape); the two
    * [[BlockedHosts]] also carry a root disallow -- under
    * longest-match their /ads/ok stays reachable, which is exactly
    * the subtle RFC behavior a naive first-match gate gets wrong. */
  val RobotsRules: Seq[(String, String, Boolean)] =
    (0 to 6).flatMap { h =>
      val host = s"site$h.example.com"
      Seq((host, "/ads", false), (host, "/ads/ok", true),
        (host, "/private", false))
    } ++ BlockedHosts.map(h => (h, "/", false))

  /** K142: ROBOTS.TXT ADMISSION GATE -- the RFC 9309 (Robots
    * Exclusion Protocol) longest-match evaluation every responsible
    * crawl pipeline runs before fetching (and training-data builds
    * re-run at corpus time to honor late opt-outs): a URL's verdict
    * comes from the LONGEST matching path prefix among its host's
    * rules, allow winning exact ties -- NOT first match (the
    * /ads/ok allow must beat the shorter /ads and even a root
    * disallow). URLs planted on the url_filter host lattice with
    * five path families exercising nested allow-within-disallow.
    * The tie algebra rides one integer: score = 2*len(prefix) +
    * allowBit, per-URL verdict = max(score) -- decode allow =
    * score odd, unmatched URLs default-allow per the RFC. Per host:
    * urls, allowed, denied, default-allowed.
    *
    * Scale shape: the rule table is crawl-metadata-sized and
    * BROADCASTS (a real robots corpus is ~rules-per-host x hosts,
    * always << URLs); the prefix join is map-side against it; one
    * URL-keyed max and one host-keyed rollup end the plan --
    * shuffle ∝ URLs, never URLs x rules. */
  def robotsGate(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val path = when(id % 5 === 0, concat(lit("/ads/page"), (id % 13).cast("string")))
      .when(id % 5 === 1, concat(lit("/private/doc"), (id % 13).cast("string")))
      .when(id % 5 === 2, concat(lit("/ads/ok/page"), (id % 13).cast("string")))
      .when(id % 5 === 3, concat(lit("/page"), (id % 13).cast("string")))
      .otherwise(concat(lit("/docs/page"), (id % 13).cast("string")))
    val urls = documents(s, dir).select(id,
      concat(lit("site"), (id % 7).cast("string"), lit(".example.com")).as("host"),
      path.as("path"))
    val rules = RobotsRules.map { case (h, pfx, allow) =>
      struct(lit(h).as("host"), lit(pfx).as("prefix"),
        lit(if (allow) 1L else 0L).as("abit"))
    }
    val ruleDf = s.range(1)
      .select(explode(array(rules: _*)).as("r"))
      .select(col("r.host").as("host"), col("r.prefix").as("prefix"),
        col("r.abit").as("abit"))
    val matched = urls.join(broadcast(ruleDf),
        urls("host") === ruleDf("host") &&
          col("path").startsWith(col("prefix")), "left_outer")
      .select(col("doc_id"), urls("host").as("host"),
        when(col("prefix").isNotNull,
          length(col("prefix")) * 2 + col("abit")).as("score"))
    matched.groupBy(col("doc_id"), col("host"))
      .agg(max(col("score")).as("best"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        sum(when(col("best").isNull || col("best") % 2 === 1, 1L).otherwise(0L))
          .as("n_allowed"),
        sum(when(col("best").isNotNull && col("best") % 2 === 0, 1L).otherwise(0L))
          .as("n_denied"),
        sum(when(col("best").isNull, 1L).otherwise(0L)).as("n_default"))
  }

  val robotsGateSql: String = {
    val ruleRows = RobotsRules.map { case (h, pfx, allow) =>
      s"('$h', '$pfx', ${if (allow) 1 else 0})"
    }.mkString(", ")
    s"""WITH u AS (
       |  SELECT doc_id,
       |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
       |    CASE WHEN doc_id % 5 = 0 THEN '/ads/page' || CAST(doc_id % 13 AS VARCHAR)
       |         WHEN doc_id % 5 = 1 THEN '/private/doc' || CAST(doc_id % 13 AS VARCHAR)
       |         WHEN doc_id % 5 = 2 THEN '/ads/ok/page' || CAST(doc_id % 13 AS VARCHAR)
       |         WHEN doc_id % 5 = 3 THEN '/page' || CAST(doc_id % 13 AS VARCHAR)
       |         ELSE '/docs/page' || CAST(doc_id % 13 AS VARCHAR) END AS path
       |  FROM documents),
       |r AS (SELECT * FROM (VALUES $ruleRows) AS t(host, prefix, abit)),
       |m AS (
       |  SELECT u.doc_id, u.host,
       |    CASE WHEN r.prefix IS NOT NULL
       |         THEN strlen(r.prefix) * 2 + r.abit END AS score
       |  FROM u LEFT JOIN r
       |    ON u.host = r.host AND starts_with(u.path, r.prefix)),
       |b AS (
       |  SELECT doc_id, host, max(score)::BIGINT AS best
       |  FROM m GROUP BY 1, 2)
       |SELECT host, count(*)::BIGINT AS n_urls,
       |  sum(CASE WHEN best IS NULL OR best % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_allowed,
       |  sum(CASE WHEN best IS NOT NULL AND best % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_denied,
       |  sum(CASE WHEN best IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_default
       |FROM b GROUP BY host""".stripMargin
  }

  /** Rank-bucket ceiling for [[zipfFit]]: ilog2(rank) ≤ 40 covers
    * 10¹² vocabulary types. */
  val ZipfBMax = 40

  /** K160: ZIPF RANK-FREQUENCY FIT — the power-law health check on
    * the corpus vocabulary (Zipf 1949; the estimation pitfalls per
    * Newman 2005 / Clauset et al. 2009): token frequency vs rank
    * should fall as f(r) ∝ r^(−s) with s ≈ 1 for natural language —
    * a truncated tail (over-deduped or template-heavy corpus) or a
    * flattened head (boilerplate flooding) bends the line, which is
    * why corpus audits read the fitted slope next to type/token
    * counts (K11/J11 siblings). Fit: OLS of ilog2(freq) on
    * ilog2(rank) — the dsir floor-log2 fixed point, so both axes are
    * EXACT integers and the moment sums (n, Σx, Σy, Σxy, Σx², Σy²)
    * are BIGINT (the trend_fit contract: engines divide the same
    * exact integers, doubles match without an iterative fitter).
    * The rank axis never materializes per-type ranks: the frequency
    * HISTOGRAM (cells ∝ distinct frequency values) is cut into
    * power-of-two rank ranges by exact interval intersection —
    * each (f, cnt) cell with cumulative rank range (lo, hi] spreads
    * its count over the ilog2 buckets it overlaps, all in closed
    * form. Output: one row — types, tokens, top frequency, slope
    * (expected < 0), intercept, r².
    *
    * Shape: ONE token-keyed count (∝ corpus tokens, map-side
    * combine) → distinct-frequency histogram (quantile_bins cells) →
    * a ≤cells×[[ZipfBMax]] bucket-split explode → a 6-sum moment
    * aggregate. Nothing rank-sorts the vocabulary. */
  def zipfFit(s: SparkSession, dir: String): DataFrame = {
    val freq = documents(s, dir)
      .select(explode(TextFns.wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val hist = freq.groupBy(col("f")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy(col("f").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranged = hist
      .withColumn("hi", sum(col("cnt")).over(wCum))
      .withColumn("lo", col("hi") - col("cnt"))
      .localCheckpoint() // distinct-frequency CELLS
    val cells = ranged
      .select(col("f"), col("lo"), col("hi"),
        explode(sequence(lit(0), lit(ZipfBMax))).as("b"))
      .withColumn("bl", expr("shiftleft(1L, b)"))
      .withColumn("bh", expr("shiftleft(1L, b + 1) - 1"))
      .withColumn("k",
        greatest(lit(0L),
          least(col("hi"), col("bh")) - greatest(col("lo") + 1, col("bl")) + 1))
      .filter(col("k") > 0)
      .select(col("b").cast("long").as("x"),
        (length(bin(col("f"))) - 1).cast("long").as("y"), col("k"))
    val m = cells.agg(
      sum(col("k")).as("n"), sum(col("x") * col("k")).as("sx"),
      sum(col("y") * col("k")).as("sy"),
      sum(col("x") * col("y") * col("k")).as("sxy"),
      sum(col("x") * col("x") * col("k")).as("sxx"),
      sum(col("y") * col("y") * col("k")).as("syy"))
    val tot = freq.agg(count(lit(1)).as("n_types"), sum(col("f")).as("n_tokens"),
      max(col("f")).as("top_freq"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den1L = col("n") * col("sxx") - col("sx") * col("sx")
    val den2L = col("n") * col("syy") - col("sy") * col("sy")
    val den1 = when(den1L === 0L, lit(null)).otherwise(den1L).cast("double")
    val den2 = when(den2L === 0L, lit(null)).otherwise(den2L).cast("double")
    val slope = num / den1
    tot.crossJoin(broadcast(m)) // 1-row scalar frames
      .select(col("n_types"), col("n_tokens"), col("top_freq"),
        pround(slope, 6).as("slope"),
        pround((col("sy").cast("double") - slope * col("sx")) / col("n"), 6)
          .as("intercept"),
        pround(num * num / (den1 * den2), 6).as("r2"))
  }

  val zipfFitSql: String =
    s"""WITH freq AS (
       |  SELECT w, count(*)::BIGINT AS f FROM (
       |    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
       |    FROM documents)
       |  GROUP BY w),
       |hist AS (SELECT f, count(*)::BIGINT AS cnt FROM freq GROUP BY f),
       |ranged AS (
       |  SELECT f, cnt,
       |    sum(cnt) OVER (ORDER BY f DESC ROWS UNBOUNDED PRECEDING) AS hi,
       |    sum(cnt) OVER (ORDER BY f DESC ROWS UNBOUNDED PRECEDING) - cnt AS lo
       |  FROM hist),
       |cells AS (
       |  SELECT b::BIGINT AS x, (length(bin(f)) - 1)::BIGINT AS y,
       |    greatest(0, least(hi, (1::BIGINT << (b + 1)::INT) - 1)
       |      - greatest(lo + 1, 1::BIGINT << b::INT) + 1)::BIGINT AS k
       |  FROM ranged, (SELECT unnest(range(0, ${ZipfBMax + 1})) AS b)
       |  WHERE greatest(0, least(hi, (1::BIGINT << (b + 1)::INT) - 1)
       |      - greatest(lo + 1, 1::BIGINT << b::INT) + 1) > 0),
       |m AS (
       |  SELECT sum(k)::BIGINT AS n, sum(x * k)::BIGINT AS sx,
       |    sum(y * k)::BIGINT AS sy, sum(x * y * k)::BIGINT AS sxy,
       |    sum(x * x * k)::BIGINT AS sxx, sum(y * y * k)::BIGINT AS syy
       |  FROM cells),
       |tot AS (
       |  SELECT count(*)::BIGINT AS n_types, sum(f)::BIGINT AS n_tokens,
       |    max(f)::BIGINT AS top_freq
       |  FROM freq)
       |SELECT n_types, n_tokens, top_freq,
       |  floor(((n * sxy - sx * sy)::DOUBLE / nullif(n * sxx - sx * sx, 0)::DOUBLE)
       |    * 1000000.0 + 0.5) / 1000000.0 AS slope,
       |  floor(((sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
       |      / nullif(n * sxx - sx * sx, 0)::DOUBLE) * sx) / n)
       |    * 1000000.0 + 0.5) / 1000000.0 AS intercept,
       |  floor(((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE
       |      / (nullif(n * sxx - sx * sx, 0)::DOUBLE * nullif(n * syy - sy * sy, 0)::DOUBLE))
       |    * 1000000.0 + 0.5) / 1000000.0 AS r2
       |FROM tot, m""".stripMargin

  /** Count-class ceiling for [[goodTuring]]: the per-class report
    * covers r = 0 (the unseen class) through r = [[GtMaxR]]; classes
    * above are the reliably-estimated head Good–Turing leaves raw. */
  val GtMaxR = 10

  /** K163: GOOD–TURING UNSEEN-MASS ESTIMATE — the frequency
    * re-estimation of Good 1953 in the Simple Good–Turing formulation
    * of Gale & Sampson 1995 ("Good–Turing frequency estimation
    * without tears"): the probability mass of EVENTS NEVER SEEN in
    * the corpus is N₁/N (the singleton share), and each observed
    * count class r is re-estimated as r* = (r+1)·N_{r+1}/N_r, where
    * N_r is the frequency-of-frequencies histogram. Computed over
    * word TRIGRAMS — the objects LM smoothing actually discounts
    * (Katz backoff and Kneser–Ney are built on exactly these N_r;
    * the synthetic corpus' unigram vocabulary is ~31 always-frequent
    * types, a deliberately closed class where the estimate would be
    * vacuous, while its trigram space has a real singleton tail at
    * every SF). The principled companion to
    * [[graft.operators.TrainPrep.vocabCoverage]] and [[zipfFit]]:
    * coverage measures the mass of KNOWN out-of-vocab tokens,
    * Good–Turing estimates the mass of contexts the corpus has not
    * shown at all. Engine-portability: masses are EXACT per-mille
    * integers — gt_mass_pm(r) = ((r+1)·N_{r+1}·1000) div N, so the
    * r = 0 row's gt_mass_pm IS the Good–Turing unseen estimate
    * ⌊1000·N₁/N⌋ — and r* is the one division, [[pround]]ed.
    *
    * Shape: map-only positional trigram build (NO distinct — raw
    * multiplicity is the count being modeled) → ONE gram-keyed count
    * (∝ corpus tokens, map-side combine) → frequency-of-frequencies
    * histogram (cells ∝ distinct counts) → a broadcast join onto the
    * fixed (GtMaxR+1)-row class grid. Constant row count at any
    * corpus scale. */
  def goodTuring(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.wsTokens(lower(col("text")))
    val freq = documents(s, dir)
      .select(toks.as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(explode(transform(sequence(lit(1), size(col("ts")) - 2),
        i => concat_ws(" ",
          element_at(col("ts"), i), element_at(col("ts"), i + 1),
          element_at(col("ts"), i + 2)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val hist = freq.groupBy(col("f")).agg(count(lit(1)).as("nr"))
    val tot = freq.agg(sum(col("f")).as("n_tokens"))
    val grid = tot.select(explode(sequence(lit(0L), lit(GtMaxR.toLong))).as("r"))
    grid
      .join(hist.select(col("f").as("r"), col("nr").as("n_types")), Seq("r"), "left_outer")
      .join(hist.select((col("f") - 1L).as("r"), col("nr").as("n_next")), Seq("r"), "left_outer")
      .na.fill(0L, Seq("n_types", "n_next"))
      .crossJoin(broadcast(tot)) // 1-row scalar frame
      .select(col("r"), col("n_types"), col("n_next"), col("n_tokens"),
        expr("(r * n_types * 1000) div n_tokens").as("raw_mass_pm"),
        expr("((r + 1) * n_next * 1000) div n_tokens").as("gt_mass_pm"),
        pround(((col("r") + 1L) * col("n_next")).cast("double") /
          when(col("n_types") === 0L, lit(null)).otherwise(col("n_types")).cast("double"), 6)
          .as("r_star"))
  }

  val goodTuringSql: String =
    s"""WITH toks AS (
       |  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
       |  FROM documents),
       |tri AS (
       |  SELECT unnest([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
       |                 for i in range(1, len(ts) - 1)]) AS w
       |  FROM toks WHERE len(ts) >= 3),
       |freq AS (SELECT w, count(*)::BIGINT AS f FROM tri GROUP BY w),
       |hist AS (SELECT f, count(*)::BIGINT AS nr FROM freq GROUP BY f),
       |tot AS (SELECT sum(f)::BIGINT AS n_tokens FROM freq),
       |grid AS (SELECT r::BIGINT AS r FROM (SELECT unnest(range(0, ${GtMaxR + 1})) AS r))
       |SELECT g.r,
       |  coalesce(h.nr, 0)::BIGINT AS n_types,
       |  coalesce(h2.nr, 0)::BIGINT AS n_next,
       |  t.n_tokens,
       |  (g.r * coalesce(h.nr, 0) * 1000 // t.n_tokens)::BIGINT AS raw_mass_pm,
       |  ((g.r + 1) * coalesce(h2.nr, 0) * 1000 // t.n_tokens)::BIGINT AS gt_mass_pm,
       |  floor((((g.r + 1) * coalesce(h2.nr, 0))::DOUBLE
       |      / nullif(coalesce(h.nr, 0), 0)::DOUBLE)
       |    * 1000000.0 + 0.5) / 1000000.0 AS r_star
       |FROM grid g
       |LEFT JOIN hist h ON h.f = g.r
       |LEFT JOIN hist h2 ON h2.f = g.r + 1
       |CROSS JOIN tot t""".stripMargin

  /** [[textrankKeywords]] conventions: candidate tokens are
    * lowercase alphabetic runs of ≥ [[TrMinLen]] chars outside the
    * union stopword profile (the POS-filter stand-in — Mihalcea &
    * Tarau keep nouns/adjectives; without a tagger, the
    * content-word heuristic is the documented swap point);
    * co-occurrence window [[TrWindow]] over ORIGINAL token
    * positions; [[TrRounds]] unrolled weighted-PageRank rounds on
    * the I10 integer lattice (×10⁶ ranks, 0.85 damping as
    * `85·x div 100`); top [[TrTopK]] keywords per doc. */
  val TrWindow = 2
  val TrRounds = 2
  val TrTopK = 3
  val TrMinLen = 3
  val TrScale = 1000000L
  val TrBase = 150000L

  private val trStops: Seq[String] =
    TextFns.stopwords.values.flatten.toSeq.distinct.sorted

  /** K184: TEXTRANK KEYWORD EXTRACTION — Mihalcea & Tarau's
    * TextRank (EMNLP 2004): per document, rank candidate words by
    * weighted PageRank over their co-occurrence graph (edge u–v
    * with weight = co-occurrences within [[TrWindow]] positions,
    * both directions) and keep the top [[TrTopK]] — the unsupervised
    * keyword baseline TF-IDF (H10) can't match, because TF-IDF
    * scores words in isolation while TextRank scores them by the
    * company they keep. Rank recurrence on the I10 PageRankIter
    * integer lattice: r' = 0.15·S + 0.85·Σ_u w_uv·(r_u div wdeg_u)
    * (the per-NODE division of the I10 "pre" form — one div per
    * node, then a multiply per edge), every division integral,
    * [[TrRounds]] unrolled rounds — the
    * iterative-graph-as-exact-arithmetic trick, so the oracle
    * hash-matches. Isolated candidates (no co-survivor in window)
    * settle at the 0.15 base and rank below any connected word.
    *
    * Shape: one map-side pass per document — survivors and window
    * pairs from one kernel, the rank rounds and the top-K from a
    * second; no shuffle, no per-doc loop, no collect. */
  def textrankKeywords(s: SparkSession, dir: String): DataFrame =
    // the WHOLE query is map-side: every operator of the rank tail is
    // doc-keyed, so nothing ever needs to cross docs, and
    // [[graft.plans.TrRank]] runs the symmetrize/weight/wdeg/rounds/
    // top-k pipeline per doc on the [[graft.plans.TrSurvPairs]]
    // struct. Zero exchanges, zero checkpoints: warm 3.533 → 0.373 s
    // against the distributed rank tail (OPTIMIZATION_r14.md row 21).
    documents(s, dir)
      .select(col("doc_id"),
        explode(call_function("tr_rank",
          call_function("tr_surv_pairs", lower(col("text")),
            lit(TrMinLen), lit(TrWindow), lit(trStops.mkString(" "))),
          lit(TrRounds), lit(TrTopK), lit(TrScale), lit(TrBase))).as("k"))
      .select(col("doc_id"), col("k.tok").as("tok"),
        col("k.rnk").as("rnk"), col("k.rank_pm").as("rank_pm"))

  /** The per-doc survivor/pairs frame of the
    * [[graft.plans.TrSurvPairs]] kernel, for plan probing (PlanProbe
    * `textrank_sp_frame`) and the distributed rank replay in
    * TextOpsSpec. */
  private[graft] def trSpFrame(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        call_function("tr_surv_pairs", lower(col("text")),
          lit(TrMinLen), lit(TrWindow),
          lit(trStops.mkString(" "))).as("sp"))

  lazy val textrankKeywordsSql: String = {
    val stops = trStops.map(t => s"'$t'").mkString(", ")
    val rounds = (1 to TrRounds).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""m$i AS (
         |  SELECT e.doc_id, e.dst,
         |    sum(e.w * (r.r // d.wdeg))::BIGINT AS m
         |  FROM sym e
         |  JOIN $prev r ON e.doc_id = r.doc_id AND e.src = r.node
         |  JOIN wdeg d ON e.doc_id = d.doc_id AND e.src = d.src
         |  GROUP BY 1, 2),
         |r$i AS (
         |  SELECT n.doc_id, n.node,
         |    ($TrBase + (85 * coalesce(m.m, 0)) // 100)::BIGINT AS r
         |  FROM nodes n LEFT JOIN m$i m
         |    ON n.doc_id = m.doc_id AND n.node = m.dst)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH surv AS (
       |  SELECT doc_id, pos, tok FROM (
       |    SELECT doc_id,
       |      generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
       |    FROM (SELECT doc_id,
       |            list_filter(string_split(lower(text), ' '), t -> t <> '')
       |            AS toks
       |          FROM documents))
       |  WHERE regexp_full_match(tok, '[a-z]{$TrMinLen,}')
       |    AND tok NOT IN ($stops)),
       |nodes AS (SELECT DISTINCT doc_id, tok AS node FROM surv),
       |edg AS (
       |  SELECT a.doc_id, a.tok AS src, b.tok AS dst
       |  FROM surv a JOIN surv b ON a.doc_id = b.doc_id
       |    AND b.pos > a.pos AND b.pos - a.pos <= $TrWindow
       |    AND a.tok <> b.tok),
       |sym AS (
       |  SELECT doc_id, src, dst, count(*)::BIGINT AS w FROM (
       |    SELECT doc_id, src, dst FROM edg
       |    UNION ALL SELECT doc_id, dst, src FROM edg)
       |  GROUP BY 1, 2, 3),
       |wdeg AS (SELECT doc_id, src, sum(w)::BIGINT AS wdeg
       |         FROM sym GROUP BY 1, 2),
       |r0 AS (SELECT doc_id, node, ${TrScale}::BIGINT AS r FROM nodes),
       |$rounds
       |SELECT doc_id, node AS tok, rnk, r AS rank_pm FROM (
       |  SELECT doc_id, node, r,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY r DESC, node) AS rnk
       |  FROM r$TrRounds) WHERE rnk <= $TrTopK""".stripMargin
  }
}
