package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.core.{PrefixScan, Tables}
import org.apache.spark.sql.graft.VectorExprs.md5Long

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.E).
  *
  * All four are pure per-row projections — shuffle-free, whole-stage
  * codegen'd, linear scale-out: at 100 TB each is a single map stage over
  * the scan with column pruning (only doc_id+text read). Hashes are md5 so
  * the DuckDB oracle reproduces them bit-for-bit; arithmetic is written
  * with the exact same operation order as the oracle SQL so doubles match
  * to the last bit.
  */
object TextAnalysis {

  private def toks: Column = split(col("text"), " ")

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter/digit runs vs single punctuation marks). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      regexp_count(col("text"), lit("[a-z0-9]+|[^a-z0-9 ]")).as("n_bpe"))

  def txTokens(spark: SparkSession, dir: String): DataFrame =
    tokenCounts(Tables.documents(spark, dir)).orderBy("doc_id")

  val txTokensSql: String =
    """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |  len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS n_bpe
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: length/alpha/punctuation/stopword signals combined
    * into one [0,1] score — the standard pre-training corpus filter shape. */
  // The four rule signals, factored so [[calibration]] reuses the EXACT
  // same expression tree as [[quality]] (bit-identical label decisions).
  private def qn = length(col("text")).cast(DoubleType)
  private def qAlphaRatio: Column =
    length(regexp_replace(col("text"), "[^a-z]", "")).cast(DoubleType) / qn
  private def qPunctRatio: Column =
    length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast(DoubleType) / qn
  // regexp_count, not size(filter(tokens, ...)): the HOF filter is an
  // interpreted lambda (CodegenFallback) and knocks the whole projection
  // out of whole-stage codegen (asserted in PlanSpec). Longest-first
  // alternation so both regex engines match whole words identically.
  private def qStopRatio: Column =
    regexp_count(col("text"), lit("\\b(and|the|of|to|a)\\b"))
      .cast(DoubleType) / size(toks).cast(DoubleType)
  private[operators] def qualityScoreExpr: Column = {
    val nTok = size(toks).cast(DoubleType)
    least(nTok / 50.0, lit(1.0)) * 0.25 + qAlphaRatio * 0.25 +
      (lit(1.0) - qPunctRatio) * 0.25 + least(qStopRatio * 4.0, lit(1.0)) * 0.25
  }

  def quality(docs: DataFrame): DataFrame = {
    val nTok = size(toks).cast(DoubleType)
    val alphaRatio = qAlphaRatio
    val punctRatio = qPunctRatio
    val stopRatio = qStopRatio
    docs.select(
      col("doc_id"),
      nTok.cast(LongType).as("n_tokens"),
      alphaRatio.as("alpha_ratio"),
      punctRatio.as("punct_ratio"),
      stopRatio.as("stop_ratio"),
      (least(nTok / 50.0, lit(1.0)) * 0.25 + alphaRatio * 0.25 +
        (lit(1.0) - punctRatio) * 0.25 +
        least(stopRatio * 4.0, lit(1.0)) * 0.25).as("quality_score"))
  }

  def txQuality(spark: SparkSession, dir: String): DataFrame =
    quality(Tables.documents(spark, dir)).orderBy("doc_id")

  val txQualitySql: String =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id,
      |  CAST(length(text) AS DOUBLE) AS n,
      |  CAST(len(w) AS DOUBLE) AS n_tok,
      |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
      |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct,
      |  CAST(len(regexp_extract_all(text, '\b(and|the|of|to|a)\b')) AS DOUBLE) AS n_stop
      |  FROM t)
      |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
      |  n_alpha / n AS alpha_ratio,
      |  n_punct / n AS punct_ratio,
      |  n_stop / n_tok AS stop_ratio,
      |  least(n_tok / 50.0, 1.0) * 0.25 + (n_alpha / n) * 0.25 +
      |    (1.0 - n_punct / n) * 0.25 + least(n_stop / n_tok * 4.0, 1.0) * 0.25
      |    AS quality_score
      |FROM s ORDER BY doc_id""".stripMargin

  /** n-gram-heuristic language ID: per-language stopword-hit vote with a
    * deterministic precedence order on ties. */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en"),
    "fr" -> Seq("le", "les", "et", "des", "un", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"))

  private def wordAlt(words: Seq[String]): String =
    "\\b(" + words.sortBy(w => (-w.length, w)).mkString("|") + ")\\b"

  def langId(docs: DataFrame): DataFrame = {
    val hits = stopwords.map { case (lang, words) =>
      lang -> regexp_count(col("text"), lit(wordAlt(words))).as(s"h_$lang")
    }
    val Seq(en, es, fr, de) = hits.map { case (l, _) => col(s"h_$l") }
    docs.select(col("doc_id") +: hits.map(_._2): _*)
      .withColumn("lang_pred",
        when(en + es + fr + de === 0, "und")
          .when(en >= es && en >= fr && en >= de, "en")
          .when(es >= fr && es >= de, "es")
          .when(fr >= de, "fr")
          .otherwise("de"))
  }

  def txLangid(spark: SparkSession, dir: String): DataFrame =
    langId(Tables.documents(spark, dir)).orderBy("doc_id")

  val txLangidSql: String =
    """WITH h AS (SELECT doc_id,
      |  len(regexp_extract_all(text, '\b(and|the|is|of|to|a)\b')) AS h_en,
      |  len(regexp_extract_all(text, '\b(que|de|el|en|la|y)\b')) AS h_es,
      |  len(regexp_extract_all(text, '\b(des|les|une|et|le|un)\b')) AS h_fr,
      |  len(regexp_extract_all(text, '\b(das|der|die|ein|ist|und)\b')) AS h_de
      |  FROM documents)
      |SELECT doc_id, h_en, h_es, h_fr, h_de,
      |  CASE WHEN h_en + h_es + h_fr + h_de = 0 THEN 'und'
      |       WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en'
      |       WHEN h_es >= h_fr AND h_es >= h_de THEN 'es'
      |       WHEN h_fr >= h_de THEN 'fr'
      |       ELSE 'de' END AS lang_pred
      |FROM h ORDER BY doc_id""".stripMargin

  /** tx_fertility: tokenizer-fertility report per predicted language —
    * pieces/word (THE tokenizer-eval fertility metric: how many subword
    * pieces the tokenizer spends per whitespace word) and chars/piece,
    * over exact integer sums, for each language [[langId]] routes. The
    * table a tokenizer owner reads before committing a vocab to a
    * multilingual corpus: a language whose fertility is 2x English's
    * pays 2x the sequence length for the same text — compression
    * inequity that directly prices training cost per language. Pieces
    * use [[tokenCounts]]'s BPE-ish regex segmentation (the model-free
    * proxy; a trained tokenizer swaps in tx_bpe_apply's pieces, nothing
    * else changes). One corpus scan (hits + counts in one projection),
    * one languages-sized map-combined aggregate, two final IEEE
    * divisions on exact longs — hash-stable at any scale. */
  def fertility(docs: DataFrame): DataFrame = {
    val hits = stopwords.map { case (lang, words) =>
      regexp_count(col("text"), lit(wordAlt(words))).as(s"h_$lang")
    }
    val Seq(en, es, fr, de) = stopwords.map { case (l, _) => col(s"h_$l") }
    docs.select(Seq(
        size(toks).cast(LongType).as("_w"),
        regexp_count(col("text"), lit("[a-z0-9]+|[^a-z0-9 ]")).as("_p"),
        length(col("text")).cast(LongType).as("_c")) ++ hits: _*)
      .select(
        when(en + es + fr + de === 0, "und")
          .when(en >= es && en >= fr && en >= de, "en")
          .when(es >= fr && es >= de, "es")
          .when(fr >= de, "fr")
          .otherwise("de").as("lang_pred"),
        col("_w"), col("_p"), col("_c"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_w")).as("n_words"),
        sum(col("_p")).as("n_pieces"),
        sum(col("_c")).as("n_chars"))
      .select(col("lang_pred"), col("n_docs"), col("n_words"),
        col("n_pieces"), col("n_chars"),
        (col("n_pieces").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("fertility"),
        (col("n_chars").cast(DoubleType) / col("n_pieces").cast(DoubleType))
          .as("chars_per_piece"))
      .orderBy(col("lang_pred"))
  }

  def txFertility(spark: SparkSession, dir: String): DataFrame =
    fertility(Tables.documents(spark, dir))

  val txFertilitySql: String =
    """WITH h AS (SELECT
      |  len(string_split(text, ' ')) AS w,
      |  len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS p,
      |  length(text) AS c,
      |  len(regexp_extract_all(text, '\b(and|the|is|of|to|a)\b')) AS h_en,
      |  len(regexp_extract_all(text, '\b(que|de|el|en|la|y)\b')) AS h_es,
      |  len(regexp_extract_all(text, '\b(des|les|une|et|le|un)\b')) AS h_fr,
      |  len(regexp_extract_all(text, '\b(das|der|die|ein|ist|und)\b')) AS h_de
      |  FROM documents),
      |t AS (SELECT w, p, c,
      |  CASE WHEN h_en + h_es + h_fr + h_de = 0 THEN 'und'
      |       WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en'
      |       WHEN h_es >= h_fr AND h_es >= h_de THEN 'es'
      |       WHEN h_fr >= h_de THEN 'fr'
      |       ELSE 'de' END AS lang_pred
      |  FROM h)
      |SELECT lang_pred, count(*) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS n_words,
      |  CAST(sum(p) AS BIGINT) AS n_pieces,
      |  CAST(sum(c) AS BIGINT) AS n_chars,
      |  CAST(sum(p) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS fertility,
      |  CAST(sum(c) AS DOUBLE) / CAST(sum(p) AS DOUBLE) AS chars_per_piece
      |FROM t GROUP BY lang_pred ORDER BY lang_pred""".stripMargin

  /** Language-ID evaluation against the curated `lang` label: per-
    * language support / prediction counts, true positives, and
    * precision / recall / F1 — the quality report a curation team runs
    * before trusting a classifier to route 100 TB of documents (and the
    * reason `und`-heavy or unsupported languages, like this corpus's
    * zh, show recall 0 rather than silently vanishing).
    *
    * One corpus scan: the SAME stopword-hit expression as [[langId]]
    * computed next to the label, reduced to a languages²-sized
    * confusion table (map-combined); every later step re-aggregates
    * that tiny table. Metrics are single divisions of exact integer
    * counts (F1 via the harmonic identity 2·tp/(n_pred+n_label) — one
    * terminal division, no p·r/(p+r) double chain), so values are
    * bit-identical cross-engine; 0-denominator cells are NULL. */
  def langIdEval(docs: DataFrame): DataFrame = {
    val hits = stopwords.map { case (lang, words) =>
      regexp_count(col("text"), lit(wordAlt(words))).as(s"h_$lang")
    }
    val Seq(en, es, fr, de) = stopwords.map { case (l, _) => col(s"h_$l") }
    val conf = docs.select(col("lang") +: hits: _*)
      .withColumn("lang_pred",
        when(en + es + fr + de === 0, "und")
          .when(en >= es && en >= fr && en >= de, "en")
          .when(es >= fr && es >= de, "es")
          .when(fr >= de, "fr")
          .otherwise("de"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    // Each confusion cell contributes to TWO per-language rollups (its
    // label row and its prediction row) — emitted as one explode over
    // the tiny table, NOT three separate conf consumers: separate
    // labels/preds/tp branches each re-plan conf's whole lineage, and
    // only identical exchanges get reused, so the corpus scan (4
    // regexp_counts over text) ran multiple times (measured: 1.11 s vs
    // tx_langid's 0.61 at sf0.1 before this shape).
    val tall = conf.select(explode(array(
        struct(lit("l").as("role"), col("lang").as("language"), col("n"),
          (col("lang") === col("lang_pred")).as("eq")),
        struct(lit("p").as("role"), col("lang_pred").as("language"),
          col("n"), lit(false).as("eq")))).as("t"))
      .select(col("t.role").as("role"), col("t.language").as("language"),
        col("t.n").as("n"), col("t.eq").as("eq"))
    tall.groupBy(col("language"))
      .agg(
        coalesce(sum(when(col("role") === "l", col("n"))), lit(0L))
          .as("n_label"),
        coalesce(sum(when(col("role") === "p", col("n"))), lit(0L))
          .as("n_pred"),
        coalesce(sum(when(col("eq"), col("n"))), lit(0L)).as("tp"))
      .withColumn("precision",
        when(col("n_pred") === 0L, lit(null).cast(DoubleType))
          .otherwise(col("tp").cast(DoubleType) / col("n_pred").cast(DoubleType)))
      .withColumn("recall",
        when(col("n_label") === 0L, lit(null).cast(DoubleType))
          .otherwise(col("tp").cast(DoubleType) / col("n_label").cast(DoubleType)))
      .withColumn("f1",
        (lit(2.0) * col("tp").cast(DoubleType)) /
          (col("n_pred") + col("n_label")).cast(DoubleType))
      .orderBy(col("language"))
  }

  def txLangidEval(spark: SparkSession, dir: String): DataFrame =
    langIdEval(Tables.documents(spark, dir))

  val txLangidEvalSql: String =
    """WITH h AS (SELECT lang,
      |  len(regexp_extract_all(text, '\b(and|the|is|of|to|a)\b')) AS h_en,
      |  len(regexp_extract_all(text, '\b(que|de|el|en|la|y)\b')) AS h_es,
      |  len(regexp_extract_all(text, '\b(des|les|une|et|le|un)\b')) AS h_fr,
      |  len(regexp_extract_all(text, '\b(das|der|die|ein|ist|und)\b')) AS h_de
      |  FROM documents),
      |p AS (SELECT lang,
      |  CASE WHEN h_en + h_es + h_fr + h_de = 0 THEN 'und'
      |       WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en'
      |       WHEN h_es >= h_fr AND h_es >= h_de THEN 'es'
      |       WHEN h_fr >= h_de THEN 'fr'
      |       ELSE 'de' END AS lang_pred
      |  FROM h),
      |conf AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2),
      |l AS (SELECT lang AS language, CAST(sum(n) AS BIGINT) AS n_label
      |      FROM conf GROUP BY 1),
      |pr AS (SELECT lang_pred AS language, CAST(sum(n) AS BIGINT) AS n_pred
      |       FROM conf GROUP BY 1),
      |t AS (SELECT lang AS language, n AS tp FROM conf WHERE lang = lang_pred),
      |m AS (SELECT language, coalesce(n_label, 0) AS n_label,
      |        coalesce(n_pred, 0) AS n_pred, coalesce(tp, 0) AS tp
      |      FROM l FULL OUTER JOIN pr USING (language)
      |        LEFT JOIN t USING (language))
      |SELECT language, n_label, n_pred, tp,
      |  CASE WHEN n_pred = 0 THEN NULL
      |       ELSE CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS "precision",
      |  CASE WHEN n_label = 0 THEN NULL
      |       ELSE CAST(tp AS DOUBLE) / CAST(n_label AS DOUBLE) END AS recall,
      |  (2.0 * CAST(tp AS DOUBLE)) / CAST(n_pred + n_label AS DOUBLE) AS f1
      |FROM m ORDER BY language""".stripMargin

  /** Document fingerprinting: full-content md5 plus a 60-bit integer
    * fingerprint (md5-derived so the oracle matches; hot paths with no
    * oracle requirement would use xxhash64, also codegen'd). */
  def fingerprint(docs: DataFrame): DataFrame = {
    // explicit whitespace class, not \s: Java's \s includes \x0B,
    // RE2/DuckDB's does not — the engines must fold identically
    val norm = regexp_replace(col("text"), "[ \\t\\n\\x0B\\f\\r]+", " ")
    docs.select(
      col("doc_id"),
      md5(norm).as("fp"),
      md5Long(norm, 1, 15).as("fp60"))
  }

  def txFingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprint(Tables.documents(spark, dir)).orderBy("doc_id")

  val txFingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fp,
      |  ('0x'||substr(md5(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')),
      |    1, 15))::BIGINT AS fp60
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus novelty per document: the fraction of a doc's word-3-gram
    * occurrences whose shingle FIRST appears (by min doc_id across the
    * corpus) in this doc — the curve curation teams plot to see where a
    * crawl stops contributing new content (novelty collapsing toward 0
    * = the source is exhausted / dominated by templates). Occurrence-
    * weighted by design: no per-doc distinct, so every aggregate is
    * map-side combined and both corpus shuffles (first-seen min, per-doc
    * rollup) carry 8-byte shingle hashes — never text. Ratio is one
    * per-row IEEE division (hash-exact cross-engine). */
  def novelty(docs: DataFrame): DataFrame = {
    val tall = docs.select(col("doc_id"),
      explode(org.apache.spark.sql.graft.VectorExprs
        .shingle3Md5Long(col("text"), 1, 15)).as("sh"))
    val first = tall.groupBy(col("sh")).agg(min(col("doc_id")).as("_fd"))
    tall.join(first, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occ"),
        sum(when(col("_fd") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_occ"), col("n_novel"),
        (col("n_novel").cast(DoubleType) / col("n_occ").cast(DoubleType))
          .as("novelty"))
  }

  def txNovelty(spark: SparkSession, dir: String): DataFrame =
    novelty(Tables.documents(spark, dir)).orderBy("doc_id")

  val txNoveltySql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tall AS (
      |  SELECT doc_id,
      |    unnest(list_transform(
      |      [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)],
      |      x -> ('0x'||substr(md5(x),1,15))::BIGINT)) AS sh
      |  FROM toks WHERE len(w) >= 3),
      |first AS (SELECT sh, min(doc_id) AS fd FROM tall GROUP BY sh)
      |SELECT t.doc_id, count(*) AS n_occ,
      |  CAST(sum(CASE WHEN f.fd = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST(sum(CASE WHEN f.fd = t.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS novelty
      |FROM tall t JOIN first f USING (sh)
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Training-corpus hygiene: mask common PII shapes (emails, phone
    * numbers, IPv4, long digit runs) and normalize whitespace — all
    * codegen'd regexp_replace chains, shuffle-free. Patterns are
    * intentionally conservative (favor recall on obvious shapes over
    * NLP-grade detection, which belongs in a model pass). */
  def scrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // order matters: IP before phone (dotted quads parse as digit groups),
    // phone requires >=3 separator-delimited digit groups so plain digit
    // runs fall through to <NUM>
    val masked = Seq(
      ("""[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
      ("""\b(?:\d{1,3}\.){3}\d{1,3}\b""", "<IP>"),
      // explicit whitespace class, not \s (Java-vs-RE2 \x0B divergence)
      ("""\+?\d+(?:[ \t\n\x0B\f\r().-]+\d+){2,}""", "<PHONE>"),
      ("""\b\d{6,}\b""", "<NUM>"))
      .foldLeft(col(textCol)) { case (c, (pat, repl)) =>
        regexp_replace(c, pat, repl)
      }
    docs.withColumn(textCol,
      trim(regexp_replace(masked, """[ \t\n\x0B\f\r]+""", " ")))
  }

  /** tx_pii: driver-checked PII scrub. The corpus carries no real PII,
    * so every shape the scrubber handles (email, IPv4, phone, long
    * digit run) is synthesized deterministically from doc_id and
    * prepended to the document text; the oracle rebuilds the identical
    * input and applies the identical replacement chain, so the masked
    * output — including pattern precedence (IP before phone, digit runs
    * last) — is verified byte-for-byte. A pure codegen'd projection:
    * shuffle-free at any corpus size. */
  def txPii(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pii = docs.select(col("doc_id"),
      concat(
        lit("reach u"), col("doc_id").cast(StringType),
        lit("@mail.example.org or +1 555 "),
        lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256)).cast(StringType),
        lit(".7 acct "), (col("doc_id") + 100000).cast(StringType),
        lit(" "), col("text")).as("text"))
    scrub(pii).select(col("doc_id"), col("text").as("scrubbed"))
      .orderBy("doc_id")
  }

  val txPiiSql: String =
    """WITH pii AS (
      |  SELECT doc_id,
      |    'reach u' || doc_id || '@mail.example.org or +1 555 ' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |    ' ip 10.0.' || (doc_id % 256) || '.7 acct ' ||
      |    (doc_id + 100000) || ' ' || text AS t
      |  FROM documents)
      |SELECT doc_id,
      |  trim(regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(t,
      |            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |          '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
      |        '\+?\d+(?:[ \t\n\x0B\f\r().-]+\d+){2,}', '<PHONE>', 'g'),
      |      '\b\d{6,}\b', '<NUM>', 'g'),
      |    '[ \t\n\x0B\f\r]+', ' ', 'g')) AS scrubbed
      |FROM pii ORDER BY doc_id""".stripMargin

  /** Corpus-level term frequencies: explode tokens, aggregate, top-k.
    * The shuffle carries (token, partial count) thanks to map-side
    * combine — vocabulary-sized, not corpus-sized. */
  def topTerms(docs: DataFrame, k: Int = 20): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)

  def txTopterms(spark: SparkSession, dir: String): DataFrame =
    topTerms(Tables.documents(spark, dir))

  val txToptermsSql: String =
    """WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT term, count(*) AS n FROM t
      |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin

  /** Corpus-level bigram frequencies — the n-gram LM statistics shape
    * (token-pair counts feed LM smoothing tables, collocation mining,
    * and quality heuristics). Bigrams come from the same codegen'd
    * `arrays_zip`+slice+explode pattern as shingling (no interpreted
    * HOF lambda); the aggregate is map-side combined so the shuffle is
    * vocabulary²-bounded, not corpus-sized. */
  def bigrams(docs: DataFrame, k: Int = 20): DataFrame = {
    val w = split(col("text"), " ")
    docs.select(explode(arrays_zip(w, slice(w, lit(2), size(w)))).as("z"))
      .filter(col("z.1").isNotNull)
      .select(concat_ws(" ", col("z.0"), col("z.1")).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  def txBigrams(spark: SparkSession, dir: String): DataFrame =
    bigrams(Tables.documents(spark, dir))

  val txBigramsSql: String =
    """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
      |b AS (
      |  SELECT unnest([w[i]||' '||w[i+1] for i in range(1, len(w))]) AS bigram
      |  FROM toks WHERE len(w) >= 2)
      |SELECT bigram, count(*) AS n FROM b
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** tx_repetition: per-document repetition signals — the share of the
    * document covered by its most frequent bigram and the distinct-
    * bigram ratio. The standard boilerplate/template detector (heavily
    * repeated n-grams) in pre-training quality filters. Same codegen'd
    * bigram pairing as [[bigrams]]; the (doc, bigram) aggregate is
    * map-side combined and the per-doc rollup shuffles only (doc,
    * count) rows. */
  def repetition(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    val counts = docs
      .select(col("doc_id"),
        explode(arrays_zip(w, slice(w, lit(2), size(w)))).as("z"))
      .filter(col("z.1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("z.0"), col("z.1")).as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_n"), sum(col("n")).as("total"),
        count(lit(1)).as("n_distinct"))
      .select(col("doc_id"), col("top_n"), col("total"), col("n_distinct"),
        (col("top_n").cast(DoubleType) / col("total").cast(DoubleType))
          .as("rep_ratio"),
        (col("n_distinct").cast(DoubleType) / col("total").cast(DoubleType))
          .as("distinct_ratio"))
  }

  def txRepetition(spark: SparkSession, dir: String): DataFrame =
    repetition(Tables.documents(spark, dir)).orderBy("doc_id")

  val txRepetitionSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    unnest([w[i]||' '||w[i+1] for i in range(1, len(w))]) AS bigram
      |  FROM toks WHERE len(w) >= 2),
      |c AS (SELECT doc_id, bigram, count(*) AS n FROM b GROUP BY doc_id, bigram)
      |SELECT doc_id, max(n) AS top_n, CAST(sum(n) AS BIGINT) AS total, count(*) AS n_distinct,
      |  CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS rep_ratio,
      |  CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS distinct_ratio
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-document LEXICAL DIVERSITY via the Simpson/Herfindahl index:
    * 1 − Σ(tf_i/n)² over the doc's term distribution, plus its inverse
    * (the "effective vocabulary" — how many equally-frequent terms
    * would produce the same concentration). The standard
    * entropy-family diversity signal of quality filtering, chosen in
    * its RATIONAL form: Shannon entropy needs ln (libm last-ulp drift
    * breaks the oracle — the tx_tfidf lesson), while Simpson is exact
    * integer moments (n, Σtf²) and ONE division per output, so both
    * engines agree to the bit. Low diversity ⇒ keyword stuffing and
    * template floods; complements [[repetition]] (which tracks only
    * the single top bigram — Simpson sees the whole distribution).
    *
    * Scale: the per-row [[org.apache.spark.sql.graft.VectorExprs
    * .termCounts]] kernel builds each doc's histogram in one string
    * pass; the only shuffle is the map-combined per-doc (3-long)
    * moment aggregate. */
  def diversity(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"),
        explode(org.apache.spark.sql.graft.VectorExprs.termCounts(col("text")))
          .as("tc"))
      .select(col("doc_id"), col("tc.tf").as("tf"))
    tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_terms"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * col("tf")).as("ss"))
      .select(col("doc_id"), col("n_terms"), col("n_distinct"),
        (lit(1.0) - col("ss").cast(DoubleType) /
          (col("n_terms") * col("n_terms")).cast(DoubleType)).as("simpson"),
        ((col("n_terms") * col("n_terms")).cast(DoubleType) /
          col("ss").cast(DoubleType)).as("eff_vocab"))
  }

  def txDiversity(spark: SparkSession, dir: String): DataFrame =
    diversity(Tables.documents(spark, dir)).orderBy("doc_id")

  val txDiversitySql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
      |  GROUP BY doc_id, term),
      |m AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_terms,
      |    count(*) AS n_distinct, CAST(sum(tf * tf) AS BIGINT) AS ss
      |  FROM tf GROUP BY doc_id)
      |SELECT doc_id, n_terms, n_distinct,
      |  1.0 - CAST(ss AS DOUBLE) / CAST(n_terms * n_terms AS DOUBLE)
      |    AS simpson,
      |  CAST(n_terms * n_terms AS DOUBLE) / CAST(ss AS DOUBLE) AS eff_vocab
      |FROM m ORDER BY doc_id""".stripMargin

  /** Corpus-weighted term relevance: top-k terms per doc by tf/df. The
    * score is tf·(1/df) — order-equivalent per doc to classic tf·idf
    * (log is monotone in 1/df) while staying a single IEEE division, so
    * both engines rank identically bit-for-bit; ln(N/df) would drag
    * libm's last-ulp drift into the oracle. Shuffle shape at 100 TB:
    * (doc, term) tf with map-side combine, a vocabulary-sized df table
    * (AQE-broadcast into the join), one doc-keyed window. */
  /** @param broadcastDf true (default): the vocabulary-sized df table is
    *   BROADCAST back onto the tf stream, so no corpus-token rows ever
    *   cross an exchange before the WindowGroupLimit-pruned per-doc
    *   top-k (≤k rows/doc/partition) — each doc's tokens are emitted in
    *   the doc's own scan partition. Vocabulary grows sublinearly in
    *   corpus size (Heaps' law), so word-level df fits a broadcast far
    *   past this benchmark's scale; the tf side pays a second termCounts
    *   parse (one branch per consumer), measurably cheaper than shipping
    *   every token's string through a th-keyed exchange (x100: 1.6 s
    *   broadcast vs 3.3 s single-pass window vs 3.4 s shuffle_hash).
    *   false: unbounded-vocab corpora (e.g. terms = shingles/URLs, or
    *   df alone exceeding executor memory) take the scale-safe
    *   single-pass formulation — df as count().over(partitionBy(th)),
    *   one corpus-token exchange keyed on the radix-sortable long hash,
    *   no join, nothing vocabulary-bounded. Both paths are bit-identical
    *   (spec-pinned). */
  def tfidf(docs: DataFrame, k: Int = 3, broadcastDf: Boolean = true,
            fused: Boolean = false): DataFrame = {
    if (fused) return tfidfFused(docs, k)
    // tf is a PER-ROW computation (a document is one row): the native
    // termCounts kernel builds each doc's term histogram in one string
    // pass, so no corpus-wide groupBy(doc_id, term) shuffle exists at
    // all — the naive formulation moved every token's string across
    // the wire only to land back on rows that started together.
    val tf = docs.select(col("doc_id"),
        explode(org.apache.spark.sql.graft.VectorExprs.termCounts(col("text")))
          .as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
      .withColumn("th", xxhash64(col("term")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    val scored =
      if (broadcastDf) {
        // df's exchange is vocab-sized (map-side combine collapses each
        // partition's tokens to its local vocab before the wire). The df
        // branch never needs term STRINGS or tf counts — the
        // distinctTermHashes kernel emits just the per-doc distinct
        // xxhash64 longs (bit-identical to xxhash64 over termCounts'
        // terms, spec-pinned), skipping the struct/slice materialization
        // the second termCounts parse paid.
        val df = docs.select(explode(
            org.apache.spark.sql.graft.VectorExprs
              .distinctTermHashes(col("text"))).as("th"))
          .groupBy(col("th")).agg(count(lit(1)).as("df"))
        tf.join(broadcast(df), Seq("th"))
      } else {
        tf.withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("th"))))
      }
    scored
      .withColumn("score", col("tf").cast(DoubleType) / col("df").cast(DoubleType))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Fully-fused tfidf serve: the broadcast-df plan above still paid,
    * per token OCCURRENCE, an exploded UnsafeRow, a join probe, and the
    * WindowGroupLimit sort machinery — only to keep ≤k rows/doc that the
    * originating document could have selected itself. This path is the
    * lmScore broadcast-model shape end-to-end: the vocab-sized df table
    * (same distinctTermHashes aggregate) collects into a primitive
    * long→long map ONCE per job (Heaps' law bounds word vocab far past
    * corpus scale — the documented [[tfidf]] broadcastDf contract; the
    * `broadcastDf = false` window form remains the unbounded-vocab
    * fallback), and one mapPartitions pass per doc builds the term
    * histogram (the TermCounts loop verbatim), scores tf/df via one map
    * probe per DISTINCT term, and insertion-selects the top k in place.
    * No explode, no join, no window exchange: the only corpus-side
    * shuffle left is the caller's output orderBy. Bit-equal to the
    * declarative paths (spec-pinned): same tf (string-keyed histogram),
    * same th = xxhash64(term bytes), same IEEE tf/df division, same
    * (score DESC, term ASC) total order — UTF8String.compareTo is the
    * byte-wise order StringType sorts use.
    *
    * Lifecycle: construction runs ZERO jobs (DeferredDF — the df
    * collect + broadcast happen at first action, like every other lazy
    * operator), and every broadcast created here is registered so
    * [[releaseFusedBroadcasts]] can unpersist executor copies between
    * bench reps instead of accumulating them for the SparkContext's
    * life. */
  private val tfidfFusedSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false),
    StructField("df", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** Broadcasts created by fused-serve executions. unpersist (NOT
    * destroy): executors drop their blocks, the driver copy remains, so
    * an already-built plan can still re-execute — TorrentBroadcast
    * re-ships blocks lazily on the next read. */
  private val fusedBroadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.broadcast.Broadcast[_]]()

  def releaseFusedBroadcasts(): Unit = {
    var b = fusedBroadcasts.poll()
    while (b != null) { b.unpersist(false); b = fusedBroadcasts.poll() }
  }

  private def tfidfFused(docs: DataFrame, k: Int): DataFrame =
    org.apache.spark.sql.graft.DeferredDF(docs.sparkSession,
      tfidfFusedSchema, () => tfidfFusedPlan(docs, k))

  private def tfidfFusedPlan(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    val dfRows = docs.select(explode(
        org.apache.spark.sql.graft.VectorExprs
          .distinctTermHashes(col("text"))).as("th"))
      .groupBy(col("th")).agg(count(lit(1)).as("df"))
      .collect()
    val dfMap = new graft.core.LongLongMap(math.max(dfRows.length, 16))
    var i = 0
    while (i < dfRows.length) {
      dfMap.put(dfRows(i).getLong(0), dfRows(i).getLong(1)); i += 1
    }
    val bc = spark.sparkContext.broadcast(dfMap)
    fusedBroadcasts.add(bc)
    val outSchema = tfidfFusedSchema
    val kk = k
    docs.select(col("doc_id"), col("text").cast("binary"))
      .mapPartitions { iter =>
        val m = bc.value
        iter.flatMap { row =>
          val bytes = row.getAs[Array[Byte]](1)
          if (bytes == null) Iterator.empty
          else {
            // per-doc histogram: the TermCounts loop (string-keyed — two
            // terms colliding on xxhash64 keep separate tf rows, exactly
            // like the explode path; only df merges, as the th-keyed
            // join already did)
            val n = bytes.length
            val hist = new java.util.LinkedHashMap[
              org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
            var p = 0
            while (p <= n) {
              var j = p
              while (j < n && bytes(j) != ' ') j += 1
              if (j > p) {
                val t = org.apache.spark.unsafe.types.UTF8String
                  .fromBytes(bytes, p, j - p)
                val c = hist.get(t)
                hist.put(t, if (c == null) 1L else c.longValue() + 1L)
              }
              p = j + 1
            }
            if (hist.isEmpty) Iterator.empty
            else {
              // in-place top-k by (score DESC, term ASC): one insertion
              // pass over the distinct-term entries
              val selT = new Array[org.apache.spark.unsafe.types.UTF8String](kk)
              val selTf = new Array[Long](kk)
              val selDf = new Array[Long](kk)
              val selSc = new Array[Double](kk)
              var filled = 0
              val it = hist.entrySet().iterator()
              while (it.hasNext) {
                val e = it.next()
                val t = e.getKey
                val tf = e.getValue.longValue()
                val th = org.apache.spark.sql.catalyst.expressions.XXH64
                  .hashUnsafeBytes(t.getBaseObject, t.getBaseOffset,
                    t.numBytes, 42L)
                val df = m.get(th)
                val sc = tf.toDouble / df.toDouble
                // find insertion slot among the current top `filled`
                var pos = filled
                while (pos > 0 && (sc > selSc(pos - 1) ||
                  (sc == selSc(pos - 1) && t.compareTo(selT(pos - 1)) < 0)))
                  pos -= 1
                if (pos < kk) {
                  val last = math.min(filled, kk - 1)
                  var q = last
                  while (q > pos) {
                    selT(q) = selT(q - 1); selTf(q) = selTf(q - 1)
                    selDf(q) = selDf(q - 1); selSc(q) = selSc(q - 1)
                    q -= 1
                  }
                  selT(pos) = t; selTf(pos) = tf; selDf(pos) = df
                  selSc(pos) = sc
                  if (filled < kk) filled += 1
                }
              }
              val docId = row.getLong(0)
              (0 until filled).iterator.map { r =>
                Row(docId, r + 1, selT(r).toString, selTf(r), selDf(r),
                  selSc(r))
              }
            }
          }
        }
      }(Encoders.row(outSchema)).toDF()
  }

  def txTfidf(spark: SparkSession, dir: String): DataFrame =
    tfidf(Tables.documents(spark, dir), fused = true)
      .orderBy(col("doc_id"), col("rank"))

  /** Lexical retrieval: BM25 top-k over the corpus — the search half a
    * curation pipeline needs beside vector ANN (contamination hunts,
    * "more like this" corpus exploration, hybrid retrieval). Every
    * doc_id ≡ 0 (mod qmod) doc becomes a query; its query string is its
    * `qterms` highest-tf terms (ties by term — the keyword-search
    * shape), and every other doc is scored with BM25 (k1 = 1.2,
    * b = 0.75).
    *
    * Cross-engine exactness (the lm_score/tx_unigram rule): idf uses
    * the integer bitlen -log2 surrogate `length(bin(N)) -
    * length(bin(df))` — no libm — and each matched term's contribution
    * is FLOORed at 2^20 fixed-point BEFORE the sum, so the per-(q,doc)
    * score is an exact integer sum (order-free) instead of a float
    * whose value depends on reduction order.
    *
    * Shuffle shape at 100 TB: tf and dl are per-row projections off the
    * scan (termCounts kernel; no corpus exchange); corpus tokens are
    * filtered to query-term hits map-side before the only corpus
    * exchange — the (q_id, doc_id) partial-aggregated sum, whose volume
    * is hit-bounded, then a WindowGroupLimit top-k. On a real
    * (sparse-vocab) corpus the query-term semi-join is highly
    * selective; the 31-word synthetic vocab is the dense worst case and
    * still one bounded exchange.
    *
    * Broadcast safety: the query-term table and the vocab-sized df
    * table broadcast ONLY under counted thresholds
    * (`graft.bm25.maxBroadcastQueryTerms` /
    * `graft.bm25.maxBroadcastVocab`, both default 10M rows — the
    * [[graft.operators.Dedup.substrDedup]] involved-set pattern); over
    * a gate the join plans as a plain shuffled equi-join, so a
    * corpus-proportional derived query set or an unbounded (shingle/
    * URL-keyed) vocabulary degrades to extra exchanges instead of a
    * driver OOM. The gate counts run at first ACTION (the DataFrame is
    * a [[org.apache.spark.sql.graft.DeferredDF]]), never at plan time.
    *
    * `queries`: an EXTERNAL (q_id: Long, term: String) table — the
    * production serving/contamination shape, where the caller brings a
    * fixed-size query set and |Q| is caller-bounded instead of growing
    * with the corpus via `qmod` sampling. With `queries` supplied the
    * qmod derivation (and its self-hit exclusion, which is meaningless
    * for external query ids) is skipped. */
  def bm25(docs: DataFrame, qmod: Int = 101, qterms: Int = 3,
           topk: Int = 5, queries: Option[DataFrame] = None): DataFrame =
    org.apache.spark.sql.graft.DeferredDF(docs.sparkSession,
      StructType(Seq(
        StructField("q_id", LongType, nullable = true),
        StructField("rank", IntegerType, nullable = false),
        StructField("doc_id", LongType, nullable = true),
        StructField("n_hits", LongType, nullable = false),
        StructField("score_fp", LongType, nullable = true))),
      () => bm25Plan(docs, qmod, qterms, topk, queries, None, None))

  /** The qmod-derived query-term table (q_id, term): each doc_id ≡ 0
    * (mod qmod) contributes its `qterms` highest-tf terms (ties by
    * term). Exposed so a caller can derive a FIXED query set from a
    * bounded corpus slice once and feed it back through
    * `bm25(queries = ...)` — the caller-bounded production shape whose
    * hit mass grows linearly with the corpus instead of with N²/qmod. */
  def bm25QueryTerms(docs: DataFrame, qmod: Int = 101,
                     qterms: Int = 3): DataFrame = {
    val tf = docs.select(col("doc_id"),
        explode(org.apache.spark.sql.graft.VectorExprs
          .termCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tf").desc, col("term"))
    tf.filter(pmod(col("doc_id"), lit(qmod)) === 0)
      .withColumn("_qr", row_number().over(qw))
      .filter(col("_qr") <= qterms)
      .select(col("doc_id").as("q_id"), col("term"))
  }

  private[graft] def bm25Plan(docs: DataFrame, qmod: Int, qterms: Int,
      topk: Int, queries: Option[DataFrame],
      nQtOverride: Option[Long], nDfOverride: Option[Long]): DataFrame = {
    val conf = docs.sparkSession.conf
    val maxQt = conf.getOption("graft.bm25.maxBroadcastQueryTerms")
      .map(_.toLong).getOrElse(10000000L)
    val maxDf = conf.getOption("graft.bm25.maxBroadcastVocab")
      .map(_.toLong).getOrElse(10000000L)
    // tf rides with dl (token count) off one projection: no doc-keyed
    // join anywhere. th = xxhash64(term) keys the df join (the tfidf
    // trick): the df pass then never materializes term strings — its
    // map-combined partial carries 8-byte longs — and a 64-bit hash
    // collision merging two terms' df counts is negligible at any
    // realistic vocabulary.
    // dl = Σ tf over the SAME termCounts array (the kernel's split-on-' '
    // semantics equal split+filter≠'', so the sum IS the filtered token
    // count) — the previous separate size(filter(split(text))) tokenized
    // every doc a SECOND time inside the hot tf projection. The counts
    // array is a named alias referenced twice (aggregate + explode);
    // CollapseProject DECLINES to collapse a non-cheap alias used more
    // than once, which is what preserves the single per-row evaluation.
    val tf = docs.select(col("doc_id"),
        org.apache.spark.sql.graft.VectorExprs.termCounts(col("text"))
          .as("_tc"))
      .select(col("doc_id"),
        expr("aggregate(_tc, 0L, (a, x) -> a + x.tf)").as("dl"),
        explode(col("_tc")).as("tc"))
      .select(col("doc_id"), col("dl"),
        col("tc.term").as("term"), col("tc.tf").as("tf"))
      .withColumn("th", xxhash64(col("term")))
    val dlTab = docs.select(col("doc_id"),
      size(filter(split(col("text"), " "), t => t =!= "")).as("dl"))
    val stats = dlTab.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
        .as("avgdl"))
    // the df gate count materializes the lazy checkpoint, so the hit
    // join reuses the vocab-sized rows instead of replaying the scan
    val dfTab = docs.select(explode(org.apache.spark.sql.graft.VectorExprs
        .distinctTermHashes(col("text"))).as("th"))
      .groupBy(col("th")).agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    val external = queries.isDefined
    val qt0 = queries.map(_.select(col("q_id").cast(LongType).as("q_id"),
        col("term").cast(StringType).as("term")))
      .getOrElse(bm25QueryTerms(docs, qmod, qterms))
    // checkpoint ONLY the external path (it is read twice: gate count +
    // join); the derived path is referenced exactly once, so its
    // checkpoint was a pure extra job + materialization barrier
    // (r15 A/B: part of a ~1.2 s q_bm25 regression at sf0.1)
    val qt = if (external) qt0.localCheckpoint(false) else qt0
    // derived queries need NO count job: |qt| ≤ ceil(N/qmod)·qterms and
    // N is a parquet metadata count — only an external query table is
    // counted (caller-bounded, usually small)
    val nQt = nQtOverride.getOrElse {
      if (external) qt.count()
      else (docs.count() / qmod + 1L) * qterms
    }
    // fused serve (the tfidfFused pattern): under BOTH counted gates —
    // exactly when the query-term and df tables are broadcast-safe —
    // the hit pass runs as one mapPartitions kernel over the corpus
    // scan that probes the broadcast qt/df maps per DISTINCT doc term
    // and emits fully-aggregated (q_id, doc_id, n_hits, score_fp) rows.
    // No token explode, no join exchanges, no (q_id, doc_id) groupBy
    // exchange: the only corpus-side shuffle left is the top-k window.
    // Over either gate the shuffled-join plan below remains the
    // unbounded fallback (spec-pinned bit-equal).
    // overlap the fused build's independent driver jobs with the df
    // gate-count scan (§2.6): qt is under its OWN counted gate here, so
    // its collect is memory-safe regardless of the df gate's outcome;
    // if the df gate then fails, the two jobs were wasted work on the
    // rare unbounded-vocab fallback path
    var qtPre: scala.concurrent.Future[Array[org.apache.spark.sql.Row]] = null
    var stPre: scala.concurrent.Future[org.apache.spark.sql.Row] = null
    if (nQt <= maxQt && nDfOverride.isEmpty) {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      qtPre = scala.concurrent.Future(qt.collect())
      stPre = scala.concurrent.Future(stats.first())
    }
    val nDf = nDfOverride.getOrElse(dfTab.count())
    if (nQt <= maxQt && nDf <= maxDf)
      return bm25FusedServe(docs, external, topk, qt, dfTab, stats,
        Option(qtPre), Option(stPre))
    val qtGated = if (nQt <= maxQt) broadcast(qt) else qt
    val dfGated = if (nDf <= maxDf) broadcast(dfTab) else dfTab
    val matched = tf.join(qtGated, Seq("term"))
    val hits = (if (external) matched
                else matched.filter(col("q_id") =!= col("doc_id")))
      .join(dfGated, Seq("th"))
      .crossJoin(broadcast(stats))
      .withColumn("fp", floor(
        lit(1048576.0) * (length(bin(col("n_docs"))) - length(bin(col("df")))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score_fp").desc, col("doc_id"))
    hits.groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), sum(col("fp")).as("score_fp"))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= topk)
      .select(col("q_id"), col("rank"), col("doc_id"), col("n_hits"),
        col("score_fp"))
  }

  /** The fused BM25 hit pass (see [[bm25Plan]]): one corpus scan whose
    * per-doc kernel (a) builds the term histogram with the TermCounts
    * byte loop (verbatim the [[tfidfFused]] loop — same split-on-' '
    * semantics, dl = Σ tf), (b) probes the broadcast term→q_ids map and
    * th→df map once per DISTINCT term, (c) computes each matched term's
    * fp with the identical Catalyst double-expression order
    * (((1048576.0 · idf) · (tf · 2.2)) / (tf + 1.2 · (0.25 + 0.75 ·
    * dl / avgdl)), floor → long — bit-equal by IEEE associativity), and
    * (d) accumulates (n_hits, score_fp) per query locally — integer
    * sums, order-free — emitting final (q_id, doc_id, n_hits, score_fp)
    * rows. Only the top-k window shuffles.
    *
    * Exactness notes: the qt map is keyed on the term STRING (UTF8String
    * bytes) like the term equi-join, duplicates retained so an external
    * query table with repeated (q_id, term) rows scores identically; df
    * probes by th = xxhash64(term, seed 42) like the th-keyed join; idf
    * bitlen via numberOfLeadingZeros ≡ length(bin(x)) for x ≥ 1; the
    * derived path's self-hit exclusion (q_id ≠ doc_id) applies in the
    * kernel. */
  private def bm25FusedServe(docs: DataFrame, external: Boolean,
      topk: Int, qt: DataFrame, dfTab: DataFrame, stats: DataFrame,
      qtPre: Option[scala.concurrent.Future[Array[Row]]] = None,
      stPre: Option[scala.concurrent.Future[Row]] = None): DataFrame = {
    val spark = docs.sparkSession
    // driver-side model build: all three inputs are gate-bounded and
    // INDEPENDENT — run their jobs concurrently (guide §2.6) so the
    // fused path's pre-pass is one barrier, not three serial jobs (the
    // declarative plan built them as parallel broadcast subtrees);
    // qt/stats may already be in flight, overlapped with the gate count
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val qtF = qtPre.getOrElse(Future(qt.collect()))
    val dfF = Future(dfTab.collect())
    val stF = stPre.getOrElse(Future(stats.first()))
    val qtRows = Await.result(qtF, Duration.Inf)
    val qtMap = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, java.util.ArrayList[java.lang.Long]](
      math.max(qtRows.length * 2, 16))
    var i = 0
    while (i < qtRows.length) {
      val r = qtRows(i)
      val term = r.getAs[String](1)
      if (term != null) { // a null term never matches the equi-join
        val k = org.apache.spark.unsafe.types.UTF8String.fromString(term)
        var l = qtMap.get(k)
        if (l == null) { l = new java.util.ArrayList[java.lang.Long](4); qtMap.put(k, l) }
        l.add(if (r.isNullAt(0)) null
              else java.lang.Long.valueOf(r.getLong(0)))
      }
      i += 1
    }
    val dfRows = Await.result(dfF, Duration.Inf)
    val dfMap = new graft.core.LongLongMap(math.max(dfRows.length, 16))
    i = 0
    while (i < dfRows.length) {
      dfMap.put(dfRows(i).getLong(0), dfRows(i).getLong(1)); i += 1
    }
    val st = Await.result(stF, Duration.Inf)
    val nDocs = st.getLong(0)
    val avgdl = st.getDouble(1)
    val bcQt = spark.sparkContext.broadcast(qtMap)
    val bcDf = spark.sparkContext.broadcast(dfMap)
    fusedBroadcasts.add(bcQt)
    fusedBroadcasts.add(bcDf)
    val pairSchema = StructType(Seq(
      StructField("q_id", LongType, nullable = true),
      StructField("doc_id", LongType, nullable = true),
      StructField("n_hits", LongType, nullable = false),
      StructField("score_fp", LongType, nullable = true)))
    val nDocsBits = 64 - java.lang.Long.numberOfLeadingZeros(nDocs)
    val ext = external
    val pairs = docs.select(col("doc_id"), col("text").cast("binary"))
      .mapPartitions { iter =>
        val qm = bcQt.value
        val dm = bcDf.value
        iter.flatMap { row =>
          val bytes = row.getAs[Array[Byte]](1)
          if (bytes == null) Iterator.empty
          else {
            // per-doc histogram: the TermCounts loop (string-keyed)
            val n = bytes.length
            val hist = new java.util.LinkedHashMap[
              org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
            var p = 0
            while (p <= n) {
              var j = p
              while (j < n && bytes(j) != ' ') j += 1
              if (j > p) {
                val t = org.apache.spark.unsafe.types.UTF8String
                  .fromBytes(bytes, p, j - p)
                val c = hist.get(t)
                hist.put(t, if (c == null) 1L else c.longValue() + 1L)
              }
              p = j + 1
            }
            if (hist.isEmpty) Iterator.empty
            else {
              // dl = Σ tf over the SAME histogram (≡ the aggregate over
              // termCounts in the projection path)
              var dl = 0L
              val dlIt = hist.values().iterator()
              while (dlIt.hasNext) dl += dlIt.next().longValue()
              val docId = row.getLong(0)
              // per-query accumulators for THIS doc
              val acc = new java.util.LinkedHashMap[java.lang.Long, Array[Long]]()
              val it = hist.entrySet().iterator()
              while (it.hasNext) {
                val e = it.next()
                val qs = qm.get(e.getKey)
                if (qs != null) {
                  val t = e.getKey
                  val tf = e.getValue.longValue()
                  val th = org.apache.spark.sql.catalyst.expressions.XXH64
                    .hashUnsafeBytes(t.getBaseObject, t.getBaseOffset,
                      t.numBytes, 42L)
                  val df = dm.get(th)
                  val idf = (nDocsBits -
                    (64 - java.lang.Long.numberOfLeadingZeros(df))).toDouble
                  val fp = math.floor(1048576.0 * idf * (tf * 2.2) /
                    (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))).toLong
                  var qi = 0
                  while (qi < qs.size()) {
                    val q = qs.get(qi)
                    // derived queries never rank their own doc
                    if (ext || q == null || q.longValue() != docId) {
                      var a = acc.get(q)
                      if (a == null) { a = new Array[Long](2); acc.put(q, a) }
                      a(0) += 1L
                      a(1) += fp
                    }
                    qi += 1
                  }
                }
              }
              if (acc.isEmpty) Iterator.empty
              else {
                val out = new Array[Row](acc.size())
                var oi = 0
                val ai = acc.entrySet().iterator()
                while (ai.hasNext) {
                  val e = ai.next()
                  out(oi) = Row(e.getKey, docId, e.getValue()(0), e.getValue()(1))
                  oi += 1
                }
                out.iterator
              }
            }
          }
        }
      }(Encoders.row(pairSchema)).toDF()
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score_fp").desc, col("doc_id"))
    pairs
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= topk)
      .select(col("q_id"), col("rank"), col("doc_id"), col("n_hits"),
        col("score_fp"))
  }

  def qBm25(spark: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(spark, dir)).orderBy(col("q_id"), col("rank"))

  /** The caller-bounded production shape as a first-class query: the
    * query-term table derives ONCE from a fixed doc_id slice
    * (doc_id < 2020 — constant however large the corpus grows), then
    * feeds bm25's external `queries` overload. |Q| stays fixed as N
    * scales, so hit mass — and the one corpus exchange — grows
    * linearly with corpus tokens instead of N²/qmod. External query
    * ids never self-exclude (the id space belongs to the caller), so
    * a query doc that matches its own terms ranks itself — the oracle
    * replicates exactly that. */
  def qBm25Fixed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val qt = bm25QueryTerms(docs.filter(col("doc_id") < 2020L),
      qmod = 101, qterms = 3)
    bm25(docs, topk = 5, queries = Some(qt)).orderBy(col("q_id"), col("rank"))
  }

  val qBm25FixedSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
      |  GROUP BY doc_id, term),
      |dl AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
      |  FROM documents),
      |stats AS (
      |  SELECT count(*) AS n_docs,
      |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      |  FROM dl),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |qt AS (
      |  SELECT doc_id AS q_id, term FROM (
      |    SELECT doc_id, term,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS qr
      |    FROM tf WHERE doc_id < 2020 AND doc_id % 101 = 0) WHERE qr <= 3),
      |hit AS (
      |  SELECT qt.q_id, tf.doc_id,
      |    FLOOR(CAST(1048576.0 AS DOUBLE) *
      |      (length(bin(stats.n_docs)) - length(bin(dfx.df))) *
      |      (tf.tf * CAST(2.2 AS DOUBLE)) /
      |      (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
      |        CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl))) AS fp
      |  FROM tf JOIN qt USING (term) JOIN dfx USING (term)
      |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
      |sc AS (
      |  SELECT q_id, doc_id, count(*) AS n_hits,
      |    CAST(sum(fp) AS BIGINT) AS score_fp
      |  FROM hit GROUP BY q_id, doc_id),
      |rk AS (
      |  SELECT q_id, doc_id, n_hits, score_fp,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY score_fp DESC, doc_id) AS rank
      |  FROM sc)
      |SELECT q_id, rank, doc_id, n_hits, score_fp FROM rk WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  val qBm25Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
      |  GROUP BY doc_id, term),
      |dl AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
      |  FROM documents),
      |stats AS (
      |  SELECT count(*) AS n_docs,
      |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      |  FROM dl),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |qt AS (
      |  SELECT doc_id AS q_id, term FROM (
      |    SELECT doc_id, term,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS qr
      |    FROM tf WHERE doc_id % 101 = 0) WHERE qr <= 3),
      |hit AS (
      |  -- every inexact literal is cast to DOUBLE: DuckDB parses bare
      |  -- decimal literals as DECIMAL, whose exact arithmetic would
      |  -- diverge from Spark's IEEE doubles before the FLOOR
      |  SELECT qt.q_id, tf.doc_id,
      |    FLOOR(CAST(1048576.0 AS DOUBLE) *
      |      (length(bin(stats.n_docs)) - length(bin(dfx.df))) *
      |      (tf.tf * CAST(2.2 AS DOUBLE)) /
      |      (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
      |        CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl))) AS fp
      |  FROM tf JOIN qt USING (term) JOIN dfx USING (term)
      |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      |  WHERE qt.q_id <> tf.doc_id),
      |sc AS (
      |  SELECT q_id, doc_id, count(*) AS n_hits,
      |    CAST(sum(fp) AS BIGINT) AS score_fp
      |  FROM hit GROUP BY q_id, doc_id),
      |rk AS (
      |  SELECT q_id, doc_id, n_hits, score_fp,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY score_fp DESC, doc_id) AS rank
      |  FROM sc)
      |SELECT q_id, rank, doc_id, n_hits, score_fp FROM rk WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  val txTfidfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
      |  GROUP BY doc_id, term),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |s AS (
      |  SELECT doc_id, term, tf, df, tf::DOUBLE / df::DOUBLE AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY tf::DOUBLE / df::DOUBLE DESC, term) AS rank
      |  FROM tf JOIN dfx USING (term))
      |SELECT doc_id, rank, term, tf, df, score FROM s WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** Deterministic corpus vocabulary: the k most frequent terms (ties by
    * term). One map-side-combined (term, count) aggregate — vocabulary-
    * sized shuffle — then a driver-side top-k. A production pipeline
    * trains its vocab once and reuses the table; here it derives
    * reproducibly from the corpus so the oracle can rebuild it. */
  def vocabulary(docs: DataFrame, k: Int = 50): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(k)
      .select(col("term"))

  /** Vocab-table tokenization: token counts against a broadcast
    * vocabulary instead of whitespace heuristics — token budgets
    * ([[Sampling.tokenBudget]]) meter real tokenizer tokens, and a
    * tokenizer is a vocab lookup: an in-vocab word is ONE token, an OOV
    * word falls back to per-character pieces (the BPE fallback shape), so
    * `n_tok_vocab` = hits + sum(length) over misses. The vocab table is
    * bounded (limit k) and BROADCAST: the join adds zero shuffle on the
    * corpus side; the only corpus shuffle is the map-side-combined
    * per-doc aggregate. */
  def tokensVocab(docs: DataFrame, k: Int = 50): DataFrame = {
    val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val voc = broadcast(vocabulary(docs, k).withColumn("_v", lit(1)))
    tok.join(voc, Seq("term"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("_v").isNotNull, 1).otherwise(0)).as("n_vocab"),
        sum(when(col("_v").isNotNull, lit(1))
          .otherwise(length(col("term")))).as("n_tok_vocab"))
  }

  def txTokensVocab(spark: SparkSession, dir: String): DataFrame =
    tokensVocab(Tables.documents(spark, dir)).orderBy("doc_id")

  val txTokensVocabSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tok AS (SELECT doc_id, term FROM t WHERE term <> ''),
      |voc AS (
      |  SELECT term FROM (
      |    SELECT term, count(*) AS n FROM tok GROUP BY term
      |    ORDER BY n DESC, term LIMIT 50)),
      |j AS (
      |  SELECT tok.doc_id, tok.term, v.term IS NOT NULL AS hit
      |  FROM tok LEFT JOIN voc v ON tok.term = v.term)
      |SELECT doc_id, count(*) AS n_words,
      |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab,
      |  CAST(sum(CASE WHEN hit THEN 1 ELSE length(term) END) AS BIGINT) AS n_tok_vocab
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Cross-document boilerplate span removal — the C4/RefinedWeb "remove
    * any span that repeats across the corpus" curation step (nav bars,
    * cookie banners, license footers): non-overlapping `span`-word
    * chunks, a corpus document-frequency count per chunk, and docs
    * reassembled (in order, tail words always kept) from the chunks
    * whose df stays within `maxDf`.
    *
    * Scale: chunking is a projection; the df count shuffles 16-byte
    * md5(chunk) keys with map-side combine, never chunk text; the
    * hot-chunk join is a left anti on the same hash (the hot set is
    * tiny — boilerplate is few DISTINCT strings however many
    * occurrences); reassembly is the one unavoidable corpus-text
    * shuffle, keyed on doc_id. No per-doc quadratics anywhere. */
  def boilerplate(docs: DataFrame, span: Int = 8, maxDf: Int = 1): DataFrame = {
    val words = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    def nc = floor(size(col("ws")) / span).cast("long")
    val chunks = words.filter(size(col("ws")) >= span)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L), nc - 1)).as("ci"))
      .select(col("doc_id"), col("ci"),
        array_join(slice(col("ws"), (col("ci") * span + 1).cast("int"),
          lit(span)), " ").as("chunk"))
      .withColumn("_h", md5(col("chunk")))
    // countDistinct(doc_id), not count(*): df is DOCUMENT frequency — a
    // span repeated within one doc (a refrain) is not cross-doc
    // boilerplate and must survive
    val hot = chunks.groupBy(col("_h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf).select(col("_h"), lit(true).as("_hot"))
    val body = chunks.join(hot, Seq("_h"), "left_outer")
      .filter(col("_hot").isNull)
      .groupBy(col("doc_id")).agg(
        array_join(array_sort(collect_list(struct(col("ci"), col("chunk"))))
          .getField("chunk"), " ").as("body"),
        count(lit(1)).as("n_kept"))
    words.select(col("doc_id"), nc.as("nc"),
        array_join(slice(col("ws"), (nc * span + 1).cast("int"),
          (size(col("ws")) - nc * span).cast("int")), " ").as("tail"))
      .join(body, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        // tail coalesced: Spark concat is null-propagating while DuckDB's
        // skips nulls — a null-text doc must yield '' in both engines
        trim(concat(coalesce(col("body"), lit("")), lit(" "),
          coalesce(col("tail"), lit("")))).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("nc") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  def txBoilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplate(Tables.documents(spark, dir)).orderBy("doc_id")

  val txBoilerplateSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |c AS (
      |  SELECT doc_id, i AS ci, array_to_string(ws[i*8+1:i*8+8], ' ') AS chunk
      |  FROM w, unnest(range(0, len(ws) // 8)) r(i)),
      |df AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM c GROUP BY chunk),
      |kept AS (
      |  SELECT c.doc_id, c.ci, c.chunk
      |  FROM c JOIN df USING (chunk) WHERE df.df <= 1),
      |body AS (
      |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY ci) AS body,
      |    count(*) AS n_kept
      |  FROM kept GROUP BY doc_id),
      |t AS (
      |  SELECT doc_id, len(ws) // 8 AS nc,
      |    array_to_string(ws[(len(ws) // 8) * 8 + 1 : len(ws)], ' ') AS tail
      |  FROM w)
      |SELECT t.doc_id,
      |  trim(concat(coalesce(b.body, ''), ' ', t.tail)) AS clean_text,
      |  coalesce(b.n_kept, 0) AS n_kept,
      |  t.nc - coalesce(b.n_kept, 0) AS n_dropped
      |FROM t LEFT JOIN body b USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Model-based quality scoring: a hashed bag-of-words LINEAR scorer —
    * the fastText-classifier shape of modern pre-training quality
    * filters (tx_quality's rule ratios are the 2015 story; production
    * pipelines score with a trained model). The model here is a
    * deterministic stand-in — weights are md5-derived constants over a
    * `dims`-bucket feature-hashing space — but the *execution shape* is
    * the real contract: tokenize → hash each token to a feature bucket →
    * look the bucket's weight up arithmetically (no weights table to
    * join; the "model" lives in the expression) → mean weight per doc.
    * One map-side-combined (doc_id, partial) shuffle at any corpus size,
    * exactly like [[tfidf]]'s tf stage; swapping in trained weights
    * means broadcasting a dims-sized double array, nothing else changes.
    *
    * Weights are summed as RAW 40-bit md5 integers (exact, order-free —
    * double summation would be accumulation-order-dependent and break
    * cross-engine hashing, the q_corr lesson) and mapped to [-1, 1] once
    * per doc: score = (S/n)/2^40*2 - 1. 40 bits, not 60: a per-doc sum
    * of 40-bit weights stays under 2^53 up to ~8k tokens/doc, so the
    * integer→double conversion is EXACT in both engines (a 60-bit-weight
    * sum needs a DECIMAL accumulator whose double cast rounds differently
    * across engines — measured last-ulp drift); 2^-40 weight resolution
    * is far beyond any trained model's. */
  def mlQuality(docs: DataFrame, dims: Int = 64): DataFrame = {
    val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val j = pmod(md5Long(col("term"), 1, 15), lit(dims.toLong))
    val wInt = md5Long(concat(lit("w:"), j.cast(StringType)), 1, 10)
    tok.select(col("doc_id"), wInt.as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("w")).as("s"))
      .select(col("doc_id"), col("n_terms"),
        (((col("s").cast(DoubleType) / col("n_terms").cast(DoubleType)) /
          lit(1099511627776.0)) * lit(2.0) - lit(1.0)).as("ml_score"))
      .withColumn("ml_keep", col("ml_score") > 0)
  }

  def txMlQuality(spark: SparkSession, dir: String): DataFrame =
    mlQuality(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Reliability diagram for the model-based quality scorer: bin the ml
    * score into `bins` fixed-width cells over [-1, 1] and report, per
    * cell, how often the rule-based filter ([[quality]] >= 0.5) agrees —
    * the calibration table a curation team reads before trusting a
    * model filter's threshold (a well-calibrated scorer's keep_rate
    * rises monotonically with the bin; a flat diagram means the model
    * adds nothing over the rules). Closes the scorer-evaluation loop:
    * tx_scorer_fit trains, tx_scorer_serve serves, q_calibration audits.
    *
    * Determinism contract: per-bin aggregates are exact-integer counts
    * (n, n_keep), one final division (keep_rate), and min/max of the
    * score — min/max are accumulation-ORDER-FREE, unlike a double mean
    * (the q_corr lesson), so every output column hash-matches the
    * oracle. The rule label reuses [[quality]]'s exact expression tree,
    * evaluated ONCE PER DOCUMENT in its own projection and joined to
    * the per-doc score aggregate on the long doc_id — NOT carried
    * through the token explode: Catalyst floats a projection over a
    * Generate's pass-through columns above the Generate (text survives
    * the explode), which re-evaluated the four label regexes per TOKEN
    * row, ~200x the intended work (measured 13.3 s at sf0.1 vs 0.7 s
    * for this shape). Shuffles: mlQuality's map-combined per-doc
    * aggregate, two doc-sized (long, int) join sides, and the
    * `bins`-row final aggregate. */
  def calibration(docs: DataFrame, dims: Int = 64, bins: Int = 10): DataFrame = {
    val labels = docs.select(col("doc_id"),
      (qualityScoreExpr >= 0.5).cast("int").as("lab"))
    val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val j = pmod(md5Long(col("term"), 1, 15), lit(dims.toLong))
    val wInt = md5Long(concat(lit("w:"), j.cast(StringType)), 1, 10)
    val perDoc = tok.select(col("doc_id"), wInt.as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("w")).as("s"))
    val score = ((col("s").cast(DoubleType) / col("n_terms").cast(DoubleType)) /
      lit(1099511627776.0)) * lit(2.0) - lit(1.0)
    val halfBins = bins / 2.0
    perDoc.join(labels, Seq("doc_id"))
      .select(col("lab"), score.as("ml_score"))
      .select(col("lab"), col("ml_score"),
        least(greatest(floor((col("ml_score") + lit(1.0)) * lit(halfBins)),
          lit(0L)), lit(bins.toLong - 1)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("lab")).cast(LongType).as("n_keep"),
        min(col("ml_score")).as("score_lo"), max(col("ml_score")).as("score_hi"))
      .withColumn("keep_rate",
        col("n_keep").cast(DoubleType) / col("n").cast(DoubleType))
      .orderBy("bin")
  }

  def qCalibration(spark: SparkSession, dir: String): DataFrame =
    calibration(Tables.documents(spark, dir))

  /** Oracle replays the identical chain: rule label as a CASE over the
    * same four ratios, the md5 weight chain, fixed [-1,1] binning. */
  val qCalibrationSql: String =
    """WITH lab AS (
      |  SELECT doc_id, text,
      |    CASE WHEN
      |      least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) * 0.25
      |      + (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
      |         / CAST(length(text) AS DOUBLE)) * 0.25
      |      + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
      |         / CAST(length(text) AS DOUBLE)) * 0.25
      |      + least(CAST(len(regexp_extract_all(text, '\b(and|the|of|to|a)\b')) AS DOUBLE)
      |         / CAST(len(string_split(text, ' ')) AS DOUBLE) * 4.0, 1.0) * 0.25
      |      >= 0.5 THEN 1 ELSE 0 END AS lab
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, lab, unnest(string_split(text, ' ')) AS term FROM lab),
      |f AS (
      |  SELECT doc_id, lab,
      |    ('0x'||substr(md5('w:'||CAST(
      |      ('0x'||substr(md5(term),1,15))::BIGINT % 64 AS VARCHAR)),1,10))::BIGINT AS w
      |  FROM tok WHERE term <> ''),
      |perdoc AS (
      |  SELECT doc_id, max(lab) AS lab, count(*) AS n_terms,
      |    CAST(sum(w) AS BIGINT) AS s
      |  FROM f GROUP BY doc_id),
      |scored AS (
      |  SELECT lab,
      |    (CAST(s AS DOUBLE) / CAST(n_terms AS DOUBLE)) / 1099511627776.0
      |      * 2.0 - 1.0 AS ml_score
      |  FROM perdoc),
      |b AS (
      |  SELECT lab, ml_score,
      |    CAST(least(greatest(floor((ml_score + 1.0) * 5.0), 0.0), 9.0)
      |      AS BIGINT) AS bin
      |  FROM scored)
      |SELECT bin, count(*) AS n, CAST(sum(lab) AS BIGINT) AS n_keep,
      |  min(ml_score) AS score_lo, max(ml_score) AS score_hi,
      |  CAST(sum(lab) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS keep_rate
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** Quality-scorer TRAINING — the other half of tx_mlquality's loop.
    * Least-squares fit of a linear model by its NORMAL EQUATIONS: the
    * operator computes the exact moment table (XᵀX, Xᵀy) over the
    * corpus; the k×k solve itself is O(k³) driver arithmetic on the
    * collected table (k = features + intercept, a constant), performed
    * by the caller ([[OperatorsSpec]] demonstrates and checks it). This
    * is the scale-correct decomposition: the only corpus-sized work is
    * two map-combined aggregates — per-row feature vectors never leave
    * their partition un-reduced, no gradient iterations re-scan the
    * corpus, and the shuffle carries (k+2) longs per row then one
    * (k+1)(k+2)/2 + (k+1)-cell partial per partition. Moments are exact
    * integers in DECIMAL(38,0) accumulators (feature counts × a 40-bit
    * label summed corpus-wide overflows BIGINT long before 100 TB;
    * doubles would be accumulation-order-dependent — the q_corr
    * lesson), so training is bit-reproducible cross-engine.
    *
    * `features` must be integer-valued columns; `label` an integer
    * column. Output: one row per moment, (i, j, m) with i <= j the
    * upper triangle of XᵀX and j = k+1 marking the Xᵀy column; index 0
    * is the intercept (x₀ = 1). */
  def scorerMoments(rows: DataFrame, features: Seq[Column], label: Column)
      : DataFrame = {
    val k = features.size
    val dec = DecimalType(38, 0)
    val xs: Seq[Column] = lit(1L) +: features // x0 = intercept
    // operands are cast to DECIMAL BEFORE the multiply: a LongType
    // product c_i*y with a 40-bit label wraps past 2^63 for ~2900+-term
    // docs (silently, ANSI off) while the oracle's wide multiply doesn't —
    // the per-row product, not just the accumulator, must be wide
    val moments: Seq[(Int, Int, String, Column)] =
      (for (i <- 0 to k; j <- i to k) yield
        (i, j, s"m_${i}_$j", sum(xs(i).cast(dec) * xs(j).cast(dec)))) ++
      (0 to k).map(i =>
        (i, k + 1, s"v_$i", sum(xs(i).cast(dec) * label.cast(dec))))
    val aggExprs = moments.map { case (_, _, n, c) => c.as(n) }
    val aggd = rows.agg(aggExprs.head, aggExprs.tail: _*)
    val entries = moments.map { case (i, j, n, _) =>
      struct(lit(i).as("i"), lit(j).as("j"), col(n).as("m"))
    }
    // m crosses the verification boundary as a STRING: the exact
    // 38-digit integers overflow BIGINT, and the compare harness's
    // DECIMAL→float64 bridge would round them above 2^53 — decimal
    // digits are the one representation both engines emit losslessly
    aggd.select(explode(array(entries: _*)).as("e"))
      .select(col("e.i"), col("e.j"), col("e.m").cast(StringType).as("m"))
  }

  /** tx_scorer_fit: moments for distilling the 64-bucket ml scorer into
    * an 8-bucket linear model — features are per-doc counts of tokens
    * hashing into 8 coarse buckets, label is the doc's exact integer
    * weight sum `s` from [[mlQuality]]'s chain. One (doc_id, 10-long)
    * shuffle + one 54-cell global partial; text dies at the scan. */
  def txScorerFit(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir).select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val base = md5Long(col("term"), 1, 15)
    val j64 = pmod(base, lit(64L))
    val wInt = md5Long(concat(lit("w:"), j64.cast(StringType)), 1, 10)
    val j8 = pmod(base, lit(8L))
    val perDoc = tok.select(col("doc_id"), j8.as("b"), wInt.as("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("y"),
        (0 until 8).map(i =>
          sum(when(col("b") === i, 1L).otherwise(0L)).as(s"c$i")): _*)
    scorerMoments(perDoc, (0 until 8).map(i => col(s"c$i")), col("y"))
      .orderBy("i", "j")
  }

  val txScorerFitSql: String = {
    val cs = (0 until 8).map(i =>
      s"CAST(sum(CASE WHEN b = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i")
      .mkString(", ")
    val xs = "CAST(1 AS BIGINT)" +: (0 until 8).map(i => s"c$i")
    val sel =
      ((for (i <- 0 to 8; j <- i to 8) yield
        s"SELECT $i AS i, $j AS j, CAST(sum(CAST(${xs(i)} AS HUGEINT) * CAST(${xs(j)} AS HUGEINT)) AS VARCHAR) AS m FROM perdoc") ++
       (0 to 8).map(i =>
        s"SELECT $i AS i, 9 AS j, CAST(sum(CAST(${xs(i)} AS HUGEINT) * CAST(y AS HUGEINT)) AS VARCHAR) AS m FROM perdoc"))
        .mkString("\nUNION ALL\n")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    ('0x'||substr(md5(term),1,15))::BIGINT % 8 AS b,
       |    ('0x'||substr(md5('w:'||CAST(
       |      ('0x'||substr(md5(term),1,15))::BIGINT % 64 AS VARCHAR)),1,10))::BIGINT AS w
       |  FROM tok WHERE term <> ''),
       |perdoc AS (
       |  SELECT doc_id, CAST(sum(w) AS BIGINT) AS y, $cs
       |  FROM f GROUP BY doc_id)
       |SELECT i, j, m FROM ($sel)
       |ORDER BY i, j""".stripMargin
  }

  /** tx_scorer_serve: the CLOSED training loop as one driver-checked
    * query — train ([[scorerMoments]]'s moment shape) → SOLVE → serve
    * the fitted weights back over the corpus, all in-engine. The model
    * is the 2-coarse-bucket distillation of the ml scorer (features
    * c0/c1 = token counts per bucket, label y = the doc's exact integer
    * weight sum from [[mlQuality]]'s law), so the solve is a 3×3 normal
    * system — small enough for CRAMER'S RULE on exact DECIMAL(38,0)
    * integers, which is what makes a *solve* cross-engine
    * bit-reproducible (float Gaussian elimination would be
    * order-sensitive; 3×3 integer determinants are pure arithmetic both
    * engines replay digit-for-digit). The k=8 production fit keeps the
    * documented decomposition (tx_scorer_fit moments + O(k³) driver
    * solve, OperatorsSpec); this query is the end-to-end composition at
    * the size where the solve itself fits the oracle surface.
    *
    * Scale shape: one (doc_id, 3-long) map-combined shuffle for perDoc,
    * one 9-cell global partial for the moments, a broadcast 1-row dets
    * join back — corpus text dies at the scan, nothing quadratic
    * anywhere. Determinant magnitude bound: |det| ≤ ~10³⁵ at sf0.1
    * (DECIMAL(38,0) headroom ~3 digits; beyond that, shift to the
    * spec's driver-side big-integer solve).
    *
    * pred = (d0 + d1·c0 + d2·c1)/detA via one exact-integer numerator
    * and a single double division — both engines convert the identical
    * integers (round-to-nearest) and divide once, so even the doubles
    * hash-match. */
  def txScorerServe(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir).select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val base = md5Long(col("term"), 1, 15)
    val j64 = pmod(base, lit(64L))
    val wInt = md5Long(concat(lit("w:"), j64.cast(StringType)), 1, 10)
    val b2 = pmod(base, lit(2L))
    val perDoc = tok.select(col("doc_id"), b2.as("b"), wInt.as("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("y"),
        sum(when(col("b") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("b") === 1, 1L).otherwise(0L)).as("c1"))
    val dec = DecimalType(38, 0)
    def d(c: Column) = c.cast(dec)
    val mom = perDoc.agg(
      count(lit(1)).cast(dec).as("m00"),
      sum(d(col("c0"))).as("m01"), sum(d(col("c1"))).as("m02"),
      sum(d(col("c0")) * d(col("c0"))).as("m11"),
      sum(d(col("c0")) * d(col("c1"))).as("m12"),
      sum(d(col("c1")) * d(col("c1"))).as("m22"),
      sum(d(col("y"))).as("v0"),
      sum(d(col("c0")) * d(col("y"))).as("v1"),
      sum(d(col("c1")) * d(col("y"))).as("v2"))
    // Cramer: detA, and det with column i replaced by (v0,v1,v2)
    val dets = mom.select(
      (col("m00") * (col("m11") * col("m22") - col("m12") * col("m12"))
        - col("m01") * (col("m01") * col("m22") - col("m12") * col("m02"))
        + col("m02") * (col("m01") * col("m12") - col("m11") * col("m02")))
        .as("da"),
      (col("v0") * (col("m11") * col("m22") - col("m12") * col("m12"))
        - col("m01") * (col("v1") * col("m22") - col("m12") * col("v2"))
        + col("m02") * (col("v1") * col("m12") - col("m11") * col("v2")))
        .as("d0"),
      (col("m00") * (col("v1") * col("m22") - col("m12") * col("v2"))
        - col("v0") * (col("m01") * col("m22") - col("m12") * col("m02"))
        + col("m02") * (col("m01") * col("v2") - col("v1") * col("m02")))
        .as("d1"),
      (col("m00") * (col("m11") * col("v2") - col("v1") * col("m12"))
        - col("m01") * (col("m01") * col("v2") - col("v1") * col("m02"))
        + col("v0") * (col("m01") * col("m12") - col("m11") * col("m02")))
        .as("d2"))
    val num = col("d0") + col("d1") * d(col("c0")) + col("d2") * d(col("c1"))
    perDoc.crossJoin(broadcast(dets))
      .select(col("doc_id"), col("c0"), col("c1"), col("y"),
        (num.cast(DoubleType) / col("da").cast(DoubleType)).as("pred"))
      .withColumn("keep", col("pred") > col("y").cast(DoubleType))
      .orderBy("doc_id")
  }

  /** Oracle replays the identical chain with HUGEINT determinants. */
  val txScorerServeSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    ('0x'||substr(md5(term),1,15))::BIGINT % 2 AS b,
      |    ('0x'||substr(md5('w:'||CAST(
      |      ('0x'||substr(md5(term),1,15))::BIGINT % 64 AS VARCHAR)),1,10))::BIGINT AS w
      |  FROM tok WHERE term <> ''),
      |perdoc AS (
      |  SELECT doc_id, CAST(sum(w) AS BIGINT) AS y,
      |    CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM f GROUP BY doc_id),
      |mom AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS m00,
      |    CAST(sum(c0) AS HUGEINT) AS m01, CAST(sum(c1) AS HUGEINT) AS m02,
      |    sum(CAST(c0 AS HUGEINT)*CAST(c0 AS HUGEINT)) AS m11,
      |    sum(CAST(c0 AS HUGEINT)*CAST(c1 AS HUGEINT)) AS m12,
      |    sum(CAST(c1 AS HUGEINT)*CAST(c1 AS HUGEINT)) AS m22,
      |    sum(CAST(y AS HUGEINT)) AS v0,
      |    sum(CAST(c0 AS HUGEINT)*CAST(y AS HUGEINT)) AS v1,
      |    sum(CAST(c1 AS HUGEINT)*CAST(y AS HUGEINT)) AS v2
      |  FROM perdoc),
      |dets AS (
      |  SELECT
      |    m00*(m11*m22 - m12*m12) - m01*(m01*m22 - m12*m02)
      |      + m02*(m01*m12 - m11*m02) AS da,
      |    v0*(m11*m22 - m12*m12) - m01*(v1*m22 - m12*v2)
      |      + m02*(v1*m12 - m11*v2) AS d0,
      |    m00*(v1*m22 - m12*v2) - v0*(m01*m22 - m12*m02)
      |      + m02*(m01*v2 - v1*m02) AS d1,
      |    m00*(m11*v2 - v1*m12) - m01*(m01*v2 - v1*m02)
      |      + v0*(m01*m12 - m11*m02) AS d2
      |  FROM mom)
      |SELECT doc_id, c0, c1, y,
      |  CAST(d0 + d1*CAST(c0 AS HUGEINT) + d2*CAST(c1 AS HUGEINT) AS DOUBLE)
      |    / CAST(da AS DOUBLE) AS pred,
      |  CAST(d0 + d1*CAST(c0 AS HUGEINT) + d2*CAST(c1 AS HUGEINT) AS DOUBLE)
      |    / CAST(da AS DOUBLE) > CAST(y AS DOUBLE) AS keep
      |FROM perdoc CROSS JOIN dets ORDER BY doc_id""".stripMargin

  val txMlQualitySql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    ('0x'||substr(md5('w:'||CAST(
      |      ('0x'||substr(md5(term),1,15))::BIGINT % 64 AS VARCHAR)),1,10))::BIGINT AS w
      |  FROM tok WHERE term <> ''),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_terms, sum(w) AS s FROM f GROUP BY doc_id)
      |SELECT doc_id, n_terms,
      |  CAST(s AS DOUBLE) / CAST(n_terms AS DOUBLE)
      |    / 1099511627776.0 * 2.0 - 1.0 AS ml_score,
      |  CAST(s AS DOUBLE) / CAST(n_terms AS DOUBLE)
      |    / 1099511627776.0 * 2.0 - 1.0 > 0 AS ml_keep
      |FROM agg ORDER BY doc_id""".stripMargin

  /** URL canonicalization — the first pass of web-corpus curation (dedup
    * by canonical URL before any content dedup). Pure regexp projection:
    * strip the fragment, lowercase scheme+authority (path/query case is
    * MEANINGFUL and preserved), drop scheme-default ports (:443 https /
    * :80 http — :8080 stays), drop tracking params (utm_*, gclid,
    * fbclid) wherever they sit in the query string. No lookaheads —
    * both regex engines here (Java, RE2) must accept every pattern.
    * Shuffle-free, codegen'd, linear at any corpus size. */
  def normalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val lowered = concat(
      lower(regexp_extract(noFrag, "^([^/?#]*://[^/?#]*)", 1)),
      regexp_replace(noFrag, "^[^/?#]*://[^/?#]*", ""))
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(https://[^/?#:]*):443([/?#].*)?$", "$1$2"),
      "^(http://[^/?#:]*):80([/?#].*)?$", "$1$2")
    // (?i:...) — tracker NAMES match case-insensitively (CMSes emit
    // UTM_Source/Gclid variants) while query case stays preserved
    val trk = "((?i:utm_[a-z]+|gclid|fbclid))"
    regexp_replace(
      regexp_replace(
        regexp_replace(noPort, s"&$trk=[^&]*", ""),
        s"\\?$trk=[^&]*&", "?"),
      s"\\?$trk=[^&]*$$", "")
  }

  /** Registrable domain off a canonical URL (www. stripped). */
  def urlDomain(urlNorm: Column): Column =
    regexp_replace(regexp_extract(urlNorm, "^[a-z]+://([^/:?#]+)", 1),
      "^www\\.", "")

  /** The documents table carries no URL column, so tx_urlnorm synthesizes
    * one deterministically from (doc_id, source) — mixed-case host,
    * rotating default/nonstandard/absent ports, tracking params in
    * leading/only/absent positions, fragments — exercising every
    * normalization branch; the oracle rebuilds the identical input and
    * replays the identical replacement chain byte-for-byte (the tx_pii
    * pattern). */
  private def synthUrl: Column = {
    val d = col("doc_id")
    concat(
      when(pmod(d, lit(2)) === 0, lit("HTTPS://WWW.")).otherwise(lit("http://")),
      col("source"), lit(".Example.COM"),
      when(pmod(d, lit(3)) === 0,
          when(pmod(d, lit(2)) === 0, lit(":443")).otherwise(lit(":80")))
        .when(pmod(d, lit(3)) === 1, lit(":8080"))
        .otherwise(lit("")),
      lit("/Docs/"), d.cast(StringType),
      when(pmod(d, lit(5)) < 3,
          concat(lit("?utm_source=news&ref="), col("source"),
            lit("&gclid=g"), d.cast(StringType)))
        .when(pmod(d, lit(5)) === 3, lit("?utm_campaign=x"))
        .otherwise(lit("")),
      when(pmod(d, lit(2)) === 0,
          concat(lit("#S"), pmod(d, lit(7)).cast(StringType)))
        .otherwise(lit("")))
  }

  def txUrlnorm(spark: SparkSession, dir: String): DataFrame = {
    val withUrl = Tables.documents(spark, dir)
      .select(col("doc_id"), synthUrl.as("url"))
    withUrl.withColumn("url_norm", normalizeUrl(col("url")))
      .withColumn("domain", urlDomain(col("url_norm")))
      .orderBy("doc_id")
  }

  val txUrlnormSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'http://' END)
      |    || source || '.Example.COM'
      |    || (CASE WHEN doc_id % 3 = 0
      |             THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
      |             WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
      |    || '/Docs/' || doc_id
      |    || (CASE WHEN doc_id % 5 < 3
      |             THEN '?utm_source=news&ref=' || source || '&gclid=g' || doc_id
      |             WHEN doc_id % 5 = 3 THEN '?utm_campaign=x' ELSE '' END)
      |    || (CASE WHEN doc_id % 2 = 0 THEN '#S' || (doc_id % 7) ELSE '' END)
      |    AS url
      |  FROM documents),
      |nf AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS x FROM u),
      |lo AS (SELECT doc_id, url,
      |  lower(regexp_extract(x, '^([^/?#]*://[^/?#]*)', 1)) ||
      |    regexp_replace(x, '^[^/?#]*://[^/?#]*', '') AS x
      |  FROM nf),
      |np AS (SELECT doc_id, url,
      |  regexp_replace(
      |    regexp_replace(x, '^(https://[^/?#:]*):443([/?#].*)?$', '\1\2'),
      |    '^(http://[^/?#:]*):80([/?#].*)?$', '\1\2') AS x
      |  FROM lo),
      |nt AS (SELECT doc_id, url,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(x, '&((?i:utm_[a-z]+|gclid|fbclid))=[^&]*', '', 'g'),
      |      '\?((?i:utm_[a-z]+|gclid|fbclid))=[^&]*&', '?'),
      |    '\?((?i:utm_[a-z]+|gclid|fbclid))=[^&]*$', '') AS url_norm
      |  FROM np)
      |SELECT doc_id, url, url_norm,
      |  regexp_replace(regexp_extract(url_norm, '^[a-z]+://([^/:?#]+)', 1),
      |    '^www\.', '') AS domain
      |FROM nt ORDER BY doc_id""".stripMargin

  /** q_domain_cap: per-domain document caps — web corpora cap documents
    * per registrable domain before content dedup (one SEO-spam domain
    * must not dominate a language's token budget). Canonicalize, extract
    * the domain, then keep at most `cap` docs per domain in the
    * deterministic hash order — the stratified top-k machinery
    * ([[Sampling.stratified]]: WindowGroupLimit pushes the rank below
    * the shuffle, so ~cap rows per domain per mapper move). */
  def txDomainCap(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), synthUrl.as("url"))
      .select(col("doc_id"), urlDomain(normalizeUrl(col("url"))).as("domain"))
    Sampling.stratified(d, col("domain"), col("doc_id"), 10)
      .orderBy("doc_id")
  }

  val txDomainCapSql: String =
    """WITH u AS (
      |  SELECT doc_id, lower(source) || '.example.com' AS domain
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, domain,
      |    row_number() OVER (PARTITION BY domain
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':strat'), doc_id) AS rk
      |  FROM u)
      |SELECT doc_id, domain FROM r WHERE rk <= 10 ORDER BY doc_id""".stripMargin

  /** dd_urldup: exact dedup by CANONICAL URL — the first dedup pass of a
    * web corpus (same page crawled via tracking-link / fragment / case
    * variants collapses to one canonical form BEFORE any content
    * comparison). Group by [[normalizeUrl]] output, keep the smallest
    * doc_id; the shuffle carries canonical-URL strings (bounded, no
    * text). The synthetic URL law plants collisions: docs i, i+M, i+2M…
    * share a path and differ only in tracking params, fragments, and
    * authority case — exactly the variants canonicalization must erase. */
  private def synthDupUrl(m: Int): Column = {
    val d = col("doc_id")
    concat(
      when(pmod(d, lit(2)) === 0, lit("HTTPS://Ex.COM")).otherwise(lit("https://ex.com")),
      lit("/page/"), pmod(d, lit(m.toLong)).cast(StringType),
      lit("?utm_source=crawl&gclid=g"), d.cast(StringType),
      lit("#frag"), d.cast(StringType))
  }

  def urlDedup(docs: DataFrame, m: Int = 100): DataFrame =
    docs.select(col("doc_id"), normalizeUrl(synthDupUrl(m)).as("url_norm"))
      .groupBy(col("url_norm"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_variants"))

  def ddUrldup(spark: SparkSession, dir: String): DataFrame =
    urlDedup(Tables.documents(spark, dir)).orderBy("keep_id")

  val ddUrldupSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Ex.COM' ELSE 'https://ex.com' END)
      |    || '/page/' || (doc_id % 100)
      |    || '?utm_source=crawl&gclid=g' || doc_id
      |    || '#frag' || doc_id AS url
      |  FROM documents),
      |nf AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS x FROM u),
      |lo AS (SELECT doc_id,
      |  lower(regexp_extract(x, '^([^/?#]*://[^/?#]*)', 1)) ||
      |    regexp_replace(x, '^[^/?#]*://[^/?#]*', '') AS x
      |  FROM nf),
      |np AS (SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(x, '^(https://[^/?#:]*):443([/?#].*)?$', '\1\2'),
      |    '^(http://[^/?#:]*):80([/?#].*)?$', '\1\2') AS x
      |  FROM lo),
      |nt AS (SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(x, '&((?i:utm_[a-z]+|gclid|fbclid))=[^&]*', '', 'g'),
      |      '\?((?i:utm_[a-z]+|gclid|fbclid))=[^&]*&', '?'),
      |    '\?((?i:utm_[a-z]+|gclid|fbclid))=[^&]*$', '') AS url_norm
      |  FROM np)
      |SELECT url_norm, min(doc_id) AS keep_id, count(*) AS n_variants
      |FROM nt GROUP BY url_norm ORDER BY keep_id""".stripMargin

  /** Filter-cascade audit: run an ORDERED list of named keep-predicates
    * over the corpus and report the removal funnel — for each filter, how
    * many documents arrived, how many it dropped (first-failing-filter
    * attribution, so every document is counted exactly once), and how
    * many survived to the next stage. This is the per-filter accounting
    * table curation teams publish with a dataset ("data card" removal
    * stats) and watch across crawl snapshots for drift.
    *
    * Scale: ONE corpus scan computing the first-failing stage as a nested
    * codegen'd conditional, one map-side-combined count aggregate over
    * <= #filters+1 groups; all funnel arithmetic (suffix sums) happens on
    * that #filters-row table. */
  def filterFunnel(df: DataFrame,
                   filters: Seq[(String, Column)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val n = filters.length
    // first failing filter index; n = passed everything. A NULL predicate
    // result is NOT a pass: a doc whose keep-predicate cannot be affirmed
    // (null text/length) attributes to the first stage that failed to
    // affirm it, instead of falling through the whole cascade as "kept"
    val stage = filters.zipWithIndex.foldRight(lit(n): Column) {
      case (((_, keep), i), acc) =>
        when(coalesce(keep, lit(false)) === false, lit(i)).otherwise(acc)
    }
    // lazily checkpointed (<= #filters+1 rows): feeds both the name join
    // and the grand-total aggregate — without it the corpus stage scan
    // runs twice (the doc'd contract is ONE corpus scan)
    val counts = df.select(stage.as("_stage"))
      .groupBy(col("_stage")).agg(count(lit(1)).as("_n"))
      .localCheckpoint(false)
    val names = filters.zipWithIndex
      .map { case ((name, _), i) => (i, name) }.toDF("stage", "filter")
    // total + per-stage drops on the tiny side; arrived_i = total minus
    // everything dropped at earlier stages
    val wBefore = Window.orderBy(col("stage"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wThrough = Window.orderBy(col("stage"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    names
      .join(counts, col("stage") === col("_stage"), "left_outer")
      .withColumn("n_dropped", coalesce(col("_n"), lit(0L)))
      .crossJoin(broadcast(counts.agg(
        coalesce(sum(col("_n")), lit(0L)).as("_total"))))
      .withColumn("n_in",
        col("_total") - coalesce(sum(col("n_dropped")).over(wBefore), lit(0L)))
      .withColumn("n_out", col("_total") - sum(col("n_dropped")).over(wThrough))
      .select(col("stage"), col("filter"), col("n_in"), col("n_dropped"),
        col("n_out"))
  }

  /** tx_filter_funnel: a four-stage quality cascade over documents —
    * length bounds, minimum word count, distinct-word ratio. */
  def txFilterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    filterFunnel(Tables.documents(spark, dir), Seq(
      "min_chars" -> (col("n_chars") >= 100),
      "max_chars" -> (col("n_chars") <= 20000),
      "min_words" -> (size(words) >= 20),
      "distinct_ratio" ->
        (size(array_distinct(words)).cast("double") / size(words) >= 0.3)))
      .orderBy(col("stage"))
  }

  val txFilterFunnelSql: String =
    """WITH staged AS (
      |  SELECT CASE
      |    WHEN NOT coalesce(n_chars >= 100, false) THEN 0
      |    WHEN NOT coalesce(n_chars <= 20000, false) THEN 1
      |    WHEN NOT coalesce(len(string_split(text, ' ')) >= 20, false) THEN 2
      |    WHEN NOT coalesce(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |              / len(string_split(text, ' ')) >= 0.3, false) THEN 3
      |    ELSE 4 END AS stage
      |  FROM documents),
      |cnt AS (SELECT stage, count(*) AS n FROM staged GROUP BY stage),
      |f AS (SELECT * FROM (VALUES (0, 'min_chars'), (1, 'max_chars'),
      |  (2, 'min_words'), (3, 'distinct_ratio')) t(stage, filter)),
      |j AS (SELECT f.stage, f.filter, coalesce(n, 0) AS n_dropped
      |      FROM f LEFT JOIN cnt USING (stage)),
      |tot AS (SELECT count(*) AS total FROM documents)
      |SELECT CAST(stage AS INT) AS stage, filter,
      |  CAST(total - coalesce(sum(n_dropped) OVER (ORDER BY stage
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_in,
      |  CAST(n_dropped AS BIGINT) AS n_dropped,
      |  CAST(total - sum(n_dropped) OVER (ORDER BY stage
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_out
      |FROM j, tot ORDER BY stage""".stripMargin

  /** Sliding-window chunking — the preprocessing step of embedding /
    * retrieval indexing: split each document into fixed-width character
    * windows with overlap (`win` chars every `stride`, stride < win), so
    * downstream encoders see bounded inputs and boundary-straddling
    * content appears in at least one intact chunk. Emits (chunk_id,
    * chunk_start, chunk_len, chunk_hash) — the hash stands in for the
    * chunk payload so the verified result doesn't haul text.
    *
    * Scale: a pure projection + generator (sequence/posexplode) — ZERO
    * shuffle, embarrassingly parallel, output bounded by corpus_chars /
    * stride. The chunk count is arithmetic on length(text), never a
    * loop. */
  def chunks(docs: DataFrame, win: Int = 200, stride: Int = 150): DataFrame = {
    val n = length(col("text"))
    val nChunks = when(n <= win, lit(1L)).otherwise(
      lit(1L) + ceil((n - lit(win)).cast("double") / lit(stride.toDouble)).cast("long"))
    val exploded = docs
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(0L), nChunks - 1)))
    val start = col("col") * stride
    exploded.select(
        col("doc_id"),
        col("col").as("chunk_id"),
        start.as("chunk_start"),
        length(col("text").substr(start + 1, lit(win))).as("chunk_len"),
        md5(col("text").substr(start + 1, lit(win))).as("chunk_hash"))
  }

  def txChunks(spark: SparkSession, dir: String): DataFrame =
    chunks(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("chunk_id"))

  val txChunksSql: String =
    """WITH n AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(text) <= 200 THEN 1
      |         ELSE 1 + CAST(ceil((length(text) - 200) / 150.0) AS BIGINT)
      |    END AS nc
      |  FROM documents)
      |SELECT doc_id, i AS chunk_id, i * 150 AS chunk_start,
      |  length(substr(text, CAST(i * 150 + 1 AS BIGINT), 200)) AS chunk_len,
      |  md5(substr(text, CAST(i * 150 + 1 AS BIGINT), 200)) AS chunk_hash
      |FROM n, unnest(range(0, nc)) r(i)
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** BPE tokenizer MERGE TRAINING — the build step of the subword
    * tokenizer whose vocab [[tokensVocab]] consumes and whose counts
    * [[graft.operators.Sampling.tokenBudget]] meters. Each iteration
    * counts adjacent symbol pairs (weighted by word frequency), picks
    * the most frequent pair (count desc, pair asc — deterministic), and
    * merges it corpus-wide; the chosen merges ARE the trained artifact.
    *
    * Scale: the load-bearing fact of real BPE training — it runs on the
    * WORD-FREQUENCY table, not the corpus. One corpus scan builds
    * (word, f); every merge iteration touches only that vocab-sized
    * table (lazily checkpointed), with the chosen pair broadcast back.
    * Production trains tens of thousands of merges with the same
    * per-iteration plan (driver loop, `wf` lineage truncated by a lazy
    * localCheckpoint every `ckptEvery` merges — without it each merge
    * stacks a crossJoin + nested replace() onto the plan and at
    * production merge counts the fused projection blows HotSpot's JIT
    * method limit, the wide-inlined-expression cliff); the 2-merge form
    * here is what keeps the full SQL oracle. ScaleCheck rehearses
    * merges=256 on the real word table (linear per-merge cost).
    *
    * Merge application is string replace on the spaced symbol form
    * (" a b " → " ab "), non-overlapping left-to-right in both engines;
    * for a RUN of the same pair ("a a a a") the shared delimiter means
    * alternate occurrences merge per pass, a documented simplification
    * vs canonical BPE's pairwise-array walk — deterministic and
    * identical cross-engine, which is the property the oracle checks.
    * When the pair supply exhausts before `merges` iterations (tiny
    * vocabularies), training stops emitting — train-UP-TO-N semantics. */
  def bpeTrain(docs: DataFrame, merges: Int = 2, ckptEvery: Int = 32): DataFrame = {
    require(merges >= 1, "bpeTrain needs at least one merge")
    require(ckptEvery >= 1, "checkpoint cadence must be positive")
    val wf0 = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .withColumn("sym", concat(lit(" "),
        concat_ws(" ", split(col("word"), "")), lit(" ")))
      .localCheckpoint(false)
    def pairCounts(wf: DataFrame): DataFrame = {
      val a = split(trim(col("sym")), " ")
      wf.select(col("f"),
          explode(arrays_zip(a, slice(a, lit(2), size(a)))).as("z"))
        .filter(col("z.1").isNotNull)
        .groupBy(concat_ws(" ", col("z.0"), col("z.1")).as("pair"))
        .agg(sum(col("f")).as("cnt"))
    }
    var wf = wf0
    var out: DataFrame = null
    for (i <- 1 to merges) {
      val top = pairCounts(wf)
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(lit(i).as("rank"), col("pair"), col("cnt"))
        .localCheckpoint(false) // feeds both the output and the next merge
      out = if (out == null) top else out.union(top)
      wf = wf.crossJoin(broadcast(top.select(col("pair").as("_p"))))
        .withColumn("sym", replace(col("sym"),
          concat(lit(" "), col("_p"), lit(" ")),
          concat(lit(" "), replace(col("_p"), lit(" "), lit("")), lit(" "))))
        .drop("_p")
      // lineage truncation at production merge counts: a LAZY checkpoint
      // (no action — composition stays action-free) that materializes the
      // vocab-sized word table when the next pairCounts executes, keeping
      // every codegen stage at <= ckptEvery stacked replace() projections
      if (i % ckptEvery == 0 && i < merges) wf = wf.localCheckpoint(false)
    }
    out
  }

  def txBpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrain(Tables.documents(spark, dir)).orderBy(col("rank"))

  /** Replays both merge iterations CTE-by-CTE (the ann_kmeans pattern). */
  val txBpeTrainSql: String =
    """WITH wf AS (
      |  SELECT word, count(*) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> '' GROUP BY word),
      |s0 AS (SELECT f,
      |  ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS sym
      |  FROM wf),
      |p1 AS (
      |  SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (
      |    SELECT f, unnest([s[i]||' '||s[i+1] for i in range(1, len(s))]) AS pair
      |    FROM (SELECT f, string_split(trim(sym), ' ') AS s FROM s0)
      |    WHERE len(s) >= 2)
      |  GROUP BY pair),
      |t1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
      |s1 AS (
      |  SELECT f, replace(sym, ' ' || t1.pair || ' ',
      |    ' ' || replace(t1.pair, ' ', '') || ' ') AS sym
      |  FROM s0 CROSS JOIN t1),
      |p2 AS (
      |  SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (
      |    SELECT f, unnest([s[i]||' '||s[i+1] for i in range(1, len(s))]) AS pair
      |    FROM (SELECT f, string_split(trim(sym), ' ') AS s FROM s1)
      |    WHERE len(s) >= 2)
      |  GROUP BY pair),
      |t2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1)
      |SELECT CAST(1 AS INT) AS rank, pair, cnt FROM t1
      |UNION ALL SELECT CAST(2 AS INT), pair, cnt FROM t2
      |ORDER BY rank""".stripMargin

  /** Integer bit length: bitlen(n) = length(bin(n)) = floor(log2 n)+1
    * for n >= 1, and 1 for n = 0 (bin(0) = "0") — the lm_score libm-free
    * log2 surrogate, shared by the unigram trainer. */
  private def bitlen(n: Long): Long =
    if (n <= 0L) 1L else 64L - java.lang.Long.numberOfLeadingZeros(n)

  /** Canonical unigram segmentation of `w` under integer piece costs:
    * minimize total cost over vocab-only segmentations; among ties take
    * the lexicographically LARGEST piece-length sequence (leftmost-
    * longest), produced here by a suffix DP + greedy left-to-right walk
    * and replayed by the oracle's exhaustive path enumeration. O(L ·
    * maxLen) per word. Total by construction: the trainer keeps every
    * single character in the vocabulary. */
  private[graft] def unigramSegment(w: String,
      cost: scala.collection.Map[String, Long], maxLen: Int): List[String] = {
    val L = w.length
    if (L == 0) return Nil
    val INF = Long.MaxValue / 4
    val dp = new Array[Long](L + 1)
    java.util.Arrays.fill(dp, INF); dp(L) = 0L
    var i = L - 1
    while (i >= 0) {
      val maxl = math.min(maxLen, L - i)
      var l = 1
      while (l <= maxl) {
        if (dp(i + l) < INF) {
          val c = cost.getOrElse(w.substring(i, i + l), -1L)
          if (c >= 0L && c + dp(i + l) < dp(i)) dp(i) = c + dp(i + l)
        }
        l += 1
      }
      i -= 1
    }
    require(dp(0) < INF, s"unigram segmentation infeasible for '$w'")
    val out = List.newBuilder[String]
    var p = 0
    while (p < L) {
      var pick = 1
      val maxl = math.min(maxLen, L - p)
      var l = 1
      while (l <= maxl) {
        val c = cost.getOrElse(w.substring(p, p + l), -1L)
        if (c >= 0L && dp(p + l) < INF && c + dp(p + l) == dp(p)) pick = l
        l += 1
      }
      out += w.substring(p, p + pick); p += pick
    }
    out.result()
  }

  /** Piece costs from a count table: -log2 p ≈ bitlen(total) -
    * bitlen(cnt) + 1 — integer end to end (the lm_score rule), so both
    * engines agree bit-for-bit and the +1 makes every piece cost
    * positive (ties break toward FEWER pieces before the leftmost-
    * longest rule applies). */
  private def unigramCosts(vocab: Map[String, Long]): Map[String, Long] = {
    val t = bitlen(vocab.valuesIterator.sum)
    vocab.map { case (p, c) => p -> (t - bitlen(c) + 1L) }
  }

  /** Unigram-LM (SentencePiece-style) tokenizer TRAINING — the OTHER
    * published tokenizer trainer (Kudo 2018's unigram language model),
    * complementing [[bpeTrain]]: seed a substring vocabulary from the
    * word-frequency table, run hard-EM (Viterbi) iterations — each
    * re-estimates piece counts from every word's best segmentation
    * under the current costs — prune to the target vocabulary (single
    * characters always kept, so segmentation stays total; multi-char
    * pieces kept by count, the published cheap approximation of the
    * likelihood-loss prune), and emit the final (rank, piece, cnt)
    * table from one last counting pass over the pruned vocabulary.
    *
    * Cross-engine determinism: costs are the integer bitlen -log2
    * surrogate (no libm), and the canonical segmentation among
    * equal-cost paths is the lexicographically largest length sequence
    * — [[unigramSegment]]'s greedy suffix-DP walk here, exhaustive
    * path enumeration ordered by (cost, lens DESC) in the oracle.
    *
    * Scale shape: the CORPUS is scanned exactly once (the word-
    * frequency build — the bpeTrain economics); every EM pass maps the
    * VOCAB-SIZED word table with the piece-cost map broadcast and
    * re-aggregates map-combined vocab-sized counts. Driver collections
    * are piece tables bounded by seedMulti + alphabet (the lm_score
    * Heaps-law model-bound argument). Construction runs ZERO jobs
    * (DeferredDF); the train loop happens at first action. */
  def unigramTrain(docs: DataFrame, seedMulti: Int = 64, keepMulti: Int = 24,
                   maxPieceLen: Int = 4, emIters: Int = 2): DataFrame =
    org.apache.spark.sql.graft.DeferredDF(docs.sparkSession,
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("piece", StringType, nullable = true),
        StructField("cnt", LongType, nullable = true))),
      () => unigramTrainEager(docs, seedMulti, keepMulti, maxPieceLen, emIters))

  private[graft] def unigramTrainEager(docs: DataFrame, seedMulti: Int,
      keepMulti: Int, maxPieceLen: Int, emIters: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wf = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .select(col("word").as("_1"), col("f").as("_2")).as[(String, Long)]
      .localCheckpoint(false) // every pass below re-reads this table
    val (charPieces, topMulti) = unigramSeed(wf.toDF(), seedMulti, maxPieceLen)
    var vocab: Map[String, Long] = charPieces ++ topMulti
    // one distributed E-step: segment every word under `costs`, count
    // pieces weighted by word frequency (vocab-sized, map-combined)
    def countPass(costs: Map[String, Long]): Map[String, Long] = {
      val bc = spark.sparkContext.broadcast(costs)
      wf.flatMap { case (w, f) =>
          unigramSegment(w, bc.value, maxPieceLen).map(p => (p, f))
        }
        .groupBy(col("_1")).agg(sum(col("_2")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    for (_ <- 1 to emIters) {
      val counts = countPass(unigramCosts(vocab))
      // pieces used by some best path keep their new counts; single
      // chars survive unconditionally (cnt 0 when unused) so every
      // word stays segmentable; unused multi-char pieces drop out
      vocab = counts ++ charPieces.keysIterator
        .filterNot(counts.contains).map(_ -> 0L)
    }
    // prune: all single chars + top keepMulti multi-char by count
    val pruned = vocab.filter(p => charPieces.contains(p._1)) ++
      vocab.toSeq.filter(p => !charPieces.contains(p._1))
        .sortBy { case (p, c) => (-c, p) }.take(keepMulti)
    // final counting pass over the pruned vocabulary IS the artifact
    val bc = spark.sparkContext.broadcast(unigramCosts(pruned))
    val fin = wf.flatMap { case (w, f) =>
        unigramSegment(w, bc.value, maxPieceLen).map(p => (p, f))
      }
      .groupBy(col("_1").as("piece")).agg(sum(col("_2")).as("cnt"))
    val wRank = Window.orderBy(col("cnt").desc, col("piece"))
    fin.select(row_number().over(wRank).as("rank"), col("piece"), col("cnt"))
  }

  /** Seed-candidate selection for [[unigramTrain]], with the driver pull
    * BOUNDED: the full distinct ≤maxPieceLen-substring table (up to
    * |Σ|^maxPieceLen entries — unbounded on CJK-class scripts) never
    * collects. The single-character alphabet (≤ |Σ| rows) and the top
    * `seedMulti` multi-char pieces (count DESC, piece ASC — a
    * distributed TakeOrdered via orderBy+limit, the tx_topterms pattern)
    * are selected on executors, and only those ≤ |Σ| + seedMulti rows
    * reach the driver. The selection key and tie-break are identical to
    * the previous collect-then-sort, so the trained vocabulary is
    * unchanged. */
  private[graft] def unigramSeed(wf: DataFrame, seedMulti: Int,
      maxPieceLen: Int): (Map[String, Long], Seq[(String, Long)]) = {
    val spark = wf.sparkSession
    import spark.implicits._
    val cand = wf.as[(String, Long)].flatMap { case (w, f) =>
        for {
          i <- 0 until w.length
          l <- 1 to math.min(maxPieceLen, w.length - i)
        } yield (w.substring(i, i + l), f)
      }
      .groupBy(col("_1")).agg(sum(col("_2")).as("cnt"))
      // the seed table fans out two ways (alphabet + top-multi);
      // without this both selections replay the substring explosion
      .localCheckpoint(false)
    val chars = cand.filter(length(col("_1")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val multi = cand.filter(length(col("_1")) > 1)
      .orderBy(col("cnt").desc, col("_1").asc).limit(seedMulti)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    (chars, multi)
  }

  def txUnigram(spark: SparkSession, dir: String): DataFrame =
    unigramTrain(Tables.documents(spark, dir)).orderBy(col("rank"))

  /** Per-doc unigram token counts under a trained piece-cost map — the
    * serve half (the lmScore broadcast-model shape: one corpus scan,
    * zero joins), feeding token-budget metering on unigram tokens. */
  def unigramTokenCounts(docs: DataFrame, vocab: Map[String, Long],
                         maxPieceLen: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(unigramCosts(vocab))
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val words = if (text == null) Array.empty[String] else text.split(" ")
        var n = 0L
        words.foreach { w =>
          if (w.nonEmpty) n += unigramSegment(w, bc.value, maxPieceLen).length
        }
        (id, n)
      }
      .select(col("_1").as("doc_id"), col("_2").as("n_unigram_tokens"))
  }


  /** Replays the full train loop CTE-by-CTE (the bpe_train/
    * ann_kmeans pattern): seed -> two hard-EM passes -> prune -> final
    * count. Each E-step ENUMERATES every vocab-only segmentation per
    * word (recursive CTE; feasible because oracle-scale words are
    * <= 8 chars -> <= 108 compositions) and picks the canonical one by
    * (cost ASC, length-sequence lexicographically DESC) -- exactly the
    * segmentation the suffix-DP greedy walk produces. bitlen is
    * length(bin(n)) in both engines; no floating point anywhere. */
  val txUnigramSql: String =
    """WITH RECURSIVE
      |wf AS (
      |  SELECT word, count(*) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> '' GROUP BY word),
      |cand AS (
      |  SELECT substr(word, CAST(i AS BIGINT), CAST(l AS BIGINT)) AS piece,
      |         CAST(sum(f) AS BIGINT) AS cnt
      |  FROM wf, unnest(range(1, length(word) + 1)) r(i),
      |       unnest(range(1, 5)) s(l)
      |  WHERE i + l - 1 <= length(word)
      |  GROUP BY 1),
      |chars0 AS (SELECT piece, cnt FROM cand WHERE length(piece) = 1),
      |multi0 AS (SELECT piece, cnt FROM cand WHERE length(piece) > 1
      |           ORDER BY cnt DESC, piece LIMIT 64),
      |v0 AS (SELECT * FROM chars0 UNION ALL SELECT * FROM multi0),
      |c0 AS (SELECT piece,
      |         length(bin(CAST((SELECT sum(cnt) FROM v0) AS BIGINT)))
      |           - length(bin(cnt)) + 1 AS cost FROM v0),
      |p1 AS (
      |  SELECT word, f, 0 AS i, CAST(0 AS BIGINT) AS cost,
      |         CAST([] AS BIGINT[]) AS lens, CAST([] AS VARCHAR[]) AS pcs
      |  FROM wf
      |  UNION ALL
      |  SELECT p.word, p.f, p.i + length(v.piece), p.cost + v.cost,
      |         list_append(p.lens, CAST(length(v.piece) AS BIGINT)),
      |         list_append(p.pcs, v.piece)
      |  FROM p1 p JOIN c0 v
      |    ON v.piece = substr(p.word, CAST(p.i + 1 AS BIGINT), CAST(length(v.piece) AS BIGINT))
      |  WHERE p.i < length(p.word)),
      |seg1 AS (
      |  SELECT word, f, pcs FROM (
      |    SELECT word, f, pcs, row_number() OVER (PARTITION BY word
      |      ORDER BY cost ASC, lens DESC) AS rn
      |    FROM p1 WHERE i = length(word)) t WHERE rn = 1),
      |m1 AS (SELECT piece, CAST(sum(f) AS BIGINT) AS cnt
      |       FROM (SELECT f, unnest(pcs) AS piece FROM seg1) GROUP BY piece),
      |v1 AS (SELECT piece, cnt FROM m1 UNION ALL
      |       SELECT piece, CAST(0 AS BIGINT) FROM chars0
      |       WHERE piece NOT IN (SELECT piece FROM m1)),
      |c1 AS (SELECT piece,
      |         length(bin(CAST((SELECT sum(cnt) FROM v1) AS BIGINT)))
      |           - length(bin(cnt)) + 1 AS cost FROM v1),
      |p2 AS (
      |  SELECT word, f, 0 AS i, CAST(0 AS BIGINT) AS cost,
      |         CAST([] AS BIGINT[]) AS lens, CAST([] AS VARCHAR[]) AS pcs
      |  FROM wf
      |  UNION ALL
      |  SELECT p.word, p.f, p.i + length(v.piece), p.cost + v.cost,
      |         list_append(p.lens, CAST(length(v.piece) AS BIGINT)),
      |         list_append(p.pcs, v.piece)
      |  FROM p2 p JOIN c1 v
      |    ON v.piece = substr(p.word, CAST(p.i + 1 AS BIGINT), CAST(length(v.piece) AS BIGINT))
      |  WHERE p.i < length(p.word)),
      |seg2 AS (
      |  SELECT word, f, pcs FROM (
      |    SELECT word, f, pcs, row_number() OVER (PARTITION BY word
      |      ORDER BY cost ASC, lens DESC) AS rn
      |    FROM p2 WHERE i = length(word)) t WHERE rn = 1),
      |m2 AS (SELECT piece, CAST(sum(f) AS BIGINT) AS cnt
      |       FROM (SELECT f, unnest(pcs) AS piece FROM seg2) GROUP BY piece),
      |v2 AS (SELECT piece, cnt FROM m2 UNION ALL
      |       SELECT piece, CAST(0 AS BIGINT) FROM chars0
      |       WHERE piece NOT IN (SELECT piece FROM m2)),
      |vp AS (SELECT piece, cnt FROM v2 WHERE length(piece) = 1
      |       UNION ALL
      |       SELECT piece, cnt FROM (
      |         SELECT piece, cnt FROM v2 WHERE length(piece) > 1
      |         ORDER BY cnt DESC, piece LIMIT 24) t),
      |cf AS (SELECT piece,
      |         length(bin(CAST((SELECT sum(cnt) FROM vp) AS BIGINT)))
      |           - length(bin(cnt)) + 1 AS cost FROM vp),
      |p3 AS (
      |  SELECT word, f, 0 AS i, CAST(0 AS BIGINT) AS cost,
      |         CAST([] AS BIGINT[]) AS lens, CAST([] AS VARCHAR[]) AS pcs
      |  FROM wf
      |  UNION ALL
      |  SELECT p.word, p.f, p.i + length(v.piece), p.cost + v.cost,
      |         list_append(p.lens, CAST(length(v.piece) AS BIGINT)),
      |         list_append(p.pcs, v.piece)
      |  FROM p3 p JOIN cf v
      |    ON v.piece = substr(p.word, CAST(p.i + 1 AS BIGINT), CAST(length(v.piece) AS BIGINT))
      |  WHERE p.i < length(p.word)),
      |seg3 AS (
      |  SELECT word, f, pcs FROM (
      |    SELECT word, f, pcs, row_number() OVER (PARTITION BY word
      |      ORDER BY cost ASC, lens DESC) AS rn
      |    FROM p3 WHERE i = length(word)) t WHERE rn = 1),
      |mf AS (SELECT piece, CAST(sum(f) AS BIGINT) AS cnt
      |       FROM (SELECT f, unnest(pcs) AS piece FROM seg3) GROUP BY piece)
      |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INTEGER) AS rank,
      |       piece, cnt
      |FROM mf ORDER BY rank""".stripMargin

  /** BPE merge APPLICATION — closes the tokenizer loop [[bpeTrain]]
    * opens: take the trained rank-ordered merge list and tokenize the
    * corpus with it, so token budgets and packing meter the tokens a
    * trainer actually pays for (not chars, not whitespace words).
    *
    * Scale: the load-bearing fact mirrors training — merges apply to the
    * DISTINCT-WORD table, never the corpus. One corpus scan explodes
    * (doc_id, word); the merge chain folds over the vocab-sized word
    * table as nested replace() projections on the spaced symbol form
    * (" a b " → " ab ", same non-overlapping left-to-right semantics as
    * training, identical in both engines); per-word token counts join
    * back on the word key (vocab-sized side — AQE broadcasts it at
    * real vocab/corpus ratios) and sum per doc. Lineage is truncated
    * every `ckptEvery` merges exactly like training — the JIT
    * method-limit cliff is the same; ScaleCheck rehearses 256 merges.
    *
    * The merge list is the trained tokenizer artifact: tiny (one row per
    * merge), trained once and shipped — passing it as a driver-side Seq
    * is the contractual artifact handoff, not a corpus action. */
  def bpeApplyWords(words: DataFrame, merges: Seq[String],
                    ckptEvery: Int = 32): DataFrame = {
    require(ckptEvery >= 1, "checkpoint cadence must be positive")
    var wf = words.withColumn("sym", concat(lit(" "),
      concat_ws(" ", split(col("word"), "")), lit(" ")))
    var applied = 0
    merges.grouped(ckptEvery).foreach { grp =>
      val sym = grp.foldLeft(col("sym")) { (c, p) =>
        replace(c, lit(" " + p + " "), lit(" " + p.replace(" ", "") + " "))
      }
      wf = wf.withColumn("sym", sym)
      applied += grp.length
      // truncate lineage only BETWEEN groups: a checkpoint after the
      // final group would materialize the vocab table once more right
      // before the terminal projection, for no lineage benefit
      if (applied < merges.length) wf = wf.localCheckpoint(false)
    }
    wf.withColumn("n_tokens", size(split(trim(col("sym")), " ")))
  }

  /** Per-document real-BPE token counts under a trained merge list. */
  def bpeApply(docs: DataFrame, merges: Seq[String],
               ckptEvery: Int = 32): DataFrame = {
    val tall = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val wt = bpeApplyWords(tall.select(col("word")).distinct(), merges, ckptEvery)
      .select(col("word"), col("n_tokens"))
    tall.join(wt, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tokens")).as("n_bpe_tokens"))
  }

  def txBpeApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the trained artifact handoff: #merges rows, rank order
    val merges = bpeTrain(docs).orderBy(col("rank"))
      .select(col("pair")).collect().map(_.getString(0)).toSeq
    bpeApply(docs, merges).orderBy(col("doc_id"))
  }

  /** Replays training (spliced from [[txBpeTrainSql]]'s CTE chain), then
    * applies both merges to the distinct-word table and meters docs. */
  val txBpeApplySql: String = {
    // line-initial anchor (an indented "SELECT CAST" could match inside a
    // CTE); everything before the final SELECT is the training chain
    val cut = txBpeTrainSql.indexOf("\nSELECT CAST(1 AS INT)")
    require(cut > 0, "txBpeTrainSql splice anchor moved")
    txBpeTrainSql.substring(0, cut) + ",\n" +
      """tall AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |    FROM documents)
        |  WHERE word <> ''),
        |ws0 AS (
        |  SELECT word,
        |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS sym
        |  FROM (SELECT DISTINCT word FROM tall)),
        |ws1 AS (SELECT word, replace(sym, ' ' || t1.pair || ' ',
        |  ' ' || replace(t1.pair, ' ', '') || ' ') AS sym
        |  FROM ws0 CROSS JOIN t1),
        |ws2 AS (SELECT word, replace(sym, ' ' || t2.pair || ' ',
        |  ' ' || replace(t2.pair, ' ', '') || ' ') AS sym
        |  FROM ws1 CROSS JOIN t2),
        |wt AS (SELECT word,
        |  len(string_split(trim(sym), ' ')) AS nt FROM ws2)
        |SELECT doc_id, count(*) AS n_words,
        |  CAST(sum(nt) AS BIGINT) AS n_bpe_tokens
        |FROM tall JOIN wt USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Markup removal — the first stage of every web-crawl pipeline:
    * drop head/script/style blocks wholesale, strip remaining tags,
    * decode the common entities, collapse whitespace. Pure regexp
    * projection, zero shuffle.
    *
    * Like tx_pii, the input is synthesized deterministically (the corpus
    * has no real HTML): each document is wrapped in a full page — head
    * with title + style, an inline script, a paragraph body; every third
    * document additionally has its spaces entity-encoded as `&nbsp;`.
    * Stripping must recover the original text BYTE-EXACTLY, which the
    * spec asserts against the raw parquet column (and the oracle replays
    * the same build+strip chain). */
  private def synthHtml: Column = {
    val d = col("doc_id")
    concat(
      lit("<html><head><title>t"), d.cast(StringType),
      lit("</title><style>.c{color:red}</style></head><body><script>var x="),
      d.cast(StringType), lit(";</script><p class=\"a\">"),
      when(pmod(d, lit(3)) === 0,
        replace(col("text"), lit(" "), lit("&nbsp;")))
        .otherwise(col("text")),
      lit("</p><br/></body></html>"))
  }

  /** Entity decode order matters: `&amp;` is decoded LAST (the standard
    * order) so literal text containing `&amp;lt;` restores to `&lt;`
    * instead of double-decoding to `<`. Caveat (documented, inherent to
    * markup stripping): the final whitespace collapse means input text
    * already containing runs of multiple spaces is not restored
    * byte-exactly — the byte-exact recovery contract holds for
    * single-spaced corpora like the synthetic one. */
  def stripMarkup(html: Column): Column = {
    val noHead = regexp_replace(html, "<head>.*?</head>", "")
    val noScript = regexp_replace(noHead, "<script[^>]*>.*?</script>", "")
    val noTags = regexp_replace(noScript, "<[^>]*>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(noTags, "&nbsp;", " "),
      "&lt;", "<"), "&gt;", ">"), "&amp;", "&")
    trim(regexp_replace(decoded, " +", " "))
  }

  def txHtmlStrip(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), stripMarkup(synthHtml).as("clean_text"))
      .orderBy(col("doc_id"))

  val txHtmlStripSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    '<html><head><title>t' || doc_id ||
      |    '</title><style>.c{color:red}</style></head><body><script>var x=' ||
      |    doc_id || ';</script><p class="a">' ||
      |    CASE WHEN doc_id % 3 = 0 THEN replace(text, ' ', '&nbsp;')
      |         ELSE text END ||
      |    '</p><br/></body></html>' AS html
      |  FROM documents),
      |s1 AS (SELECT doc_id,
      |  regexp_replace(html, '<head>.*?</head>', '', 'g') AS x FROM h),
      |s2 AS (SELECT doc_id,
      |  regexp_replace(x, '<script[^>]*>.*?</script>', '', 'g') AS x FROM s1),
      |s3 AS (SELECT doc_id, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s2),
      |s4 AS (SELECT doc_id,
      |  replace(replace(replace(replace(x, '&nbsp;', ' '), '&lt;', '<'),
      |    '&gt;', '>'), '&amp;', '&') AS x FROM s3)
      |SELECT doc_id, trim(regexp_replace(x, ' +', ' ', 'g')) AS clean_text
      |FROM s4 ORDER BY doc_id""".stripMargin

  /** Cross-corpus fluency/novelty signal: the share of a document's
    * bigrams that are RARE in the whole corpus (occur <= 1 time
    * anywhere, i.e. nowhere else) — a cheap LM-free stand-in for
    * perplexity filtering: garbled or machine-generated text is full of
    * bigrams no other document produces, while templated text sits at
    * the other extreme. Complements [[repetition]] (within-doc) and
    * [[mlQuality]] (lexical model): this one is the only signal that
    * compares each document against the REST of the corpus. Pure count
    * ratios — no log smoothing (the libm oracle lesson).
    *
    * Scale: same shape as [[tfidf]] — one corpus-sized bigram-keyed
    * shuffle (map-side combined count + the tall-table join), but fully
    * de-texted: the key is xxhash64(first, second), so no string ever
    * crosses an exchange; per-doc aggregation is the second bounded
    * shuffle. */
  def fluency(docs: DataFrame): DataFrame = {
    // De-texted shuffle: bigram identity is xxhash64(first, second) —
    // chained per-word hashes, so ("ab","c") != ("a","bc") and no
    // separator string is built. The identities come from the per-row
    // [[VectorExprs.bigramXxh64]] kernel (one byte scan per doc, no
    // arrays_zip structs); the one corpus-wide exchange (the bg-keyed
    // count) moves (long, long) rows — same shape dd_exact uses for
    // text identity; a 64-bit collision merging two distinct bigrams
    // is ~N^2/2^64.
    // FUSED partial kernel (the dd_overlap shape): uniqueness + ownership
    // only need, per partition-distinct bigram, "seen once (by whom) or
    // more than once" — a primitive open-addressing bg→owner table
    // answers that per occurrence with one multiply-shift probe instead
    // of Spark's generic UnsafeRow hash-agg probe (the dominant cost of
    // the explode → groupBy formulation; same decomposition as Probe
    // overlap-floor). The table is HARD-bounded (2^21 slots): on fill it
    // drains and resets, and a mid-document split resumes via pending
    // state. Flush epochs keep semantics EXACT: a bigram split across
    // epochs emits two rows, and two rows (or an in-epoch repeat, owner
    // = -1) both mean "not corpus-unique" downstream — precisely the
    // occurrence-count semantics of the groupBy it replaces.
    val spark0 = docs.sparkSession
    import spark0.implicits._
    // text arrives CAST TO BINARY: UTF8String.getBytes is one array copy,
    // where getString would decode to UTF-16 and re-encode to UTF-8 per doc
    val part = docs.select(col("doc_id"), col("text").cast("binary"))
      .mapPartitions { rows =>
      new scala.collection.AbstractIterator[(Long, Long)] {
        private val bits = 21
        private val cap = 1 << bits
        private val mask = cap - 1
        private val maxUsed = (cap * 3) / 4
        private val keys = new Array[Long](cap)
        // 0 = empty slot; 1 = seen more than once; owner + 2 otherwise
        private val vals = new Array[Long](cap)
        private var used = 0
        private var draining = false
        private var drainPos = 0
        private var haveNext = false
        private var nextBg = 0L
        private var nextOwner = 0L
        private var pendHs: Array[Long] = null
        private var pendIdx = 0
        private var pendOwner = 0L

        private def insert(bg: Long, owner: Long): Unit = {
          var idx = ((bg * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt & mask
          while (true) {
            val v0 = vals(idx)
            if (v0 == 0L) {
              keys(idx) = bg; vals(idx) = owner + 2; used += 1; return
            }
            if (keys(idx) == bg) {
              vals(idx) = 1L; return
            }
            idx = (idx + 1) & mask
          }
        }

        private def fill(): Unit = {
          while (used < maxUsed) {
            if (pendHs != null) {
              val hs = pendHs
              var i = pendIdx
              while (i < hs.length && used < maxUsed) {
                insert(hs(i), pendOwner); i += 1
              }
              if (i < hs.length) { pendIdx = i; return }
              pendHs = null
            } else if (rows.hasNext) {
              val r = rows.next()
              if (!r.isNullAt(1)) {
                val hs = org.apache.spark.sql.graft.BigramXxh64.bigramHashes(
                  r.getAs[Array[Byte]](1))
                if (hs != null) {
                  pendHs = hs; pendIdx = 0; pendOwner = r.getLong(0)
                }
              }
            } else return
          }
        }

        private def advance(): Unit = {
          while (true) {
            if (draining) {
              while (drainPos < cap && vals(drainPos) == 0L) drainPos += 1
              if (drainPos < cap) {
                nextBg = keys(drainPos)
                nextOwner = if (vals(drainPos) == 1L) -1L else vals(drainPos) - 2
                drainPos += 1
                haveNext = true
                return
              }
              if (pendHs == null && !rows.hasNext) { haveNext = false; return }
              java.util.Arrays.fill(vals, 0L)
              used = 0; draining = false; drainPos = 0
            } else {
              fill()
              draining = true
            }
          }
        }

        override def hasNext: Boolean = {
          if (!haveNext) advance()
          haveNext
        }
        override def next(): (Long, Long) = {
          if (!hasNext) throw new NoSuchElementException
          haveNext = false
          (nextBg, nextOwner)
        }
      }
    }.toDF("bg", "owner")
    // No count-join back to a tall table: a corpus-unique bigram has
    // exactly ONE partition row, with a real owner — min(owner) of a
    // single-row group IS that document. And the per-doc bigram TOTAL is
    // pure arithmetic on the word count (a zero-shuffle projection), so
    // no doc-keyed aggregate over occurrences exists either.
    // bigram total = space count (split on a literal single space yields
    // spaces+1 tokens, so size(split)-1 == #spaces for every input):
    // two length() calls instead of materializing the token array on the
    // second text scan
    val perDoc = docs
      .select(col("doc_id"),
        (length(col("text")) -
          length(replace(col("text"), lit(" "), lit(""))))
          .cast(LongType).as("n_bigrams"))
      .filter(col("n_bigrams") > 0)
    val rare = part.groupBy(col("bg"))
      .agg(count(lit(1)).as("n"), min(col("owner")).as("owner"))
      .filter(col("n") === 1 && col("owner") >= 0)
      .groupBy(col("owner")).agg(count(lit(1)).as("n_rare"))
    perDoc.join(rare, perDoc("doc_id") === rare("owner"), "left")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        (coalesce(col("n_rare"), lit(0L)).cast("double") /
          col("n_bigrams").cast("double")).as("rare_ratio"))
  }

  def txFluency(spark: SparkSession, dir: String): DataFrame =
    fluency(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  val txFluencySql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (
      |  SELECT doc_id, unnest([w[i]||' '||w[i+1] for i in range(1, len(w))]) AS bg
      |  FROM toks WHERE len(w) >= 2),
      |cnt AS (SELECT bg, count(*) AS n FROM b GROUP BY bg)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(CASE WHEN n <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      |  CAST(sum(CASE WHEN n <= 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |    AS rare_ratio
      |FROM b JOIN cnt USING (bg) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Flesch reading-ease scoring, integer-exact. The classic readability
    * filter (drop very-hard or suspiciously-easy templated text from a
    * training corpus), computed WITHOUT floats so the score is bit-equal
    * cross-engine: syllables are approximated by vowel-group runs
    * ([aeiouy]+, computed on the whole text via two length() calls — a
    * run cannot span a space so the text-level count equals the per-word
    * sum) with a +1 correction per vowel-less word (per-word max(1, runs)
    * law); sentences are [.!?]+ runs, min 1. The score is scaled ×1000
    * and evaluated in integer floor division:
    *   flesch_x1000 = 206835 − (1015·W) div S − (84600·Syl) div W.
    *
    * Scale: a pure per-row projection — zero shuffle, full codegen,
    * pushdown-friendly (reads only doc_id + text). */
  def readability(docs: DataFrame): DataFrame = {
    val t = col("text")
    val low = lower(t)
    val words = filter(split(t, " "), w => w =!= "")
    val counted = docs.select(col("doc_id"),
      size(words).cast(LongType).as("n_words"),
      size(filter(words, w => !lower(w).rlike("[aeiouy]")))
        .cast(LongType).as("_zero_vowel"),
      (length(regexp_replace(low, "[aeiouy]+", "V")) -
        length(regexp_replace(low, "[aeiouy]+", "")))
        .cast(LongType).as("_vgroups"),
      (length(regexp_replace(t, "[.!?]+", "S")) -
        length(regexp_replace(t, "[.!?]+", "")))
        .cast(LongType).as("_sruns"))
    counted
      .withColumn("n_sentences", greatest(lit(1L), col("_sruns")))
      .withColumn("n_syllables", col("_vgroups") + col("_zero_vowel"))
      .withColumn("flesch_x1000",
        lit(206835L) -
          expr("(1015 * greatest(1L, n_words)) DIV n_sentences") -
          expr("(84600 * n_syllables) DIV greatest(1L, n_words)"))
      .withColumn("band",
        when(col("flesch_x1000") >= 90000, "very_easy")
          .when(col("flesch_x1000") >= 70000, "easy")
          .when(col("flesch_x1000") >= 50000, "standard")
          .when(col("flesch_x1000") >= 30000, "difficult")
          .otherwise("very_difficult"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("flesch_x1000"), col("band"))
  }

  def txReadability(spark: SparkSession, dir: String): DataFrame =
    readability(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  val txReadabilitySql: String =
    """WITH w AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(ws,
      |      x -> NOT regexp_matches(lower(x), '[aeiouy]'))) AS BIGINT)
      |      AS zero_vowel,
      |    CAST(length(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g'))
      |      - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
      |      AS BIGINT) AS vgroups,
      |    CAST(length(regexp_replace(text, '[.!?]+', 'S', 'g'))
      |      - length(regexp_replace(text, '[.!?]+', '', 'g'))
      |      AS BIGINT) AS sruns
      |  FROM w),
      |f AS (
      |  SELECT doc_id, n_words,
      |    greatest(1, sruns) AS n_sentences,
      |    vgroups + zero_vowel AS n_syllables,
      |    206835 - (1015 * greatest(1, n_words)) // greatest(1, sruns)
      |      - (84600 * (vgroups + zero_vowel)) // greatest(1, n_words)
      |      AS flesch_x1000
      |  FROM c)
      |SELECT doc_id, n_words, n_sentences, n_syllables, flesch_x1000,
      |  CASE WHEN flesch_x1000 >= 90000 THEN 'very_easy'
      |       WHEN flesch_x1000 >= 70000 THEN 'easy'
      |       WHEN flesch_x1000 >= 50000 THEN 'standard'
      |       WHEN flesch_x1000 >= 30000 THEN 'difficult'
      |       ELSE 'very_difficult' END AS band
      |FROM f ORDER BY doc_id""".stripMargin

  /** Cross-snapshot drift detection: compare the term distributions of
    * two corpus snapshots and surface the terms whose corpus share moved
    * most — the monitoring table a curation team watches between crawl
    * snapshots (a term surging from 0.1% to 2% of tokens usually means
    * spam, a template flood, or a scraper change). Shares are plain
    * count/total ratios and the ranking key is |share_a − share_b|:
    * rational arithmetic only, NO ln/log (libm last-ulp drift would
    * break the oracle — the tx_tfidf lesson), bit-exact cross-engine.
    *
    * Scale: one map-side-combined (snapshot, term) count — vocabulary-
    * sized shuffle — a two-row totals aggregate broadcast back, and a
    * TakeOrdered top-k. Nothing corpus-scale past the first scan. */
  def drift(docs: DataFrame, isSnapshotB: Column, k: Int = 20): DataFrame = {
    val terms = docs
      .select(isSnapshotB.cast("int").as("snap"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val counts = terms.groupBy(col("snap"), col("term"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // feeds totals AND the share join
    val totals = counts.groupBy(col("snap")).agg(sum(col("n")).as("tot"))
    val wide = counts.join(broadcast(totals), Seq("snap"))
      .withColumn("share", col("n").cast("double") / col("tot").cast("double"))
      .groupBy(col("term"))
      .agg(sum(when(col("snap") === 0, col("share")).otherwise(0.0)).as("share_a"),
        sum(when(col("snap") === 1, col("share")).otherwise(0.0)).as("share_b"))
    wide
      .withColumn("drift", abs(col("share_a") - col("share_b")))
      .orderBy(col("drift").desc, col("term"))
      .limit(k)
      .select(col("term"), col("share_a"), col("share_b"), col("drift"))
  }

  /** tx_drift: even doc_ids play snapshot A, odd play snapshot B. */
  def txDrift(spark: SparkSession, dir: String): DataFrame =
    drift(Tables.documents(spark, dir), pmod(col("doc_id"), lit(2)) === 1)

  val txDriftSql: String =
    """WITH t AS (
      |  SELECT CAST(doc_id % 2 AS INT) AS snap,
      |    unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |c AS (SELECT snap, term, count(*) AS n FROM t
      |      WHERE term <> '' GROUP BY snap, term),
      |tot AS (SELECT snap, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY snap),
      |sh AS (
      |  SELECT term,
      |    sum(CASE WHEN snap = 0
      |        THEN CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) ELSE 0.0 END) AS share_a,
      |    sum(CASE WHEN snap = 1
      |        THEN CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) ELSE 0.0 END) AS share_b
      |  FROM c JOIN tot USING (snap) GROUP BY term)
      |SELECT term, share_a, share_b, abs(share_a - share_b) AS drift
      |FROM sh ORDER BY drift DESC, term LIMIT 20""".stripMargin

  /** Exact two-sample Kolmogorov–Smirnov statistic between two corpus
    * snapshots' score distributions — the DISTRIBUTION-level drift gate
    * (tx_drift ranks individual term shifts; KS answers "did the quality
    * distribution move at all", the alarm a curation pipeline pages on).
    * D = max over pooled values v of |F_A(v) − F_B(v)|, computed as the
    * INTEGER max of |n_b·cumA(v) − n_a·cumB(v)| so the statistic is
    * bit-exact cross-engine; the double form divides the exact integer
    * once at the end, identically both sides.
    *
    * Scale shape: per-value counts are one map-combined vocab shuffle;
    * the cumulative counts over the value order are a [[PrefixScan]]
    * running sum bucketed by value RANGE over the known score domain
    * (<= nBuckets offsets rows, per-bucket windows bounded by
    * ~N/nBuckets distinct values). No global sort, no single-reducer
    * running sum. Integer bound: valid while n_a·n_b < 2^63 (samples up
    * to ~3×10⁹ rows each — drift monitors compare bounded samples; at
    * full-corpus scale feed it the per-value counts of a hash sample). */
  def ksStatistic(df: DataFrame, value: Column, isA: Column,
                  lo: Double, hi: Double, nBuckets: Int = 128): DataFrame = {
    val perV = df.select(value.as("_v"), isA.as("_ia"))
      .groupBy(col("_v"))
      .agg(sum(when(col("_ia"), 1L).otherwise(0L)).as("_ca"),
        sum(when(!col("_ia"), 1L).otherwise(0L)).as("_cb"))
    val bkt = least(greatest(
        floor((col("_v") - lit(lo)) / lit(hi - lo) * nBuckets), lit(0.0)),
      lit(nBuckets - 1.0)).cast(LongType)
    val cum = PrefixScan.running(perV, Nil, bkt, Seq(col("_v")),
      Seq(PrefixScan.Sum(col("_ca"), "_cuma"),
        PrefixScan.Sum(col("_cb"), "_cumb")))
    // totals fold out of the per-value table — a second scan of `df`
    // would recompute the whole upstream chain (for tx_ks_drift that is
    // a full mlQuality scoring pass) just to count rows per side
    val tot = perV
      .agg(sum(col("_ca")).as("_na"), sum(col("_cb")).as("_nb"))
    cum.crossJoin(broadcast(tot))
      .groupBy(col("_na"), col("_nb"))
      .agg(max(abs(col("_nb") * col("_cuma") - col("_na") * col("_cumb")))
        .as("d_num"))
      .select(col("_na").as("n_a"), col("_nb").as("n_b"), col("d_num"),
        (col("d_num").cast(DoubleType) /
          (col("_na").cast(DoubleType) * col("_nb").cast(DoubleType)))
          .as("ks"))
  }

  /** tx_ks_drift: KS distance between even-doc_id (A) and odd-doc_id
    * (B) snapshots on the model-quality score (ml_score ∈ [-1, 1]). */
  def txKsDrift(spark: SparkSession, dir: String): DataFrame =
    ksStatistic(
      mlQuality(Tables.documents(spark, dir))
        .withColumn("_even", pmod(col("doc_id"), lit(2)) === 0),
      value = col("ml_score"), isA = col("_even"), lo = -1.0, hi = 1.0)

  /** Oracle = the single-window formulation over the identical score
    * chain (the two-phase split is plan shape, not semantics). */
  val txKsDriftSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    ('0x'||substr(md5('w:'||CAST(
      |      ('0x'||substr(md5(term),1,15))::BIGINT % 64 AS VARCHAR)),1,10))::BIGINT AS w
      |  FROM tok WHERE term <> ''),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_terms, sum(w) AS s FROM f GROUP BY doc_id),
      |sc AS (
      |  SELECT doc_id, CAST(s AS DOUBLE) / CAST(n_terms AS DOUBLE)
      |    / 1099511627776.0 * 2.0 - 1.0 AS v FROM agg),
      |per AS (
      |  SELECT v,
      |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM sc GROUP BY v),
      |c AS (
      |  SELECT v, CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
      |    CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
      |  FROM per),
      |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      |      FROM per)
      |SELECT na AS n_a, nb AS n_b,
      |  CAST(max(abs(nb * cuma - na * cumb)) AS BIGINT) AS d_num,
      |  CAST(max(abs(nb * cuma - na * cumb)) AS DOUBLE)
      |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS ks
      |FROM c, t GROUP BY na, nb""".stripMargin

  /** Count-Min frequency sketch with verified error bounds — the
    * mergeable FREQUENCY sketch beside q_approx's HLL (distincts) and
    * q_approx_quantiles' GK (quantiles): at 100 TB a deployment tracks
    * heavy hitters with a d×w integer grid (map-side combined, merged
    * by addition across partitions/snapshots — the q_inc_stats monoid
    * property), never a vocab-sized exact table. d=4 hash rows × w=1024
    * buckets; est(term) = min_j sketch[j][h_j(term)], which
    * OVER-estimates by construction. The driver query builds the sketch
    * from the vocab-sized count table (4 projections + a 4096-row
    * aggregate), estimates the top-20 exact heavy hitters through it,
    * and emits the CM guarantees as oracle-checked booleans: ok_lower
    * (est >= true, deterministic) and ok_eps (est <= true + 4N/w — the
    * Markov band with generous slack; md5 buckets make both engines
    * agree bit-for-bit on every boolean either way). */
  def txCmSketch(spark: SparkSession, dir: String): DataFrame = {
    val d = 4
    val w = 1024L
    val tok = Tables.documents(spark, dir).select(
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val termCnt = tok.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds the sketch, the top-k, AND the total
    def bucket(j: Int, term: Column): Column =
      md5Long(concat(lit(s"cm$j:"), term), 1, 8) % lit(w)
    val sketch = (0 until d).map(j =>
        termCnt.select(lit(j).as("_j"), bucket(j, col("term")).as("_b"),
          col("n")))
      .reduce(_.unionByName(_))
      .groupBy(col("_j"), col("_b")).agg(sum(col("n")).as("_cell"))
    val total = termCnt.agg(sum(col("n")).as("_tot"))
    val top = termCnt.orderBy(col("n").desc, col("term")).limit(20)
    val withB = (0 until d).foldLeft(top) { (acc, j) =>
      acc.withColumn(s"_b$j", bucket(j, col("term")))
    }
    val est = (0 until d).foldLeft(withB) { (acc, j) =>
      acc.join(broadcast(sketch.filter(col("_j") === j)
          .select(col("_b").as(s"_sb$j"), col("_cell").as(s"_c$j"))),
        col(s"_b$j") === col(s"_sb$j"))
    }
    est
      .select(col("term"), col("n"),
        least((0 until d).map(j => col(s"_c$j")): _*).as("est"))
      .crossJoin(broadcast(total))
      .withColumn("ok_lower", col("est") >= col("n"))
      // integer arithmetic only — a double division here would round
      // differently from the oracle's BIGINT floor division
      .withColumn("ok_eps", col("est") <= col("n") + expr("(4 * _tot) DIV 1024"))
      .drop("_tot")
      .orderBy(col("n").desc, col("term"))
  }

  val txCmSketchSql: String = {
    val d = 4
    def bucket(j: Int, t: String) =
      s"('0x'||substr(md5('cm$j:'||$t),1,8))::BIGINT % 1024"
    val sketchSel = (0 until d).map(j =>
      s"SELECT $j AS j, ${bucket(j, "term")} AS b, n FROM tc")
      .mkString("\nUNION ALL\n")
    val joins = (0 until d).map(j =>
      s"JOIN sk s$j ON s$j.j = $j AND s$j.b = ${bucket(j, "t.term")}")
      .mkString("\n")
    val mins = (0 until d).map(j => s"s$j.cell").mkString(", ")
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
       |tc AS (
       |  SELECT term, count(*) AS n FROM tok WHERE term <> '' GROUP BY term),
       |sk AS (
       |  SELECT j, b, CAST(sum(n) AS BIGINT) AS cell FROM ($sketchSel)
       |  GROUP BY j, b),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM tc),
       |top AS (SELECT term, n FROM tc ORDER BY n DESC, term LIMIT 20)
       |SELECT t.term, t.n, least($mins) AS est,
       |  least($mins) >= t.n AS ok_lower,
       |  least($mins) <= t.n + (4 * tot) // 1024 AS ok_eps
       |FROM top t
       |$joins
       |CROSS JOIN tot
       |ORDER BY t.n DESC, t.term""".stripMargin
  }

  /** Differential-privacy-SHAPED statistics release: the noisy
    * thresholded term histogram (the private heavy-hitter release —
    * add per-key noise, clamp at zero, publish only keys whose noised
    * count clears a threshold τ). This is the release gate a pipeline
    * puts between corpus statistics and anything leaving the trust
    * boundary: raw counts of rare terms can memorably identify a
    * single source document; the τ-threshold suppresses every term
    * whose evidence is not crowd-sized.
    *
    * Determinism contract (the multimodal-decode pattern): production
    * draws noise from a cryptographic PRG with discrete-Laplace(1/ε)
    * tails; HERE the noise is a deterministic md5-seeded UNIFORM draw
    * on [-B, B] so the oracle replays the release bit-for-bit — the
    * pipeline SHAPE (count → per-key noise → clamp → τ-threshold →
    * publish) is the real contract, the sampler is a swap-in. No
    * ln/exp anywhere (libm drift — the tx_tfidf lesson): the draw is
    * pure integer arithmetic on the term's 60-bit digest.
    *
    * Scale: one map-side-combined vocabulary shuffle; noise +
    * threshold are projections over the vocab-sized table; output is
    * the released slice ordered by (released desc, term). */
  def dpRelease(docs: DataFrame, noiseB: Long = 20L, tau: Long = 50L)
      : DataFrame = {
    val tok = docs.select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val hist = tok.groupBy(col("term")).agg(count(lit(1)).as("n"))
    val noise = pmod(md5Long(concat(lit("dp:"), col("term")), 1, 15),
      lit(2 * noiseB + 1)) - lit(noiseB)
    hist
      .select(col("term"),
        greatest(col("n") + noise, lit(0L)).as("released"))
      .filter(col("released") >= tau)
      .orderBy(col("released").desc, col("term"))
  }

  def txDpRelease(spark: SparkSession, dir: String): DataFrame =
    dpRelease(Tables.documents(spark, dir))

  val txDpReleaseSql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |hist AS (
      |  SELECT term, count(*) AS n FROM tok WHERE term <> '' GROUP BY term),
      |rel AS (
      |  SELECT term,
      |    greatest(n + ('0x'||substr(md5('dp:'||term),1,15))::BIGINT % 41
      |      - 20, 0) AS released
      |  FROM hist)
      |SELECT term, released FROM rel WHERE released >= 50
      |ORDER BY released DESC, term""".stripMargin

  /** SFT example construction: flatten multi-turn conversations into
    * (context, response) training rows — one example per assistant
    * turn, context = all prior turns with role tags. The documents
    * table carries no conversation structure, so turns are synthesized
    * deterministically (25-word slices, roles alternating user/
    * assistant — the tx_pii planted-input pattern); a deployment feeds
    * real (conv_id, turn_idx, role, text) rows to [[sftPairs]].
    *
    * Scale shape: posexplode + a per-conversation window whose state is
    * bounded by TURNS PER CONVERSATION (single digits), not corpus
    * size — the collect_list here is the dimension-bounded kind the
    * q_listagg rule allows; one (conv_id) shuffle carrying turn texts
    * once. */
  def sftPairs(turns: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    turns
      .withColumn("tagged",
        concat(col("role"), lit(": "), col("turn_text")))
      .withColumn("context",
        coalesce(array_join(collect_list(col("tagged")).over(w), " | "),
          lit("")))
      .filter(col("role") === "assistant")
      .select(col("conv_id"), col("turn_idx"), col("context"),
        col("turn_text").as("response"))
  }

  def txSftPairs(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val turns = Tables.documents(spark, dir)
      .select(col("doc_id").as("conv_id"),
        posexplode(array((0 until 4).map(t =>
          array_join(slice(words, t * 25 + 1, 25), " ")): _*)))
      .toDF("conv_id", "turn_idx", "turn_text")
      .filter(col("turn_text") =!= "")
      .withColumn("role",
        when(pmod(col("turn_idx"), lit(2)) === 0, lit("user"))
          .otherwise(lit("assistant")))
    sftPairs(turns).orderBy(col("conv_id"), col("turn_idx"))
  }

  val txSftPairsSql: String =
    """WITH t AS (
      |  SELECT doc_id AS conv_id, string_split(text, ' ') AS w FROM documents),
      |turns AS (
      |  SELECT conv_id, i AS turn_idx,
      |    array_to_string(w[i*25+1 : i*25+25], ' ') AS turn_text,
      |    CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role
      |  FROM t, (SELECT unnest([0,1,2,3]) AS i)
      |  WHERE array_to_string(w[i*25+1 : i*25+25], ' ') <> ''),
      |ctx AS (
      |  SELECT conv_id, turn_idx, role, turn_text,
      |    coalesce(string_agg(role || ': ' || turn_text, ' | ') OVER (
      |      PARTITION BY conv_id ORDER BY turn_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '') AS context
      |  FROM turns)
      |SELECT conv_id, turn_idx, context, turn_text AS response
      |FROM ctx WHERE role = 'assistant'
      |ORDER BY conv_id, turn_idx""".stripMargin

  /** Changeset application (upsert/merge): fold a batch of updates,
    * deletes, and inserts into a corpus snapshot — how a maintained
    * corpus table advances between crawl snapshots without a rewrite
    * from scratch. ONE full-outer join on the key applies all three
    * operations: changeset side wins where present, `delete` rows are
    * filtered, unmatched changeset rows are the inserts.
    *
    * Scale: a single key shuffle join (both sides hash on doc_id). No
    * broadcast hint — real changesets can be a large fraction of the
    * snapshot (AQE still broadcasts genuinely small ones); the
    * de-broadcast lesson from the dedup drop-set joins applies. */
  def upsert(snap: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val ch = changes.select(col(key), col("op"),
      col("lang").as("_l"), col("n_chars").as("_n"))
    // op presence (not value coalesce) decides which side wins: an
    // update that sets a column to NULL must apply, not silently revert
    // to the old value — the property snapshotDiff's exact-inversion
    // contract depends on
    snap.join(ch, Seq(key), "full_outer")
      .filter(coalesce(col("op"), lit("keep")) =!= "delete")
      .select(col(key),
        when(col("op").isNotNull, col("_l")).otherwise(col("lang")).as("lang"),
        when(col("op").isNotNull, col("_n")).otherwise(col("n_chars")).as("n_chars"))
  }

  /** Host-graph centrality (fixed-iteration PageRank) — the host-level
    * quality prior of web curation: a page on a well-linked host gets a
    * different prior than one on a link-farm island, and host rank is a
    * standard feature in crawl frontier + quality filtering. Fixed 3
    * iterations of r' = (1-d)/N + d·Σ(r_in/outdeg), damping 0.85.
    *
    * Determinism: the in-rank Σ is a FLOAT sum over an unordered group —
    * the one place iterative graph math usually diverges cross-engine —
    * so contributions go through the scaled-integer trick (floor(x·1e12
    * +0.5) summed as BIGINT, divided back; the Relational.dsum pattern):
    * order-independent, bit-identical in both engines. (1-d)/N is
    * written as the literal 0.15 in BOTH (computing 1.0-0.85 in doubles
    * yields 0.15000000000000002 — a real cross-engine trap.)
    *
    * Scale: per-iteration cost is one rank⋈edges join + one map-side-
    * combined aggregate — |E|-bounded, the connectedComponents shape;
    * the rank table is #hosts-sized (millions at web scale, never the
    * corpus). Each iteration lazily checkpoints so lineage stays flat.
    * The edge list here derives from the synthetic source law
    * (host s links host (s²+1) mod 20 — quadratic, NOT a bijection, so
    * in-degrees range 0..4 and ranks spread 22x rather than staying
    * uniform), making the full SQL oracle replay all three
    * iterations. */
  def pageRank(edges: DataFrame, iters: Int = 3, d: Double = 0.85): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct().localCheckpoint(false)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var ranks = nodes
      .crossJoin(broadcast(nodes.agg(count(lit(1)).as("_n"))))
      .select(col("node"), (lit(1.0) / col("_n").cast("double")).as("r"),
        col("_n"))
    for (_ <- 1 to iters) {
      val contrib = ranks.join(edges, col("node") === col("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("_dst"),
          (col("r") / col("deg").cast("double")).as("c"))
        .groupBy(col("_dst"))
        .agg((sum(floor(col("c") * lit(1.0e12) + lit(0.5)).cast("long"))
          .cast("double") / lit(1.0e12)).as("cin"))
      ranks = ranks.select(col("node"), col("_n"))
        .join(contrib, col("node") === col("_dst"), "left_outer")
        .select(col("node"),
          (lit(0.15) / col("_n").cast("double") +
            lit(d) * coalesce(col("cin"), lit(0.0))).as("r"),
          col("_n"))
        .localCheckpoint(false)
    }
    ranks.select(col("node"), col("r"))
  }

  def qHostrank(spark: SparkSession, dir: String): DataFrame = {
    val s = substring(col("source"), 4, 8).cast("int")
    val edges = Tables.documents(spark, dir)
      .select(concat(lit("src"), s.cast("string")).as("src"),
        concat(lit("src"), pmod(s * s + 1, lit(20)).cast("string")).as("dst"))
      .distinct()
    pageRank(edges).orderBy(col("node"))
  }

  val qHostrankSql: String =
    """WITH d0 AS (SELECT CAST(substr(source, 4) AS INT) AS s FROM documents),
      |edges AS (
      |  SELECT DISTINCT 'src'||s AS src, 'src'||((s * s + 1) % 20) AS dst
      |  FROM d0),
      |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      |r0 AS (SELECT node, 1.0 / n AS r FROM nodes, nn),
      |c1 AS (
      |  SELECT dst, CAST(sum(CAST(floor(r / deg * 1e12 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 1e12 AS cin
      |  FROM r0 JOIN edges ON node = src JOIN deg USING (src) GROUP BY dst),
      |r1 AS (
      |  SELECT node, 0.15 / n + 0.85 * coalesce(cin, 0.0) AS r
      |  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON node = c1.dst),
      |c2 AS (
      |  SELECT dst, CAST(sum(CAST(floor(r / deg * 1e12 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 1e12 AS cin
      |  FROM r1 JOIN edges ON node = src JOIN deg USING (src) GROUP BY dst),
      |r2 AS (
      |  SELECT node, 0.15 / n + 0.85 * coalesce(cin, 0.0) AS r
      |  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON node = c2.dst),
      |c3 AS (
      |  SELECT dst, CAST(sum(CAST(floor(r / deg * 1e12 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 1e12 AS cin
      |  FROM r2 JOIN edges ON node = src JOIN deg USING (src) GROUP BY dst),
      |r3 AS (
      |  SELECT node, 0.15 / n + 0.85 * coalesce(cin, 0.0) AS r
      |  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON node = c3.dst)
      |SELECT node, r FROM r3 ORDER BY node""".stripMargin

  /** Snapshot diff — the INVERSE of [[upsert]]: compare two corpus
    * snapshots and emit the minimal changeset (update/delete/insert)
    * that transforms the first into the second. The pair gives the
    * incremental-maintenance algebra: `upsert(a, snapshotDiff(a, b))
    * == b` exactly (asserted in spec), which is how a pipeline ships
    * snapshot deltas instead of full corpora. Presence markers (not
    * value nulls) distinguish "row absent" from "null value", and
    * unchanged rows vanish from the changeset.
    *
    * Scale: one full-outer key join, same cost envelope as upsert. */
  def snapshotDiff(a: DataFrame, b: DataFrame, key: String = "doc_id"): DataFrame = {
    val ao = a.select(col(key), col("lang").as("_al"),
      col("n_chars").as("_an"), lit(1).as("_ap"))
    val bo = b.select(col(key), col("lang").as("_bl"),
      col("n_chars").as("_bn"), lit(1).as("_bp"))
    ao.join(bo, Seq(key), "full_outer")
      .withColumn("op",
        when(col("_bp").isNull, lit("delete"))
          .when(col("_ap").isNull, lit("insert"))
          .when(col("_al") <=> col("_bl") && col("_an") <=> col("_bn"),
            lit("same"))
          .otherwise(lit("update")))
      .filter(col("op") =!= "same")
      .select(col(key), col("op"),
        when(col("op") =!= "delete", col("_bl")).as("lang"),
        when(col("op") =!= "delete", col("_bn")).as("n_chars"))
  }

  /** q_snapshot_diff: diff the raw snapshot against the upsert-applied
    * one — must recover exactly the effective synthetic changeset. */
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val snap = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    snapshotDiff(snap, qUpsert(spark, dir)).orderBy(col("doc_id"))
  }

  /** Oracle IS the effective changeset definition (every synthetic
    * update changes n_chars, so none are no-ops). */
  val qSnapshotDiffSql: String =
    """WITH snap AS (SELECT doc_id, lang, n_chars FROM documents)
      |SELECT doc_id, op, lang, n_chars FROM (
      |  SELECT doc_id, 'update' AS op, lang, n_chars + 1000 AS n_chars
      |  FROM snap WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id, 'delete', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
      |  FROM snap WHERE doc_id % 10 = 1
      |  UNION ALL
      |  SELECT doc_id + 1000000000000, 'insert', lang, CAST(42 AS BIGINT)
      |  FROM snap WHERE doc_id % 10 = 2)
      |ORDER BY doc_id""".stripMargin

  /** q_upsert: a deterministic synthetic changeset over documents —
    * doc_id%10: 0 → update (n_chars+1000), 1 → delete, 2 → insert a new
    * doc at id+10^12 (far above any corpus doc_id at every rehearsed
    * scale — a sub-corpus-size offset would silently turn inserts into
    * overwrites) with n_chars=42. */
  def qUpsert(spark: SparkSession, dir: String): DataFrame = {
    val snap = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val m = pmod(col("doc_id"), lit(10))
    val changes = snap.filter(m <= 2).select(
      when(m === 2, col("doc_id") + lit(1000000000000L))
        .otherwise(col("doc_id")).as("doc_id"),
      when(m === 0, lit("update")).when(m === 1, lit("delete"))
        .otherwise(lit("insert")).as("op"),
      col("lang"),
      when(m === 0, col("n_chars") + lit(1000L))
        .when(m === 2, lit(42L)).otherwise(col("n_chars")).as("n_chars"))
    upsert(snap, changes, "doc_id").orderBy(col("doc_id"))
  }

  val qUpsertSql: String =
    """WITH snap AS (SELECT doc_id, lang, n_chars FROM documents),
      |ch AS (
      |  SELECT CASE WHEN m = 2 THEN orig + 1000000000000 ELSE orig END AS doc_id,
      |    CASE m WHEN 0 THEN 'update' WHEN 1 THEN 'delete'
      |           ELSE 'insert' END AS op,
      |    lang,
      |    CASE m WHEN 0 THEN n_chars + 1000 WHEN 2 THEN 42
      |           ELSE n_chars END AS n_chars
      |  FROM (SELECT doc_id AS orig, doc_id % 10 AS m, lang, n_chars
      |        FROM snap WHERE doc_id % 10 <= 2)),
      |j AS (
      |  SELECT coalesce(ch.doc_id, snap.doc_id) AS doc_id, op,
      |    CASE WHEN op IS NOT NULL THEN ch.lang ELSE snap.lang END AS lang,
      |    CASE WHEN op IS NOT NULL THEN ch.n_chars ELSE snap.n_chars END
      |      AS n_chars
      |  FROM snap FULL OUTER JOIN ch ON snap.doc_id = ch.doc_id)
      |SELECT doc_id, lang, n_chars FROM j
      |WHERE coalesce(op, 'keep') <> 'delete' ORDER BY doc_id""".stripMargin

  /** Targeted-deletion (right-to-be-forgotten / source takedown)
    * cascade: given a blocked-source predicate, produce the deletion
    * MANIFEST across every derived table — the accounting a pipeline
    * must emit before rewriting files. The purge set is defined once on
    * the primary table; derived tables (embeddings keyed by vec_id =
    * doc_id) inherit membership via a key join, so the cascade shuffles
    * ids only, never text or vectors. One row per table with purged /
    * kept counts (conditional aggregates, map-side combined). */
  def purgeManifest(docs: DataFrame, emb: DataFrame,
                    blocked: Column): DataFrame = {
    val docStats = docs
      .agg(sum(when(blocked, 1L).otherwise(0L)).as("n_purged"),
        sum(when(blocked, 0L).otherwise(1L)).as("n_kept"))
      .select(lit("documents").as("tbl"), col("n_purged"), col("n_kept"))
    val badIds = docs.filter(blocked).select(col("doc_id"))
    val embStats = emb
      .join(badIds, emb("vec_id") === badIds("doc_id"), "left")
      .agg(sum(when(col("doc_id").isNotNull, 1L).otherwise(0L)).as("n_purged"),
        sum(when(col("doc_id").isNotNull, 0L).otherwise(1L)).as("n_kept"))
      .select(lit("embeddings").as("tbl"), col("n_purged"), col("n_kept"))
    docStats.unionByName(embStats).orderBy(col("tbl"))
  }

  def qPurge(spark: SparkSession, dir: String): DataFrame =
    purgeManifest(Tables.documents(spark, dir),
      Tables.embeddings(spark, dir),
      col("source").isin("src3", "src7"))

  val qPurgeSql: String =
    """WITH bad AS (
      |  SELECT doc_id FROM documents WHERE source IN ('src3', 'src7'))
      |SELECT 'documents' AS tbl,
      |  CAST(count(*) FILTER (source IN ('src3','src7')) AS BIGINT) AS n_purged,
      |  CAST(count(*) FILTER (source NOT IN ('src3','src7')) AS BIGINT) AS n_kept
      |FROM documents
      |UNION ALL
      |SELECT 'embeddings' AS tbl,
      |  CAST(count(*) FILTER (bad.doc_id IS NOT NULL) AS BIGINT) AS n_purged,
      |  CAST(count(*) FILTER (bad.doc_id IS NULL) AS BIGINT) AS n_kept
      |FROM embeddings LEFT JOIN bad ON vec_id = bad.doc_id
      |ORDER BY tbl""".stripMargin

  /** q_corpus_report: the dataset "data card" profile — one row per
    * language with document counts, character mass, length distribution,
    * and the exact-duplicate rate. The summary table published next to a
    * training corpus and watched across snapshots for drift.
    *
    * Scale: two passes, both grouped on the low-cardinality language key.
    * The distinct-hash pass shuffles (lang, md5) with map-side partial
    * dedup. The percentile pass sorts each language's lengths within its
    * group — at 100 TB the percentile columns switch to the mergeable GK
    * sketch (q_approx_quantiles' machinery and verification contract);
    * the exact form here is what makes the report oracle-checkable
    * bit-for-bit. The two aggregates stay SEPARATE: a count-distinct in
    * the same agg as a percentile makes Catalyst Expand every row per
    * distinct column and the percentile sorts the inflated input (the
    * q_stats lesson, measured 3x). */
  def qCorpusReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars_total"),
      percentile(col("n_chars"), lit(0.5)).as("p50_chars"),
      percentile(col("n_chars"), lit(0.9)).as("p90_chars"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))
    val uniq = docs.groupBy(col("lang"))
      .agg(countDistinct(md5(col("text"))).as("n_unique"))
    base.join(uniq, Seq("lang"))
      .withColumn("dup_rate",
        (col("n_docs") - col("n_unique")).cast("double") /
          col("n_docs").cast("double"))
      .select(col("lang"), col("n_docs"), col("n_chars_total"),
        col("p50_chars"), col("p90_chars"), col("min_chars"),
        col("max_chars"), col("n_unique"), col("dup_rate"))
      .orderBy(col("lang"))
  }

  val qCorpusReportSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
      |  quantile_cont(n_chars, 0.5) AS p50_chars,
      |  quantile_cont(n_chars, 0.9) AS p90_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  count(DISTINCT md5(text)) AS n_unique,
      |  CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / count(*)
      |    AS dup_rate
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q_curation_e2e: the WHOLE web-curation pipeline as ONE composed
    * query — the flagship "a reference user runs their entire flow here"
    * showcase. Stages, each individually oracle-verified elsewhere:
    *
    *   1. URL canonicalize → registrable domain  (tx_urlnorm, projection)
    *   2. per-domain cap, 10 docs                (q_domain_cap, WindowGroupLimit)
    *   3. model quality filter, score > 0        (tx_mlquality, one agg)
    *   4. exact content dedup, keep min doc_id   (dd_exact, hash window)
    *   5. per-language token budget, 20k chars   (q_token_budget, two-phase)
    *   6. deterministic shard export, 4 shards   (q_shuffle_export)
    *
    * Every stage is deterministic, so the composition hash-matches the
    * replayed DuckDB chain end to end.
    *
    * Scale — the load-bearing property: NO exchange in the composed plan
    * carries the `text` column (PlanSpec walks every shuffle and asserts
    * it). Text is consumed entirely at the SCAN side: one projection
    * derives the slim row (doc_id, md5(text), n_chars, lang, domain),
    * and the model score comes from [[mlQuality]]'s map-side-combined
    * word-hash aggregate (longs, keyed by doc_id). Scoring runs BEFORE
    * the cap — per-doc scores are membership-independent (a pure
    * function of the doc's own words), so restricting afterwards gives
    * bit-identical results to scoring the capped subset (the oracle
    * replays score-from-capped), and it keeps text out of the cap
    * window, the dedup window, the budget windows and the export
    * shuffle: all five exchanges move ~60-byte key rows. The trade
    * (documented): the whole corpus is scored, not just cap survivors —
    * scan-side compute bought with zero corpus-text network; a
    * production pipeline with very aggressive caps can restrict the
    * scoring scan by the capped id set instead (one slim semi-join). */
  def curationPipeline(docs0: DataFrame, domainCap: Int = 10,
                       charBudget: Long = 20000L, nShards: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slim = docs0
      .withColumn("domain", urlDomain(normalizeUrl(synthUrl)))
      .select(col("doc_id"), md5(col("text")).as("_h"),
        col("n_chars"), col("lang"), col("domain"))
    val scores = mlQuality(docs0).select(col("doc_id"), col("ml_score"))
    val capped = Sampling.stratified(slim, col("domain"), col("doc_id"), domainCap)
    // inner join AFTER the cap: a wordless doc has no score row, and it
    // must still consume its cap slot first (the oracle's stage order)
    val scored = capped.join(scores, Seq("doc_id")).filter(col("ml_score") > 0)
    val deduped = scored
      .withColumn("_keep", min(col("doc_id")).over(Window.partitionBy(col("_h"))))
      .filter(col("doc_id") === col("_keep")).drop("_keep")
    val budgeted = Sampling.tokenBudget(deduped, col("lang"), col("doc_id"),
      col("n_chars"), charBudget)
    Sampling.shuffleExport(
      budgeted.select(col("doc_id"), col("lang"), col("domain"), col("ml_score")),
      col("doc_id"), nShards)
  }

  def qCurationE2e(spark: SparkSession, dir: String): DataFrame =
    curationPipeline(Tables.documents(spark, dir)).orderBy(col("shard"), col("pos"))

  /** q_curation_incr: the STEADY-STATE production loop the one-shot
    * [[curationPipeline]] doesn't cover — a curated snapshot absorbs a
    * new document batch incrementally:
    *
    *   1. snapshot = the exact-deduped corpus (what a previous full run
    *      curated; only its slim hash rows are retained),
    *   2. a synthetic batch arrives (re-keyed at +10^12): half are
    *      content-duplicates of snapshot docs (MUST drop), half carry
    *      genuinely new text (MUST survive),
    *   3. incremental dedup — the new batch anti-joins the snapshot's
    *      stored hashes ([[graft.operators.Dedup.incrementalExact]]'s
    *      shape) plus an in-batch keep-min pass; the historical corpus
    *      is never re-deduped or even re-read beyond its hash column,
    *   4. the per-language token budget re-solves on the merged corpus,
    *   5. the output is the DELTA CHANGESET of the curated selection:
    *      op = keep / add (newly selected, with shard+pos on the merged
    *      export tape) / retract (previously selected, now pushed past
    *      the budget by new arrivals) — what actually ships downstream.
    *
    * The incremental path equals full recomputation on the merged
    * snapshot bit-for-bit (spec-asserted): batch ids sit above every
    * snapshot id, so keep-min dedup always prefers the historical doc,
    * and budget membership depends only on the merged corpus content.
    *
    * Scale: every exchange carries slim (id, hash, n_chars, lang) rows —
    * text is consumed at the scan; the anti-join shuffles 16-byte hashes;
    * both budget passes are the two-phase bucket-split prefix sum. */
  def qCurationIncr(spark: SparkSession, dir: String,
                    charBudget: Long = 20000L, nShards: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // the three checkpoints below cut the plan from 32 scans to 4; a
    // quiet alternating A/B measured 2.72-2.98 s with them vs 3.08-3.46 s
    // without
    def keepMin(df: DataFrame): DataFrame = df
      .withColumn("_keep", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("_keep")).drop("_keep")
    val slim = docs.select(col("doc_id"), md5(col("text")).as("h"),
      length(col("text")).cast("long").as("n_chars"), col("lang"))
    // hist fans out three ways (the batch anti-join, the merge union,
    // and the historical budget pass) — without a checkpoint the
    // scan+md5+keep-min pipeline re-executes per reference (32 parquet
    // scans in the r15 before-plan). Slim rows only; text never
    // materializes.
    val hist = keepMin(slim).localCheckpoint(false)
    // the arriving batch: docs with id%10==2 re-keyed; id%20==2 keeps its
    // text verbatim (a content-dup of the snapshot), the rest append a
    // unique suffix (new content)
    val nt = when(pmod(col("doc_id"), lit(20)) === 2, col("text"))
      .otherwise(concat(col("text"), lit(" b"), col("doc_id").cast("string")))
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 2)
      .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
        md5(nt).as("h"), length(nt).cast("long").as("n_chars"), col("lang"))
    val fresh = keepMin(batch.join(hist.select(col("h")), Seq("h"), "left_anti"))
    val merged = hist.unionByName(fresh)
    def budget(df: DataFrame): DataFrame =
      Sampling.tokenBudget(df, col("lang"), col("doc_id"),
          col("n_chars"), charBudget)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    // each selection table is read twice (export+retract / mark+retract):
    // checkpoint both so the two-pass budget prefix sum runs once each
    val selM = budget(merged).localCheckpoint(false)
    val selH = budget(hist).localCheckpoint(false)
    val exported = Sampling.shuffleExport(selM, col("doc_id"), nShards)
    val marked = exported
      .join(selH.select(col("doc_id").as("_pid")),
        col("doc_id") === col("_pid"), "left_outer")
      .withColumn("op", when(col("_pid").isNull, lit("add"))
        .otherwise(lit("keep")))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("op"),
        col("shard"), col("pos"))
    val retracts = selH
      .join(selM.select(col("doc_id").as("_mid")),
        col("doc_id") === col("_mid"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        lit("retract").as("op"), lit(null).cast("int").as("shard"),
        lit(null).cast("long").as("pos"))
    marked.unionByName(retracts).orderBy(col("doc_id"))
  }

  val qCurationIncrSql: String =
    """WITH all0 AS (
      |  SELECT doc_id, md5(text) AS h,
      |    CAST(length(text) AS BIGINT) AS n_chars, lang
      |  FROM documents),
      |hist AS (
      |  SELECT * FROM all0 WHERE doc_id IN (
      |    SELECT min(doc_id) FROM all0 GROUP BY h)),
      |bt AS (
      |  SELECT doc_id + 1000000000000 AS doc_id, md5(nt) AS h,
      |    CAST(length(nt) AS BIGINT) AS n_chars, lang
      |  FROM (SELECT doc_id, lang,
      |          CASE WHEN doc_id % 20 = 2 THEN text
      |               ELSE text || ' b' || CAST(doc_id AS VARCHAR) END AS nt
      |        FROM documents WHERE doc_id % 10 = 2)),
      |fresh0 AS (
      |  SELECT * FROM bt WHERE NOT EXISTS
      |    (SELECT 1 FROM hist WHERE hist.h = bt.h)),
      |fresh AS (
      |  SELECT * FROM fresh0 WHERE doc_id IN (
      |    SELECT min(doc_id) FROM fresh0 GROUP BY h)),
      |merged AS (SELECT * FROM hist UNION ALL SELECT * FROM fresh),
      |selm AS (
      |  SELECT doc_id, lang, n_chars FROM (
      |    SELECT *, sum(n_chars) OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':budget'), doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |    FROM merged) WHERE cum <= 20000),
      |selh AS (
      |  SELECT doc_id, lang, n_chars FROM (
      |    SELECT *, sum(n_chars) OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':budget'), doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |    FROM hist) WHERE cum <= 20000),
      |exp AS (
      |  SELECT doc_id, lang, n_chars, CAST(_k % 4 AS INTEGER) AS shard,
      |    row_number() OVER (PARTITION BY _k % 4 ORDER BY _k, doc_id) AS pos
      |  FROM (SELECT *,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':export'),1,15))::BIGINT
      |      AS _k FROM selm))
      |SELECT doc_id, lang, n_chars,
      |  CASE WHEN doc_id IN (SELECT doc_id FROM selh) THEN 'keep'
      |       ELSE 'add' END AS op,
      |  shard, pos
      |FROM exp
      |UNION ALL
      |SELECT doc_id, lang, n_chars, 'retract',
      |  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT)
      |FROM selh WHERE doc_id NOT IN (SELECT doc_id FROM selm)
      |ORDER BY doc_id""".stripMargin

  val qCurationE2eSql: String =
    """WITH u AS (
      |  SELECT doc_id, text, lang, n_chars,
      |    lower(source) || '.example.com' AS domain
      |  FROM documents),
      |cap AS (
      |  SELECT doc_id, text, lang, n_chars, domain FROM (
      |    SELECT *, row_number() OVER (PARTITION BY domain
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':strat'), doc_id) AS rk
      |    FROM u) WHERE rk <= 10),
      |f AS (
      |  SELECT doc_id,
      |    ('0x'||substr(md5('w:'||CAST(
      |      ('0x'||substr(md5(term),1,15))::BIGINT % 64 AS VARCHAR)),1,10))::BIGINT AS w
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM cap)
      |  WHERE term <> ''),
      |sc AS (
      |  SELECT doc_id,
      |    CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |      / 1099511627776.0 * 2.0 - 1.0 AS ml_score
      |  FROM f GROUP BY doc_id),
      |q AS (
      |  SELECT cap.*, sc.ml_score FROM cap JOIN sc USING (doc_id)
      |  WHERE sc.ml_score > 0),
      |d AS (
      |  SELECT * FROM q WHERE doc_id IN (
      |    SELECT min(doc_id) FROM q GROUP BY md5(text))),
      |b AS (
      |  SELECT doc_id, lang, domain, ml_score FROM (
      |    SELECT *, sum(n_chars) OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':budget'), doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |    FROM d) WHERE cum <= 20000),
      |k AS (
      |  SELECT *, ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':export'),1,15))::BIGINT AS _k
      |  FROM b)
      |SELECT doc_id, lang, domain, ml_score, CAST(_k % 4 AS INTEGER) AS shard,
      |  row_number() OVER (PARTITION BY _k % 4 ORDER BY _k, doc_id) AS pos
      |FROM k ORDER BY shard, pos""".stripMargin

  /** tx_lm_score: n-gram language-model surprise scoring — the CCNet /
    * Wikipedia-LM perplexity filter shape of pre-training curation
    * (train a small LM on a clean half, keep target docs whose
    * per-token surprise is low). The LM is a bigram model trained on
    * the even-doc_id half and served against the odd half.
    *
    * Surprise is INTEGER end to end so both engines agree bit-for-bit:
    * -log2 p(w2|w1) ≈ bitlen(c1(w1)) - bitlen(c2(w1,w2)) where
    * bitlen(n) = length(bin(n)) = floor(log2 n)+1 — exact in any
    * engine, no libm (the q_corr lesson applied to logarithms).
    * Backoff: unseen continuation costs bitlen(c1)+4 bits, unseen
    * history a flat 20 bits. Per-doc surprise_per_kbi (bits×1000 per
    * bigram, one exact int→double division) is the rank/filter signal.
    *
    * Scale shape: bigram extraction is the codegen'd zip+slice pattern
    * ([[bigrams]]); both count tables are map-side-combined vocab-sized
    * aggregates BROADCAST onto the scoring stream (the tfidf trade —
    * Heaps' law keeps word-level model tables broadcastable far past
    * this scale), so no corpus-token row ever crosses an exchange
    * before the per-doc aggregate; that aggregate shuffles (doc_id,
    * partial) only. For unbounded vocabularies, drop the broadcast()
    * hints and the same plan shuffle-joins on the bigram key.
    *
    * LAZY construction: the returned frame is a [[org.apache.spark.sql
    * .graft.DeferredDF]] — building it runs ZERO Spark jobs. The
    * train-half aggregation and the model collect happen at first
    * ACTION (driver-side, inside the deferred node's doExecute), so
    * plan-only callers (PlanDump, PLANS.md, registry enumeration) pay
    * nothing, and repeated executions reuse the memoized model. */
  def lmScore(docs: DataFrame, minCount: Long = 1): DataFrame =
    org.apache.spark.sql.graft.DeferredDF(docs.sparkSession,
      StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("n_bigrams", LongType, nullable = false),
        StructField("surprise_bits", LongType, nullable = false),
        StructField("surprise_per_kbi", DoubleType, nullable = true),
        StructField("lm_keep", BooleanType, nullable = true))),
      () => lmScoreEager(docs, minCount))

  /** The TRAIN half's partition-partial (k12, k1, cnt) stream — the
    * fused count kernel, exposed so [[lmScoreEager]] and the Probe
    * stage decomposition share one definition.
    *
    * The BigramKeyPairs kernel emits (k1, k12) XXH64 key pairs
    * straight off the text bytes (no string materialization; keys
    * spec-pinned bit-equal to xxhash64(w1)/xxhash64(w1||' '||w2) of the
    * string formulation) into a map-combined vocab-sized count
    * aggregate. c1 = Σ_w2 c2 — the unigram table FOLDS OUT of the
    * bigram table, so the train half is scanned once.
    * FUSED train-count kernel (the fluency/dd_overlap shape): the
    * per-occurrence work drops from a generic two-long-key UnsafeRow
    * hash-agg probe to one multiply-shift probe of a primitive
    * (k12, k1) → count table; partition-partial (k12, k1, cnt) rows
    * flow into an exact sum merge. Hard-bounded (2^21 slots,
    * drain-and-reset on fill, mid-document resume); counts split
    * across flush epochs re-sum downstream, so any table size is
    * correct. Probes match on BOTH keys — a k12 collision between
    * distinct (k12, k1) pairs stays two entries, exactly as the
    * groupBy it replaces treated it. */
  /** Partition-local fused (k12, k1) → count kernel: a hard-bounded
    * (2^21-slot) open-addressing table over the BigramKeyPairs hash
    * stream, drained to ONE PACKED [k12, k1, cnt]* long array per fill
    * epoch (mid-document resume across epochs; counts split across
    * epochs re-sum downstream, so any table size is correct). Probes
    * match on BOTH keys — a k12 collision between distinct (k12, k1)
    * pairs stays two entries, exactly as the groupBy it feeds treats
    * it. Shared by [[lmTrainPartials]] (the DataFrame form) and the
    * exact path's streaming driver merge in [[lmScoreEager]]. */
  private[graft] final class BigramCountKernel(
      docBytes: Iterator[Array[Byte]])
      extends scala.collection.AbstractIterator[Array[Long]] {
    private val bits = 21
    private val cap = 1 << bits
    private val mask = cap - 1
    private val maxUsed = (cap * 3) / 4
    private val k12s = new Array[Long](cap)
    private val k1s = new Array[Long](cap)
    private val cnts = new Array[Long](cap) // 0 = empty slot
    private var used = 0
    private var pend: Array[Long] = null
    private var pendIdx = 0

    private def insert(k1: Long, k12: Long): Unit = {
      var idx = (((k12 ^ k1) * 0x9E3779B97F4A7C15L) >>> (64 - bits))
        .toInt & mask
      while (true) {
        val c0 = cnts(idx)
        if (c0 == 0L) {
          k12s(idx) = k12; k1s(idx) = k1; cnts(idx) = 1L; used += 1
          return
        }
        if (k12s(idx) == k12 && k1s(idx) == k1) {
          cnts(idx) = c0 + 1; return
        }
        idx = (idx + 1) & mask
      }
    }

    private def fill(): Unit = {
      while (used < maxUsed) {
        if (pend != null) {
          val hs = pend
          var i = pendIdx
          while (i < hs.length && used < maxUsed) {
            insert(hs(i), hs(i + 1)); i += 2
          }
          if (i < hs.length) { pendIdx = i; return }
          pend = null
        } else if (docBytes.hasNext) {
          val hs = org.apache.spark.sql.graft.BigramKeyPairs
            .keyPairsInterleaved(docBytes.next())
          if (hs.nonEmpty) { pend = hs; pendIdx = 0 }
        } else return
      }
    }

    // fill before answering so hasNext promises a NON-EMPTY drain epoch:
    // with bare `docBytes.hasNext` the remaining docs could all yield
    // zero key pairs and next() would return an empty array element.
    // The work is the same epoch next() would have done — just moved.
    override def hasNext: Boolean = {
      if (used == 0 && pend == null) fill()
      used > 0 || pend != null
    }

    override def next(): Array[Long] = {
      if (!hasNext) throw new NoSuchElementException
      fill()
      val out = new Array[Long](used * 3)
      var i = 0
      var o = 0
      while (i < cap) {
        if (cnts(i) != 0L) {
          out(o) = k12s(i); out(o + 1) = k1s(i); out(o + 2) = cnts(i)
          o += 3
        }
        i += 1
      }
      java.util.Arrays.fill(cnts, 0L)
      used = 0
      out
    }
  }

  private[graft] def lmTrainPartials(docs: DataFrame): DataFrame = {
    val spark1 = docs.sparkSession
    import spark1.implicits._
    // binary cast, not getString: skips the UTF-16 round-trip per doc
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("text").cast("binary")).mapPartitions { rows =>
        val bytes = rows.collect {
          case r if !r.isNullAt(0) => r.getAs[Array[Byte]](0)
        }
        new BigramCountKernel(bytes).flatMap { arr =>
          Iterator.range(0, arr.length, 3)
            .map(i => (arr(i), arr(i + 1), arr(i + 2)))
        }
      }.toDF("k12", "k1", "cnt")
  }

  /** The eager body of [[lmScore]]: runs the train job and collects the
    * (pruned) model AT CALL TIME. Callers wanting laziness go through
    * [[lmScore]]; this stays public for specs that pin the serve
    * semantics directly. */
  def lmScoreEager(docs: DataFrame, minCount: Long = 1): DataFrame = {
    val trainPart = lmTrainPartials(docs)
    val c2 = trainPart.groupBy(col("k12"), col("k1"))
      .agg(sum(col("cnt")).as("c2"))
    // SERVE: the production LM-filter shape (CCNet ships a compiled LM
    // binary to every worker the same way) — collect the model ONCE and
    // score each document in one mapPartitions scan with primitive
    // long-map lookups. The replaced formulation (kernel explode → two
    // broadcast joins → per-doc re-aggregate) moved every bigram
    // through Generate + two probes + a hash aggregate: 3.0 s at x100
    // vs 1.35 s for this serve; it survives as [[lmScoreJoin]], the
    // no-driver-collect fallback for corpora whose model outgrows the
    // bounds below. Like valueAtRanks, the model is frozen at
    // CONSTRUCTION time — building this DataFrame runs the train-half
    // job eagerly (callers that only want the plan should build
    // lmScoreJoin instead), and a re-executed result does not see later
    // train-half changes.
    //
    // MODEL-SIZE BOUND (the CCNet prune): word-level vocab tables are
    // broadcast-safe far past web scale by Heaps' law, but bigram TYPE
    // counts keep growing — at 100 TB they run to billions and no
    // driver holds that map. `minCount` prunes the bigram table to
    // entries with c2 >= minCount BEFORE collection: a counting
    // argument bounds the pruned table at total_train_bigrams/minCount
    // entries (each entry accounts for >= minCount observed tokens), so
    // minCount = totalBigrams/10^8 caps the model at ~100M entries
    // regardless of corpus size. Pruned bigrams score as unseen
    // continuations (backoff bitlen(c1)+4) — the standard LM-prune
    // semantics; the unigram table stays exact (vocab-sized) and is
    // aggregated FROM the bigram table, never from a second corpus
    // scan. minCount=1 (the oracle-checked default) collects the exact
    // table in one job with c1 folded out driver-side.
    // MODEL COLLECT. The round-12 stage profile put ~0.5 s of the x100
    // wall in this driver constant (collect the count table, build the
    // maps, broadcast, schedule two jobs); three parts were avoidable:
    //
    // - EXACT path (minCount=1): no combine exchange at all. The fused
    //   kernel's packed partial arrays stream straight to the driver as
    //   TASK RESULTS (sc.runJob with a resultHandler that folds each
    //   arriving array into the growable maps) — the exchange + final
    //   hash-agg stage and the model-row collect disappear, and the
    //   driver merge OVERLAPS the train scan (results fold while later
    //   tasks still run). Partial volume is bounded by min(#partitions
    //   × distinct, total bigrams) — a constant multiple of the table
    //   the exact contract already requires the driver to hold. addTo
    //   (not put) makes cross-partition and cross-epoch partials sum,
    //   and c1 folds out of the same pass.
    // - PRUNED path (minCount>1, the 100 TB default): keeps the
    //   distributed combine (the driver must only ever hold vocab-sized
    //   + pruned tables — the CCNet bound), but its two jobs (unigram
    //   rollup, pruned filter) fold into ONE tagged-union job over the
    //   persisted count table, collected as InternalRows
    //   (executeCollect — no external GenericRow boxing).
    //
    // Primitive open-addressing tables: the serve loop probes twice per
    // bigram, and a boxed HashMap key allocation per probe is the
    // difference between a memory-bandwidth scan and a GC churn scan.
    def collectRows(df: DataFrame) =
      df.queryExecution.executedPlan.executeCollect()
    val (c1m, c2m) =
      if (minCount <= 1L) {
        val m1 = new graft.core.LongLongMap(1 << 15, growable = true)
        val m2 = new graft.core.LongLongMap(1 << 16, growable = true)
        val trainRdd = docs.filter(col("doc_id") % 2 === 0)
          .select(col("text").cast("binary"))
          .queryExecution.toRdd.mapPartitions { rows =>
            val bytes = rows.collect {
              case r if !r.isNullAt(0) => r.getBinary(0)
            }
            new BigramCountKernel(bytes)
          }
        docs.sparkSession.sparkContext.runJob[Array[Long], Array[Array[Long]]](
          trainRdd,
          (it: Iterator[Array[Long]]) => it.toArray,
          (_: Int, res: Array[Array[Long]]) => res.foreach { arr =>
            var i = 0
            while (i < arr.length) {
              m2.addTo(arr(i), arr(i + 2))
              m1.addTo(arr(i + 1), arr(i + 2)) // c1 folds out of the pass
              i += 3
            }
          })
        (m1, m2)
      } else {
        val c2p = c2.persist()
        try {
          val rows = collectRows(
            c2p.groupBy(col("k1"))
              .agg(sum(col("c2")).cast(LongType).as("c1"))
              .select(lit(0).as("tag"), col("k1").as("k"), col("c1").as("v"))
              .unionAll(c2p.filter(col("c2") >= minCount)
                .select(lit(1).as("tag"), col("k12").as("k"),
                  col("c2").as("v"))))
          val m1 = new graft.core.LongLongMap(math.max(rows.length, 16))
          val m2 = new graft.core.LongLongMap(math.max(rows.length, 16))
          var i = 0
          while (i < rows.length) {
            val r = rows(i)
            if (r.getInt(0) == 0) m1.put(r.getLong(1), r.getLong(2))
            else m2.put(r.getLong(1), r.getLong(2))
            i += 1
          }
          (m1, m2)
        } finally { c2p.unpersist() }
      }
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast((c1m, c2m))
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_bigrams", LongType, nullable = false),
      StructField("surprise_bits", LongType, nullable = false)))
    def bitlen(n: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(n)
    val scored = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text").cast("binary"))
      .mapPartitions { iter =>
        val (m1, m2) = bc.value
        val base = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
        iter.flatMap { row =>
          val bytes = row.getAs[Array[Byte]](1)
          val n = bytes.length
          var spaces = 0
          var i = 0
          while (i < n) { if (bytes(i) == ' ') spaces += 1; i += 1 }
          val nWords = spaces + 1
          if (nWords < 2) Iterator.empty
          else {
            val wStart = new Array[Int](nWords)
            val wEnd = new Array[Int](nWords)
            var wi = 0
            i = 0
            while (i < n) {
              if (bytes(i) == ' ') { wEnd(wi) = i; wi += 1; wStart(wi) = i + 1 }
              i += 1
            }
            wEnd(wi) = n
            var s = 0L
            var k = 0
            while (k < nWords - 1) {
              val k12 = org.apache.spark.sql.catalyst.expressions.XXH64
                .hashUnsafeBytes(bytes, base + wStart(k),
                  wEnd(k + 1) - wStart(k), 42L)
              val cc2 = m2.get(k12)
              val k1 = org.apache.spark.sql.catalyst.expressions.XXH64
                .hashUnsafeBytes(bytes, base + wStart(k),
                  wEnd(k) - wStart(k), 42L)
              s += (if (cc2 != 0L) bitlen(m1.get(k1)) - bitlen(cc2)
              else {
                val cc1 = m1.get(k1)
                if (cc1 != 0L) bitlen(cc1) + 4L else 20L
              })
              k += 1
            }
            Iterator.single(org.apache.spark.sql.Row(
              row.getLong(0), (nWords - 1).toLong, s))
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    scored.toDF()
      .select(col("doc_id"), col("n_bigrams"), col("surprise_bits"),
        ((col("surprise_bits") * lit(1000L)).cast(DoubleType) /
          col("n_bigrams").cast(DoubleType)).as("surprise_per_kbi"))
      .withColumn("lm_keep", col("surprise_per_kbi") < lit(12000.0))
  }

  /** The no-driver-collect formulation of [[lmScore]]: identical
    * semantics (bit-equal output, spec-pinned) as a pure plan — the
    * fallback when the (pruned) model outgrows driver/broadcast memory.
    * Both count tables stay distributed and JOIN onto the exploded
    * bigram stream; Spark picks broadcast vs shuffle-hash per its size
    * stats, so "model too big" degrades to a shuffle join instead of an
    * OOM. Lazier too: nothing executes at construction time (the shape
    * PlanDump/plan-snapshot callers should build). Costs one extra
    * per-doc re-aggregate over the serve half's exploded bigrams vs the
    * mapPartitions serve (3.0 s vs 1.35 s at x100) — that premium buys
    * the unbounded-model path. */
  def lmScoreJoin(docs: DataFrame, minCount: Long = 1): DataFrame = {
    val c2full = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(
        org.apache.spark.sql.graft.VectorExprs.bigramHashes(col("text")))
        .as("b"))
      .groupBy(col("b.k12").as("k12"), col("b.k1").as("k1"))
      .agg(count(lit(1)).as("c2"))
    val c1tab = c2full.groupBy(col("k1"))
      .agg(sum(col("c2")).cast(LongType).as("c1"))
    val c2kept = (if (minCount <= 1L) c2full
      else c2full.filter(col("c2") >= minCount)).drop("k1")
    val bitlen = (c: Column) => length(bin(c)).cast(LongType)
    val served = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graft.VectorExprs.bigramHashes(col("text")))
        .as("b"))
      .select(col("doc_id"), col("b.k12").as("k12"), col("b.k1").as("k1"))
    served
      .join(c2kept, Seq("k12"), "left")
      .join(c1tab, Seq("k1"), "left")
      .select(col("doc_id"),
        when(col("c2").isNotNull, bitlen(col("c1")) - bitlen(col("c2")))
          .when(col("c1").isNotNull, bitlen(col("c1")) + lit(4L))
          .otherwise(lit(20L)).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("s")).cast(LongType).as("surprise_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("surprise_bits"),
        ((col("surprise_bits") * lit(1000L)).cast(DoubleType) /
          col("n_bigrams").cast(DoubleType)).as("surprise_per_kbi"))
      .withColumn("lm_keep", col("surprise_per_kbi") < lit(12000.0))
  }

  def txLmScore(spark: SparkSession, dir: String): DataFrame =
    lmScore(Tables.documents(spark, dir)).orderBy("doc_id")

  /** tx_lm_score_pruned: the BOUNDED-model configuration — minCount=2
    * prunes singleton bigrams from the collected table before the
    * driver sees it (model size <= total_train_bigrams/minCount by the
    * counting argument in [[lmScore]]); pruned bigrams score as unseen
    * continuations. THIS is the 100 TB production default — the exact
    * minCount=1 path ([[txLmScore]]) stays for corpora whose bigram
    * table fits the driver outright. */
  def txLmScorePruned(spark: SparkSession, dir: String): DataFrame =
    lmScore(Tables.documents(spark, dir), minCount = 2).orderBy("doc_id")

  /** Oracle replays the model: parallel-unnest bigrams, the same count
    * tables, and length(bin(n)) for the exact integer bit length. */
  val txLmScoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (
      |  SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      |  FROM toks WHERE len(w) >= 2),
      |tb AS (SELECT w1, w2 FROM b WHERE doc_id % 2 = 0),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM tb GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM tb GROUP BY w1),
      |sb AS (
      |  SELECT b.doc_id,
      |    CASE WHEN c2.c2 IS NOT NULL
      |           THEN length(bin(c1.c1)) - length(bin(c2.c2))
      |         WHEN c1.c1 IS NOT NULL THEN length(bin(c1.c1)) + 4
      |         ELSE 20 END AS s
      |  FROM b LEFT JOIN c1 USING (w1) LEFT JOIN c2 USING (w1, w2)
      |  WHERE b.doc_id % 2 = 1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(s) AS BIGINT) AS surprise_bits,
      |  CAST(sum(s) * 1000 AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    AS surprise_per_kbi,
      |  CAST(sum(s) * 1000 AS DOUBLE) / CAST(count(*) AS DOUBLE) < 12000.0
      |    AS lm_keep
      |FROM sb GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle replays the PRUNE: the bigram table keeps only c2 >= 2
    * (HAVING), the unigram table stays exact (aggregated from the full
    * stream, exactly as the implementation folds c1 before filtering),
    * and pruned heads fall through to the unseen-continuation backoff
    * via the LEFT JOIN's NULL. */
  val txLmScorePrunedSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (
      |  SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      |  FROM toks WHERE len(w) >= 2),
      |tb AS (SELECT w1, w2 FROM b WHERE doc_id % 2 = 0),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM tb GROUP BY w1, w2
      |       HAVING count(*) >= 2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM tb GROUP BY w1),
      |sb AS (
      |  SELECT b.doc_id,
      |    CASE WHEN c2.c2 IS NOT NULL
      |           THEN length(bin(c1.c1)) - length(bin(c2.c2))
      |         WHEN c1.c1 IS NOT NULL THEN length(bin(c1.c1)) + 4
      |         ELSE 20 END AS s
      |  FROM b LEFT JOIN c1 USING (w1) LEFT JOIN c2 USING (w1, w2)
      |  WHERE b.doc_id % 2 = 1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(s) AS BIGINT) AS surprise_bits,
      |  CAST(sum(s) * 1000 AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    AS surprise_per_kbi,
      |  CAST(sum(s) * 1000 AS DOUBLE) / CAST(count(*) AS DOUBLE) < 12000.0
      |    AS lm_keep
      |FROM sb GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** tx_collocations: PMI-ranked collocation mining — the multi-word-
    * expression detector (tokenizer vocab candidates, NER gazetteer
    * seeds, phrase-aware dedup keys). PMI = log p(w1,w2)/(p(w1)p(w2));
    * log is monotone, so the rank-equivalent RATIO
    * (c12/N2)/((u1/N1)(u2/N1)) is computed instead, keeping libm out of
    * the oracle (the tfidf 1/df precedent). Every factor is an exact
    * integer cast to double, and both engines multiply/divide in the
    * SAME written order, so scores are bit-identical. A minimum pair
    * count (c12 ≥ 3) applies the standard sparse-PMI guard.
    *
    * Scale shape: unigram and bigram counts are map-side-combined
    * vocab-sized aggregates; corpus totals are 1-row aggregates
    * cross-joined (broadcast) onto the score projection; unigram counts
    * BROADCAST onto the bigram table (Heaps' law). The final top-k is a
    * TakeOrdered over the bigram-vocab table — nothing corpus-sized is
    * sorted or shuffled past the counting stage. */
  def collocations(docs: DataFrame, k: Int = 20, minPair: Long = 3): DataFrame = {
    val w = split(col("text"), " ")
    // uni fans out THREE ways (n1 + both broadcast-join sides) and its
    // upstream is a full corpus tokenization — without a checkpoint the
    // tokenize+explode+aggregate pipeline executes three times (10-scan
    // r15 before-plan). The checkpoint is vocab-sized (Heaps-bounded):
    // cheap to hold, corpus-expensive to recompute — the inverse of the
    // PrefixScan input, where recompute won the A/B.
    val uni = docs.select(explode(w).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("u"))
      .localCheckpoint(false)
    val n1 = uni.agg(sum(col("u")).cast(LongType).as("n1"))
    val bi = docs.select(explode(arrays_zip(w, slice(w, lit(2), size(w)))).as("z"))
      .filter(col("z.1").isNotNull)
      .select(col("z.0").as("w1"), col("z.1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minPair)
    val n2 = docs.select(
        (greatest(size(w) - 1, lit(0))).cast(LongType).as("nb"))
      .agg(sum(col("nb")).cast(LongType).as("n2"))
    val d = (c: Column) => c.cast(DoubleType)
    bi.join(broadcast(uni.select(col("t").as("w1"), col("u").as("u1"))), Seq("w1"))
      .join(broadcast(uni.select(col("t").as("w2"), col("u").as("u2"))), Seq("w2"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c12"), col("u1"), col("u2"),
        ((d(col("c12")) * d(col("n1")) * d(col("n1"))) /
          (d(col("n2")) * d(col("u1")) * d(col("u2")))).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def txCollocations(spark: SparkSession, dir: String): DataFrame =
    collocations(Tables.documents(spark, dir))

  val txCollocationsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |uni AS (
      |  SELECT unnest(w) AS t FROM toks),
      |u AS (SELECT t, count(*) AS u FROM uni GROUP BY t),
      |n1 AS (SELECT CAST(sum(u) AS BIGINT) AS n1 FROM u),
      |b AS (
      |  SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      |  FROM toks WHERE len(w) >= 2),
      |bi AS (
      |  SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2
      |  HAVING count(*) >= 3),
      |n2 AS (
      |  SELECT CAST(sum(CASE WHEN len(w) >= 1 THEN len(w) - 1 ELSE 0 END)
      |    AS BIGINT) AS n2 FROM toks)
      |SELECT w1, w2, c12, u.u1, u2.u2,
      |  (CAST(c12 AS DOUBLE) * CAST(n1.n1 AS DOUBLE) * CAST(n1.n1 AS DOUBLE)) /
      |  (CAST(n2.n2 AS DOUBLE) * CAST(u.u1 AS DOUBLE) * CAST(u2.u2 AS DOUBLE))
      |    AS pmi_ratio
      |FROM bi
      |JOIN (SELECT t AS w1, u AS u1 FROM u) u USING (w1)
      |JOIN (SELECT t AS w2, u AS u2 FROM u) u2 USING (w2)
      |CROSS JOIN n1 CROSS JOIN n2
      |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 20""".stripMargin

  /** tx_heavy_hitters: exact φ-heavy hitters (items with share > 1/k)
    * via distributed Misra-Gries — the bounded-memory answer when the
    * item space is too wide for a full groupBy (URL paths, n-grams,
    * session keys at 100 TB). Phase 1 runs classic MG with ≤ k−1
    * counters per partition (mapPartitions, O(k) memory regardless of
    * partition size); the union of per-partition survivor KEYS is a
    * superset of every true heavy hitter (if x is dropped everywhere,
    * each partition bounds its local count by n_i/k, so summing gives
    * n_x ≤ n/k). Phase 2 exactly recounts candidates only (semi-join
    * against the broadcast candidate set — ≤ (k−1)·partitions keys)
    * and keeps cnt·k > n. Output is therefore EXACT and independent of
    * partitioning — the sketch is the scale mechanism, not the answer —
    * so the plain SQL heavy-hitter oracle applies.
    *
    * Items here are word bigrams (916-slot space on the test corpus;
    * ScaleCheck rehearses wider vocabularies). Three map-only passes
    * over the source (candidates, total, recount) — re-scanning beats
    * checkpointing a corpus-sized item table at scale. */
  def heavyHitters(docs: DataFrame, k: Int = 640): DataFrame = {
    val w = split(col("text"), " ")
    def items = docs
      .select(explode(arrays_zip(w, slice(w, lit(2), size(w)))).as("z"))
      .filter(col("z.1").isNotNull)
      .select(concat_ws(" ", col("z.0"), col("z.1")).as("item"))
    val candSchema = StructType(Seq(StructField("item", StringType)))
    val candidates = items.mapPartitions { rows =>
      val counters = new scala.collection.mutable.HashMap[String, Long]
      rows.foreach { r =>
        val it = r.getString(0)
        counters.get(it) match {
          case Some(c) => counters.update(it, c + 1)
          case None if counters.size < k - 1 => counters.update(it, 1L)
          case None =>
            // decrement-all (the incoming item's single count is
            // consumed by the same step, so it is not inserted)
            val keys = counters.keys.toArray
            var i = 0
            while (i < keys.length) {
              val c = counters(keys(i))
              if (c == 1L) counters.remove(keys(i))
              else counters.update(keys(i), c - 1L)
              i += 1
            }
        }
      }
      counters.keysIterator.map(Row(_))
    }(Encoders.row(candSchema)).distinct()
    val n = items.agg(count(lit(1)).as("n_total"))
    items.join(broadcast(candidates), Seq("item"), "left_semi")
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt") * lit(k.toLong) > col("n_total"))
      .orderBy(col("cnt").desc, col("item"))
  }

  def txHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHitters(Tables.documents(spark, dir))

  /** Oracle: the exact heavy-hitter set — the MG phase is pure
    * mechanism, provably output-invariant. */
  val txHeavyHittersSql: String =
    """WITH toks AS (
      |  SELECT string_split(text, ' ') AS w FROM documents),
      |b0 AS (
      |  SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      |  FROM toks WHERE len(w) >= 2),
      |b AS (SELECT w1 || ' ' || w2 AS item FROM b0),
      |n AS (SELECT count(*) AS n FROM b)
      |SELECT item, count(*) AS cnt, (SELECT n FROM n) AS n_total
      |FROM b GROUP BY item HAVING count(*) * 640 > (SELECT n FROM n)
      |ORDER BY cnt DESC, item""".stripMargin

  // ---- lexical-diversity / keyword / vocabulary-growth group -----------

  /** Type-token ratio + hapax profile per document — the classic
    * lexical-diversity screens (low TTR = repetitive/generated text;
    * hapax share tracks vocabulary novelty). Two map-combined
    * aggregates over (doc, token); all ratios are single exact
    * divisions of integer counts. */
  def txTtr(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("_c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("_c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("_c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("ttr"),
        (col("n_hapax").cast(DoubleType) / col("n_types").cast(DoubleType))
          .as("hapax_ratio"))
      .orderBy(col("doc_id"))

  val txTtrSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  count(*) AS n_types,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS hapax_ratio
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Top-3 keyword terms per document by tf/df (tf-idf with the
    * rational idf = N_docs/df — ln-idf is rank-DIFFERENT only through a
    * monotone map per fixed tf, and ln is not bit-stable cross-engine,
    * so the rational form is the oracle-safe scoring). The per-doc
    * top-3 is a row_number ≤ 3 — WindowGroupLimit pushes a partial
    * group-limit below the exchange, so a long document contributes at
    * most 3 rows per map task to the shuffle. */
  def txKeywords(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("term"))
      .withColumn("score",
        col("tf").cast(DoubleType) / col("df").cast(DoubleType))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val txKeywordsSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |s AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) DESC,
      |        tf.term) AS rnk
      |  FROM tf JOIN df USING (term))
      |SELECT doc_id, rnk, term, tf, df, score
      |FROM s WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** Heaps'-law vocabulary growth: how many NEW term types each
    * twentieth of the doc_id-ordered token stream introduces. Every
    * term's first global position = its document's token-stream offset
    * (an exact distributed prefix sum over the PER-DOC count table via
    * Analytics.withRunningTotal — the bucket-offset pattern, no
    * corpus-sized single-partition window) + its within-doc position;
    * positions bucket into 20 fixed vigintiles, so the output (and the
    * final cumulative window) is 20 rows at any corpus size. */
  def txVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("_w"))
    val counts = d.select(col("doc_id"), size(col("_w")).as("_n"))
    val off = graft.queries.Analytics.withRunningTotal(counts,
        col("doc_id").cast(DoubleType), col("doc_id"), col("_n"), "_rt")
      .select(col("doc_id"), (col("_rt") - col("_n")).as("_off"))
    val tot = counts.agg(sum(col("_n").cast(LongType)).as("_tot"))
    val first = d.join(off, Seq("doc_id"))
      .select(col("_off"), posexplode(col("_w")).as(Seq("_i", "term")))
      .groupBy(col("term"))
      .agg(min(col("_off") + col("_i") + 1).as("_fp"))
    first.crossJoin(broadcast(tot))
      .groupBy(expr("((_fp - 1) * 20) DIV _tot").as("bin"))
      .agg(count(lit(1)).as("new_types"))
      .withColumn("cum_types",
        sum(col("new_types")).over(Window.orderBy(col("bin"))))
      .orderBy(col("bin"))
  }

  val txVocabGrowthSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |c AS (SELECT doc_id, len(w) AS n FROM d),
      |o AS (
      |  SELECT doc_id,
      |    sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS off
      |  FROM c),
      |p AS (
      |  SELECT o.off, unnest([{'i': i, 't': w[i]} for i in range(1, len(w)+1)]) AS u
      |  FROM d JOIN o USING (doc_id)),
      |f AS (SELECT u.t AS term, min(off + u.i) AS fp FROM p GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
      |b AS (
      |  SELECT CAST(((fp - 1) * 20) // tot AS BIGINT) AS bin,
      |    count(*) AS new_types
      |  FROM f, t GROUP BY 1)
      |SELECT bin, new_types,
      |  CAST(sum(new_types) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS cum_types
      |FROM b ORDER BY bin""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_ttr" -> (txTtr _),
    "tx_keywords" -> (txKeywords _),
    "tx_vocab_growth" -> (txVocabGrowth _),
    "tx_heavy_hitters" -> (txHeavyHitters _),
    "tx_collocations" -> (txCollocations _),
    "tx_lm_score" -> (txLmScore _),
    "tx_lm_score_pruned" -> (txLmScorePruned _),
    "q_curation_e2e" -> (qCurationE2e _),
    "q_curation_incr" -> ((s: SparkSession, d: String) => qCurationIncr(s, d)),
    "q_corpus_report" -> (qCorpusReport _),
    "q_upsert" -> (qUpsert _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_hostrank" -> (qHostrank _),
    "tx_drift" -> (txDrift _),
    "tx_ks_drift" -> (txKsDrift _),
    "tx_scorer_fit" -> (txScorerFit _),
    "tx_scorer_serve" -> (txScorerServe _),
    "tx_sft_pairs" -> (txSftPairs _),
    "tx_cmsketch" -> (txCmSketch _),
    "tx_dp_release" -> (txDpRelease _),
    "tx_diversity" -> (txDiversity _),
    "tx_fluency" -> (txFluency _),
    "tx_readability" -> (txReadability _),
    "tx_html_strip" -> (txHtmlStrip _),
    "tx_bpe_train" -> (txBpeTrain _),
    "tx_unigram" -> (txUnigram _),
    "tx_bpe_apply" -> (txBpeApply _),
    "tx_chunks" -> (txChunks _),
    "tx_filter_funnel" -> (txFilterFunnel _),
    "dd_urldup" -> (ddUrldup _),
    "tx_tokens_vocab" -> (txTokensVocab _),
    "tx_boilerplate" -> (txBoilerplate _),
    "tx_mlquality" -> (txMlQuality _),
    "q_calibration" -> (qCalibration _),
    "tx_urlnorm" -> (txUrlnorm _),
    "q_domain_cap" -> (txDomainCap _),
    "tx_tfidf" -> (txTfidf _),
    "q_bm25" -> (qBm25 _),
    "q_bm25_fixed" -> (qBm25Fixed _),
    "tx_topterms" -> (txTopterms _),
    "tx_tokens" -> (txTokens _),
    "tx_quality" -> (txQuality _),
    "tx_langid" -> (txLangid _),
    "tx_fertility" -> (txFertility _),
    "tx_langid_eval" -> (txLangidEval _),
    "tx_pii" -> (txPii _),
    "tx_bigrams" -> (txBigrams _),
    "tx_repetition" -> (txRepetition _),
    "tx_fingerprint" -> (txFingerprint _),
    "tx_novelty" -> (txNovelty _),
    "q_purge" -> (qPurge _))

  val oracles: Map[String, String] = Map(
    "tx_ttr" -> txTtrSql,
    "tx_keywords" -> txKeywordsSql,
    "tx_vocab_growth" -> txVocabGrowthSql,
    "tx_heavy_hitters" -> txHeavyHittersSql,
    "tx_collocations" -> txCollocationsSql,
    "tx_lm_score" -> txLmScoreSql,
    "tx_lm_score_pruned" -> txLmScorePrunedSql,
    "q_curation_e2e" -> qCurationE2eSql,
    "q_curation_incr" -> qCurationIncrSql,
    "q_corpus_report" -> qCorpusReportSql,
    "q_upsert" -> qUpsertSql,
    "q_snapshot_diff" -> qSnapshotDiffSql,
    "q_hostrank" -> qHostrankSql,
    "tx_drift" -> txDriftSql,
    "tx_ks_drift" -> txKsDriftSql,
    "tx_scorer_fit" -> txScorerFitSql,
    "tx_scorer_serve" -> txScorerServeSql,
    "tx_sft_pairs" -> txSftPairsSql,
    "tx_cmsketch" -> txCmSketchSql,
    "tx_dp_release" -> txDpReleaseSql,
    "tx_diversity" -> txDiversitySql,
    "tx_fluency" -> txFluencySql,
    "tx_readability" -> txReadabilitySql,
    "tx_html_strip" -> txHtmlStripSql,
    "tx_bpe_train" -> txBpeTrainSql,
    "tx_unigram" -> txUnigramSql,
    "tx_bpe_apply" -> txBpeApplySql,
    "tx_chunks" -> txChunksSql,
    "tx_filter_funnel" -> txFilterFunnelSql,
    "dd_urldup" -> ddUrldupSql,
    "tx_tokens_vocab" -> txTokensVocabSql,
    "tx_boilerplate" -> txBoilerplateSql,
    "tx_mlquality" -> txMlQualitySql,
    "q_calibration" -> qCalibrationSql,
    "tx_urlnorm" -> txUrlnormSql,
    "q_domain_cap" -> txDomainCapSql,
    "tx_tfidf" -> txTfidfSql,
    "q_bm25" -> qBm25Sql,
    "q_bm25_fixed" -> qBm25FixedSql,
    "tx_topterms" -> txToptermsSql,
    "tx_tokens" -> txTokensSql,
    "tx_quality" -> txQualitySql,
    "tx_langid" -> txLangidSql,
    "tx_fertility" -> txFertilitySql,
    "tx_langid_eval" -> txLangidEvalSql,
    "tx_pii" -> txPiiSql,
    "tx_bigrams" -> txBigramsSql,
    "tx_repetition" -> txRepetitionSql,
    "tx_fingerprint" -> txFingerprintSql,
    "tx_novelty" -> txNoveltySql,
    "q_purge" -> qPurgeSql)
}
