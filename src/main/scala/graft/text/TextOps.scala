package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, over a
  * documents table (doc_id, text, lang, source, n_chars). All pure Column
  * expressions (whole-stage-codegen'd, no UDFs): at 100 TB these run inside
  * the scan projection with nothing but the final aggregate shuffling.
  */
object TextOps {

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Space-joined word bigrams of a token array — zip_with over two
    * slices, NOT transform(sequence)(i => slice(toks, …)): a lambda that
    * captures `toks` re-evaluates its whole expression per ELEMENT (O(T²)
    * per evaluation, immune to subexpression elimination), which turns any
    * filter that inlines the expression into a multi-second-per-partition
    * cliff. Both slices are length n-1, so the zip never null-pads. Shared
    * by [[repetitionFeatures]] and [[graft.text.Classifier.gramBuckets]]
    * so the hazard can only be reintroduced in one place. */
  def bigrams(toks: Column): Column =
    when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))

  /** BPE-ish token count: word pieces, digit runs, single punctuation. */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  /** Quality-score features + a single [0,1] score: length, punctuation
    * ratio, stopword ratio, mean word length — the classic web-text
    * filters (C4/Gopher-style heuristics, public knowledge).
    */
  val stopWords: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is", "that", "it",
    "for", "on", "with", "as", "was", "at", "by", "be", "this", "are")

  def qualityFeatures(df: DataFrame, text: Column = col("text")): DataFrame = {
    // materialized once per row (multi-consumer column, not inlined — see
    // repetitionFeatures): every feature below reads the attribute instead
    // of re-tokenizing the text
    val toks = col("_q_toks")
    val nTok = size(toks)
    val stopArr = array(stopWords.map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stopArr, lower(t))))
    val nPunct = size(regexp_extract_all(text, lit("[.,;:!?]"), lit(0)))
    val nAlpha = size(regexp_extract_all(text, lit("[A-Za-z]"), lit(0)))
    df.withColumn("_q_toks", wsTokens(text))
      .withColumn("n_tokens", nTok)
      .withColumn("n_chars_m", length(text))
      .withColumn("stop_ratio", when(nTok > 0, nStop.cast("double") / nTok).otherwise(0.0))
      .withColumn("punct_ratio", when(length(text) > 0, nPunct.cast("double") / length(text)).otherwise(0.0))
      .withColumn("alpha_ratio", when(length(text) > 0, nAlpha.cast("double") / length(text)).otherwise(0.0))
      .withColumn("mean_word_len", when(nTok > 0, (length(text).cast("double") - nTok + 1) / nTok).otherwise(0.0))
      .withColumn("quality",
        round(least(lit(1.0),
          greatest(lit(0.0),
            lit(0.3) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
              + lit(0.3) * col("alpha_ratio")
              + lit(0.2) * least(col("stop_ratio") * 5.0, lit(1.0))
              + lit(0.2) * (lit(1.0) - least(col("punct_ratio") * 10.0, lit(1.0))))), 6))
      .drop("_q_toks")
  }

  /** n-gram-heuristic language ID: per-language marker-word hit counts,
    * argmax with deterministic tie-break (language code ascending).
    * A real system uses character n-gram profiles; the *shape* (explode-free
    * per-row scoring, broadcastable marker lists) is the scale path.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "for", "with", "was"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "de", "que", "en", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "de", "que", "pour", "dans", "un"),
    "it" -> Seq("il", "la", "che", "di", "è", "per", "con", "non", "una", "sono"),
    "pt" -> Seq("o", "a", "os", "as", "é", "de", "que", "em", "para", "não"))

  private def langScoreOf(lowToks: Column, markers: Seq[String]): Column = {
    val arr = array(markers.map(lit): _*)
    size(filter(lowToks, t => array_contains(arr, t)))
  }

  def langId(df: DataFrame, text: Column = col("text")): DataFrame = {
    // one tokenize+lowercase per row shared by all language columns (the
    // multi-consumer-column pattern — see repetitionFeatures), instead of
    // re-deriving the token array once per language
    val scored = langMarkers.foldLeft(
      df.withColumn("_lid_toks", transform(wsTokens(text), t => lower(t)))) {
      case (d, (code, words)) =>
        d.withColumn(s"_s_$code", langScoreOf(col("_lid_toks"), words))
    }
    val best = langMarkers.map { case (code, _) =>
      struct(col(s"_s_$code").as("score"), lit(code).as("code"))
    }
    // argmax with deterministic tie-break: the lexicographically smallest
    // language code among the max-score candidates
    scored
      .withColumn("_cands", array(best: _*))
      .withColumn("_maxScore", array_max(transform(col("_cands"), c => c.getField("score"))))
      .withColumn("pred_lang",
        array_min(transform(
          filter(col("_cands"), c => c.getField("score") === col("_maxScore")),
          c => c.getField("code"))))
      .withColumn("lang_score", col("_maxScore"))
      .drop((langMarkers.map { case (c, _) => s"_s_$c" }
        ++ Seq("_cands", "_maxScore", "_lid_toks")): _*)
  }

  /** PII redaction (the CCNet/RefinedWeb-style scrub pass): emails,
    * IPv4 addresses and long international-format digit runs replaced by
    * typed placeholders. Patterns are deliberately RE2-compatible (no
    * lookarounds) so any engine reproduces them; emails are redacted
    * FIRST so the phone pattern cannot eat digits inside an address.
    * Pure regexp_replace chain — scan-projection, codegen'd, no shuffle.
    */
  final val EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  final val IPV4_RE = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  final val PHONE_RE = "\\+[0-9]{9,15}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EMAIL_RE, "<EMAIL>"),
        IPV4_RE, "<IP>"),
      PHONE_RE, "<PHONE>")

  def piiCounts(df: DataFrame, text: Column = col("text")): DataFrame =
    df.withColumn("n_emails", size(regexp_extract_all(text, lit(EMAIL_RE), lit(0))))
      .withColumn("n_ips",
        size(regexp_extract_all(regexp_replace(text, EMAIL_RE, "<EMAIL>"), lit(IPV4_RE), lit(0))))
      .withColumn("n_phones",
        size(regexp_extract_all(regexp_replace(text, EMAIL_RE, "<EMAIL>"), lit(PHONE_RE), lit(0))))

  /** Repetition features (the Gopher repetition filters, Rae et al. 2021,
    * public): duplicate-line fraction, duplicate-2-gram fraction, and the
    * top-2-gram fraction (most frequent 2-gram's share of all 2-grams).
    * All in-row: the top-gram count runs ONE pass over the sorted gram
    * array with a (prev, run, best) accumulator — O(n log n) per doc, no
    * explode, no shuffle; the quadratic count-each-distinct alternative
    * is the trap. `repetition_keep` applies the published thresholds
    * (top-2-gram ≤ 0.20 is Gopher's; duplicate-line ≤ 0.30).
    */
  // NOT private: the UDF's product encoder generates Java that calls the
  // field accessors — a private case class fails Janino compilation and
  // silently drops every task to interpreted projections (plus one failed
  // compile attempt per task)
  case class RepFeats(
      n_lines: Option[Int], dup_line_frac: Double,
      total_2grams: Long, distinct_2grams: Long,
      top_2gram_frac: Double, dup_2gram_frac: Double,
      repetition_keep: Boolean)

  def repetitionFeatures(df: DataFrame, text: Column = col("text")): DataFrame = {
    // One compiled linear pass per document (a designated per-row UDF
    // site, guide §4.2): the previous form folded an INTERPRETED
    // aggregate() HOF over array_sort'd grams plus array_distinct per
    // feature — every element evaluation re-walked boxed expression
    // trees, and together with the classifier gate it cost ~18 ms/doc on
    // the q79 gate stage. The scan replays the exact semantics: lines =
    // split(\n) minus empties (null text -> null count like size(null)),
    // grams = space-joined bigrams of wsTokens, dup/top fractions from a
    // count map (max multiplicity == max run of the sorted array), the
    // same HALF_UP 6-digit rounds, keep-thresholds compared on the
    // ROUNDED values. Spec'd by TextFilterSpec and the q70/q79 oracles.
    val repUdf = udf((t: String) => {
      if (t == null)
        RepFeats(None, 0.0, 0L, 0L, 0.0, 0.0, repetition_keep = true)
      else {
        val lines = t.split("\n", -1).filter(_.nonEmpty)
        val toks = graft.text.Classifier.wsTokensJvm(t)
        val nG = if (toks.length >= 2) toks.length - 1 else 0
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        var i = 0
        while (i < nG) {
          val g = toks(i) + " " + toks(i + 1)
          counts.update(g, counts.getOrElse(g, 0L) + 1L)
          i += 1
        }
        var top = 0L
        counts.valuesIterator.foreach(c => if (c > top) top = c)
        val distinctLines = lines.distinct.length
        val dupLine =
          if (lines.nonEmpty)
            graft.text.Classifier.round6(1.0 - distinctLines.toDouble / lines.length)
          else 0.0
        val topFrac =
          if (nG > 0) graft.text.Classifier.round6(top.toDouble / nG) else 0.0
        val dupFrac =
          if (nG > 0)
            graft.text.Classifier.round6(1.0 - counts.size.toDouble / nG)
          else 0.0
        RepFeats(Some(lines.length), dupLine, nG.toLong, counts.size.toLong,
          topFrac, dupFrac, topFrac <= 0.2 && dupLine <= 0.3)
      }
    })
    df.withColumn("_rep", repUdf(text))
      .withColumn("n_lines", col("_rep").getField("n_lines"))
      .withColumn("dup_line_frac", col("_rep").getField("dup_line_frac"))
      .withColumn("total_2grams", col("_rep").getField("total_2grams"))
      .withColumn("distinct_2grams", col("_rep").getField("distinct_2grams"))
      .withColumn("top_2gram_frac", col("_rep").getField("top_2gram_frac"))
      .withColumn("dup_2gram_frac", col("_rep").getField("dup_2gram_frac"))
      .withColumn("repetition_keep", col("_rep").getField("repetition_keep"))
      .drop("_rep")
  }

  /** Document fingerprint: order-sensitive 64-bit rolling hash over
    * whitespace tokens — bit_xor of md5-derived token hashes scaled by
    * position (overflow-free in int64, reproducible in any engine with md5).
    */
  def fingerprint(text: Column): Column = {
    val toks = wsTokens(text)
    val hashed = transform(toks, (t, i) =>
      conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long") * (i + 1))
    // xor-fold the array (aggregate with ^)
    aggregate(hashed, lit(0L), (acc, x) => acc.bitwiseXOR(x))
  }

  /** Gopher document-quality rules (Rae et al. 2021, Table A1 — public),
    * the non-repetition half of the published filter set (the repetition
    * half is [[repetitionFeatures]]; together they form the complete
    * Gopher gate). Per document: word count within [minWords, maxWords],
    * mean word length within [minMeanWordLen, maxMeanWordLen] chars,
    * hash and ellipsis symbol-to-word ratios each ≤ maxSymbolRatio,
    * bullet-starting line fraction ≤ maxBulletFrac, ellipsis-ending line
    * fraction ≤ maxEllipsisFrac, fraction of words containing an alphabetic
    * character ≥ minAlphaWordFrac, and at least minStopHits of the paper's
    * required stop words {the, be, to, of, and, that, have, with} present.
    * Defaults are the published thresholds.
    *
    * Scale shape: pure codegen'd scan projections — token and line arrays
    * materialize once as multi-consumer columns (the q79 CSE lesson), all
    * fractions round to 6 digits so gate membership is engine-exact and a
    * SQL oracle replays it (q92). Adds (n_words, mean_word_len, hash_ratio,
    * ellipsis_ratio, bullet_frac, ellipsis_line_frac, alpha_word_frac,
    * stop_hits, gopher_keep:int).
    */
  def gopherRules(df: DataFrame, textCol: Column = col("text"),
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val text = coalesce(textCol, lit(""))
    val requiredStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val toks = col("_g_toks")
    val lines = col("_g_lines")
    val n = size(toks)
    val nL = size(lines)
    val hashes = length(text) - length(translate(text, "#", ""))
    val ellipses = (length(text) - length(replace(text, lit("..."), lit("")))) / 3
    def frac(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den, 6)).otherwise(lit(0.0))
    df.withColumn("_g_toks", wsTokens(text))
      .withColumn("_g_low", transform(toks, t => lower(t)))
      .withColumn("_g_lines",
        filter(transform(split(text, "\n"), l => trim(l)), x => length(x) > 0))
      .withColumn("n_words", n.cast("long"))
      .withColumn("mean_word_len",
        frac(aggregate(transform(toks, t => length(t)), lit(0L), _ + _), n))
      .withColumn("hash_ratio", frac(hashes, n))
      .withColumn("ellipsis_ratio", frac(ellipses, n))
      .withColumn("bullet_frac", frac(
        size(filter(lines, l =>
          l.startsWith("•") || l.startsWith("- ") || l.startsWith("* "))), nL))
      .withColumn("ellipsis_line_frac",
        frac(size(filter(lines, l => l.endsWith("..."))), nL))
      .withColumn("alpha_word_frac",
        frac(size(filter(toks, t => t.rlike("[A-Za-z]"))), n))
      .withColumn("stop_hits",
        size(filter(array(requiredStops.map(lit): _*),
          w => array_contains(col("_g_low"), w))).cast("int"))
      .withColumn("gopher_keep",
        (col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanWordLen &&
          col("mean_word_len") <= maxMeanWordLen &&
          col("hash_ratio") <= maxSymbolRatio &&
          col("ellipsis_ratio") <= maxSymbolRatio &&
          col("bullet_frac") <= maxBulletFrac &&
          col("ellipsis_line_frac") <= maxEllipsisFrac &&
          col("alpha_word_frac") >= minAlphaWordFrac &&
          col("stop_hits") >= minStopHits).cast("int"))
      .drop("_g_toks", "_g_low", "_g_lines")
  }

  /** C4-style heuristic page cleaning (Raffel et al. 2020 §2.2 — public):
    * the line-level gate keeps trimmed lines that end in a terminal
    * punctuation mark {. ! ? "}, hold at least `minLineWords` whitespace
    * words, and do not mention 'javascript' (case-insensitive); the
    * page-level gate then requires at least `minSentences` sentence enders
    * [.!?] in the CLEANED text and rejects pages whose original text
    * contains any of `badPhrases` (C4 drops pages with 'lorem ipsum' or a
    * curly brace anywhere). Sentence counting is the deterministic
    * ender-char-count heuristic — the paper's sentence splitter is a
    * model, and an engine invariant must be a pure function of the bytes.
    *
    * Scale shape: every gate is a codegen'd scan projection (split /
    * filter / translate column expressions — no shuffle, no UDF, no
    * explode); `badPhrases` is broadcast-small parameter state like
    * urlFilter's lists. Adds (n_lines, n_kept, n_sentences, keep:int,
    * clean_digest = md5 of the newline-joined kept lines).
    */
  def c4Clean(df: DataFrame, textCol: Column = col("text"),
      minLineWords: Int = 5, minSentences: Int = 3,
      badPhrases: Seq[String] = Seq("lorem ipsum", "{")): DataFrame = {
    // NULL text ≡ empty page (a 10^12-doc crawl always has null members;
    // the q91 oracle's coalesce does the same)
    val text = coalesce(textCol, lit(""))
    val bad = badPhrases
      .map(p => contains(lower(text), lit(p.toLowerCase)))
      .reduce(_ || _)
    // multi-consumer arrays materialize as columns (CollapseProject keeps
    // them), never as repeated HOF expressions — interpreted higher-order
    // functions get no common-subexpression elimination (the q79 lesson)
    df.withColumn("_lines",
        filter(transform(split(text, "\n"), l => trim(l)), x => length(x) > 0))
      .withColumn("_kept", filter(col("_lines"), lt =>
        substring(lt, -1, 1).isin(".", "!", "?", "\"") &&
          size(filter(split(lt, "\\s+"), t => length(t) > 0)) >= minLineWords &&
          !contains(lower(lt), lit("javascript"))))
      .withColumn("_clean", array_join(col("_kept"), "\n"))
      .withColumn("n_lines", size(col("_lines")).cast("long"))
      .withColumn("n_kept", size(col("_kept")).cast("long"))
      .withColumn("n_sentences",
        (length(col("_clean")) -
          length(translate(col("_clean"), ".!?", ""))).cast("long"))
      .withColumn("keep",
        (col("n_sentences") >= minSentences && !bad).cast("int"))
      .withColumn("clean_digest", md5(col("_clean").cast("binary")))
      .drop("_lines", "_kept", "_clean")
  }

  /** TF-IDF keyword extraction: the top-`k` terms of every document by
    * smoothed tf-idf (sklearn's formula: idf = ln((1+N)/(1+df)) + 1, N =
    * corpus size, df = documents containing the term), ranked by the
    * 6-dp-rounded score with ties broken by term. Output
    * (doc_id, term, rank, score).
    *
    * Scale shape: the corpus is tokenized once into (doc, term, tf) — one
    * shuffle on (doc, term), map-side combine collapsing repeats. The
    * document-frequency table is vocabulary-sized, aggregated from that
    * SAME (doc, term) table (exchange reuse — the corpus is never
    * re-scanned) and joined back broadcast; N rides a broadcast 1-row
    * crossJoin, never a driver collect. The top-k window partitions by
    * doc_id — per-doc vocabulary is bounded, so no key can funnel the
    * corpus through one task.
    *
    * `broadcastVocab = true` fits corpora whose vocabulary fits an
    * executor (the tested shape); a WEB-SCALE vocabulary (billions of
    * raw whitespace types) exceeds broadcast limits — pass false and
    * the df table shuffle-joins on `term` instead, sharing the (term)
    * hash partitioning with the aggregate that built it (same contract
    * as `Ann.ivfTopK`'s `broadcastQueries` / `sampleIntervalAt`'s
    * `broadcastCells`).
    */
  def tfIdfTopK(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
      textCol: String = "text", broadcastVocab: Boolean = true): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(wsTokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    val scored = tf
      .join(if (broadcastVocab) broadcast(dfT) else dfT, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") *
          (log((lit(1L) + col("_n")).cast("double") /
            (lit(1L) + col("df"))) + 1.0), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col(idCol), col("term"), col("term_rank"), col("score"))
  }

  /** Sparse TF-IDF cosine similarity pairs — the weighted complement
    * of [[graft.dedup.Winnow.nearDupPairs]]'s fingerprint overlap and
    * the MinHash family's set Jaccard: per ordered doc pair sharing at
    * least `minShared` terms, cosine over sklearn-smoothed tf-idf
    * vectors, top-`k` neighbours per left doc. Weights are EXACT LONGS
    * (tf · (2²⁰-grid idf + 2²⁰) — the ln-grid convention), dot products
    * and norms are exact decimal sums, and the cosine is one fixed IEEE
    * expression, so the oracle replays bit-for-bit. Output
    * (doc_a, doc_b, n_shared, cos_sim, sim_rank).
    *
    * Scale shape: the pair generator is an equi-join ON TERM with terms
    * of df > `maxDf` dropped first — the boilerplate cap that bounds
    * fan-out (a term in d docs contributes d² pair rows; the web's
    * "the" would otherwise dominate the shuffle quadratically); norms
    * join back per doc; the top-k window partitions by doc_a over its
    * candidate set. Never an all-pairs product. */
  def tfidfCosinePairs(docs: DataFrame, k: Int = 3, maxDf: Int = 50,
      minShared: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val dec = "decimal(38,0)"
    val tf = docs
      .select(col(idCol), explode(wsTokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    // idf on the 2^20 grid: floor(ln((1+N)/(1+df))·2^20 + ½) + 2^20
    // (the +2^20 is sklearn's "+1" at the same scale) — exact longs
    val w = tf
      .join(broadcast(dfT.filter(col("df") <= maxDf)), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("_w", col("tf") *
        (floor(log((lit(1L) + col("_n")).cast("double") /
          (lit(1L) + col("df"))) * 1048576 + 0.5).cast("long")
          + 1048576L))
      .select(col(idCol), col("term"), col("_w"))
    // norms over the SAME capped weight vectors the dots use (cosine of
    // the df-capped representation — the cap defines the vector space)
    val norms = w.groupBy(col(idCol))
      .agg(sum(col("_w").cast(dec) * col("_w")).as("_n2"))
    val pairs = w.select(col("term"), col(idCol).as("doc_a"), col("_w").as("_wa"))
      .join(w.select(col("term"), col(idCol).as("doc_b"), col("_w").as("_wb")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("_wa").cast(dec) * col("_wb")).as("_dot"),
        count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val cosed = pairs
      .join(norms.select(col(idCol).as("doc_a"), col("_n2").as("_na2")),
        Seq("doc_a"))
      .join(norms.select(col(idCol).as("doc_b"), col("_n2").as("_nb2")),
        Seq("doc_b"))
      .withColumn("cos_sim",
        round(col("_dot").cast("double") /
          (sqrt(col("_na2").cast("double")) * sqrt(col("_nb2").cast("double"))),
          6))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"))
      .orderBy(col("cos_sim").desc, col("doc_b").asc)
    cosed
      .withColumn("sim_rank", row_number().over(wr).cast("int"))
      .filter(col("sim_rank") <= k)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("cos_sim"),
        col("sim_rank"))
  }

  /** Per-source quantile calibration: percentile-rank every document's
    * quality score WITHIN its source and keep the top `frac` — the
    * threshold-free selection that survives heterogeneous sources (a
    * single global cutoff keeps everything from a clean source and
    * nothing from a noisy one; FineWeb/Dolma-style pipelines calibrate
    * per source for exactly this reason). Rank order is
    * (score desc, doc_id asc), so ranks are total and engine-independent;
    * the score should be pre-rounded so both engines rank identical
    * values. Output = input + (q_rank, keep).
    *
    * One window partitioned by source: per-partition volume equals
    * source size, fine for O(100..10^4) sources at any corpus scale —
    * the web's source distribution is fat but each partition streams
    * through its sort, and a pathological mega-source swaps in a
    * two-pass per-source histogram threshold (same contract) without
    * touching callers.
    */
  def sourceQuantileKeep(
      df: DataFrame,
      frac: Double,
      scoreCol: String = "quality",
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"keep fraction $frac not in (0,1]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("q_rank", round(percent_rank().over(w), 6))
      .withColumn("keep", (col("q_rank") <= frac).cast("int"))
  }

  /** Overlapping fixed-window chunker (the RAG / long-context
    * pre-processing classic): split each document into whitespace-token
    * windows of `window` tokens starting every `stride` tokens
    * (overlap = window − stride), so every token is covered and chunk
    * boundaries never orphan context. Chunk starts are 0, stride,
    * 2·stride, … up to the last start < n_tokens; the final chunk may
    * be shorter. Output (doc_id, chunk_idx, n_tokens, chunk_md5) — the
    * digest of the space-rejoined window, so verification ships 16
    * bytes per chunk, never text.
    *
    * Scale: a pure scan projection — tokenize, explode a
    * ⌈n/stride⌉-element index sequence, slice — with NO shuffle at all;
    * chunk text lives and dies inside its input partition and only
    * digests + counts leave the scan.
    */
  def chunkOverlap(df: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0, s"window $window must be positive")
    require(stride > 0 && stride <= window,
      s"stride $stride must be in 1..$window")
    df
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
      .select(col("doc_id"), col("_toks"),
        explode(sequence(lit(0L),
          floor((col("_n") - 1) / stride).cast("long"))).as("chunk_idx"))
      .withColumn("_chunk",
        slice(col("_toks"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(window)))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("_chunk")).as("n_tokens"),
        md5(concat_ws(" ", col("_chunk"))).as("chunk_md5"))
  }
}
