package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting. All per-row narrow
  * transformations (no shuffle) built from codegen'd built-ins and
  * higher-order functions — at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token. */
  val tokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Single compiled character scan ([[graft.functions.TokenCount]]);
    * bit-identical to [[tokenCountRegex]] (property-tested). */
  def tokenCount(text: Column): Column =
    graft.functions.native.tokenCount(text)

  /** Reference form: materializes every match string just to count them —
    * kept as the oracle for the native scan. */
  def tokenCountRegex(text: Column): Column =
    size(call_function("regexp_extract_all", text, lit(tokenPattern), lit(0)))

  /** Whitespace word tokens (empties removed). */
  def words(text: Column): Column = Dedup.wordTokens(text)

  def wordCount(text: Column): Column = size(words(text))

  def avgWordLen(text: Column): Column = {
    val w = words(text)
    when(size(w) > 0,
      aggregate(w, lit(0L), (s, t) => s + length(t)).cast("double") / size(w))
      .otherwise(0.0)
  }

  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))).cast("double") / length(text))
      .otherwise(0.0)

  /** Per-language stopword lists for the n-gram/stopword language
    * heuristic. Deterministic and tiny by design. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu", "den", "mit", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "est", "pour")
  )

  def stopwordCount(text: Column, lang: String): Column =
    stopwordCountFromParts(words(text), lang)

  /** Stopword hits from an already-tokenized words column. */
  def stopwordCountFromParts(words: Column, lang: String): Column = {
    val set = stopwords(lang)
    size(filter(words, t => t.isin(set.map(lit(_)): _*)))
  }

  def stopwordRatioFromParts(words: Column, lang: String = "en"): Column =
    when(size(words) > 0, stopwordCountFromParts(words, lang).cast("double") / size(words))
      .otherwise(0.0)

  def avgWordLenFromParts(words: Column): Column =
    when(size(words) > 0,
      aggregate(words, lit(0L), (s, t) => s + length(t)).cast("double") / size(words))
      .otherwise(0.0)

  def stopwordRatio(text: Column, lang: String = "en"): Column =
    when(wordCount(text) > 0, stopwordCount(text, lang).cast("double") / wordCount(text))
      .otherwise(0.0)

  /** Language ID: argmax of per-language stopword hits with a fixed
    * tie-break order (en > es > de > fr), 'und' when no hits at all. */
  def langId(text: Column): Column = langIdFromParts(words(text))

  /** [[langId]] from an already-tokenized words column (tokenize once,
    * score four languages from the attribute). */
  def langIdFromParts(words: Column): Column = {
    val en = stopwordCountFromParts(words, "en")
    val es = stopwordCountFromParts(words, "es")
    val de = stopwordCountFromParts(words, "de")
    val fr = stopwordCountFromParts(words, "fr")
    when(en + es + de + fr === 0, "und")
      .when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  /** Per-language frequent character trigrams (tiny, deterministic
    * profiles) for the n-gram language heuristic. */
  val langTrigrams: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", " th", "he ", "ing", "and", " an", "nd ", "ion", " of", "of "),
    "es" -> Seq(" de", "de ", "la ", " la", "os ", "ión", " el", "el ", "ent", " en"),
    "de" -> Seq("en ", "er ", "ch ", " de", "der", "ein", "sch", "ich", "nde", "die"),
    "fr" -> Seq(" de", "es ", "de ", "le ", " le", "ent", "la ", " la", "et ", " et")
  )

  private def trigramHits(text: Column, lang: String): Column = {
    val t = lower(text)
    langTrigrams(lang).map(g => when(t.contains(g), 1).otherwise(0)).reduce(_ + _)
  }

  /** Character-n-gram language ID: score = number of the language's
    * frequent trigrams present in the text; argmax with the same fixed
    * tie-break as [[langId]]. Complements the stopword heuristic for text
    * without clean word boundaries. */
  def langIdNgram(text: Column): Column = {
    val en = trigramHits(text, "en")
    val es = trigramHits(text, "es")
    val de = trigramHits(text, "de")
    val fr = trigramHits(text, "fr")
    when(en + es + de + fr === 0, "und")
      .when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  /** Composite quality score in [0,1]: length, word-shape, punctuation and
    * stopword signals — the standard cheap pre-filter shape for corpus
    * cleaning. Thresholds are explicit constants so the score is
    * reproducible anywhere. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 400.0, lit(1.0))
    val wordScore = least(wordCount(text).cast("double") / 80.0, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    round(lenScore * 0.3 + wordScore * 0.3 + stopScore * 0.3 + (lit(1.0) - punctPenalty) * 0.1, 4)
  }

  /** [[qualityScore]] with the tokenization hoisted: `words` must be
    * `wordTokens(text)` projected ONCE in a previous select — the naive
    * form re-splits the text for each of the word/stopword signals
    * (~6 interpreted passes per document). Identical arithmetic, so the
    * two forms agree bit-for-bit. */
  def qualityScoreFromParts(text: Column, words: Column): Column = {
    val nWords = size(words)
    val lenScore = least(length(text).cast("double") / 400.0, lit(1.0))
    val wordScore = least(nWords.cast("double") / 80.0, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5.0, lit(1.0))
    val stopCount = size(filter(words, t => t.isin(stopwords("en").map(lit(_)): _*)))
    val stopRatio = when(nWords > 0, stopCount.cast("double") / nWords).otherwise(0.0)
    val stopScore = least(stopRatio * 5.0, lit(1.0))
    round(lenScore * 0.3 + wordScore * 0.3 + stopScore * 0.3 + (lit(1.0) - punctPenalty) * 0.1, 4)
  }

  /** Intra-document word repetition: 1 − (distinct words / words). The
    * cheap boilerplate/spam signal — generated and templated text repeats
    * tokens far above natural prose. */
  def repetitionRatio(text: Column): Column = repetitionRatioFromParts(words(text))

  def repetitionRatioFromParts(words: Column): Column =
    when(size(words) > 0,
      lit(1.0) - size(array_distinct(words)).cast("double") / size(words))
      .otherwise(0.0)

  /** Duplicate word-n-gram fraction: 1 − (distinct n-grams / n-grams).
    * Catches phrase-level repetition that single-token repetition misses
    * (loops in generated text, boilerplate headers). */
  def dupNgramRatio(text: Column, n: Int): Column = {
    val toks = words(text)
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
      .otherwise(0.0)
  }

  def qualityBucket(score: Column): Column =
    when(score >= 0.75, "high")
      .when(score >= 0.5, "medium")
      .when(score >= 0.25, "low")
      .otherwise("junk")

  /** TRAINED language ID: per-language word-frequency profiles learned
    * from the labeled corpus itself (the CLD/fastText shape, reduced to
    * its scalable core), replacing [[langId]]'s fixed stopword lists.
    *
    * Training is ONE corpus aggregate: (lang, word) term frequencies +
    * per-language totals, combined into integer-scaled frequency
    * weights `tf·10⁹ DIV n_lang` — integer division keeps the whole
    * model exact, so scoring (and therefore the argmax) is
    * bit-reproducible in any engine: no `log()` whose last ulp differs
    * between libm and the JVM. Classification joins document tokens
    * against the broadcast vocab-sized model and takes the
    * deterministic argmax (score desc, language asc). At 100 TB the
    * model is vocab×languages rows — built once, broadcast everywhere;
    * per-document work is one narrow explode + broadcast join +
    * doc-keyed aggregate. */
  def trainedLangId(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      classify: DataFrame): DataFrame = {
    val toks = docs.select(col(langCol).alias("lang"), explode(words(col(textCol))).alias("word"))
    val tf = toks.groupBy(col("lang"), col("word")).agg(count(lit(1)).alias("tf"))
    val totals = tf.groupBy(col("lang")).agg(sum(col("tf")).alias("n_lang"))
    val model = tf.join(totals, "lang")
      .select(col("word"), col("lang"), expr("tf * 1000000000L DIV n_lang").alias("w_scaled"))

    val docToks = classify.select(
      col(idCol).alias("doc_id"), col(langCol).alias("lang_true"),
      explode(words(col(textCol))).alias("word"))
    val scores = docToks
      .join(broadcast(model), Seq("word"))
      .groupBy(col("doc_id"), col("lang_true"), col("lang"))
      .agg(sum(col("w_scaled")).alias("score"))
    // per-doc argmax as a partial-aggregable min_by keyed on
    // (-score, lang) — exactly the former row_number window's
    // (score DESC, lang ASC) rule (score is a non-negative long, so the
    // negation is a safe total-order inversion), but candidates collapse
    // map-side instead of shuffling every (doc, lang) row into a
    // per-doc sort (the r16 IVF-assignment lesson, guide §2.3)
    scores
      .groupBy(col("doc_id"), col("lang_true"))
      .agg(min_by(
        struct(col("lang"), col("score")),
        struct(-col("score"), col("lang"))).alias("__m"))
      .select(col("doc_id"), col("lang_true"),
        col("__m.lang").alias("pred_lang"), col("__m.score").alias("score"))
  }

  /** The Gopher required-stopword list (a doc passing the rule contains
    * ≥ 2 of these — a cheap "is this prose at all" signal). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", appendix A — the published MassiveText filter list). Each
    * rule is a named boolean column; `keep` is their conjunction, so a
    * pipeline can either filter on `keep` or audit per-rule kill rates.
    *
    * Rules (public thresholds):
    *  - word count in [50, 100000]
    *  - mean word length in [3, 10]
    *  - (# symbols + ellipses) / words < 0.1
    *  - < 90% of lines start with a bullet
    *  - < 30% of lines end with an ellipsis
    *  - ≥ 80% of words contain an alphabetic character
    *  - ≥ 2 of the required stopwords appear
    *
    * Scale shape: one narrow pass — text is tokenized and line-split
    * exactly once, every signal reads those arrays; no shuffle, runs at
    * scan speed like the rest of the quality layer. All ratios are
    * single divisions of exact integers, so the doubles (and therefore
    * the rule booleans at their thresholds) are bit-identical across
    * engines — the DuckDB oracle replays every column. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val parts = docs.select(
      col(idCol).alias("doc_id"),
      col(textCol).alias("__text"),
      words(col(textCol)).alias("__w"),
      split(col(textCol), "\n").alias("__lines"))
    val nW = size(col("__w"))
    val nL = size(col("__lines"))
    val meanLen = when(nW > 0,
      aggregate(col("__w"), lit(0L), (s, t) => s + length(t)).cast("double") / nW)
      .otherwise(0.0)
    val nHash = length(col("__text")) - length(replace(col("__text"), lit("#"), lit("")))
    val nEllipsis = floor((length(col("__text"))
      - length(replace(col("__text"), lit("..."), lit("")))).cast("double") / 3.0).cast("int")
    val symbolRatio = when(nW > 0, (nHash + nEllipsis).cast("double") / nW).otherwise(0.0)
    val fracAlpha = when(nW > 0,
      size(filter(col("__w"), w => w.rlike("[a-z]"))).cast("double") / nW).otherwise(0.0)
    val nReqStop = size(filter(
      array(gopherStopwords.map(lit(_)): _*), s0 => array_contains(col("__w"), s0)))
    val bulletFrac = size(filter(col("__lines"), l =>
      startswith(ltrim(l), lit("- ")) || startswith(ltrim(l), lit("* ")) ||
        startswith(ltrim(l), lit("•")))).cast("double") / nL
    val ellipsisFrac = size(filter(col("__lines"), l =>
      endswith(rtrim(l), lit("...")))).cast("double") / nL

    parts.select(
      col("doc_id"),
      nW.alias("n_words"),
      meanLen.alias("mean_word_len"),
      symbolRatio.alias("symbol_ratio"),
      fracAlpha.alias("frac_alpha_words"),
      nReqStop.alias("n_required_stopwords"),
      bulletFrac.alias("bullet_line_frac"),
      ellipsisFrac.alias("ellipsis_line_frac"),
      nW.between(50, 100000).alias("r_word_count"),
      meanLen.between(3.0, 10.0).alias("r_mean_word_len"),
      (symbolRatio < 0.1).alias("r_symbol_ratio"),
      (bulletFrac < 0.9).alias("r_bullet_lines"),
      (ellipsisFrac < 0.3).alias("r_ellipsis_lines"),
      (fracAlpha >= 0.8).alias("r_alpha_words"),
      (nReqStop >= 2).alias("r_stop_words"))
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
          col("r_bullet_lines") && col("r_ellipsis_lines") && col("r_alpha_words") &&
          col("r_stop_words"))
  }

  /** Character-positional rolling fingerprint:
    * sum over positions of (pos+1) * codepoint(char), mod 1e9+7.
    * Order-sensitive (anagram-safe) and expressible in any engine — used
    * as the cross-engine document fingerprint. */
  def charFingerprint(text: Column): Column =
    pmod(
      aggregate(
        zip_with(
          split(text, ""),
          sequence(lit(1), greatest(length(text), lit(1))),
          (ch, i) => i.cast("long") * ascii(ch)),
        lit(0L),
        (s, x) => s + x),
      lit(1000000007L))

  /** Add-one-smoothed bigram language-model score per document — the
    * kenlm-style fluency filter a training-corpus pipeline runs to drop
    * gibberish: `avg_logp = mean over bigrams of ln((c(w1,w2)+1) /
    * (c(w1)+|V|))`, model trained on the corpus itself in the same job.
    *
    * Plan shape for 100 TB: bigram EXTRACTION is narrow — bigrams come
    * from an index-transform over each row's own token array (no
    * per-token window, so the raw token stream is never shuffled);
    * the only shuffles are the two count aggregations (map-side partial,
    * output is vocabulary-sized, not corpus-sized), the count-lookup
    * joins keyed on bigram/unigram, and the final per-doc groupBy. The
    * vocabulary-size scalar joins broadcast. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(
      col(idCol), split(lower(col(textCol)), " ").alias("__t"))
    // ONE corpus tokenize+explode emits BOTH streams: per token instance
    // i, (w = t_i, w2 = t_{i+1}, or null for each doc's last token). The
    // former shape exploded the corpus twice — once for bigrams, once for
    // unigram counts (guide §1.2: remove redundant passes); the null-w2
    // marker row per (doc, last token) lets the unigram counts derive
    // from the SAME per-doc aggregate the bigram model and the score join
    // read, so the corpus is tokenized exactly once per query.
    val bi = toks
      .select(
        col(idCol),
        // null-handling: a null text yields a null token array, a null
        // sequence, and no rows — same as the former two-explode shape
        explode(transform(
          sequence(lit(1), size(col("__t"))),
          i => struct(
            element_at(col("__t"), i).alias("w"),
            when(i < size(col("__t")), element_at(col("__t"), i + 1))
              .alias("w2")))).alias("__b"))
      .select(col(idCol), col("__b.w").alias("w"), col("__b.w2").alias("w2"))
    // per-doc multiplicities FIRST: every downstream shuffle and join
    // then carries distinct (doc, w, w2) rows, not instances, and BOTH
    // global count tables (bigram and unigram) derive from this one
    // aggregate instead of re-scanning the corpus. PERSISTED: three
    // consumers (bigram counts, unigram counts, the final score join)
    // otherwise re-tokenize and re-shuffle the corpus once each
    // (memory-and-disk: spills, keeps lineage for executor loss;
    // registered with [[QueryCaches]] so the harness releases it right
    // after the consuming action instead of waiting for the context
    // cleaner)
    val perDoc = QueryCaches.track(
      bi.groupBy(col(idCol), col("w"), col("w2"))
        .agg(count(lit(1)).alias("m"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // every token instance appears exactly once as `w` (the last token
    // rides its null-w2 marker row), so summing m over (w, *) IS the
    // unigram instance count of the former dedicated explode
    val uni = perDoc.groupBy(col("w")).agg(sum(col("m")).alias("c1"))
    val big = perDoc.filter(col("w2").isNotNull)
      .groupBy(col("w"), col("w2")).agg(sum(col("m")).alias("c12"))
    val vocab = uni.agg(count(lit(1)).alias("vsize"))
    // resolve the model to ONE vocabulary-sized (w,w2)→logp lookup before
    // touching per-doc rows: the corpus-sized perDoc then rides a single
    // exchange (join on the bigram key) instead of two back-to-back
    // shuffle joins (bigram counts, then unigram counts)
    val model = big
      .join(uni, Seq("w"))
      .crossJoin(broadcast(vocab))
      .select(col("w"), col("w2"),
        log((col("c12") + 1).cast("double") / (col("c1") + col("vsize"))).alias("__logp"))
    perDoc
      .filter(col("w2").isNotNull)
      .join(model, Seq("w", "w2"))
      .groupBy(col(idCol))
      .agg(
        // weighted by multiplicity ≡ the per-instance average
        round(sum(col("m") * col("__logp")) / sum(col("m")), 4).alias("avg_logp"),
        sum(col("m")).cast("long").alias("n_bigrams"))
  }

  /** LM-quality corpus partitioning (the CCNet head/middle/tail cut):
    * score every document with the corpus bigram LM
    * ([[bigramLmScore]]), then split the corpus at the tercile
    * boundaries of the score distribution — `head` = most fluent
    * (highest avg log-prob / lowest perplexity), `tail` = least. The
    * standard pre-training gate: keep head+middle, or mix buckets with
    * different weights.
    *
    * Cross-engine determinism: bucketing compares the integer image of
    * the 4-dp-rounded score (`round(avg_logp·10⁴)` as a long), so the
    * tercile boundaries interpolate between exact integers and both
    * engines assign identical buckets. Scale shape: [[bigramLmScore]]'s
    * one corpus aggregate + vocab-sized model join, then ONE exact
    * percentile aggregate over doc-count rows and a broadcast of the
    * two boundaries — no global sort, no window. */
  def lmQualityBuckets(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // persisted: consumed by BOTH the tercile-boundary aggregate and the
    // final bucket labeling — without the cache the whole LM scoring
    // pipeline (tokenize + model join + per-doc aggregate) runs twice.
    // Tracked so the harness releases it after the consuming action.
    val scored = QueryCaches.track(bigramLmScore(docs, idCol, textCol)
      .select(col(idCol), col("avg_logp"), col("n_bigrams"),
        round(col("avg_logp") * 10000).cast("long").alias("__s4"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bounds = scored.agg(
      expr("percentile(__s4, array(1.0D/3, 2.0D/3))").alias("__b"))
    scored.crossJoin(broadcast(bounds))
      .select(col(idCol), col("avg_logp"), col("n_bigrams"),
        when(col("__s4") <= element_at(col("__b"), 1), lit("tail"))
          .when(col("__s4") <= element_at(col("__b"), 2), lit("middle"))
          .otherwise(lit("head")).alias("ppl_bucket"))
  }

  /** TF-IDF term weights per document: `tf(d,t) · ln(N / df(t))`,
    * unsmoothed and deterministic. Shuffle structure mirrors
    * [[bigramLmScore]]: term counts aggregate per (doc, term) FIRST, the
    * document frequency derives from that aggregate (each distinct
    * (doc, term) contributes one df count — no second corpus scan), and
    * the corpus-size scalar joins broadcast. At 100 TB the only
    * corpus-sized shuffle is the initial (doc, term) partial aggregate;
    * everything downstream is vocabulary-sized. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).alias("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).alias("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).alias("__df"))
    val n = docs.agg(count(lit(1)).alias("__n"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(
        col(idCol), col("term"), col("tf"),
        round(col("tf") * log(col("__n").cast("double") / col("__df")), 4).alias("tfidf"))
  }

  /** Okapi BM25 term weights per document — the retrieval scoring the
    * corpus-search half of a data pipeline runs (Robertson/Spärck Jones;
    * the Lucene `+1` idf form, never negative):
    * `idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with
    * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`.
    *
    * Shuffle structure mirrors [[tfidf]]: per-(doc, term) counts first;
    * document length derives from that aggregate (sum of tf — no second
    * tokenization); df from the same aggregate; N and avgdl are
    * broadcast scalars. One corpus-sized shuffle total. */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).alias("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).alias("tf"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).alias("__dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).alias("__df"))
    // avgdl from an exact long sum (not avg): partial-aggregation
    // summation order can shift avg's last ulp, and the oracle must
    // reproduce the scalar bit-for-bit
    val scalars = dl.agg(
      count(lit(1)).cast("double").alias("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1))).alias("__avgdl"))
    val idf = log(lit(1.0) + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5))
    val norm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / col("__avgdl")))
    tf.join(dl, Seq(idCol))
      .join(df, Seq("term"))
      .crossJoin(broadcast(scalars))
      .select(col(idCol), col("term"), col("tf"), round(idf * norm, 4).alias("bm25"))
  }

  /** Sliding-window document chunking: split each document's token
    * stream into windows of `size` tokens advancing by `stride`
    * (overlap = size − stride). The last chunk may be short; a document
    * never yields a chunk fully contained in the previous one
    * (`nChunks = 1 + ceil(max(n − size, 0) / stride)`). Narrow — the
    * generator runs over each row's own token array, no shuffle. */
  def chunk(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      size: Int,
      stride: Int): DataFrame = {
    require(stride > 0 && size >= stride, s"need 0 < stride <= size, got size=$size stride=$stride")
    val toks = split(col(textCol), " ")
    val n = org.apache.spark.sql.functions.size(col("__t"))
    val nChunks = (lit(1) + ceil((greatest(n - size, lit(0))).cast("double") / stride)).cast("int")
    docs
      .select(col(idCol), toks.alias("__t"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => slice(col("__t"), i * stride + 1, lit(size)))))
      .select(
        col(idCol),
        col("pos").cast("int").alias("chunk_idx"),
        org.apache.spark.sql.functions.size(col("col")).alias("chunk_tokens"),
        array_join(col("col"), " ").alias("chunk_text"))
  }

  /** CONTENT-DEFINED chunking: boundaries come from token content (a
    * token whose portable hash ≡ 0 mod `modulus` closes its chunk), not
    * from fixed offsets — so an edit near the start of a document
    * shifts only the chunks up to the next boundary, and every later
    * chunk keeps its exact text (and digest). That edit-stability is
    * the point: chunk-level dedup over a corpus of near-identical
    * documents (mirrors, revisions) only works when unchanged regions
    * re-produce IDENTICAL chunks, which fixed-stride chunking ([[chunk]])
    * destroys after any insertion. Average chunk length ≈ `modulus`
    * tokens (geometric); md5-derived hash makes the rule replayable in
    * any engine (same trick as [[graft.ops.Dedup.simhashPortable]]).
    *
    * Narrow per-doc generator: ONE compiled kernel per document
    * ([[graft.functions.CdcChunks]] — tokenize, per-token boundary hash,
    * per-chunk digest in a single pass); no shuffle, no state. The
    * higher-order-expression form is retained as
    * [[contentDefinedChunksHof]], the replayable reference its spec pins
    * the kernel against bit-for-bit (the same CodegenFallback-HOF
    * disease→kernel cure as the portable SimHash: the per-token
    * md5→conv→pmod lambda was interpreted per token and the per-chunk
    * slice+array_join+md5 re-walked the token array per chunk). */
  def contentDefinedChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      modulus: Int = 16): DataFrame = {
    require(modulus > 1, s"modulus must be > 1, got $modulus")
    // NO size filter on __c: a pushed-down `size(__c) > 0` predicate
    // re-evaluates the kernel per row (measured 3 evaluations/row at
    // sf10: size + isnotnull in the Filter, plus the Project), and
    // posexplode of an empty or null array emits no rows anyway —
    // token-less documents drop exactly as the HOF reference drops them
    docs
      .select(col(idCol),
        graft.functions.native.cdcChunks(col(textCol), modulus).alias("__c"))
      .select(col(idCol), posexplode(col("__c")))
      .select(
        col(idCol),
        col("pos").cast("int").alias("chunk_idx"),
        col("col.chunk_tokens").alias("chunk_tokens"),
        col("col.chunk_digest").alias("chunk_digest"))
  }

  /** Higher-order-expression reference for [[contentDefinedChunks]] —
    * kept replayable so the spec can pin the native kernel against it
    * bit-for-bit (boundary rule, slices, digests). */
  def contentDefinedChunksHof(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      modulus: Int = 16): DataFrame = {
    require(modulus > 1, s"modulus must be > 1, got $modulus")
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val n = size(col("__t"))
    // boundary AFTER position i (1-based) iff hash(token_i) % modulus == 0
    val bounds = filter(
      sequence(lit(1), n),
      i => pmod(conv(substring(md5(element_at(col("__t"), i)), 1, 15), 16, 10).cast("long"),
        lit(modulus.toLong)) === 0)
    // chunk start positions: 1 + each boundary that is not the last token
    val starts = concat(
      array(lit(1)),
      transform(filter(col("__b"), p => p < n), p => p + 1))
    docs
      .select(col(idCol), toks.alias("__t"))
      .filter(size(col("__t")) > 0)
      .withColumn("__b", bounds)
      .withColumn("__s", starts)
      .select(col(idCol), col("__t"),
        posexplode(
          zip_with(
            col("__s"),
            // chunk end = next boundary (or doc end for the tail chunk)
            concat(filter(col("__b"), p => p < n), array(n)),
            (s, e) => struct(s.alias("s"), e.alias("e")))))
      .select(
        col(idCol),
        col("pos").cast("int").alias("chunk_idx"),
        (col("col.e") - col("col.s") + 1).cast("int").alias("chunk_tokens"),
        md5(array_join(slice(col("__t"), col("col.s"), col("col.e") - col("col.s") + 1), " "))
          .alias("chunk_digest"))
  }

  /** Full per-document profile in one narrow pass. Tokenization is
    * hoisted into its own projection (`__w`), so the text is split ONCE
    * per document; every word-derived signal reads the attribute.
    * (CollapseProject keeps a multiply-referenced non-cheap expression in
    * its own projection, so the hoist survives optimization.) The naive
    * per-signal forms re-tokenized ~6× per row. Arithmetic is identical
    * to the unhoisted functions, so results agree bit-for-bit. */
  def profile(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val w = col("__w")
    df.withColumn("__w", words(t))
      .withColumn("n_chars_calc", length(t))
      .withColumn("n_words", size(w))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("avg_word_len", round(avgWordLenFromParts(w), 4))
      .withColumn("punct_ratio", round(punctRatio(t), 4))
      .withColumn("stopword_ratio", round(stopwordRatioFromParts(w), 4))
      .withColumn("lang_pred", langIdFromParts(w))
      .withColumn("quality_score", qualityScoreFromParts(t, w))
      .withColumn("quality_bucket", qualityBucket(col("quality_score")))
      .withColumn("fingerprint", charFingerprint(t))
      .drop("__w")
  }

  /** Exact top-`size` vocabulary induction: corpus term + document
    * frequencies, truncated to the most frequent `size` terms with
    * dense ids in (frequency desc, term) order — the deterministic
    * vocabulary build step of a tokenizer/featurizer pipeline.
    *
    * Scale shape: ONE corpus-sized shuffle (the per-term partial
    * aggregate; `count(distinct doc)` plans as a two-level aggregate,
    * still keyed by term), then a heap `TakeOrderedAndProject` — the
    * corpus is never globally sorted. The id-assigning window runs on
    * the `size`-row truncation, which is driver-trivial by
    * construction. For the approximate any-k variant at extreme
    * vocabularies, `a18_count_min` is the sketch path. */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String, size: Int): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).alias("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).alias("tf"), countDistinct(col(idCol)).alias("df"))
    tf.orderBy(col("tf").desc, col("term")).limit(size)
      .withColumn("term_id",
        row_number().over(Window.orderBy(col("tf").desc, col("term"))))
      .select(col("term_id"), col("term"), col("tf"), col("df"))
  }

  /** Encode documents against an induced top-V vocabulary
    * ([[vocabulary]]): every token becomes its dense term id (0 for
    * out-of-vocabulary), preserving token order — the id sequence a
    * training pipeline feeds downstream — plus per-doc OOV accounting,
    * the standard coverage diagnostic when sizing V.
    *
    * Scale shape (100 TB): the vocabulary is V rows — it BROADCASTS to
    * the token join, so the corpus-sized side never shuffles for the
    * lookup; the only exchange is the positional regroup keyed by doc
    * id. Token order is restored by sorting each doc's own (pos, id)
    * structs — a narrow per-row array_sort, never a corpus sort. */
  def encodeWithVocab(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int): DataFrame = {
    val vocab = vocabulary(docs, idCol, textCol, vocabSize).select(col("term"), col("term_id"))
    docs
      .select(col(idCol), posexplode(split(lower(col(textCol)), " ")).as(Seq("pos", "term")))
      .join(broadcast(vocab), Seq("term"), "left_outer")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).alias("n_tokens"),
        sum(when(col("term_id").isNull, 1L).otherwise(0L)).alias("n_oov"),
        sort_array(collect_list(struct(
          col("pos"), coalesce(col("term_id"), lit(0)).alias("id")))).alias("__s"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).alias("oov_rate"),
        transform(col("__s"), x => x("id")).alias("token_ids"))
  }

  /** Per-source Zipf slope: the least-squares slope of ln(tf) against
    * ln(rank) over each source's top-`topK` terms — the standard
    * power-law health check for a text corpus (natural language sits
    * near −1; templated/boilerplate-heavy sources flatten, spam with
    * exploded vocabularies steepen). Shuffle shape: the one corpus-sized
    * (source, term) aggregate, a vocabulary-sized rank window
    * partitioned by source, and a `regr_slope` aggregate over ≤ topK
    * rows per source. */
  def zipfSlope(docs: DataFrame, sourceCol: String, textCol: String, topK: Int = 100): DataFrame = {
    val tf = docs
      .select(col(sourceCol).alias("source"),
        explode(split(lower(col(textCol)), " ")).alias("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).alias("tf"))
    tf.withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("tf").desc, col("term"))))
      .filter(col("rk") <= topK)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).alias("n_terms"),
        round(expr("regr_slope(ln(tf), ln(rk))"), 4).alias("zipf_slope"))
  }

  /** Per-source unigram-distribution divergence vs the whole corpus —
    * the mixture-diagnostics pass a training-data pipeline runs before
    * setting sampling weights (a source whose KL to the corpus is high
    * is either a domain worth upweighting or contamination worth
    * inspecting). Emits, per source: vocabulary size, token count,
    * Shannon entropy H(p), cross-entropy H(p, q) against the corpus
    * unigram distribution q, and KL(p‖q) = H(p,q) − H(p) computed
    * directly as Σ p·ln(p/q) (never the difference of two rounded
    * numbers).
    *
    * Shuffle structure: a single LINEAR pipeline — the corpus is
    * scanned once and shuffled once (the (source, term) partial
    * aggregate); the global term count attaches via a vocabulary-sized
    * window over `term` (no self-join, so nothing re-expands into a
    * second corpus scan); the per-source reduction is the third,
    * source-cardinality-sized shuffle. The naive formulation (join tf
    * against tf-derived totals) plans THREE corpus scans because the
    * branches push different filters and defeat exchange reuse — the
    * algebraic rearrangement H(p) = ln S − (Σ tf·ln tf)/S needs no
    * per-source totals at all. q > 0 for every source term by
    * construction (each source's terms are part of the corpus), so the
    * logs are total. */
  def sourceDivergence(docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(sourceCol).alias("source"),
        explode(split(lower(col(textCol)), " ")).alias("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).alias("tf"))                       // the one corpus-sized shuffle
    val perSource = tf
      .withColumn("gtf", sum(col("tf")).over(Window.partitionBy(col("term"))))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).alias("n_terms"),
        sum(col("tf")).cast("long").alias("n_tokens"),
        sum(col("tf") * log(col("tf"))).alias("__stlt"),
        sum(col("tf") * log(col("gtf"))).alias("__stlg"))
    // the grand total Σ tf is the sum of the per-source totals — a
    // window over the source-cardinality-sized aggregate, not a rescan
    perSource
      .withColumn("__gn", sum(col("n_tokens")).over(Window.partitionBy()))
      .select(col("source"), col("n_terms"), col("n_tokens"),
        round(log(col("n_tokens")) - col("__stlt") / col("n_tokens"), 4).alias("entropy"),
        round(log(col("__gn")) - col("__stlg") / col("n_tokens"), 4).alias("cross_entropy"),
        round((col("__stlt") - col("__stlg")) / col("n_tokens")
          + log(col("__gn") / col("n_tokens")), 4).alias("kl_vs_corpus"))
  }

  /** Bad-phrase fragments for the C4 policy battery (the published
    * filter drops pages containing listed phrases; the list itself is
    * external, so a small representative stand-in is compiled in). */
  private val c4BadPhrases = Seq("lorem ipsum", "click here", "terms of use")

  /** C4-style document filters (Raffel et al. 2020, §2.2 "Colossal
    * Clean Crawled Corpus"): the OTHER canonical cleaning battery next
    * to [[gopherRules]] — C4 filters on sentence structure and policy
    * phrases where Gopher filters on word statistics. Re-expressed
    * per document over this engine's corpus:
    *
    *  - ≥ 3 sentences (split on terminal punctuation);
    *  - ≥ 5 words (C4 drops pages with fewer than 5 words);
    *  - no curly brace (code markup proxy);
    *  - no "lorem ipsum" / policy boilerplate phrases;
    *  - fraction of sentences ending in terminal punctuation (C4 keeps
    *    only lines ending in one; reported as a ratio here so the rule
    *    is a threshold, not a row filter).
    *
    * Every metric is a narrow scan-speed expression (split / regexp
    * count / contains) — no shuffle, no UDF; the whole battery stays
    * inside whole-stage codegen and runs at 100 TB as a mapper. */
  def c4Rules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val parts = docs.select(
      col(idCol).alias("doc_id"),
      lower(col(textCol)).alias("__t"),
      words(col(textCol)).alias("__w"))
    // sentences = non-empty trimmed segments between terminal marks
    val sents = filter(
      transform(split(col("__t"), "[.!?]"), s0 => trim(s0)),
      s0 => length(s0) > 0)
    val nSent = size(sents)
    val nWords = size(col("__w"))
    // terminal-ended sentence count = number of terminal marks that
    // close a non-empty segment ≡ total terminal marks bounded by nSent
    val nTerm = least(
      length(col("__t")) - length(regexp_replace(col("__t"), "[.!?]", "")),
      nSent)
    val termFrac = when(nSent > 0, nTerm.cast("double") / nSent).otherwise(0.0)
    val hasBrace = col("__t").contains("{") || col("__t").contains("}")
    val hasBad = c4BadPhrases
      .map(p => col("__t").contains(p))
      .reduce(_ || _)
    parts.select(
      col("doc_id"),
      nWords.alias("n_words"),
      nSent.alias("n_sentences"),
      round(termFrac, 4).alias("terminal_sentence_frac"),
      hasBrace.alias("has_brace"),
      hasBad.alias("has_bad_phrase"),
      (nSent >= 3).alias("r_min_sentences"),
      (nWords >= 5).alias("r_min_words"),
      (!hasBrace).alias("r_no_brace"),
      (!hasBad).alias("r_no_bad_phrase"))
      .withColumn("keep",
        col("r_min_sentences") && col("r_min_words") &&
          col("r_no_brace") && col("r_no_bad_phrase"))
  }
}
