package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting (whitespace + BPE-ish regex), quality
  * scoring, language identification (marker-word n-gram heuristic) and
  * document fingerprinting. All pure Column expressions — codegen'd,
  * no UDFs, no shuffles; they run inside the scan stage at any scale.
  */
object TextAnalysis {

  /** Whitespace tokens of the lowercased text (empties dropped). */
  def tokens(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => length(t) > 0)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword proxy: letter runs, digit runs, and single
    * punctuation marks each count as one token.
    */
  val BpeTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeTokenRe), lit(0)))

  /** ASCII punctuation characters in the raw text. */
  val PunctClass = "[.,;:!?'\"()\\[\\]{}-]"
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, PunctClass, ""))

  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(punctCount(c).cast("double") / length(c).cast("double"))

  /** Small closed stopword list (quality signal, not linguistics). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  def stopwordCount(c: Column): Column =
    size(filter(tokens(c), t => t.isInCollection(Stopwords)))

  def stopwordRatio(c: Column): Column = {
    val n = tokenCount(c)
    when(n === 0, lit(0.0)).otherwise(stopwordCount(c).cast("double") / n.cast("double"))
  }

  /** Composite quality score in [0,1]: length saturation + low punctuation
    * + healthy stopword share. Formula is fixed so the DuckDB oracle can
    * reproduce it bit-for-bit (single FP ops on exact ints).
    */
  def qualityScore(c: Column): Column =
    least(tokenCount(c).cast("double") / lit(100.0), lit(1.0)) * lit(0.5) +
      (lit(1.0) - punctRatio(c)) * lit(0.25) +
      stopwordRatio(c) * lit(0.25)

  /** Heuristic syllable count: vowel-group runs per token, clamped to
    * ≥ 1 per token (the standard Flesch approximation — exact
    * linguistics needs a dictionary; the heuristic is deterministic
    * and engine-portable: greedy non-overlapping regex runs count the
    * same everywhere). Integer end to end.
    */
  def syllableCount(c: Column): Column =
    aggregate(
      transform(tokens(c), t =>
        greatest(lit(1), size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))))),
      lit(0), (acc, x) => acc + x)

  /** Sentence-terminator runs, clamped to ≥ 1 (a fragment is one
    * sentence to the Flesch formula).
    */
  def sentenceCount(c: Column): Column =
    greatest(lit(1), size(regexp_extract_all(c, lit("[.!?]+"), lit(0))))

  /** Flesch reading ease (Flesch 1948): `206.835 − 1.015·(W/S) −
    * 84.6·(Syl/W)` from the three exact integer counts; single fixed
    * FP expression, rounded by the caller.
    */
  def fleschReadingEase(c: Column): Column =
    lit(206.835) -
      lit(1.015) * (tokenCount(c).cast("double") /
        sentenceCount(c).cast("double")) -
      lit(84.6) * (syllableCount(c).cast("double") /
        tokenCount(c).cast("double"))

  /** Marker-word sets per language for the n-gram language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "is", "of", "and", "to", "in", "it"),
    "es" -> Seq("el", "la", "y", "es", "de", "que", "un", "en"),
    "fr" -> Seq("le", "la", "et", "est", "les", "des", "un", "une"))

  def langScore(c: Column, lang: String): Column = {
    val markers = LangMarkers.toMap.apply(lang)
    size(filter(tokens(c), t => t.isInCollection(markers)))
  }

  /** Predicted language = argmax of marker scores; ties resolve to the
    * alphabetically-first language (deterministic, oracle-replicable).
    */
  def langId(c: Column): Column = {
    val scores = LangMarkers.map { case (l, _) => l -> langScore(c, l) }
    scores.foldRight(lit("und")) { case ((l, s), rest) =>
      val isMax = scores.filter(_._1 != l).map { case (_, o) => s >= o }.reduce(_ && _)
      when(isMax, lit(l)).otherwise(rest)
    }
  }

  /** Content fingerprint: md5 of the whitespace-normalized lowercase
    * text.
    */
  def fingerprintMd5(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  /** Winnowing-style fingerprint: the lexicographic minimum of the md5
    * hashes of all word k-gram shingles (rolling-hash document sketch).
    */
  def winnowFingerprint(c: Column, k: Int = 5): Column = {
    val sh = TextShingles.shingles(tokens(c), k)
    array_min(transform(sh, s => md5(s)))
  }

  // ------------------------------------------------------- repetition
  /** Non-empty trimmed lines of the text. */
  def textLines(c: Column): Column =
    filter(transform(split(c, "\n"), l => trim(l)), l => length(l) > 0)

  /** Fraction of lines that duplicate another line of the SAME document
    * — the Gopher-style "duplicate line fraction" repetition signal
    * (high = listy/boilerplate page). Exact integer ratio, one double
    * division, so the oracle reproduces it bit-for-bit.
    */
  def duplicateLineFrac(c: Column): Column = {
    val ls = textLines(c)
    val n = size(ls)
    when(n === 0, lit(0.0))
      .otherwise((n - size(array_distinct(ls))).cast("double") / n.cast("double"))
  }

  /** Word bigrams of the document (shingle order = token order). */
  def bigrams(c: Column): Column = TextShingles.shingles(tokens(c), 2)

  /** Occurrence count of the MOST FREQUENT bigram — computed as the
    * longest run in the sorted bigram array by a single linear
    * `aggregate` fold (no per-row quadratic rescan, no shuffle; pure
    * scan-stage work like every function here). 0 when the document has
    * fewer than two tokens.
    */
  def topBigramCount(c: Column): Column = {
    val sorted = array_sort(bigrams(c))
    val fold = aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(tokenCount(c) < 2, lit(0L)).otherwise(fold)
  }

  /** Fraction of tokens covered by the most frequent bigram
    * (`2 × top_count / n_tokens` — the token-level analog of Gopher's
    * top-n-gram character fraction; near 1 = the page repeats one
    * phrase).
    */
  def topBigramFrac(c: Column): Column = {
    val n = tokenCount(c)
    when(n < 2, lit(0.0))
      .otherwise(topBigramCount(c).cast("double") * lit(2.0) / n.cast("double"))
  }

  /** Fraction of bigram occurrences that are repeats of an earlier
    * bigram (`1 − distinct/total`).
    */
  def duplicateBigramFrac(c: Column): Column = {
    val bg = bigrams(c)
    when(tokenCount(c) < 2, lit(0.0))
      .otherwise((size(bg) - size(array_distinct(bg))).cast("double") /
        size(bg).cast("double"))
  }

  // -------------------------------------------------------------- PII
  /** Match patterns chosen to be portable between Java regex (Spark)
    * and RE2 (DuckDB/ripgrep): no lookaround, no backreferences.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  /** International-format numbers only (`+` then 7-15 digits) — the
    * deterministic core; free-form national formats are locale policy,
    * not engine work.
    */
  val PhoneRe = "\\+[0-9]{7,15}"

  def piiCount(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0)))

  /** Replace emails / IPv4 addresses / international phone numbers with
    * typed placeholder tokens — the standard pre-training redaction
    * pass. Emails first (so their dotted domains never half-match the
    * IP pattern on a later pass); placeholders contain no digits, so
    * passes cannot re-match each other's output.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re), lit("<IP>")),
      lit(PhoneRe), lit("<PHONE>"))

  /** Corpus-statistics quality scoring — the statistical cousin of the
    * heuristic [[qualityScore]]: every token is weighted by its CORPUS
    * frequency, so documents full of tokens nothing else uses (OCR
    * noise, mojibake, boilerplate ids) surface without any language
    * resource. Per document:
    *
    *  - `mean_token_df` — mean corpus occurrence count of its tokens
    *    (low = rare-vocabulary document);
    *  - `rare_frac` — fraction of its tokens occurring ≤ `rareMaxCount`
    *    times corpus-wide (high = garbage indicator).
    *
    * Both are exact integer ratios finished by ONE double division, so
    * any engine reproduces them bit-for-bit (deliberately NOT
    * log-surprisal: a cross-engine float `log` sum is not
    * reproducible). Shape: one token-level aggregation (the vocabulary,
    * map-side combined) + one shuffle join back on token + one per-doc
    * aggregation — every stage keyed and parallel at corpus size.
    */
  def corpusFrequencyStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String, rareMaxCount: Long = 2L
                          ): org.apache.spark.sql.DataFrame = {
    // both the vocabulary aggregation and the join-back probe read the
    // exploded tokens; checkpoint so tokenize+explode runs ONCE
    val tok = docs.select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("__t"))
      .transform(graft.operators.Checkpoint(_))
    val vocab = tok.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    tok.join(vocab, Seq("__t"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("__df")).cast("double") / count(lit(1))).as("mean_token_df"),
        (sum(when(col("__df") <= rareMaxCount, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("rare_frac"))
      .withColumnRenamed("__id", idCol)
  }
}

/** Word k-gram shingling shared by fingerprinting and MinHash dedup. */
object TextShingles {
  /** All consecutive k-grams of `tokens` joined by a single space; for
    * texts shorter than k tokens, the whole text is the one shingle.
    * Evaluated by the native one-pass [[graft.plans.ShinglesExpr]].
    */
  def shingles(tokens: Column, k: Int): Column =
    graft.plans.ShinglesExpr.shingles(tokens, k)

  /** Pure-`functions._` formulation — portable to SQL engines, used to
    * pin the native expression. Do NOT use on a hot path: `slice(tokens,
    * i, k)` inside the `transform` lambda re-evaluates the captured
    * token expression per output element (higher-order functions don't
    * share subexpressions), which is quadratic in the token count.
    */
  def shinglesDeclarative(tokens: Column, k: Int): Column =
    when(size(tokens) <= k, array(concat_ws(" ", tokens)))
      .otherwise(transform(
        sequence(lit(1), size(tokens) - (k - 1)),
        i => concat_ws(" ", slice(tokens, i, lit(k)))))
}
