package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for LLM training-data pipelines (mission
 * extension, SURVEY.md §7.4). Entirely built from codegen'd
 * `sql.functions` — no UDFs on the hot path, so all of this stays inside
 * WholeStageCodegen and scans stay pruned to the text column.
 */
object TextAnalysis {

  /** Whitespace tokens, empty-safe. */
  def tokens(text: Column): Column = {
    val t = split(trim(text), "\\s+")
    when(length(trim(text)) === 0, array().cast("array<string>")).otherwise(t)
  }

  /** Whitespace token count (empty text → 0). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Unicode NFC + control-strip + whitespace-collapse + trim, one
    * codegen'd pass — see [[org.apache.spark.sql.graft.NormalizeRuntime]]
    * for the exact contract and its SQL replica. */
  def normalizeText(text: Column): Column =
    org.apache.spark.sql.graft.NormalizeFunctions.nfcClean(text)

  /** BPE-ish subword count estimate: word-piece regex split — letters runs,
    * digit runs, and single punctuation each count as one token. */
  def subwordCount(text: Column): Column = {
    val pieces = regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))
    size(pieces)
  }

  private val EnStop = Seq("the", "of", "and", "to", "in", "a", "is", "that",
    "it", "for", "on", "with", "as", "was", "at", "by")
  private val DeStop = Seq("der", "die", "das", "und", "ist", "ich", "nicht",
    "ein", "eine", "mit", "für", "auf", "des", "im", "zu", "von")
  private val FrStop = Seq("le", "la", "les", "de", "des", "et", "est", "un",
    "une", "dans", "pour", "que", "qui", "au", "pas", "sur")
  private val EsStop = Seq("el", "la", "los", "las", "de", "y", "es", "un",
    "una", "en", "por", "que", "no", "con", "para", "del")

  /** The default English stopword list (public so the SQL oracle can
    * replay [[rakeKeywords]]'s phrase breaking verbatim). */
  def englishStopwords: Seq[String] = EnStop

  private def stopHits(toks: Column, stops: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(stops.map(lit): _*), t)))

  /**
   * Quality metrics: character count, alphabetic ratio, punctuation ratio,
   * mean word length, English-stopword ratio, and a composite score.
   * All ratios rounded to 4 decimals (stable across engines).
   *
   * All counts come from ONE codegen'd pass over the document
   * (`text_stats`) — the equivalent regexp_replace ×2 + tokenize + HOF
   * stopword filter chain traverses each document five times, with the
   * per-token lambda interpreted.
   */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val st = "__qstats"
    val nChars = element_at(col(st), 1)
    val nToks = element_at(col(st), 2)
    val alpha = element_at(col(st), 3)
    val punct = element_at(col(st), 4)
    val stopEn = element_at(col(st), 5)
    val safeChars = greatest(nChars, lit(1L))
    val safeToks = greatest(nToks, lit(1L))
    df.withColumn(st,
        graft.functions.Text.textStats(col(textCol), Seq(EnStop)))
      .withColumn("q_chars", nChars.cast("int"))
      .withColumn("q_tokens", nToks.cast("int"))
      .withColumn("alpha_ratio", round(alpha.cast("double") / safeChars, 4))
      .withColumn("punct_ratio", round(punct.cast("double") / safeChars, 4))
      .withColumn("mean_word_len",
        round((nChars - (nToks - 1)).cast("double") / safeToks, 4))
      .withColumn("stopword_ratio", round(stopEn.cast("double") / safeToks, 4))
      .withColumn("quality_score", round(
        least(col("alpha_ratio") * 1.2, lit(1.0)) * 0.5 +
          least(col("stopword_ratio") * 4.0, lit(1.0)) * 0.3 +
          when(col("q_tokens").between(10, 10000), 0.2).otherwise(0.0), 4))
      .drop(st)
  }

  /**
   * Heuristic language ID over {en, de, fr, es, zh}: stopword-hit voting
   * plus a CJK-codepoint override. Deterministic; ties break by fixed
   * language order.
   */
  def withLangId(df: DataFrame, textCol: String, out: String = "lang_pred"): DataFrame = {
    // All four language scores come from the same single-pass text_stats
    // call; argmax runs over the array slice (a when()-fold would
    // duplicate every score subtree per branch — exponential codegen).
    val langs = Seq("en", "de", "fr", "es")
    val stops = Seq(EnStop, DeStop, FrStop, EsStop)
    val statsCol = "__stats_" + out
    val scoresCol = "__scores_" + out
    df.withColumn(statsCol, graft.functions.Text.textStats(col(textCol), stops))
      .withColumn(scoresCol, slice(col(statsCol), 5, langs.length))
      .withColumn(out,
        when(col(textCol).rlike("[\\u4e00-\\u9fff]"), "zh") // CJK short-circuit
          .when(array_max(col(scoresCol)) > 0,
            element_at(
              array(langs.map(lit): _*),
              array_position(col(scoresCol), array_max(col(scoresCol))).cast("int")))
          .otherwise("unknown"))
      .drop(statsCol, scoresCol)
  }

  /** Common redaction patterns for training-data scrubbing. */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val NumberRunPattern: String = "[0-9]{4,}"

  /**
   * Pattern redaction (PII scrubbing / sensitive-content masking): each
   * (regex → replacement) applies in order via codegen'd `regexp_replace`
   * — map-only, no shuffle, stays inside WholeStageCodegen.
   */
  def redact(text: Column, patterns: Seq[(String, String)]): Column =
    patterns.foldLeft(text) { case (c, (re, repl)) =>
      regexp_replace(c, re, repl)
    }

  /**
   * Corpus token-frequency table (vocabulary statistics — the input to
   * tokenizer training and stopword discovery): lowercased whitespace
   * tokens, counted corpus-wide, deterministic (count desc, token asc)
   * top-k.
   *
   * Scale shape: explode + hash aggregate — partial (map-side) combine
   * collapses each partition to its distinct-token counts before the
   * shuffle, so the exchange carries vocabulary, not corpus; the final
   * top-k is a TakeOrdered, not a full sort.
   */
  def tokenFrequencies(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /**
   * Zipf-law fit over the corpus's token frequency head — the one-row
   * corpus-health gate: natural language sits near slope −1 on the
   * log(freq) vs log(rank) line; a much flatter slope says templated /
   * machine-generated text (every token equally common), a much
   * steeper one says degenerate repetition. Fits OLS over the top
   * `topN` ranks (the head is where Zipf holds; the long tail bends
   * by Heaps' law and would drown the signal).
   *
   * Ranks come from [[Ranking.withGlobalRank]] ordered (freq desc,
   * token asc) — exact, distributed, deterministic under ties — so
   * both engines fit the IDENTICAL (rank, freq) point set; x = ln rank
   * and y = ln freq are then single-op functions of exact integers.
   * The five OLS sums run over ≤ `topN` rows; slope/intercept/r2
   * round at 4dp (the grid absorbs summation-order ULP drift, the
   * same band every multi-term double aggregate in this file rides).
   *
   * Scale shape: explode + map-side-combined token counts (the
   * exchange carries vocabulary, not corpus), one distributed rank
   * over the count frame, then a ≤ topN-row aggregate. Returns ONE
   * row: (`n_fit`, `slope`, `intercept`, `r2`) — NULL fit columns
   * when fewer than 2 distinct ranks survive (no line to fit).
   */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 1000): DataFrame = {
    require(topN >= 2, "topN must be >= 2")
    val counts = df.select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val ranked = Ranking.withGlobalRank(counts,
        Seq(col("c").desc, col("token").asc), "r", "n_all")
      .filter(col("r") <= topN)
    val x = log(col("r").cast("double"))
    val y = log(col("c").cast("double"))
    val s = ranked.agg(count(lit(1)).as("n_fit"), sum(x).as("__sx"),
      sum(y).as("__sy"), sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
      sum(y * y).as("__syy"))
    val n = col("n_fit").cast("double")
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    val den = n * col("__sxx") - col("__sx") * col("__sx")
    val deny = n * col("__syy") - col("__sy") * col("__sy")
    val slope = num / den
    val ok = col("n_fit") >= 2 && den =!= 0d
    s.select(col("n_fit"),
      when(ok, round(slope, 4)).as("slope"),
      when(ok, round((col("__sy") - slope * col("__sx")) / n, 4))
        .as("intercept"),
      when(ok && deny =!= 0d, round(num * num / (den * deny), 4)).as("r2"))
  }

  /**
   * Keyword-in-context (KWIC / concordance) extraction: every exact
   * token occurrence of `term` with ±`window` tokens of context —
   * what a reviewer looks at before blocklisting a term, and the
   * qualitative check behind every quality-filter rule. Matching is on
   * the lowercased whitespace token (the corpus-wide tokenize
   * convention), so "Foo." does not match term "foo" — deliberate:
   * exact-token semantics are SQL-replayable; fuzzy matching belongs
   * to the similarity operators.
   *
   * Scale shape: tokenize + posexplode + filter — map-only, the match
   * filter drops everything but hit rows before any downstream
   * exchange; context slices come from the carried token array, never
   * a re-scan. Returns (`doc_id`, `pos` 0-based, `context`).
   */
  def keywordInContext(df: DataFrame, idCol: String, textCol: String,
                       term: String, window: Int = 3): DataFrame = {
    require(term.nonEmpty, "term must be non-empty")
    require(window >= 0, "window must be >= 0")
    df.select(col(idCol).cast("long").as("doc_id"),
        tokens(lower(col(textCol))).as("__t"))
      .select(col("doc_id"), col("__t"),
        posexplode(col("__t")).as(Seq("pos", "tok")))
      .filter(col("tok") === lit(term))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", slice(col("__t"),
          greatest(col("pos") + 1 - window, lit(1)),
          least(col("pos") + 1 + window, size(col("__t"))) -
            greatest(col("pos") + 1 - window, lit(1)) + 1)).as("context"))
  }

  /**
   * Flesch-Kincaid grade-level readability (the vowel-group syllable
   * heuristic — deterministic and engine-portable, unlike dictionary
   * syllabification): grade = 0.39·(words/sentences) +
   * 11.8·(syllables/words) − 15.59, with sentences = [.!?]+ runs
   * (min 1) and syllables = [aeiouy]+ runs in the lowercased text
   * (vowel groups never span whitespace, so the corpus-level count
   * equals the per-word sum without a per-word pass). Empty docs
   * report NULL. One codegen'd map-only pass; 4dp.
   *
   * Returns (`doc_id`, `words`, `sentences`, `syllables`, `fk_grade`).
   */
  def readability(df: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val words = size(tokens(col(textCol)))
    val sentences = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))), lit(1))
    val syllables = size(
      regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"), lit(0)))
    df.select(col(idCol).cast("long").as("doc_id"),
      words.cast("long").as("words"),
      sentences.cast("long").as("sentences"),
      syllables.cast("long").as("syllables"))
      .withColumn("fk_grade",
        when(col("words") > 0,
          round(lit(0.39) * (col("words").cast("double") / col("sentences")) +
            lit(11.8) * (col("syllables").cast("double") / col("words")) -
            lit(15.59), 4)))
  }

  /**
   * Positional inverted-index build — the search-engine prep step the
   * reference's whole pipeline feeds (its ES bulk-indexer delegates
   * this to the embedded engine; here it is a first-class operator):
   * one row per (term, document) with term frequency, the 0-based
   * position list (comma-joined ascending — phrase queries need
   * positions), and the term's document frequency. `minDf` drops
   * hapax terms (the long tail that bloats every index).
   *
   * Scale shape: the (term, doc, pos) explode is the honest volume of
   * positional indexing — one token-sized shuffle keyed by
   * (term, doc) builds the postings; document frequencies are a
   * second keys-only aggregate over the POSTING frame (≪ tokens), and
   * the df attachment joins on the term key. At 100 TB this is
   * exactly the movement a distributed indexer pays; position lists
   * stay per-(term, doc) — never a whole-term collect.
   *
   * Returns (`term`, `doc_id`, `tf`, `positions`, `df`).
   */
  def buildPostings(df: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 1): DataFrame = {
    require(minDf >= 1, "minDf must be >= 1")
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
      posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "term")))
    val per = toks.groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"),
        concat_ws(",", sort_array(collect_list(col("pos"))))
          .as("positions"))
    val dfc = per.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    per.join(dfc, "term")
      .select("term", "doc_id", "tf", "positions", "df")
  }

  /**
   * Top-k adjacent-bigram collocations by pointwise mutual information
   * (Church & Hanks 1990): PMI = ln(P(w₁w₂) / (P(w₁)·P(w₂))) computed
   * from corpus counts as ln(n₁₂·N² / (B·n₁·n₂)) — the phrase-mining
   * signal that separates "new york" (components rarely apart) from
   * frequent-but-independent pairs. `minCount` filters the
   * low-frequency noise PMI notoriously over-rewards (a pair seen once
   * whose words are hapaxes scores near-maximal PMI).
   *
   * Determinism: rank on the ROUNDED (6dp) score, ties (w₁, w₂)
   * lexical — cross-engine identical even under libm ln ulps.
   *
   * Scale shape: bigram and unigram counts both reduce map-side
   * (keys only); N and B are one-row frames broadcast back; the two
   * unigram attachments join the FILTERED bigram table (≥ minCount,
   * typically orders of magnitude below the raw gram count); top-k is
   * `TakeOrderedAndProject` — per-partition heaps, no global sort.
   * The gram pass uses the native codegen'd `word_ngrams` (the HOF
   * form is interpreted per gram).
   *
   * Returns k rows: (`w1`, `w2`, `pair_count`, `pmi` 6dp).
   */
  def topCollocations(df: DataFrame, textCol: String, minCount: Long,
                      k: Int): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    require(k >= 1, "k must be >= 1")
    val grams = df.select(explode(wordNgrams(col(textCol), 2)).as("g"))
    val uni = df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("nw"))
    val nTokens = uni.agg(sum("nw").cast("double").as("n"))
    val nBigrams = grams.agg(count(lit(1)).cast("double").as("b"))
    val big = grams.groupBy("g").agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
      .select(element_at(split(col("g"), " "), 1).as("w1"),
        element_at(split(col("g"), " "), 2).as("w2"),
        col("pair_count"))
    big
      .join(uni.select(col("w").as("w1"), col("nw").as("n1")), "w1")
      .join(uni.select(col("w").as("w2"), col("nw").as("n2")), "w2")
      .crossJoin(broadcast(nTokens)).crossJoin(broadcast(nBigrams))
      .select(col("w1"), col("w2"), col("pair_count"),
        round(log(
          (col("pair_count").cast("double") * col("n") * col("n")) /
            (col("b") * col("n1") * col("n2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /**
   * Skip-gram (center, context) pair counts — the word2vec/fastText
   * training-pair generation step (Mikolov et al. 2013): every token
   * pairs with its neighbors at offsets ±1..±window; the aggregated
   * (center, context, n) frame is what a negative-sampling trainer (or
   * a PPMI/SVD embedding) consumes. [[topCollocations]] is the
   * window-1 statistical summary of the same co-occurrence structure;
   * this emits the full windowed pair distribution.
   *
   * EXACTNESS: pair generation is the native codegen'd
   * `word_skipgrams` (one pass per doc, LowerTokenizer — bit-equal to
   * the positional-self-join SQL replica including Java split's
   * leading-empty quirk); counts are exact longs from one hash
   * aggregate.
   *
   * Scale shape: explode ∘ codegen'd expression — NO window functions
   * (the lead()-per-offset formulation re-sorts every doc `window`
   * times) and no self-join (the positional join the oracle uses is
   * O(tokens·window) pairs TWICE — once per side of the join — plus a
   * doc-keyed shuffle; here pairs materialize exactly once, map-side).
   * The single shuffle is the (center, context) count with map-side
   * combine; `minCount` prunes the hapax tail BEFORE the result lands
   * (the classic 90%+ reduction on natural text). Per-doc cost is
   * O(len·window) with no cross-doc term.
   */
  def skipGramPairs(df: DataFrame, textCol: String, window: Int,
                    minCount: Long = 1L): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(minCount >= 1L, s"minCount must be >= 1: $minCount")
    df.filter(col(textCol).isNotNull)
      .select(explode(
        graft.functions.Text.wordSkipgrams(col(textCol), window)).as("g"))
      .select(element_at(split(col("g"), " "), 1).as("center"),
        element_at(split(col("g"), " "), 2).as("context"))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /**
   * DIMSUM term-similarity: all-pairs cosine between TERM columns of
   * the binary doc×term matrix with dimension-independent sampling
   * (Zadeh & Goel 2013, "Dimension independent similarity computation"
   * — the MapReduce-era answer to "all-pairs similarity without the
   * full quadratic shuffle"). Each co-occurrence (doc, t_a, t_b)
   * survives a coin with p = min(1, γ/(√df_a·√df_b)), so HIGH-df pairs
   * — the ones with quadratically many co-occurrences — are sampled
   * down exactly in proportion, and the post-coin shuffle volume is
   * O(vocab·γ²)-ish, independent of the document count. Pairs with
   * √(df_a·df_b) ≤ γ take p = 1: their cosines are EXACT, not
   * estimates (`exact` flags this per pair).
   *
   * DETERMINISM: the coin is md5(doc ‖ ':' ‖ t_a ‖ ':' ‖ t_b) compared
   * against an IN-PLAN hex threshold `format_string("%08x",
   * round(p·2³²))` — the [[Samples]] md5-threshold mechanism with a
   * DATA-DEPENDENT p (both engines zero-pad lowercase hex, so the
   * lexicographic compare is the numeric compare) — making the
   * "random" sample bit-identical in Spark and the DuckDB oracle.
   * Each survivor contributes the CONSTANT-per-pair integer
   * round(10⁶/p); the pair sum is an exact long (no float summation
   * anywhere), and cosine = (Σ/10⁶)/(√df_a·√df_b) is one fixed IEEE
   * chain rounded 6dp. The output filter compares the ROUNDED cosine
   * to `minSim`.
   *
   * Scale shape: the quadratic pair fan-out happens in the STREAMED
   * output of a doc-keyed self-join and dies in the pipelined coin
   * filter before the pair aggregate's map-side combine — shuffled
   * bytes are O(doc·terms) in, O(survivors) out (the DIMSUM claim,
   * honored by construction). Per-doc term lists are capped
   * DETERMINISTICALLY at `maxTermsPerDoc` (rank by term — the long-row
   * guard; stated, replicated by the oracle) and the df band
   * [`minDf`, `maxDf`] prunes hapax noise and stopword rows before
   * any pair forms. The TRUE document frequency drives ONLY the band
   * filter; the reported `df_a`/`df_b` — and the p coin, the cosine
   * denominator, and the `exact` bound — are all the POST-CAP
   * document frequencies, recomputed on the capped frame, so the
   * cosine is the exact (or DIMSUM-estimated) cosine OF THE CAPPED
   * CORPUS and `exact = true` is honest by construction even when
   * docs were truncated (df computed pre-cap would make truncated
   * docs' cosines biased low while still flagged exact).
   *
   * Returns one row per surviving pair: (`term_a`, `term_b`, `df_a`,
   * `df_b`, `n_kept`, `cosine`, `exact`).
   */
  def termSimilarityDimsum(df: DataFrame, idCol: String, textCol: String,
                           gamma: Double = 20.0, minSim: Double = 0.1,
                           minDf: Long = 2L, maxDf: Long = Long.MaxValue,
                           maxTermsPerDoc: Int = 64): DataFrame = {
    require(gamma > 0.0, s"gamma must be > 0: $gamma")
    require(minDf >= 1L && maxDf >= minDf, s"bad df band [$minDf, $maxDf]")
    require(maxTermsPerDoc >= 2, s"maxTermsPerDoc must be >= 2")
    val dt = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull &&
        length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .distinct()
    val dfreq = dt.groupBy("term").agg(count(lit(1)).as("dft"))
      .filter(col("dft") >= minDf && col("dft") <= maxDf)
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("term")
    // post-cap df via ONE term-keyed window over the capped frame (no
    // extra aggregate+join; the pair join shuffles by id next, so this
    // term shuffle is the df derivation's only cost) — see the
    // Scaladoc: everything downstream uses CAPPED-corpus frequencies
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val capped = dt.join(dfreq.select("term"), "term")
      .withColumn("__rk", row_number().over(wDoc))
      .filter(col("__rk") <= maxTermsPerDoc)
      .withColumn("dft", count(lit(1)).over(wTerm))
      .select("id", "term", "dft")
    // both pair-join sides consume this frame — cut so the corpus
    // scans/token aggregates run once, not once per side; keyed fan-out
    // (r18) so the doc-keyed pair join co-partitions at full width
    // instead of AQE coalescing its small input to one task while the
    // per-doc pair fan-out does all the work there (no-op at data scale)
    val cappedCut = graft.core.LineageCut.cutFanoutBy(capped, Seq("id"))
    val a = cappedCut.select(col("id"), col("term").as("ta"),
      col("dft").as("dfa"))
    val b = cappedCut.select(col("id"), col("term").as("tb"),
      col("dft").as("dfb"))
    val p = least(lit(1.0), lit(gamma) /
      (sqrt(col("dfa").cast("double")) * sqrt(col("dfb").cast("double"))))
    val coin = substring(md5(concat(col("id").cast("string"), lit(":"),
      col("ta"), lit(":"), col("tb"))), 1, 8) <
      format_string("%08x",
        least(round(p * lit(4294967296.0)), lit(4294967295.0))
          .cast("long"))
    val kept = a.join(b, Seq("id")).filter(col("ta") < col("tb"))
      .withColumn("__p", p)
      .filter(col("__p") >= 1.0 || coin)
      .withColumn("__c", round(lit(1e6) / col("__p")).cast("long"))
    kept.groupBy("ta", "dfa", "tb", "dfb")
      .agg(count(lit(1)).as("n_kept"), sum("__c").as("__micro"))
      .select(col("ta").as("term_a"), col("tb").as("term_b"),
        col("dfa").as("df_a"), col("dfb").as("df_b"), col("n_kept"),
        round((col("__micro").cast("double") / lit(1e6)) /
          (sqrt(col("dfa").cast("double")) *
            sqrt(col("dfb").cast("double"))), 6).as("cosine"),
        (lit(gamma) * lit(gamma) >=
          (col("dfa") * col("dfb")).cast("double")).as("exact"))
      .filter(col("cosine") >= lit(minSim))
  }

  /**
   * RAKE keyword extraction (Rose et al. 2010, "Automatic keyword
   * extraction from individual documents"): candidate phrases are the
   * maximal token runs between stopwords/punctuation; each word scores
   * deg(w)/freq(w) — deg counts every word it co-occurs with in a
   * candidate phrase (itself included), freq its phrase occurrences —
   * and a phrase scores the sum of its member words. Corpus-level
   * keyphrases are the classic cheap topic signal for mixture reporting
   * and near-dup clustering seeds.
   *
   * EXACTNESS: word scores quantize to exact integers
   * (`deg·10⁶ div freq`) so phrase scores are exact long sums — the
   * top-k order and the reported `score` (one IEEE division) are
   * bit-deterministic cross-engine. deg is guarded against the 10⁶
   * scaling overflowing long (deg ≤ 9·10¹², i.e. ~10¹² corpus word
   * occurrences — fail-loud, not silent wraparound).
   *
   * Scale shape: two explode passes over phrase tokens (map-side), a
   * word-keyed aggregate, a phrase-keyed aggregate, and one word-keyed
   * join of (phrase, word) against the word-score frame — strings move
   * once per token occurrence, everything else is keys + longs. Top-k
   * via `orderBy.limit` → `TakeOrderedAndProject` per-partition heaps.
   * The word-keyed join is the one skew surface (a ubiquitous content
   * word probes from millions of distinct phrases): it is a plain
   * equi-join, so AQE's skew-split handles the hot key — same contract
   * as the engine's other content-keyed joins (see SkewJoin for the
   * sketch-driven alternative when AQE is off).
   *
   * Candidate phrases are capped at `maxPhraseLen` tokens (RAKE
   * convention; unbounded runs in boilerplate-heavy text otherwise
   * dominate by pure length).
   *
   * Returns k rows: (`phrase`, `n_words`, `occurrences`, `score`),
   * ordered score-desc then phrase.
   */
  def rakeKeywords(df: DataFrame, textCol: String, k: Int,
                   maxPhraseLen: Int = 4,
                   stopwords: Seq[String] = EnStop): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxPhraseLen >= 1, "maxPhraseLen must be >= 1")
    // punctuation runs become explicit '|' break tokens, stopword tokens
    // are rewritten to the same break, and the re-joined string splits
    // into phrases — lookaround-free, so the SQL oracle can replay it
    // in RE2 (no lookbehind) exactly
    val barred = regexp_replace(lower(col(textCol)),
      "[^a-z0-9\\s]+", " | ")
    val toks = split(trim(barred), "\\s+")
    val stopsArr = array(stopwords.map(lit): _*)
    val marked = transform(toks,
      t => when(array_contains(stopsArr, t), lit("|")).otherwise(t))
    val phrases = filter(
      transform(split(array_join(marked, " "), "\\|"), p => trim(p)),
      p => length(p) > 0)
    val occ = df
      .select(explode(phrases).as("phrase"))
      .filter(size(split(col("phrase"), " ")) <= maxPhraseLen)
    val words = occ.select(col("phrase"),
      size(split(col("phrase"), " ")).as("plen"),
      explode(split(col("phrase"), " ")).as("w"))
    val wscore = words.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("w"),
        when(col("deg") > 9000000000000L,
          raise_error(lit("rakeKeywords: word degree exceeds exact-long " +
            "score range"))).otherwise(
          expr("deg * 1000000L div freq")).as("score_micro"))
    val dphrase = occ.groupBy("phrase")
      .agg(count(lit(1)).as("occurrences"))
    val pscore = dphrase
      .select(col("phrase"), col("occurrences"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wscore, "w")
      .groupBy("phrase", "occurrences")
      .agg(sum("score_micro").as("__micro"))
    pscore
      .select(col("phrase"),
        size(split(col("phrase"), " ")).as("n_words"),
        col("occurrences"),
        (col("__micro").cast("double") / lit(1e6)).as("score"),
        col("__micro"))
      .orderBy(col("__micro").desc, col("phrase"))
      .limit(k)
      .drop("__micro")
  }

  /**
   * Word n-grams over lowercased whitespace tokens, space-joined
   * ("new york" for n=2). Documents shorter than n tokens yield an empty
   * array. Native single-pass expression — the HOF composition
   * ([[wordNgramsHof]], kept for parity testing) is CodegenFallback with
   * an interpreted per-gram lambda: it cost 15 s on the sf0.1 5-gram
   * decontamination query vs explode-speed for this.
   */
  def wordNgrams(text: Column, n: Int): Column =
    graft.functions.Text.wordNgrams(text, n)

  /** HOF reference implementation of [[wordNgrams]] (exact-parity-tested
    * against the native expression; do not use on hot paths). */
  private[operators] def wordNgramsHof(text: Column, n: Int): Column = {
    require(n >= 2, "use tokens() for unigrams")
    val t = tokens(lower(text))
    when(size(t) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(t, i + j + 1)): _*)))
  }

  /**
   * Gopher-style repetition signals (Rae et al. 2021 §A1.1), the standard
   * "repetitious document" quality cut of a web-corpus pipeline. For each
   * n in `ns` adds two doubles:
   *   - `top{n}gram_cover`: tokens covered by the single most frequent
   *     word n-gram (count × n / ntok) — high = a phrase loops;
   *   - `dup{n}gram_frac`: fraction of n-gram occurrences that are
   *     duplicates (Σ count>1 / total grams) — high = boilerplate/spam.
   * Short docs (< n tokens) score 0.0. One codegen'd pass per n
   * (`repetition_stats` — per-doc hash map, no gram explode, no shuffle);
   * filters compose downstream (e.g. `dup2gram_frac < 0.2`).
   */
  def withRepetition(df: DataFrame, textCol: String,
                     ns: Seq[Int] = Seq(2, 3)): DataFrame =
    ns.foldLeft(df) { (acc, n) =>
      val r = s"__rep$n"
      val ntok = element_at(col(r), 1)
      val total = element_at(col(r), 2)
      val maxC = element_at(col(r), 3)
      val dup = element_at(col(r), 4)
      acc.withColumn(r, graft.functions.Text.repetitionStats(col(textCol), n))
        .withColumn(s"top${n}gram_cover",
          when(ntok === 0L, lit(0.0))
            .otherwise((maxC * n).cast("double") / ntok.cast("double")))
        .withColumn(s"dup${n}gram_frac",
          when(total === 0L, lit(0.0))
            .otherwise(dup.cast("double") / total.cast("double")))
        .drop(r)
    }

  /** Per-token document frequency + total term frequency (the exact
    * inputs to TF-IDF / BM25 weighting), deterministic top-k by df.
    * Scale shape: one explode, dropDuplicates for the df side rides the
    * same shuffle as the count aggregate; top-k is a TakeOrdered. */
  def docFrequencies(df: DataFrame, textCol: String, k: Int,
                     idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol), explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy("token")
      .agg(countDistinct(col(idCol)).as("df"), count(lit(1)).as("tf"))
      .orderBy(col("df").desc, col("token").asc)
      .limit(k)

  /**
   * BM25 ranked retrieval (Okapi, Lucene's idf variant): score every
   * document against a bag of query terms and return the top `k`.
   * The relevance primitive a training-data pipeline uses for targeted
   * corpus slicing ("find docs about X") and hard-negative mining.
   *
   * Scale shape (the reason this is not "join docs to a TF-IDF table"):
   *  - the posting list is filtered to the query terms IMMEDIATELY after
   *    tokenization, map-side — the shuffle carries only
   *    (doc, term, tf) for docs that actually contain a query term;
   *  - per-term document frequencies aggregate to ≤ |terms| rows and
   *    broadcast back; corpus stats (N, avgdl) are a 1-row broadcast —
   *    no scalar ever leaves the plan for the driver;
   *  - final top-k is orderBy+limit = TakeOrdered (per-partition heaps,
   *    k rows to the driver, never a full sort).
   * Two corpus scans total (one for stats, one for postings) — at 100 TB
   * both are column-pruned to the text column and pipeline fully.
   *
   * Score arithmetic is shaped for cross-engine IEEE parity (the DuckDB
   * oracle replicates it operation-for-operation); output rounds to 4dp.
   */
  def bm25TopK(df: DataFrame, textCol: String, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val toks = tokens(lower(col(textCol)))
    val base = df.select(col(idCol), size(toks).cast("long").as("dl"), toks.as("__toks"))
    // exact long sum / count, not avg(): both engines then divide the same
    // exact integers — no accumulation-order ulps in avgdl
    val stats = base.agg(count(lit(1)).as("__n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val posting = base
      .select(col(idCol), col("dl"), explode(col("__toks")).as("token"))
      .filter(col("token").isin(queryTerms: _*))
      .groupBy(col(idCol), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = posting.groupBy("token").agg(countDistinct(col(idCol)).as("df"))
    posting.join(broadcast(dfreq), "token").crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("__w",
        col("__idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
      .groupBy(col(idCol)).agg(round(sum(col("__w")), 4).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Per-document TF-IDF keyword extraction: the `k` highest-scoring
   * terms per document, `score = tf · ln(N / df)` (plain idf — exact
   * integer inputs, so the only float op is one log+multiply and the
   * 4dp rounding absorbs nothing but sub-ulp noise). The classic
   * "what is this document about" signal: topic tagging, clustering
   * features, and the query-side complement of [[bm25TopK]].
   *
   * Scale shape: one tokenize pass → per-(doc, term) counts (one
   * shuffle keyed by doc+term), per-term document frequencies
   * aggregate to a term-vocabulary frame joined back BROADCAST (a
   * deduped vocabulary is ≪ corpus), corpus size N is a 1-row
   * broadcast, and the per-doc top-k is a window rank over the
   * (doc, term) frame — partitioned by doc, never a global sort.
   * Ties break lexicographically so any engine reproduces the set.
   */
  def tfIdfTopTerms(df: DataFrame, textCol: String, k: Int,
                    idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    val base = df.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("token"))
    val tf = base.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    val scored = tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 4))
    val win = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("__rk", row_number().over(win))
      .filter(col("__rk") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("tfidf"))
  }

  /** Corpus-wide deterministic top-k n-gram counts (phrase mining /
    * contamination-signature building): same partial-aggregate +
    * TakeOrdered scale shape as [[tokenFrequencies]]. */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(explode(wordNgrams(col(textCol), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc)
      .limit(k)

  /**
   * Document fingerprint (key-collision canonicalization): lowercase,
   * tokenize, dedupe, sort, re-join, 64-bit hash — equal fingerprints ⇔
   * same bag of distinct words regardless of order/whitespace/case.
   * Canonicalization is the native single-pass `canonical_tokens`
   * expression (the HOF composition `transform(tokens, lower)` is
   * CodegenFallback — interpreted per token, 10-30× slower at corpus
   * scale; StressBench measured the difference).
   */
  def fingerprint(text: Column): Column =
    xxhash64(graft.functions.Text.canonicalTokens(text))

  /**
   * URL canonicalization — the FIRST dedup key of a crawl pipeline
   * (CCNet/RefinedWeb dedup by normalized URL before any content
   * sketch). Deterministic rewrite chain, all codegen'd `functions._`
   * regex steps (engine-portable: the DuckDB oracle replays the same
   * rules):
   *   1. trim; drop the `#fragment`;
   *   2. lowercase ONLY the scheme://host part (paths stay
   *      case-sensitive);
   *   3. strip a leading `www.`;
   *   4. strip explicit default ports (`:80` for http, `:443` for
   *      https);
   *   5. remove tracking params (`utm_*`, `gclid`, `fbclid`) and tidy
   *      the left-over `?`/`&` separators;
   *   6. strip trailing slashes (`https://a.com/` ≡ `https://a.com`).
   *
   * Not a full RFC 3986 normalizer (no percent-decoding or path-segment
   * resolution) — it is the practical crawl-dedup key, documented as
   * such. One definition serves both surfaces: this Column facade and
   * the `canonical_url` SQL registration both delegate to the Catalyst
   * tree in [[org.apache.spark.sql.graft.UrlFunctions]].
   */
  def canonicalUrl(url: Column): Column =
    org.apache.spark.sql.graft.UrlFunctions.canonicalUrl(url)

  /**
   * URL-level keep-first dedup: one survivor (smallest `idCol`) per
   * [[canonicalUrl]] group. Shuffle carries (id, 8-byte url hash) —
   * bodies never move; at 100 TB this is the cheap first gate before
   * any content sketching, exactly where crawl pipelines put it. 64-bit
   * hash collisions are the usual approximation (~n²/2⁶⁵).
   */
  def dedupByUrl(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.contains("__uh") && !df.columns.contains("__rk"),
      "columns __uh/__rk are reserved here")
    val w = Window.partitionBy(col("__uh")).orderBy(col(idCol).asc)
    df.withColumn("__uh", xxhash64(canonicalUrl(col(urlCol))))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__uh", "__rk")
  }

  /**
   * Corpus-frequent line statistics: one row per line (by 64-bit hash)
   * appearing in at least `minDocFreq` DISTINCT documents — the
   * boilerplate census behind [[stripBoilerplate]], exposed for
   * inspection/tuning. Shuffle is O(distinct (doc, line)) 16-byte keys
   * with map-side combine; the result is small BY CONSTRUCTION (only
   * frequent lines survive).
   */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
                       minDocFreq: Long): DataFrame =
    df.select(col(idCol).as("__id"),
        explode(split(col(textCol), "\n")).as("line"))
      .select(col("__id"), col("line"), xxhash64(col("line")).as("line_hash"))
      .groupBy("line_hash")
      .agg(countDistinct(col("__id")).as("doc_freq"),
        first(col("line")).as("line"))
      .filter(col("doc_freq") >= minDocFreq)

  /**
   * C4-style boilerplate-line removal: delete every line that occurs in
   * at least `minDocFreq` distinct documents (cookie banners, nav menus,
   * subscribe prompts — template text that repeats across a crawl),
   * preserving the order of surviving lines byte-exactly.
   *
   * Scale shape: census via [[boilerplateLines]] (aggregated 8-byte line
   * hashes, map-side combined), then the small frequent-line set joins
   * back BROADCAST as an anti-join on the exploded lines, and documents
   * reassemble with one groupBy — two O(lines) shuffles total, no
   * all-pairs anything. Docs whose every line is boilerplate come back
   * with empty text (filter afterwards if desired).
   */
  /**
   * Overlapping token-window passage chunking (the RAG / long-document
   * pretraining splitter): each document becomes ⌈n/stride⌉ chunks of up
   * to `chunkTokens` whitespace tokens, successive chunks `stride`
   * tokens apart (overlap = chunkTokens − stride). Output rows:
   * `(idCol, chunk_id, n_chunk_tokens, chunk_text)`; empty documents
   * produce no chunks.
   *
   * Pure HOF/codegen plan — tokenize once, `posexplode` a
   * `sequence(0, n−1, stride)` of starts, `slice` + `array_join` per
   * chunk. Map-side only: no shuffle, no UDF; chunk rows inherit the
   * scan's partitioning, so the downstream embed/dedup stage shuffles
   * chunks, never whole documents.
   */
  def chunkPassages(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(stride > 0 && stride <= chunkTokens,
      s"stride must be in [1, chunkTokens], got $stride")
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0), col("__n") - 1, lit(stride))))
      .select(col(idCol), col("pos").cast("int").as("chunk_id"),
        size(slice(col("__toks"), col("col") + 1, lit(chunkTokens)))
          .as("n_chunk_tokens"),
        array_join(slice(col("__toks"), col("col") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       minDocFreq: Long): DataFrame = {
    val frequent = boilerplateLines(df, idCol, textCol, minDocFreq)
      .select(col("line_hash"))
    // only (id, pos, line) rides the line-level shuffles; other columns
    // rejoin at document granularity at the end
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")))
    val kept = lines.join(broadcast(frequent),
      xxhash64(col("col")) === col("line_hash"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("pos"), col("col")))),
          s => s("col"))).as("__newtext"))
    // left join: a doc whose EVERY line was boilerplate comes back empty
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__newtext"), lit("")))
      .select(df.columns.map(col): _*)
  }

  /**
   * χ² token feature selection against a binary document label
   * (Yang & Pedersen 1997's χ²-max text-feature screen): for every
   * token with document frequency ≥ `minDocFreq`, the chi-squared
   * statistic of its 2×2 presence/label table — the standard "which
   * tokens separate the classes" screen a quality-classifier pipeline
   * runs before training. The FULL qualifying table ships (no top-k
   * argsort — no cross-engine double-ordering knife-edge); callers
   * threshold on the χ² column.
   *
   * EXACTNESS: per-token DISTINCT-presence counts (a = positive docs
   * containing the token, b = negative) and the class totals are exact
   * longs; χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) evaluates as ONE
   * fixed left-associated double chain per token on those integers,
   * rounded 4dp (NULL when a marginal is zero). N is guarded at
   * 1.5×10⁹ so the a·d products stay in long range.
   *
   * Scale shape: ONE distinct-token explode (fan-out bounded by
   * tokens-per-doc) into a map-side-combined token aggregate — class
   * totals ride the SAME scan as a per-doc sentinel token (the EMPTY
   * string — unproducible by a whitespace split of trimmed text, so
   * collision-free by construction; present once per doc including
   * empty ones), so the text column is read exactly once; the vocabulary-sized aggregate is
   * lineage-cut (its two consumers — the sentinel totals row and the
   * token rows — would otherwise each re-run the scan) and the 1-row
   * totals broadcast into the token frame. Nothing global, nothing
   * quadratic.
   *
   * Returns (`token`, `n_pos`, `n_neg`, `chi2`) — presence counts per
   * class and the statistic, one row per token with df ≥ `minDocFreq`.
   */
  def chi2TokenSelection(df: DataFrame, textCol: String, labelCol: String,
                         minDocFreq: Long = 5L): DataFrame = {
    require(minDocFreq >= 1, "minDocFreq must be >= 1")
    val sentinel = ""
    val base = df
      .filter(col(textCol).isNotNull && col(labelCol).isNotNull)
    val counts = graft.core.LineageCut.cut(
      base.select(col(labelCol).cast("boolean").as("pos"),
          explode(concat(array_distinct(tokens(lower(col(textCol)))),
            array(lit(sentinel)))).as("token"))
        .groupBy("token")
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("a"),
          count(lit(1)).as("ab")))
    val tok = counts
      .filter(col("token") =!= sentinel && col("ab") >= minDocFreq)
    val tot = counts.filter(col("token") === sentinel)
      .select(col("a").as("np"), col("ab").as("n"))
      .filter(when(col("n") > 1500000000L,
        raise_error(lit("chi2TokenSelection: corpus exceeds the exact " +
          "cell-product long range")).cast("boolean")).otherwise(lit(true)))
    val j = tok.crossJoin(broadcast(tot))
    val aL = col("a")
    val bL = col("ab") - col("a")
    val cL = col("np") - col("a")
    val dL = col("n") - col("np") - bL
    val diffD = (aL * dL - bL * cL).cast("double")
    val denom = (aL + bL).cast("double") * (cL + dL).cast("double") *
      (aL + cL).cast("double") * (bL + dL).cast("double")
    j.select(col("token"), aL.as("n_pos"), bL.as("n_neg"),
      when(denom > 0d,
        round(col("n").cast("double") * diffD * diffD / denom, 4))
        .as("chi2"))
  }

  /**
   * Heaps'-law vocabulary-growth fit (Heaps 1978) — [[zipfFit]]'s
   * companion corpus-health gate: natural corpora grow vocabulary as
   * V(T) ≈ K·T^β with β ≈ 0.4-0.6 in corpus TOKEN count T; β near 0
   * says a closed template vocabulary (machine-generated boilerplate),
   * β near 1 says runaway novel tokens (OCR noise, random strings).
   * Fits OLS on (ln T, ln V) at geometric checkpoints of the corpus
   * prefix (docs ordered by `idCol` — the corpus order key, required
   * unique).
   *
   * Checkpoints are EXACT integer halvings N_j = ⌈D/2^j⌉ (j < 
   * `maxPoints`, deduplicated) — no float log/exp ever picks the
   * sample points, so both engines fit the IDENTICAL point set.
   * Prefix totals come from exact longs (token counts, first-occurrence
   * doc ranks); the ≤ maxPoints-row OLS rounds 4dp (the grid absorbs
   * summation-order ULP drift — the zipfFit contract).
   *
   * Scale shape: one chunked [[Ranking.withGlobalRank]] over docs (by
   * id — never a single-partition window), lineage-cut (three
   * consumers: the 1-row D lookup, per-doc token counts, the
   * first-occurrence explode); per-token min-rank is a map-side
   * combined aggregate; each checkpoint total is a broadcast
   * ≤ maxPoints-row join with ≤ maxPoints× map-local fan-out that
   * collapses in the partial aggregate. Nothing global, nothing
   * quadratic.
   *
   * Returns ONE row: (`n_fit`, `beta`, `log_k`, `r2`) — NULL fit
   * columns when fewer than 2 usable checkpoints exist.
   */
  def heapsFit(df: DataFrame, textCol: String, idCol: String,
               maxPoints: Int = 20): DataFrame = {
    require(maxPoints >= 2, "maxPoints must be >= 2")
    // 1L << j wraps mod 64 past j = 63, turning the documented exact
    // halvings into garbage checkpoints — and 2^63 already exceeds any
    // doc count, so > 63 is never a meaningful request: fail loud
    require(maxPoints <= 63,
      s"maxPoints must be <= 63 (halving shifts wrap past 2^63); got $maxPoints")
    val spark = df.sparkSession
    import spark.implicits._
    val docs0 = df.filter(col(textCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("id"), tokens(lower(col(textCol))).as("toks"))
    val ranked = graft.core.LineageCut.cut(
      Ranking.withGlobalRank(docs0, Seq(col("id").asc), "rk", "n_docs")
        .select(col("rk"), col("n_docs"), col("toks")))
    val dRow = ranked.agg(max("n_docs")).head()
    require(!dRow.isNullAt(0), "heapsFit needs at least one document")
    val d = dRow.getLong(0)
    val points = (0 until maxPoints).map(j => (d + (1L << j) - 1) / (1L << j))
      .filter(_ >= 1L).distinct.sorted
    val ptsDf = points.toDF("pt")
    val tTot = ranked
      .select(col("rk"), size(col("toks")).cast("long").as("ntok"))
      .join(broadcast(ptsDf), col("rk") <= col("pt"))
      .groupBy("pt").agg(sum("ntok").as("tokens"))
    val vTot = ranked
      .select(col("rk"), explode(array_distinct(col("toks"))).as("token"))
      .groupBy("token").agg(min("rk").as("mrk"))
      .join(broadcast(ptsDf), col("mrk") <= col("pt"))
      .groupBy("pt").agg(count(lit(1)).as("vocab"))
    val curve = tTot.join(vTot, "pt")
      .filter(col("tokens") > 0 && col("vocab") > 0)
    val x = log(col("tokens").cast("double"))
    val y = log(col("vocab").cast("double"))
    val sAgg = curve.agg(count(lit(1)).as("n_fit"), sum(x).as("__sx"),
      sum(y).as("__sy"), sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
      sum(y * y).as("__syy"))
    val n = col("n_fit").cast("double")
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    val den = n * col("__sxx") - col("__sx") * col("__sx")
    val deny = n * col("__syy") - col("__sy") * col("__sy")
    val slope = num / den
    val ok = col("n_fit") >= 2 && den =!= 0d
    sAgg.select(col("n_fit"),
      when(ok, round(slope, 4)).as("beta"),
      when(ok, round((col("__sy") - slope * col("__sx")) / n, 4))
        .as("log_k"),
      when(ok && deny =!= 0d, round(num * num / (den * deny), 4)).as("r2"))
  }

  /**
   * TextRank keyword scores (Mihalcea & Tarau 2004): weighted PageRank
   * over the adjacent-token co-occurrence graph — the graph-centrality
   * keyword extractor next to [[rakeKeywords]] (degree/frequency
   * phrase scores) and [[topCollocations]] (PMI pairs). A token ranks
   * high when it co-occurs with other high-ranking tokens, which
   * surfaces thematic hubs frequency alone misses. The FULL score
   * table ships (no top-k argsort knife-edge); scores are normalized
   * ×N (node count) so they sit at O(1) — the rounding-grid contract
   * every PageRank query here follows.
   *
   * Construction: directed adjacent pairs (self-loops dropped) with
   * count ≥ `minCount`, then mirrored and merged into a SYMMETRIC
   * weighted graph — every node has out-edges, so no dangling mass
   * exists by construction. String tokens map to long node ids via a
   * chunked rank over the vocabulary (deterministic, SQL-replayable);
   * [[graft.operators.Graph.pageRank]] runs `iters` fixed rounds with
   * out-weight-normalized columns.
   *
   * Scale shape: one bigram explode (map-side-combined pair counts —
   * the exchange carries pair vocabulary, not corpus), one chunked
   * vocabulary rank (lineage-cut: three consumers), two vocab-keyed id
   * joins, then pageRank's per-round keys-only join+agg plan. Nothing
   * global, nothing quadratic.
   *
   * Returns (`token`, `score` 6dp) — one row per graph node.
   */
  def textrankKeywords(df: DataFrame, textCol: String, iters: Int = 6,
                       minCount: Long = 2L): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val big = df.select(explode(wordNgrams(col(textCol), 2)).as("g"))
      .select(element_at(split(col("g"), " "), 1).as("w1"),
        element_at(split(col("g"), " "), 2).as("w2"))
      .filter(col("w1") =!= col("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    val und = big.select(col("w1").as("a"), col("w2").as("b"), col("c"))
      .unionAll(big.select(col("w2").as("a"), col("w1").as("b"), col("c")))
      .groupBy("a", "b").agg(sum("c").as("w"))
    val vocab = graft.core.LineageCut.cut(Ranking.withGlobalRank(
      und.select(col("a").as("token")).distinct(),
      Seq(col("token").asc), "nid", "nv"))
    // no pair cleared minCount → empty graph → empty result (pageRank
    // itself fails loud on empty edges — correct for graphs, wrong for
    // a corpus screen where "no recurring pairs" is an answer)
    if (vocab.isEmpty)
      return vocab.select(col("token"),
        lit(null).cast("double").as("score"))
    val edges = und
      .join(vocab.select(col("token").as("a"), col("nid").as("src")), "a")
      .join(vocab.select(col("token").as("b"), col("nid").as("dst")), "b")
      .select(col("src"), col("dst"), col("w").cast("double").as("w"))
    // NO final cut (r18): pr is consumed twice (count broadcast +
    // scored join), but AQE stage reuse dedupes the branches' identical
    // exchange subtrees — dropping the r17 cut measured 52 -> 51 jobs
    // with identical shuffle bytes (same A/B as q_pagerank)
    val pr = Graph.pageRank(edges, "src",
      "dst", iters = iters, weightCol = Some("w"))
    pr.join(vocab.select(col("nid").as("node"), col("token")), "node")
      .crossJoin(broadcast(pr.agg(count(lit(1)).cast("double").as("__n"))))
      .select(col("token"), round(col("pr") * col("__n"), 6).as("score"))
  }

  /**
   * The deterministic PII pattern set [[piiReport]]/[[piiRedact]]
   * share — the standard pre-training scrub list (emails, phone
   * numbers, SSNs, IPv4 addresses, bare 16-digit card numbers).
   * ENGINE-PORTABLE by construction: no lookaround (RE2-compatible),
   * ASCII character classes only, `\b` ASCII word boundaries —
   * leftmost non-overlapping match semantics agree between Java regex
   * and RE2, so a SQL replica counts the identical matches. The list
   * is ordered; [[piiRedact]] applies it in THIS order (a fixed
   * documented fold, not an implementation accident).
   */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "ssn" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "phone" -> "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b",
    "card16" -> "\\b\\d{16}\\b")

  /**
   * PII occurrence census over a corpus — the audit every
   * training-data release owes its users BEFORE the scrub: one row
   * per [[piiPatterns]] type with total match count and affected-doc
   * count. EXACTNESS: counts are exact longs (leftmost
   * non-overlapping matches, identical in both engines — see
   * [[piiPatterns]]); null text counts zero everywhere.
   *
   * Scale shape: ONE text-column scan evaluates all patterns per row
   * (codegen'd `regexp_extract_all`, no UDF), one map-side-combined
   * global aggregate, a ≤ |patterns|-row stack. Nothing shuffles but
   * the |patterns|-row summary.
   */
  def piiReport(df: DataFrame, textCol: String): DataFrame = {
    val counted = df.select(piiPatterns.map { case (name, rx) =>
      coalesce(size(regexp_extract_all(col(textCol), lit(rx), lit(0))),
        lit(0)).cast("long").as(name)
    }: _*)
    val aggs = piiPatterns.flatMap { case (name, _) =>
      Seq(sum(col(name)).as(s"__m_$name"),
        sum(when(col(name) > 0L, 1L).otherwise(0L)).as(s"__d_$name"))
    }
    val stacked = piiPatterns.map { case (name, _) =>
      s"'$name', __m_$name, __d_$name"
    }.mkString(", ")
    counted.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${piiPatterns.size}, $stacked) " +
        "as (pii_type, n_matches, n_docs)")
      .select(col("pii_type"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /**
   * PII redaction: every [[piiPatterns]] match replaced by its
   * `[TYPE]` tag, applied in the documented list order (email before
   * the numeric patterns, so an address is tagged once as itself and
   * never partially re-matched by a later rule). One codegen'd
   * `regexp_replace` chain per row — stays inside WholeStageCodegen,
   * no shuffle at all.
   */
  def piiRedact(df: DataFrame, textCol: String,
                outCol: String = "clean_text"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column $outCol already exists in the frame")
    df.withColumn(outCol, piiPatterns.foldLeft(col(textCol)) {
      case (c, (name, rx)) =>
        regexp_replace(c, rx, s"[${name.toUpperCase(java.util.Locale.ROOT)}]")
    })
  }

  /**
   * Okapi BM25 relevance scores of a query set against a corpus
   * (Robertson & Zaragoza 2009) — the lexical-retrieval baseline that
   * pairs with the ANN family through [[Ranking.rrfFuse]] for hybrid
   * contamination audits and near-dup review. Lucene-shaped
   * non-negative idf: ln(1 + (N − df + 0.5)/(df + 0.5)).
   *
   * DETERMINISM: tf/df/doc-length/N are exact longs and avgdl is ONE
   * IEEE division of exact integers, so every per-(query, doc, term)
   * contribution is an identical double chain in both engines (the
   * one libm call, ln, sits on the established zipfFit precedent);
   * the per-(query, doc) sum is a RUNNING window fold in term order —
   * a sequential left fold in BOTH engines, never an unordered
   * aggregate — and the final score rounds 4dp. Duplicate query terms
   * dedup (standard bag-of-words query semantics).
   *
   * Scale shape: one corpus token explode → (doc, term) tf aggregate
   * (map-side combined); df is VOCAB-INDEPENDENT — a SECOND explode
   * branch over the lineage-cut corpus filters to the broadcast query
   * terms right at the explode and counts distinct docs, so the df
   * frame is ≤ K rows and broadcasts unconditionally (a
   * full-vocabulary df frame would fall to a term-keyed exchange of
   * the whole vocabulary at 100 TB for a probe that needs ≤ K terms;
   * lineage-cutting the corpus-sized tf frame instead was measured
   * SLOWER at the 1.28M-doc XL tier than the filtered re-explode).
   * The query-term frame is tiny and BROADCASTs onto tf, so the
   * corpus never shuffles by term for the probe — only matched
   * (query, doc, term) rows (≪ corpus tokens) move into the fold
   * window. Returns (`query_id`, doc id, `n_terms`, `bm25`) for docs
   * matching ≥ 1 query term. Docs with NULL text are excluded from
   * the corpus entirely (N and avgdl count scoreable docs only).
   */
  def bm25Scores(docs: DataFrame, queries: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 queryIdCol: String = "query_id",
                 queryTextCol: String = "qtext",
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = graft.core.LineageCut.cut(
      docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
        .select(col(idCol).as("__id"),
          tokens(lower(col(textCol))).as("__toks")))
    val lens = base.select(col("__id"), size(col("__toks")).cast("long")
      .as("__len"))
    val stats = lens.agg(count(lit(1)).as("__n"),
      sum("__len").as("__tok_total"))
    val tf = base.select(col("__id"), explode(col("__toks")).as("__term"))
      .groupBy("__id", "__term").agg(count(lit(1)).as("__tf"))
    val qterms = bm25QueryTerms(queries, queryIdCol, queryTextCol)
    // df for ONLY the ≤ K query terms, from a SECOND explode branch
    // over the cut base with the broadcast term filter applied right
    // at the explode — never a full-vocabulary (doc, term) aggregate
    // for the df side, and never a materialization of the corpus-sized
    // tf frame (measured at the 1.28M-doc XL tier: cutting tf costs
    // more than the filtered re-explode it saves)
    val dfreq = base
      .select(col("__id"), explode(col("__toks")).as("__term"))
      .join(broadcast(qterms.select("__term").distinct()), "__term")
      .groupBy("__term").agg(count_distinct(col("__id")).as("__df"))
    bm25Probe(tf, dfreq, lens, stats, qterms, idCol, k1, b)
  }

  /**
   * Query-likelihood retrieval with Dirichlet smoothing (Zhai &
   * Lafferty 2001) — the language-modeling counterpart to
   * [[bm25Scores]], scored in the standard rank-equivalent matched-
   * terms decomposition: log p(q|d) = Σ_{t ∈ q∩d} ln(1 + tf·T/(μ·cf))
   * + |q|·ln(μ/(|d| + μ)), where cf is the term's COLLECTION
   * frequency, T the total corpus token count, and |q| the query's
   * distinct-term count (bag-of-words queries dedup, the bm25Scores
   * convention) — so only MATCHED (query, doc, term) rows ever
   * materialize, never the full q×docs grid the naive form implies.
   * BM25 and LM disagree most on long documents and rare terms;
   * running both and fusing via [[Ranking.rrfFuse]] is the classic
   * robustness play.
   *
   * DETERMINISM: tf/cf/|d|/T/|q| are exact longs; each matched
   * contribution is a fixed IEEE chain (one ln on the zipfFit
   * precedent), the per-(query, doc) sum is a RUNNING window fold in
   * term order, the length term is one ln added after the fold, 4dp.
   * Scale shape: exactly [[bm25Scores]]' — cf from a term-filtered
   * second explode branch over the cut corpus (vocab-independent,
   * ≤ K rows, unconditional broadcast), corpus never shuffles by
   * term. Docs sharing ≥ 1 query term return
   * (`query_id`, doc id, `n_terms`, `lm_score`).
   */
  def lmDirichletScores(docs: DataFrame, queries: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        queryIdCol: String = "query_id",
                        queryTextCol: String = "qtext",
                        mu: Double = 2000.0): DataFrame = {
    require(mu > 0, "mu must be > 0")
    import org.apache.spark.sql.expressions.Window
    val base = graft.core.LineageCut.cut(
      docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
        .select(col(idCol).as("__id"),
          tokens(lower(col(textCol))).as("__toks")))
    val lens = base.select(col("__id"), size(col("__toks")).cast("long")
      .as("__len"))
    val stats = lens.agg(sum("__len").as("__tok_total"))
    val tf = base.select(col("__id"), explode(col("__toks")).as("__term"))
      .groupBy("__id", "__term").agg(count(lit(1)).as("__tf"))
    val qterms = graft.core.LineageCut.cut(
      bm25QueryTerms(queries, queryIdCol, queryTextCol))
    val qlen = qterms.groupBy("query_id").agg(count(lit(1)).as("__qlen"))
    // collection frequency, vocab-independent: a second explode branch
    // over the cut corpus filters to the ≤ K broadcast query terms
    // right at the explode and counts token occurrences — never a
    // full-vocabulary aggregate, never a materialized corpus-sized tf
    // (the bm25Scores df contract and its measured XL rationale)
    val cf = base
      .select(explode(col("__toks")).as("__term"))
      .join(broadcast(qterms.select("__term").distinct()), "__term")
      .groupBy("__term").agg(count(lit(1)).as("__cf"))
    lmProbe(tf, cf, lens, stats, qterms, qlen, idCol, mu)
  }

  /**
   * Probe a [[buildBm25Index]] store with the DIRICHLET LM scorer —
   * one persisted index serves both retrieval models, because the
   * postings already carry everything the LM needs: cf is the per-term
   * tf sum over the term-pruned postings (the pruned read returns a
   * probe term's FULL posting list, so the sum is the true collection
   * frequency) and T derives from doclens like the BM25 probe's stats.
   * Bit-matches [[lmDirichletScores]] on the same corpus (shared
   * [[lmProbe]] arithmetic); no corpus scan in the plan.
   */
  def lmDirichletFromIndex(spark: org.apache.spark.sql.SparkSession,
                           dest: String, queries: DataFrame,
                           idCol: String = "doc_id",
                           queryIdCol: String = "query_id",
                           queryTextCol: String = "qtext",
                           mu: Double = 2000.0,
                           maxProbeTerms: Int = 10000): DataFrame = {
    val live = graft.core.Generations.resolve(spark, dest)
    val terms = collectProbeTerms(queries, queryTextCol, maxProbeTerms)
    val tf = spark.read.parquet(s"$live/postings")
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id").as("__id"), col("term").as("__term"),
        col("tf").as("__tf"))
    val lens = spark.read.parquet(s"$live/doclens")
      .select(col("doc_id").as("__id"), col("len").as("__len"))
    val stats = lens.agg(sum("__len").as("__tok_total"))
    // cf gated by doclens membership — the same mid-append consistency
    // contract as the BM25 probe's df (see [[bm25ScoresFromIndex]]):
    // postings of docs not yet in doclens contribute to neither T nor
    // the scoring join, so they must not contribute to cf either
    val cf = tf.join(lens.select("__id"), Seq("__id"), "leftsemi")
      .groupBy("__term").agg(sum("__tf").as("__cf"))
    val qterms = graft.core.LineageCut.cut(
      bm25QueryTerms(queries, queryIdCol, queryTextCol))
    val qlen = qterms.groupBy("query_id").agg(count(lit(1)).as("__qlen"))
    lmProbe(tf, cf, lens, stats, qterms, qlen, idCol, mu)
  }

  /**
   * The shared Dirichlet-LM probe arithmetic over prepared frames —
   * the [[bm25Probe]] contract for the LM scorer: postings `tf`,
   * per-probe-term collection frequencies `cf` (≤ K rows), doc
   * lengths, one-row `__tok_total` stats, per-query terms and
   * distinct-term counts. One arithmetic path → every caller
   * bit-matches every other on the same corpus.
   */
  private def lmProbe(tf: DataFrame, cf: DataFrame, lens: DataFrame,
                      stats: DataFrame, qterms: DataFrame,
                      qlen: DataFrame, idCol: String,
                      mu: Double): DataFrame = {
    require(mu > 0, "mu must be > 0")
    import org.apache.spark.sql.expressions.Window
    val matched = tf
      .join(broadcast(qterms), "__term")
      .join(broadcast(cf), "__term")
      .join(lens, "__id")
      .crossJoin(broadcast(stats))
      .join(broadcast(qlen), "query_id")
    val contrib = log(lit(1.0) +
      (col("__tf").cast("double") * col("__tok_total").cast("double")) /
        (lit(mu) * col("__cf").cast("double")))
    val w = Window.partitionBy("query_id", "__id").orderBy("__term")
    matched
      .withColumn("__run", sum(contrib).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__nt",
        count(lit(1)).over(Window.partitionBy("query_id", "__id")))
      .filter(col("__rn") === col("__nt"))
      .select(col("query_id"), col("__id").as(idCol),
        col("__nt").as("n_terms"),
        // + 0.0 normalizes IEEE −0.0 → 0.0: log-prob scores CAN round
        // to zero at 4dp, and DuckDB's float round keeps the sign
        // while Spark's exact-decimal round does not — the one value
        // where the engines' rounders disagree
        (round(col("__run") + col("__qlen").cast("double") *
          log(lit(mu) / (col("__len").cast("double") + lit(mu))), 4) +
          lit(0.0)).as("lm_score"))
  }

  /**
   * Persist a BM25 postings index so query batches score WITHOUT a
   * corpus scan — the 100 TB retrieval workflow builds once, probes
   * many times ([[bm25Scores]] recomputes tf/df per call; this is its
   * amortized form). Layout under `dest`, one committed generation via
   * [[graft.core.Generations]] (the claim/commit/resolve lifecycle
   * shared with the IVF ANN store — atomic swap, concurrent-writer
   * claim, reader isolation from died attempts):
   *
   *   - `gen-N/postings` (`term`, `doc_id`, `tf`) — range-partitioned
   *     AND sorted by term, so each parquet file/row-group carries a
   *     tight term min/max and a probe's pushed term filter prunes at
   *     FILE level: the probe reads ~K/vocab of the postings bytes,
   *     never the corpus (term cardinality is far too high for
   *     `partitionBy` dirs — min/max pruning is the scalable form)
   *   - `gen-N/doclens` (`doc_id`, `len`); `gen-N/stats` (one row:
   *     `n_docs`, `tok_total`)
   *
   * Corpus definition and all counts are EXACTLY [[bm25Scores]]'s
   * (null-id/null-text docs excluded; same tokenizer), so index probes
   * bit-match the direct scorer on the same corpus.
   */
  def buildBm25Index(docs: DataFrame, dest: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     shards: Int = 32): Unit = {
    require(shards >= 1, "shards must be >= 1")
    val spark = docs.sparkSession
    val root = new org.apache.hadoop.fs.Path(dest)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = graft.core.Generations.claim(fs, root)
    val genDir = s"$dest/gen-$gen"
    // plain cut, no fanout (r18 A/B): round-robin-exchanging the
    // tokenized frame moves fat token arrays (+7 MB, +3 jobs at bench
    // scale) for map sides that are already write-bound — measured
    // worse than leaving the scan partitioning alone
    val base = graft.core.LineageCut.cut(
      docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
        .select(col(idCol).as("doc_id"),
          tokens(lower(col(textCol))).as("__toks")))
    val lens = base.select(col("doc_id"),
      size(col("__toks")).cast("long").as("len"))
    // the three writes are independent inside the UNCOMMITTED gen dir
    // (readers resolve only committed generations, so the append path's
    // postings-before-doclens ordering invariant does not apply here) —
    // overlap them from driver threads (guide §2.6); all complete, even
    // when one fails, before the commit marker below
    graft.core.Concurrently.runAll("bm25-index-build", Seq(
      () => lens.agg(count(lit(1)).as("n_docs"), sum("len").as("tok_total"))
        .coalesce(1).write.mode("overwrite").parquet(s"$genDir/stats"),
      () => lens.write.mode("overwrite").parquet(s"$genDir/doclens"),
      () => base.select(col("doc_id"), explode(col("__toks")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .repartitionByRange(shards, col("term"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(s"$genDir/postings")))
    graft.core.Generations.commit(fs, root, gen)
  }

  /**
   * Append a document delta to a [[buildBm25Index]] store WITHOUT
   * rebuilding: the delta's postings and doclens land as NEW FILES
   * inside the live generation (each delta postings file is itself
   * term-sorted, so per-file min/max stats keep pruning probes —
   * the [[graft.operators.Similarity.appendToIvfIndex]] shape), and
   * corpus stats need no touch at all because probes derive them from
   * doclens. Same corpus definition as the build (null id/text drop);
   * the caller owns doc-id uniqueness across build + deltas (duplicate
   * ids would double-count their terms, exactly as feeding duplicate
   * rows to [[bm25Scores]] would). Single-WRITER per store, the IVF
   * append contract — but probes are SAFE to run concurrently with an
   * append, because the write order is POSTINGS FIRST, then doclens,
   * and both index probes derive every corpus-level quantity
   * (N/avgdl/T from doclens; df/cf from postings GATED by doclens
   * membership): a probe landing mid-append sees either the
   * pre-append corpus exactly (doclens not yet visible → the delta's
   * postings are invisible to df, cf, AND the scoring join), the
   * post-append corpus exactly, or — during the doclens job commit
   * itself — the pre-append corpus plus a prefix subset of delta docs,
   * each of which already has its COMPLETE postings visible (the
   * postings job finished before doclens began). Every reachable state
   * is a consistent corpus; no state scores with half-visible
   * documents. Returns the number of docs appended.
   */
  def appendToBm25Index(docs: DataFrame, dest: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        shards: Int = 8): Long = {
    require(shards >= 1, "shards must be >= 1")
    val spark = docs.sparkSession
    val live = graft.core.Generations.resolve(spark, dest)
    require(live != dest || new org.apache.hadoop.fs.Path(s"$dest/doclens")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(s"$dest/doclens")),
      s"no BM25 index at $dest — buildBm25Index first")
    val base = graft.core.LineageCut.cut(
      docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
        .select(col(idCol).as("doc_id"),
          tokens(lower(col(textCol))).as("__toks")))
    val lens = base.select(col("doc_id"),
      size(col("__toks")).cast("long").as("len"))
    // POSTINGS BEFORE DOCLENS — the probe-safety invariant (see the
    // Scaladoc): a doc enters the probes' corpus the moment its
    // doclens row is visible, so its postings must already be there
    base.select(col("doc_id"), explode(col("__toks")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .repartitionByRange(shards, col("term"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("append").parquet(s"$live/postings")
    lens.write.mode("append").parquet(s"$live/doclens")
    base.count()
  }

  /**
   * Probe a [[buildBm25Index]] store: same semantics (and, on the same
   * corpus, the SAME bits) as [[bm25Scores]] — the shared
   * [[bm25Probe]] does the arithmetic — but the corpus pass is
   * replaced by a term-pruned read of the postings: the ≤
   * `maxProbeTerms` distinct query terms become a LITERAL pushed
   * parquet filter (the IVF probed-cell isin pattern — pruning at file
   * listing and row-group stats, unconditional), df aggregates over
   * only the matched postings, and doc lengths join from the stored
   * doclens. No corpus scan appears in the plan.
   */
  def bm25ScoresFromIndex(spark: org.apache.spark.sql.SparkSession,
                          dest: String, queries: DataFrame,
                          idCol: String = "doc_id",
                          queryIdCol: String = "query_id",
                          queryTextCol: String = "qtext",
                          k1: Double = 1.2, b: Double = 0.75,
                          maxProbeTerms: Int = 10000): DataFrame = {
    val live = graft.core.Generations.resolve(spark, dest)
    val terms = collectProbeTerms(queries, queryTextCol, maxProbeTerms)
    val tf = spark.read.parquet(s"$live/postings")
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id").as("__id"), col("term").as("__term"),
        col("tf").as("__tf"))
    val lens = spark.read.parquet(s"$live/doclens")
      .select(col("doc_id").as("__id"), col("len").as("__len"))
    // corpus stats DERIVE from doclens at probe time (one extra
    // aggregate scan of the doc-count-sized lens file — deliberately
    // NOT checkpoint-shared with the join side, same rationale as the
    // postings double-read) rather than reading the stats file: an
    // [[appendToBm25Index]] delta then can never leave a probe reading
    // postings and stats from different moments — consistency by
    // construction, not by locking (the stats dir remains as build
    // metadata)
    val stats = lens.agg(count(lit(1)).as("__n"),
      sum("__len").as("__tok_total"))
    // tf rows are unique per (doc, term) and already term-pruned: df
    // is a per-term row count over the pruned postings GATED by
    // doclens membership (the leftsemi below) — docs whose postings
    // landed but whose doclens row hasn't yet (a concurrent
    // [[appendToBm25Index]], which writes postings first) must not
    // count toward df while N/avgdl still describe the old corpus;
    // with the gate, every probe-visible state is a consistent corpus
    // (the scoring join already drops lens-less postings, so the gate
    // aligns df with what actually scores). Deliberately NOT lineage-
    // cut: both consumers re-read the term-pruned parquet (each scan
    // is ≤ K terms' postings, pruned at file stats), which beats
    // materializing a checkpoint and keeps the pushed filter visible
    // in both scan nodes of the plan.
    val dfreq = tf.join(lens.select("__id"), Seq("__id"), "leftsemi")
      .groupBy("__term").agg(count(lit(1)).as("__df"))
    bm25Probe(tf, dfreq, lens, stats,
      bm25QueryTerms(queries, queryIdCol, queryTextCol), idCol, k1, b)
  }

  /**
   * Per-document lexical diversity: type-token ratio and Guiraud's
   * root TTR (Guiraud 1954) — the cheap template/boilerplate signal
   * next to [[repetitionStats]]: machine-generated and
   * keyword-stuffed pages reuse a tiny vocabulary, and TTR drops
   * before the n-gram repetition signals fire. Root TTR
   * (types/√tokens) corrects raw TTR's length bias enough to compare
   * docs of different sizes.
   *
   * EXACTNESS: token/type counts are exact ints from the shared
   * [[tokens]] pipeline (lowercased); `ttr` is ONE division of exact
   * ints, `rttr` one division by one sqrt — fixed chains, 6dp;
   * zero-token docs report NULL ratios (present, visibly undefined).
   * Scale shape: map-only per-row collection ops — no shuffle at all.
   */
  def lexicalDiversity(df: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        when(col("n_tokens") > 0L, round(col("n_types").cast("double") /
          col("n_tokens").cast("double"), 6)).as("ttr"),
        when(col("n_tokens") > 0L, round(col("n_types").cast("double") /
          sqrt(col("n_tokens").cast("double")), 6)).as("rttr"))
  }

  /** The per-query distinct probe terms: (`query_id`, `__term`). */
  private def bm25QueryTerms(queries: DataFrame, queryIdCol: String,
                             queryTextCol: String): DataFrame =
    queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(tokens(lower(col(queryTextCol)))))
        .as("__term"))

  /** The batch's distinct probe terms as driver literals (the pushed
    * parquet filter), gated at `maxProbeTerms` fail-loud. */
  private def collectProbeTerms(queries: DataFrame, queryTextCol: String,
                                maxProbeTerms: Int): Seq[String] = {
    require(maxProbeTerms >= 1, "maxProbeTerms must be >= 1")
    val terms = queries
      .select(explode(array_distinct(tokens(lower(col(queryTextCol)))))
        .as("__term"))
      .distinct().limit(maxProbeTerms + 1)
      .collect().map(_.getString(0)).toSeq
    require(terms.size <= maxProbeTerms,
      s"query batch probes more than maxProbeTerms=$maxProbeTerms " +
        "distinct terms — split the batch or raise the bound " +
        "deliberately (the term set becomes a driver-side literal " +
        "pushed filter)")
    terms
  }

  /**
   * The shared BM25 probe arithmetic over prepared frames: postings
   * `tf` (`__id`, `__term`, `__tf` — unique per (doc, term)),
   * per-probe-term document frequencies `dfreq` (`__term`, `__df` —
   * ≤ K rows, built by each caller on its own cheapest path: the raw
   * scorer re-explodes the cut corpus under the broadcast term filter,
   * the index probe counts its already-pruned postings), doc lengths,
   * one-row corpus stats, and the per-query term frame. ONE arithmetic
   * path, so every caller bit-matches every other on the same corpus.
   */
  private def bm25Probe(tf: DataFrame, dfreq: DataFrame, lens: DataFrame,
                        stats: DataFrame, qterms: DataFrame,
                        idCol: String, k1: Double, b: Double): DataFrame = {
    require(k1 > 0 && b >= 0 && b <= 1, "need k1 > 0 and b in [0, 1]")
    import org.apache.spark.sql.expressions.Window
    val matched = tf
      .join(broadcast(qterms), "__term")
      .join(broadcast(dfreq), "__term")
      .join(lens, "__id")
      .crossJoin(broadcast(stats))
    val nD = col("__n").cast("double")
    val idf = log(lit(1.0) + (nD - col("__df") + 0.5) / (col("__df") + 0.5))
    val avgdl = col("__tok_total").cast("double") / nD
    val tfD = col("__tf").cast("double")
    val contrib = idf * tfD * (lit(k1) + 1.0) /
      (tfD + lit(k1) * (lit(1.0) - b + lit(b) * col("__len") / avgdl))
    val w = Window.partitionBy("query_id", "__id").orderBy("__term")
    matched
      .withColumn("__run", sum(contrib).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__nt",
        count(lit(1)).over(Window.partitionBy("query_id", "__id")))
      .filter(col("__rn") === col("__nt"))
      .select(col("query_id"), col("__id").as(idCol),
        col("__nt").as("n_terms"), round(col("__run"), 4).as("bm25"))
  }

  /**
   * RM3 pseudo-relevance-feedback query expansion (Lavrenko & Croft
   * 2001 relevance models; Abdul-Jaleel et al. 2004's RM3 mixture) —
   * the classical feedback leg the retrieval family was missing
   * (build → probe → fuse → evaluate → EXPAND): each query's top
   * `fbDocs` BM25 documents define a relevance model
   * p(t|R) = Σ_d w(d)·tf(t,d)/|d| with w(d) the document's share of
   * the feedback set's BM25 mass, mixed with the original query model
   * p(t|q) = qtf/|q| as (1−α)·p(t|q) + α·p(t|R); the top `fbTerms`
   * terms per query (weight desc, term asc — a total order) are the
   * expanded query. Run the expanded terms back through
   * [[bm25Scores]] / the index probe for the recall-boosted pass.
   *
   * DETERMINISM: feedback selection orders by the 4dp-ROUNDED bm25
   * (then doc id); w(d) numerators are those 4dp scores ×10⁴ — exact
   * longs — so Σ mass is exact and each w(d) is ONE division; every
   * p(t|R) accumulates its ≤ fbDocs per-doc chains as an ORDERED
   * running fold in doc-id order (the kaplanMeier convention — both
   * engines stream the same sequence); p(t|q) is one division of
   * exact counts; the mix is a fixed two-term chain; ranking compares
   * the UNROUNDED mixed weight (identical chains ⇒ identical order)
   * and `rm3_weight` rounds 6dp at the very end.
   *
   * Scale shape: one [[bm25Scores]] pass (its own scale contract),
   * a per-query top-k window over MATCHED docs (candidate-sized, the
   * bm25TopK bound), a BROADCAST of the (queries × fbDocs) feedback
   * set against the corpus for the token read, bounded per-(q, term)
   * folds, and a per-query top-terms window over the feedback
   * vocabulary (≤ fbDocs · doc-length). A query with NO matching docs
   * still expands to its own terms scaled by (1−α) (stated).
   *
   * Output: (`query_id`, `term`, `rm3_weight`, `rank`).
   */
  def rm3ExpandQueries(docs: DataFrame, queries: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       queryIdCol: String = "query_id",
                       queryTextCol: String = "qtext",
                       fbDocs: Int = 10, fbTerms: Int = 10,
                       alpha: Double = 0.5,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fbDocs >= 1 && fbDocs <= 1000, s"fbDocs in [1,1000]: $fbDocs")
    require(fbTerms >= 1 && fbTerms <= 10000,
      s"fbTerms in [1,10000]: $fbTerms")
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1]: $alpha")
    import org.apache.spark.sql.expressions.Window
    val scored = bm25Scores(docs, queries, idCol, textCol, queryIdCol,
      queryTextCol, k1, b)
    val wQ = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col(idCol).asc)
    val fb = graft.core.LineageCut.cut(
      scored.withColumn("__rk", row_number().over(wQ))
        .filter(col("__rk") <= fbDocs)
        .select(col("query_id"), col(idCol).as("__id"),
          round(col("bm25") * 10000).cast("long").as("__s4")))
    val sTot = fb.groupBy("query_id").agg(sum("__s4").as("__stot"))
    val base = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"), tokens(lower(col(textCol))).as("__toks"))
    val fbTf = base.join(broadcast(fb), Seq("__id"))
      .select(col("query_id"), col("__id"), col("__s4"),
        size(col("__toks")).cast("long").as("__len"),
        explode(col("__toks")).as("term"))
      .groupBy("query_id", "__id", "__s4", "__len", "term")
      .agg(count(lit(1)).as("__tf"))
      .join(broadcast(sTot), Seq("query_id"))
    rm3Epilogue(fbTf, queries, queryIdCol, queryTextCol, fbTerms, alpha)
  }

  /**
   * RM3 expansion over a PERSISTED [[buildBm25Index]] store — the
   * build-once/expand-many form of [[rm3ExpandQueries]] (same
   * arithmetic chains via the shared [[rm3Epilogue]], so on the same
   * corpus the expansions bit-match): the feedback pass scores with
   * [[bm25ScoresFromIndex]] (term-pruned postings probe — NO corpus
   * scan), and the relevance model's tf(t,d)/|d| reads come from the
   * index TOO (the feedback docs' postings rows under a pushed
   * doc-id literal filter + their doclens rows), so the whole
   * expansion touches only index files. This is the 100 TB shape: the
   * corpus is scanned once at build time; every subsequent expansion
   * reads ≤ (probe terms' postings + fbDocs·|d| postings rows).
   *
   * The feedback doc-id set is (queries × fbDocs)-bounded and becomes
   * a driver-side literal pushed filter (the [[collectProbeTerms]]
   * pattern), gated fail-loud at `maxFeedbackIds`.
   */
  def rm3ExpandQueriesFromIndex(spark: org.apache.spark.sql.SparkSession,
                                dest: String, queries: DataFrame,
                                idCol: String = "doc_id",
                                queryIdCol: String = "query_id",
                                queryTextCol: String = "qtext",
                                fbDocs: Int = 10, fbTerms: Int = 10,
                                alpha: Double = 0.5,
                                k1: Double = 1.2, b: Double = 0.75,
                                maxProbeTerms: Int = 10000,
                                maxFeedbackIds: Int = 100000): DataFrame = {
    require(fbDocs >= 1 && fbDocs <= 1000, s"fbDocs in [1,1000]: $fbDocs")
    require(fbTerms >= 1 && fbTerms <= 10000,
      s"fbTerms in [1,10000]: $fbTerms")
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1]: $alpha")
    require(maxFeedbackIds >= 1, "maxFeedbackIds must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val scored = bm25ScoresFromIndex(spark, dest, queries, idCol,
      queryIdCol, queryTextCol, k1, b, maxProbeTerms)
    val wQ = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col(idCol).asc)
    val fb = graft.core.LineageCut.cut(
      scored.withColumn("__rk", row_number().over(wQ))
        .filter(col("__rk") <= fbDocs)
        .select(col("query_id"), col(idCol).as("__id"),
          round(col("bm25") * 10000).cast("long").as("__s4")))
    val sTot = fb.groupBy("query_id").agg(sum("__s4").as("__stot"))
    // the feedback docs' token stats come from the INDEX: postings
    // rows under a pushed doc-id literal filter (bounded by
    // queries × fbDocs), lengths from doclens — no corpus in the plan
    val ids = fb.select("__id").distinct()
      .limit(maxFeedbackIds + 1).collect().map(_.get(0)).toSeq
    require(ids.size <= maxFeedbackIds,
      s"feedback set exceeds maxFeedbackIds=$maxFeedbackIds distinct " +
        "docs — lower fbDocs / split the query batch or raise the " +
        "bound deliberately (the id set becomes a driver-side literal " +
        "pushed filter)")
    val live = graft.core.Generations.resolve(spark, dest)
    val post = spark.read.parquet(s"$live/postings")
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id").as("__id"), col("term"),
        col("tf").as("__tf"))
    val lens = spark.read.parquet(s"$live/doclens")
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id").as("__id"), col("len").as("__len"))
    val fbTf = post
      .join(broadcast(fb), Seq("__id"))
      .join(broadcast(lens), Seq("__id"))
      .join(broadcast(sTot), Seq("query_id"))
      .select(col("query_id"), col("__id"), col("__s4"), col("__len"),
        col("term"), col("__tf"), col("__stot"))
    rm3Epilogue(fbTf, queries, queryIdCol, queryTextCol, fbTerms, alpha)
  }

  /**
   * The shared RM3 mixing arithmetic over a prepared feedback
   * term-frequency frame `fbTf` (`query_id`, `__id`, `__s4`, `__len`,
   * `term`, `__tf`, `__stot` — one row per (query, feedback doc,
   * term)): ONE path, so the direct and index-backed expanders
   * bit-match on the same corpus (the [[bm25Probe]] convention).
   */
  private def rm3Epilogue(fbTf: DataFrame, queries: DataFrame,
                          queryIdCol: String, queryTextCol: String,
                          fbTerms: Int, alpha: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // zero feedback mass (every top-fbDocs score rounds to 0 at 4dp):
    // w(d) would be 0/0 = NaN (double division is not ANSI-guarded) and
    // NaN sorts LARGEST under the desc rank — guard it so p(t|R)
    // contributes nothing and the documented (1-α)·p(t|q)-only
    // fallback applies
    val contrib = when(col("__stot") > 0L,
      (col("__s4").cast("double") / col("__stot").cast("double")) *
        (col("__tf").cast("double") / col("__len").cast("double")))
    val wFold = Window.partitionBy("query_id", "term").orderBy("__id")
    val pR = fbTf
      .withColumn("__run", sum(contrib).over(
        wFold.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(wFold))
      .withColumn("__nt",
        count(lit(1)).over(Window.partitionBy("query_id", "term")))
      .filter(col("__rn") === col("__nt"))
      .select(col("query_id"), col("term"), col("__run").as("__pr"))
    val qTok = queries
      .filter(col(queryIdCol).isNotNull && col(queryTextCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        explode(tokens(lower(col(queryTextCol)))).as("term"))
    val pQ = qTok.groupBy("query_id", "term").agg(count(lit(1)).as("__qtf"))
      .join(qTok.groupBy("query_id").agg(count(lit(1)).as("__qlen")),
        Seq("query_id"))
      .select(col("query_id"), col("term"),
        (col("__qtf").cast("double") / col("__qlen").cast("double"))
          .as("__pq"))
    val mixed = pQ.join(pR, Seq("query_id", "term"), "full_outer")
      .select(col("query_id"), col("term"),
        (lit(1.0 - alpha) * coalesce(col("__pq"), lit(0.0)) +
          lit(alpha) * coalesce(col("__pr"), lit(0.0))).as("__w"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("__w").desc, col("term").asc)
    mixed.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= fbTerms)
      .select(col("query_id"), col("term"),
        round(col("__w"), 6).as("rm3_weight"), col("rank"))
  }

  /**
   * Per-term burstiness: the variance-to-mean ratio (index of
   * dispersion; Church & Gale 1995's burstiness framing) of a term's
   * per-document counts over the WHOLE corpus (zeros included) — a
   * Poisson-scattered term has VMR ≈ 1; topical/bursty terms
   * concentrate their occurrences in few documents and read VMR ≫ 1;
   * boilerplate reads ≈ its per-doc count. The cheap "is this term
   * content or chrome" signal next to [[termDocFrequencies]]-style
   * df stats, and a standard stopword/keyword discriminator.
   *
   * EXACTNESS: per-(doc, term) counts are exact longs; with N docs,
   * μ = tf/N and E[X²] = Σc²/N need only the exact moments (Σc = tf,
   * Σc² as decimal(38,0), N), so VMR = (E[X²] − μ²)/μ =
   * (N·Σc² − tf²) / (N·tf) is computed as ONE division of exact
   * decimal integers, rounded 6dp — no per-doc float accumulation at
   * all. Terms below `minDf` are pruned (hapax VMR is noise).
   *
   * Scale shape: one (doc, term) count aggregate, one term-keyed
   * moment aggregate (both map-side combined), a 1-row N crossJoin.
   * Output one row per surviving term: (`term`, `df`, `tf`, `vmr`).
   */
  def termBurstiness(df: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     minDf: Long = 2L): DataFrame = {
    require(minDf >= 1L, s"minDf must be >= 1: $minDf")
    val dec = "decimal(38,0)"
    val base = df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val nDocs = base.agg(count(lit(1)).as("__n"))
    val cells = base
      .select(col(idCol).as("__id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term", "__id").agg(count(lit(1)).as("__c"))
    cells.groupBy("term")
      .agg(count(lit(1)).as("df"),
        sum("__c").as("tf"),
        sum(col("__c").cast(dec) * col("__c")).as("__c2"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"), col("tf"),
        round(((col("__n").cast(dec) * col("__c2") -
          col("tf").cast(dec) * col("tf")).cast("double")) /
          ((col("__n").cast(dec) * col("tf")).cast("double")), 6)
          .as("vmr"))
  }

  /**
   * Jensen-Shannon divergence between two corpora's unigram term
   * distributions (Lin 1991) — the symmetric, always-finite drift
   * metric for TEXT that [[graft.operators.Profiling
   * .populationStability]] is for scores and
   * [[graft.operators.Similarity]]'s MMD is for embeddings: "how far
   * has the crawl's vocabulary drifted from the reference mix" is the
   * question a training-data pipeline asks before retraining its
   * quality gates. JS = ½·KL(P‖M) + ½·KL(Q‖M) with M = (P+Q)/2, in
   * nats; bounded by ln 2, so `js_norm` = JS/ln 2 ∈ [0, 1] ships
   * alongside.
   *
   * EXACTNESS: both term-count frames are exact longs from one
   * aggregate each; totals are exact; each term's contribution is a
   * fixed IEEE chain from exact integers (p·ln(p/m) with the p = 0 /
   * q = 0 sides contributing their ln 2 branch), and the corpus sum is
   * an UNORDERED sum of per-term doubles — the
   * [[graft.functions.Text.charEntropy]] unordered-level-sum contract
   * (engines may differ in the last ulp; the 4dp rounding absorbs
   * it; stated). `minCount` prunes sub-threshold terms from BOTH
   * sides before normalization (stated — totals are over surviving
   * terms).
   *
   * Scale shape: two token-count aggregates (map-side combined, the
   * shuffles carry distinct terms), one full-outer term join, two
   * 1-row totals, one scalar rollup. Output ONE row: (`n_terms`,
   * `tok_a`, `tok_b`, `js`, `js_norm`).
   */
  def corpusJsDivergence(a: DataFrame, b: DataFrame,
                         textCol: String = "text",
                         minCount: Long = 1L): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1: $minCount")
    def counts(df: DataFrame, out: String): DataFrame = df
      .filter(col(textCol).isNotNull)
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as(out))
      .filter(col(out) >= minCount)
    val ca = counts(a, "__ca")
    val cb = counts(b, "__cb")
    // totals + the term rollup share one materialization
    val joined = graft.core.LineageCut.cut(
      ca.join(cb, Seq("term"), "full_outer")
        .select(col("term"), coalesce(col("__ca"), lit(0L)).as("__ca"),
          coalesce(col("__cb"), lit(0L)).as("__cb")))
    val tots = joined.agg(sum("__ca").as("__ta"), sum("__cb").as("__tb"))
    // totals-of-zero guard inside the plan (ANSI division): an empty
    // side has ca = 0 on every row too, so the 0.0 branch is exact
    val p = when(col("__ta") > 0L,
      col("__ca").cast("double") / col("__ta").cast("double"))
      .otherwise(lit(0.0))
    val q = when(col("__tb") > 0L,
      col("__cb").cast("double") / col("__tb").cast("double"))
      .otherwise(lit(0.0))
    val m = (p + q) / lit(2.0)
    val term = (when(col("__ca") > 0L, p * log(p / m)).otherwise(lit(0.0)) +
      when(col("__cb") > 0L, q * log(q / m)).otherwise(lit(0.0))) / lit(2.0)
    joined.crossJoin(broadcast(tots))
      .agg(count(lit(1)).as("n_terms"),
        coalesce(max("__ta"), lit(0L)).cast("long").as("tok_a"),
        coalesce(max("__tb"), lit(0L)).cast("long").as("tok_b"),
        round(sum(term), 4).as("__js_raw"))
      // an empty side makes the divergence undefined (0/0 inside the
      // KL terms) — report NULL, never a NaN
      .select(col("n_terms"), col("tok_a"), col("tok_b"),
        when(col("tok_a") > 0L && col("tok_b") > 0L, col("__js_raw"))
          .as("js"),
        when(col("tok_a") > 0L && col("tok_b") > 0L,
          round(col("__js_raw") / lit(math.log(2.0)), 4)).as("js_norm"))
  }
}
