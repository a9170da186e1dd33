package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: language ID, quality
  * scoring, token counting. All outputs are integers (counts, floored
  * ratios) so results are engine-reproducible; all expressions are
  * codegen'd built-ins.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword
    * heuristic language identifier. Distinct-word overlap with each
    * list is the language score.
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "dans", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "人", "这")
  )

  private[graft] def words(c: Column): Column = split(Dedup.normalize(c), " ")

  /** C8: heuristic language ID. Scores = stopword overlap per
    * language; argmax wins, alphabetical tiebreak, no overlap → "und".
    * Implemented as array_max over (score, reverse-alpha lang) structs
    * — a single expression, no UDF, no shuffle.
    */
  def langId(c: Column): Column = {
    val w = array_distinct(words(c))
    val scored = Stopwords.toSeq.sortBy(_._1).zipWithIndex.map { case ((lang, sw), rank) =>
      struct(
        size(array_intersect(w, array(sw.map(lit): _*))).as("score"),
        lit(-rank).as("tie"), // ties resolve alphabetically-first under max
        lit(lang).as("lang")
      )
    }
    val bestLang = array_max(array(scored: _*))
    when(bestLang.getField("score") > 0, bestLang.getField("lang")).otherwise(lit("und"))
  }

  /** Distinctive character trigrams per language (space-padded so
    * word boundaries count), hand-curated from public frequency
    * tables — the profile data for [[langIdNgram]].
    */
  val TrigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "he ", " th", "ing", "and", "nd ", " an", " of", "of ", "ion",
      " to", "to ", "ed ", " in", "is ", "at ", "er ", "ent", " be", "on "),
    "de" -> Seq("der", "er ", " de", "ie ", "die", "und", " un", "ein", "ich", "ch ",
      "sch", "en ", "das", " da", "ung", " ge", "ber", "cht", "nde", "ges"),
    "es" -> Seq(" de", "de ", "la ", " la", "os ", " el", "el ", "que", "ue ", " qu",
      "es ", " es", "ado", "ar ", " co", "os.", "nte", " se", "ión", "dad"),
    "fr" -> Seq(" de", "de ", "le ", " le", "ent", "nt ", " la", "et ", " et", "on ",
      " pa", "ue ", "re ", " co", "eur", "les", " qu", "our", "ait", "une")
  )

  /** C71: character-trigram language ID — the profile-based
    * classifier (Cavnar & Trenkle 1994 n-gram shape) that works where
    * the stopword heuristic ([[langId]]) can't: text without
    * dictionary words, inflected forms, short fragments. Score per
    * language = number of trigram POSITIONS (every offset of the
    * space-padded text, overlaps included) whose trigram is in the
    * language's profile.
    *
    * Plan: ONE code-point scan through the native
    * `trigram_profile_scores` kernel — every 3-code-point window
    * packs into a Long and probes all four profiles' sorted pack
    * arrays; no per-window string is ever built and the text is
    * never re-scanned per profile entry (the two declarative forms
    * measured 14.5s [replace-scan per trigram, 80 passes/row] and
    * 30s [materialized trigram array — allocation-bound] at sf1;
    * the kernel is one pass). Argmax with alphabetical tiebreak;
    * all-zero → "und". Per-doc projection, zero shuffles.
    */
  def langIdNgram(df: DataFrame, textCol: String, out: String = "pred_lang"): DataFrame = {
    val langs = TrigramProfiles.toSeq.sortBy(_._1)
    val scored = langs.zipWithIndex.map { case ((lang, _), rank) =>
      struct(
        element_at(col("__sc"), rank + 1).as("score"),
        lit(-rank).as("tie"),
        lit(lang).as("lang"))
    }
    val bestLang = array_max(array(scored: _*))
    df.withColumn("__t", concat(lit(" "), Dedup.normalize(col(textCol)), lit(" ")))
      .withColumn("__sc",
        graft.functions.VecOps.trigram_profile_scores(col("__t"), langs.map(_._2)))
      .withColumn(out,
        when(bestLang.getField("score") > 0, bestLang.getField("lang")).otherwise(lit("und")))
      .drop("__t", "__sc")
  }

  /** C95: the Gopher quality rules (Rae et al. 2021, Appendix A) as
    * an integer-exact per-doc gate — the published heuristic filter
    * suite large-corpus pipelines run before any model-based scoring
    * ([[quality]] reports raw signals; this applies the named rules):
    *
    *   r_words     50 ≤ word count ≤ 100,000
    *   r_mwl       mean word length in [3, 10] chars
    *   r_hash      #-symbol : word ratio ≤ 0.1
    *   r_ellipsis  ellipsis : word ratio ≤ 0.1 ("..." or "…")
    *   r_bullet    ≤ 90% of lines start with a bullet (-, *, •)
    *   r_ell_line  ≤ 30% of lines end with an ellipsis
    *   r_alpha     ≥ 80% of words contain ≥ 1 alphabetic char
    *   r_stop      ≥ 2 distinct Gopher stop words
    *               (the, be, to, of, and, that, have, with)
    *
    * Every ratio is tested by integer cross-multiplication (10·n_hash
    * ≤ n_words, 10·n_bullet ≤ 9·n_lines, …) so the gate is bit-exact
    * against the DuckDB twin — no float thresholds. One projection,
    * no shuffle beyond the driver-compare orderBy.
    */
  def gopherGate(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // all nine counts from ONE kernel pass over the raw bytes + one
    // over the normalized form ([[graft.functions.VecOps.gopherCounts]]);
    // the declarative formulation (test-scope ParityFormulations) is the
    // semantic reference the kernel must equal row-for-row
    // (OptimizationParitySpec parity test) and
    // the shape the DuckDB oracle runs — it paid 2 regex scans, 2
    // array splits, 4 interpreted higher-order filters and an
    // interpreted fold per row (HOFs are CodegenFallback)
    gopherFlags(
      df.select(col(idCol), graft.functions.VecOps.gopher_counts(col(textCol)).as("__g"))
        .select(
          col(idCol),
          col("__g")(0).as("n_words"), col("__g")(1).as("sum_len"),
          col("__g")(2).as("n_hash"), col("__g")(3).as("n_ell"),
          col("__g")(4).as("n_lines"), col("__g")(5).as("n_bullet"),
          col("__g")(6).as("n_ell_line"), col("__g")(7).as("n_alpha"),
          col("__g")(8).as("n_gstop")),
      idCol)

  /** The rule flags over the nine counts — shared by the kernel and
    * the declarative reference so parity is decided on the counts.
    */
  private[graft] def gopherFlags(counts: DataFrame, idCol: String): DataFrame = {
    def flag(b: Column): Column = when(b, 1L).otherwise(0L)
    counts
      .select(
        col(idCol), col("n_words"),
        flag(col("n_words") >= 50L && col("n_words") <= 100000L).as("r_words"),
        flag(col("sum_len") >= col("n_words") * 3L && col("sum_len") <= col("n_words") * 10L).as("r_mwl"),
        flag(col("n_hash") * 10L <= col("n_words")).as("r_hash"),
        flag(col("n_ell") * 10L <= col("n_words")).as("r_ellipsis"),
        flag(col("n_bullet") * 10L <= col("n_lines") * 9L).as("r_bullet"),
        flag(col("n_ell_line") * 10L <= col("n_lines") * 3L).as("r_ell_line"),
        flag(col("n_alpha") * 10L >= col("n_words") * 8L).as("r_alpha"),
        flag(col("n_gstop") >= 2L).as("r_stop"))
      .withColumn("keep",
        Seq("r_words", "r_mwl", "r_hash", "r_ellipsis", "r_bullet", "r_ell_line", "r_alpha", "r_stop")
          .map(col).reduce(_ * _))
  }

  /** C9: quality signals, all integer: char count, word count,
    * punctuation count, stopword occurrences (en), and a 0-100 floored
    * stopword-ratio score.
    */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = col(textCol)
    val w = words(c)
    df.select(
      col(idCol),
      length(c).cast("long").as("n_chars"),
      size(w).cast("long").as("n_words"),
      // hash-set membership kernel: the HOF filter + array_contains
      // form interprets |words|×|stopwords| compares per row
      graft.functions.VecOps.member_count(w, Stopwords("en")).as("n_stop"),
      // fixed ASCII class — byte-scan kernel, not a regex pass
      graft.functions.VecOps.ascii_charset_count(c, lit(".,;:!?")).as("n_punct")
    ).withColumn(
      "stop_score",
      when(col("n_words") > 0, floor(lit(100.0) * col("n_stop") / col("n_words"))).otherwise(0L)
    )
  }

  /** C30: hashed-linear quality score — the shape of fastText-style
    * model filtering (CCNet/Gopher pipelines score every doc with a
    * linear model over hashed bag-of-words and keep by threshold).
    * score(doc) = Σ_words weight[h(word) mod B], one codegen'd word-
    * hash kernel + one HOF fold per row, no shuffle. The weight table
    * here is a deterministic stand-in (weight[b] = b mod 2001 − 1000)
    * so the whole pipeline stays engine-reproducible — swap
    * `weightOf` for a broadcast learned-weights array lookup and
    * nothing else changes. B is a power of two ON PURPOSE: 2^64 is
    * divisible by it, so signed/unsigned mod agree and the Spark
    * signed-long FNV hash scores identically to the oracle's unsigned
    * arithmetic.
    */
  def modelScore(df: DataFrame, idCol: String, textCol: String, buckets: Int = 4096, threshold: Long = 0L): DataFrame = {
    require((buckets & (buckets - 1)) == 0, "buckets must be a power of two")
    df.select(
        col(idCol),
        // fused kernel fold: Σ weight[pmod(h, B)], weight[b] = b%2001-1000
        // — the HOF aggregate form interprets one lambda per word
        graft.functions.VecOps.hashed_linear_score(
          graft.functions.VecOps.fnv_hashes(words(col(textCol))), buckets.toLong).as("score")
      )
      .withColumn("keep", when(col("score") > threshold, 1L).otherwise(0L))
      .orderBy(col(idCol))
  }

  /** C9b: repetition/shape statistics, all integer: scaled average
    * word length (floor(10*letters/words)), max single-word repetition
    * count (template/boilerplate detector), distinct-word count.
    */
  def textStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = words(col(textCol))
    // letters = length(normalized) - (n_words - 1): normalize collapses
    // runs to single spaces and trims, so the only non-word chars left
    // are exactly n_words-1 separators — same value as stripping
    // spaces with a regex pass, without the pass
    df.select(
      col(idCol),
      floor(lit(10.0) * (length(Dedup.normalize(col(textCol))) - size(w) + 1) / size(w))
        .as("avg_word_len_x10"),
      graft.functions.VecOps.max_word_rep(w).as("max_word_rep"),
      size(array_distinct(w)).cast("long").as("n_distinct_words")
    )
  }

  /** C23: Gopher/C4-style repetition filters, integer-scaled (basis
    * points): fraction of tokens belonging to the single most frequent
    * word / bigram, and fraction of tokens that are repeats of an
    * earlier word. High values mark boilerplate and template spam —
    * the standard pre-training quality gates.
    *
    * One projection over the corpus, one kernel call per row: the
    * fused native [[graft.functions.VecOps.rep_stats]] expression
    * hashes each word once and derives bigram identity from adjacent
    * hash pairs — no bigram strings materialized, no explode, no
    * shuffle. (The equivalent HOF formulation — zip_with concat +
    * array_distinct + two max_word_rep calls — reads every word three
    * times and allocates n-1 strings per row; the kernel cut the
    * sf0.1 bench from 1.0s to ~0.4s.)
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = words(col(textCol))
    val rs = graft.functions.VecOps.rep_stats(w)
    df.select(
      col(idCol),
      rs.as("rs")
    ).select(
      col(idCol),
      col("rs").getItem(0).as("n_words"),
      col("rs").getItem(1).as("top_word_rep"),
      col("rs").getItem(2).as("n_dup_words"),
      col("rs").getItem(3).as("top_bigram_rep"),
      greatest(col("rs").getItem(0) - 1L, lit(0L)).as("n_bigrams")
    ).select(
      col(idCol),
      col("n_words"),
      col("top_word_rep"),
      col("top_bigram_rep"),
      when(col("n_words") > 0, floor(lit(10000L) * col("top_word_rep") / col("n_words")))
        .otherwise(0L).as("top_word_bp"),
      when(col("n_bigrams") > 0, floor(lit(10000L) * col("top_bigram_rep") / col("n_bigrams")))
        .otherwise(0L).as("top_bigram_bp"),
      when(col("n_words") > 0, floor(lit(10000L) * col("n_dup_words") / col("n_words")))
        .otherwise(0L).as("dup_word_bp")
    )
  }

  /** C26: integer-exact tf-idf top terms per document. The score is
    * `floor(tf * 1e6 / df)` — monotone in tf/df like the classic
    * `tf·log(N/df)` but bit-reproducible across engines (no
    * transcendental, no float summation). Ties break on the term
    * string, so the top-k set is fully deterministic.
    *
    * Plan shape: explode → (doc, term) count, then document frequency
    * as an unordered window count over the term key (ONE pass over the
    * tf frame — a self-join on the term dictionary would scan it
    * twice), then a per-doc rank window. Three keyed shuffles total,
    * each on a natural key.
    */
  def tfidfTop(df: DataFrame, idCol: String, textCol: String, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idCol), explode(words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("score", floor(col("tf") * lit(1000000L) / col("df")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col(idCol), col("rk"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col(idCol), col("rk"))
  }

  /** C35: corpus-wide top-k bigram collocations. Bigrams come from
    * zipping the word array with its own tail — a per-row HOF
    * projection, no join, no position-explode. The global top-k is an
    * `ORDER BY ... LIMIT k`, which Spark plans as
    * TakeOrderedAndProject: each partition keeps only its local k
    * candidates and the driver merges k·partitions rows — no global
    * sort at any scale. Count-desc with a bigram-string tiebreak makes
    * the result set fully deterministic.
    */
  def topBigrams(df: DataFrame, textCol: String, topK: Int = 20): DataFrame = {
    val w = words(col(textCol))
    val bigrams = zip_with(
      slice(w, lit(1), size(w) - 1),
      slice(w, lit(2), size(w) - 1),
      (a, b) => concat(a, lit(" "), b)
    )
    df.select(explode(bigrams).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(topK)
  }

  /** C62: collocation mining by LIFT — n·c(x,y) / (c(x)·c(y)), the
    * monotone integer-exact stand-in for PMI (PMI = log lift; log is
    * not cross-engine bit-reproducible, the RATIO is): the phrase-
    * mining signal that separates "of the" (high count, lift ≈ 1)
    * from genuine collocations ("machine learning": modest count,
    * lift ≫ 1). Reported in ppm with the n·cxy·1e6 product carried in
    * DECIMAL(38,0)/HUGEINT — a 100 TB corpus's token total crosses
    * 2^63 inside the product.
    *
    * Plan: unigram and bigram counts are keyed aggs; bigrams join
    * their component counts KEYED on the token (a web-scale
    * vocabulary never broadcasts — the C51 discipline), the corpus
    * total rides as a 1-row broadcast, and top-k is
    * TakeOrderedAndProject. minCount prunes the hapax tail BEFORE
    * the joins — the same sketch-then-verify shape as heavy hitters
    * would apply above memory scale.
    */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Long = 5, topK: Int = 20): DataFrame = {
    val w = words(col(textCol))
    val uni = df.select(explode(w).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("n"))
    val bigrams = zip_with(
      slice(w, lit(1), size(w) - 1),
      slice(w, lit(2), size(w) - 1),
      (a, b) => concat(a, lit(" "), b)
    )
    df.select(explode(bigrams).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
      .withColumn("x", split(col("bigram"), " ").getItem(0))
      .withColumn("y", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("tok").as("x"), col("c").as("cx")), "x")
      .join(uni.select(col("tok").as("y"), col("c").as("cy")), "y")
      .crossJoin(broadcast(tot))
      .select(col("bigram"), col("cxy"), col("cx"), col("cy"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * cxy * 1000000) DIV (CAST(cx AS DECIMAL(38,0)) * cy) AS BIGINT)")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("bigram"))
      .limit(topK)
  }

  /** C10: token counts — whitespace tokens and a BPE-ish regex
    * tokenization (letter runs / digit runs / single punctuation).
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one byte-scan kernel per row — counts non-overlapping leftmost
    // matches of `[^ ]+` and `[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]` exactly
    // like the two regexp_count passes it replaces (token classes are
    // plain runs; no backtracking subtlety), ~10x cheaper than regex
    val tc = graft.functions.VecOps.token_counts(col(textCol))
    df.select(
      col(idCol),
      tc.getItem(0).as("n_ws_tokens"),
      tc.getItem(1).as("n_bpe_tokens")
    )
  }

  /** The merge table for [[bpeTokenStats]] — a small public-style BPE
    * vocabulary: high-frequency English subwords, affixes, and whole
    * function words, the shape a trained merge table converges to
    * (Sennrich et al. 2016). Multi-character entries only, so the
    * fallback count is a real out-of-vocabulary signal. Single source
    * of truth: the DuckDB oracle interpolates THIS list, so engine
    * and oracle can never drift on vocabulary content.
    */
  val BpeVocab: Seq[String] = Seq(
    "the", "and", "ing", "ion", "tion", "ation", "ent", "ment", "ed", "er",
    "est", "ly", "re", "un", "in", "on", "at", "or", "an", "en",
    "es", "al", "ar", "is", "it", "of", "to", "as", "le", "se",
    "ve", "de", "ra", "ro", "ri", "li", "la", "lo", "ne", "na",
    "no", "ta", "te", "ti", "co", "con", "com", "per", "pro", "pre",
    "sub", "ter", "ther", "ght", "ough", "ous", "ive", "ize", "able", "ness",
    "less", "ful", "with", "for", "that", "this", "from", "have", "not", "are",
    "was", "you", "all", "can", "has", "had", "but", "his", "her", "she")

  /** C102: REAL tokenizer token counts — greedy longest-match over the
    * [[BpeVocab]] merge table (the lookup phase of a trained BPE/
    * WordPiece tokenizer; C10's `n_bpe_tokens` is a character-class
    * regex APPROXIMATION of this count). Per doc: word count, token
    * count, and the code points consumed by single-character fallback
    * (the OOV signal — rising fallback_cp means the vocabulary no
    * longer fits the feed). This is the count that actually prices
    * sequence packing, chunking, and mixture budgets downstream.
    *
    * Semantics pinned for the oracle: normalize (lower, collapse ws),
    * then per word repeatedly consume the LONGEST vocab entry matching
    * at the cursor, else one CODE POINT (so multi-byte text agrees
    * with DuckDB's codepoint `substr`); entries contain no spaces so
    * a match never crosses a word. Greedy is not optimal and that is
    * the contract: "them" → "the"+"m" (2), never "th"+"em".
    *
    * Plan: ONE projection — a single trie-walk kernel per row
    * ([[graft.functions.VecOps.greedyTokenStats]]), no explode, no
    * shuffle; the DuckDB twin replays the identical walk with a
    * recursive CTE over per-(word,pos) match lengths.
    */
  def bpeTokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = graft.functions.VecOps.greedy_token_stats(Dedup.normalize(col(textCol)), BpeVocab)
    df.select(col(idCol), st.as("__st"))
      .select(col(idCol),
        col("__st").getItem(0).as("n_words"),
        col("__st").getItem(1).as("n_tokens"),
        col("__st").getItem(2).as("fallback_cp"))
      .orderBy(col(idCol))
  }

  /** C41: every term with corpus frequency >= minCount, EXACT counts,
    * via a Count-Min prefilter (see [[graft.functions.CountMin]]).
    * Pass 1 folds the exploded term stream into a 2 MB mergeable
    * sketch; pass 2 exact-counts ONLY terms the sketch admits (CMS
    * never underestimates → no heavy term is lost; its few
    * overestimates are killed by the exact HAVING). The difference
    * from [[topBigrams]]/`text_topterms` (top-k) is the threshold
    * form: at 100 TB a full-vocabulary groupBy shuffles billions of
    * distinct light terms — here the aggregation input is pruned to
    * sketch-candidates BEFORE the shuffle, the same
    * sketch-then-verify discipline as bloom-pruned dedup (C39).
    */
  def heavyHitters(
      df: DataFrame,
      textCol: String,
      minCount: Long,
      depth: Int = 4,
      width: Int = 65536
  ): DataFrame = {
    require(minCount > 0, "minCount must be positive")
    import graft.functions.CountMin
    val terms = df.select(explode(words(col(textCol))).as("term")).filter(col("term") =!= "")
    val cms = CountMin.build(terms.select(xxhash64(col("term")).as("k")), "k", depth, width)
    terms
      .filter(CountMin.cms_estimate(lit(cms), xxhash64(col("term"))) >= minCount)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("term"))
  }

  /** C51: unigram-LM quality signal (the integer-exact form of the
    * CCNet/RedPajama "score each document under a corpus language
    * model" filter). Every token is scored by its corpus frequency in
    * parts-per-million; a document's signal is the tf-weighted mean
    * token ppm (high = made of common language, low = rare-token
    * noise) plus the fraction of token mass whose corpus frequency is
    * <= `rareMaxTf` (hapax/near-hapax junk) in basis points.
    *
    * Plan shape: one keyed agg to per-doc term counts, a re-agg of the
    * SAME frame to the corpus vocabulary, one keyed join on `term`,
    * one keyed agg back to docs. The vocabulary is joined keyed, never
    * broadcast: at 100 TB the distinct-term table is itself huge. The
    * corpus-total is a 1-row agg broadcast by the scalar cross join.
    *
    * Overflow discipline: per-token ppm = `ctf * 1e6 DIV total` <= 1e6
    * (integer `DIV`, not double `/`, so the math stays exact past
    * 2^53 total tokens); the per-doc weighted sum is then bounded by
    * doc_tokens * 1e6 — safe in a Long for any document that fits in
    * memory at all.
    */
  def unigramScore(df: DataFrame, idCol: String, textCol: String, rareMaxTf: Long = 2L): DataFrame = {
    val tf = df
      .select(col(idCol), explode(words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val total = vocab.agg(sum(col("ctf")).as("total"))
    tf.join(vocab, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_tokens"),
        expr("sum(tf * (ctf * 1000000L DIV total)) DIV sum(tf)").as("mean_tok_ppm"),
        expr(s"10000 * sum(CASE WHEN ctf <= $rareMaxTf THEN tf ELSE 0 END) DIV sum(tf)").as("rare_bp")
      )
      .orderBy(col(idCol))
  }

  /** C77: bigram-LM quality scoring — [[unigramScore]]'s conditional
    * sibling and the integer stand-in for CCNet-style LM perplexity
    * filtering: per adjacent word pair, the corpus conditional
    * P(w₂|w₁) as exact ppm — c(w₁w₂)·10⁶ DIV c(w₁·) with c(w₁·) the
    * count of w₁ as a bigram HEAD (so the conditionals per head sum to
    * ~10⁶) — then per doc the tf-weighted mean conditional and the
    * rare-bigram fraction. Log-perplexity itself is a log-sum — not
    * cross-engine bit-reproducible — but filtering thresholds are
    * monotone in these ratio statistics (the C62 PMI-vs-lift
    * discipline), so the ppm frame carries the same decisions.
    *
    * Plan: ONE explode feeds everything — per-doc bigram tf is the
    * base aggregate, CHECKPOINTED because three consumers read it (the
    * final join, corpus bigram counts, and head counts via those):
    * without it Catalyst re-executes the corpus explode once
    * per branch (11.3s pre-fix at sf1; the committed BENCH_sf1
    * measures 9.3s post-fix — the explode+two-agg chain itself is the
    * remaining floor; hashing the join keys below cut it further —
    * see the shuffle note). Corpus counts roll up
    * FROM tf (never a second corpus scan) and head counts from those.
    * Both model joins are KEYED on bigram/head — a web-scale
    * vocabulary never broadcasts (the C51/C62 discipline). Docs with
    * fewer than two words have no bigrams and drop out, the standard
    * LM rule.
    *
    * Shuffle note: every exchange carries 8-byte xxhash64 keys of the
    * bigram and its head word — never the strings (the dedup-family
    * w.h.p. hash-identity discipline: at 25M distinct bigrams the
    * collision odds are ~2^-25, and a collision merely merges two
    * counts). Both hashes are computed in the explode projection,
    * BEFORE anything shuffles; head extraction happens there too, so
    * no downstream stage re-parses text. Measured at sf10 vs the
    * string-keyed formulation: 29.1 → 25.8s here (the explode and
    * checkpoint write dominate the remaining floor) and 37.4 → 27.3s
    * for the composed text_ccnet_bucket, whose rank passes re-read
    * the smaller checkpointed frame. Outputs bit-identical (diffed at
    * sf1, 50k docs).
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String, rareMaxC: Long = 2L): DataFrame = {
    // checkpointed: the tf frame feeds three consumers (cb, ch, the
    // final join), so it materializes once.
    // The (hh, bh) pairs come from the zero-copy kernel
    // ([[graft.functions.VecOps.bigramHashPairs]]): both hashes are
    // XXH64 over contiguous byte ranges of the normalized text — no
    // word array, no per-bigram concat string, no interpreted zip_with
    // (bit-identical to the xxhash64(concat) form; parity spec in
    // OptimizationParitySpec).
    val tf = df
      .select(col(idCol),
        explode(graft.functions.VecOps.bigram_hash_pairs(
          graft.functions.VecOps.normalize_ws(col(textCol)), tailMode = false)).as("p"))
      .groupBy(col(idCol), col("p.bh").as("bh"), col("p.hh").as("hh"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val cb = tf.groupBy(col("bh"), col("hh")).agg(sum(col("tf")).as("cb"))
    val ch = cb.groupBy(col("hh")).agg(sum(col("cb")).as("ch"))
    tf.join(cb.select(col("bh"), col("cb")), Seq("bh"))
      .join(ch, Seq("hh"))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_bigrams"),
        expr("sum(tf * (cb * 1000000L DIV ch)) DIV sum(tf)").as("mean_cond_ppm"),
        expr(s"10000 * sum(CASE WHEN cb <= $rareMaxC THEN tf ELSE 0 END) DIV sum(tf)").as("rare_bp")
      )
      .orderBy(col(idCol))
  }

  /** C97: interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995;
    * the interpolated form and D=0.75 are Chen & Goodman 1998's
    * recommendation) — the smoothing real LM-perplexity filters run,
    * where [[bigramLmScore]] is the raw MLE conditional: frequent
    * continuations are discounted by a fixed D and the freed mass is
    * spent on the CONTINUATION unigram P_cont(w₂) ∝ |{w₁ : c(w₁w₂)>0}|
    * — "how many contexts does w₂ complete", not "how often does w₂
    * occur" (the famous San-Francisco/glasses distinction: 'Francisco'
    * is frequent but follows one head, so KN scores it low in novel
    * contexts). Per bigram, in exact integer ppm with D = 3/4 carried
    * as the ×4-scaled numerator:
    *
    *   p = ((4·c(w₁w₂) − 3)·10⁶) DIV (4·c(w₁·))            — discounted MLE
    *     + (λ(w₁) · P_cont(w₂)) DIV 10⁶, where
    *   λ(w₁)   = (3·N₁₊(w₁·)·10⁶) DIV (4·c(w₁·))           — freed mass
    *   P_cont  = (N₁₊(·w₂)·10⁶) DIV |distinct bigrams|
    *
    * (c(w₁w₂) ≥ 1 for observed bigrams, so the max(·,0) clamp is
    * vacuous.) Per doc: tf-weighted mean p and mean λ (the back-off
    * exposure — high λ means the doc lives in sparse contexts). Sums
    * fit BIGINT: 4·cb·10⁶ at sf10 is ~10¹⁵.
    *
    * Plan: [[bigramLmScore]]'s shape with the tail hash carried
    * alongside the head hash — ONE corpus explode into the
    * checkpointed (doc, hh, th, tf) frame; corpus bigram counts roll
    * up FROM tf (checkpointed too: four consumers — the distinct-
    * bigram count, head stats, continuation stats, and the final
    * join); head counts, N₁₊(w₁·), and N₁₊(·w₂) are keyed aggs over
    * that ~|vocab²∩corpus| frame. Every exchange carries 8-byte
    * xxhash64 keys, never word strings (the C77 discipline); all
    * model joins are KEYED — a web-scale vocabulary never broadcasts.
    */
  def knBigramScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // (hh, th) pairs from the same zero-copy kernel as
    // [[bigramLmScore]], tail mode (hash(head), hash(tail))
    val tf = df
      .select(col(idCol),
        explode(graft.functions.VecOps.bigram_hash_pairs(
          graft.functions.VecOps.normalize_ws(col(textCol)), tailMode = true)).as("p"))
      .groupBy(col(idCol), col("p.hh").as("hh"), col("p.th").as("th"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val (cb, nBigrams) = Materialize.counted(tf.groupBy(col("hh"), col("th")).agg(sum(col("tf")).as("cb")))
    // degenerate corpus (no doc has two words): nothing to score.
    // Short-circuit rather than embed `DIV 0` into the P_cont
    // expression — the joins below would produce zero rows anyway,
    // but the plan should never carry a division by a zero literal.
    if (nBigrams == 0L)
      return tf.select(col(idCol), col("tf").as("n_bigrams"),
        col("tf").as("kn_ppm"), col("tf").as("lambda_ppm")).limit(0)
    val ch = cb.groupBy(col("hh")).agg(sum(col("cb")).as("ch"), count(lit(1)).as("n1h"))
    val n1c = cb.groupBy(col("th")).agg(count(lit(1)).as("n1c"))
    tf.join(cb, Seq("hh", "th"))
      .join(ch, Seq("hh"))
      .join(n1c, Seq("th"))
      .withColumn("lam_ppm", expr("3 * n1h * 1000000L DIV (4 * ch)"))
      .withColumn("p_ppm",
        expr(s"((4 * cb - 3) * 1000000L DIV (4 * ch)) + ((lam_ppm * (n1c * 1000000L DIV ${nBigrams}L)) DIV 1000000L)"))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_bigrams"),
        expr("sum(tf * p_ppm) DIV sum(tf)").as("kn_ppm"),
        expr("sum(tf * lam_ppm) DIV sum(tf)").as("lambda_ppm"))
      .orderBy(col(idCol))
  }

  /** C99: PERSISTED bigram-LM index — build/score/update, the
    * incremental-index discipline (C28/C29/C32/C39/C69/C85/C94)
    * applied to quality scoring: a continuous-ingest pipeline scores
    * each arriving batch against the corpus LM WITHOUT re-reading
    * the corpus (the C77 chain recomputes the model per run — right
    * for a one-shot sweep, wrong for a feed). The index is the one
    * frame (hh, th, cb): corpus bigram counts keyed by 8-byte
    * head/tail xxhash64 (the C77/C97 exchange discipline); head
    * totals roll up from the index at probe time (index-scale, never
    * corpus-scale).
    */
  def buildLmIndex(corpus: DataFrame, textCol: String): DataFrame =
    // same zero-copy kernel as [[knBigramScore]] (r12): (hh, th) pairs
    // hashed over in-place byte ranges — bit-identical to the
    // zip_with/xxhash64 form (OptimizationParitySpec)
    corpus
      .select(explode(graft.functions.VecOps.bigram_hash_pairs(
        graft.functions.VecOps.normalize_ws(col(textCol)), tailMode = true)).as("p"))
      .groupBy(col("p.hh").as("hh"), col("p.th").as("th"))
      .agg(count(lit(1)).as("cb"))

  /** C99 probe: score a batch against the persisted index — per doc
    * the bigram-token count, the INDEX-COVERED share in basis points
    * (the model-drift signal: a falling covered_bp means the feed's
    * language is leaving the corpus behind), and the tf-weighted mean
    * MLE conditional over covered bigrams (cb·10⁶ DIV ch — C77's
    * statistic, model counts from the index only). Unseen bigrams
    * score nothing and count as uncovered; a doc with zero covered
    * bigrams reports 0. Cost scales with the BATCH and the index —
    * the corpus text is never touched (plan-locked: the batch scan is
    * the only document scan).
    */
  def scoreAgainstLmIndex(index: DataFrame, batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = batch
      .select(col(idCol),
        explode(graft.functions.VecOps.bigram_hash_pairs(
          graft.functions.VecOps.normalize_ws(col(textCol)), tailMode = true)).as("p"))
      .groupBy(col(idCol), col("p.hh").as("hh"), col("p.th").as("th"))
      .agg(count(lit(1)).as("tf"))
    val ch = index.groupBy(col("hh")).agg(sum(col("cb")).as("ch"))
    tf.join(index, Seq("hh", "th"), "left")
      .join(ch, Seq("hh"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_bigrams"),
        expr("10000 * sum(CASE WHEN cb IS NOT NULL THEN tf ELSE 0 END) DIV sum(tf)").as("covered_bp"),
        expr("IF(sum(CASE WHEN cb IS NOT NULL THEN tf ELSE 0 END) = 0, 0L, " +
          "sum(CASE WHEN cb IS NOT NULL THEN tf * (cb * 1000000L DIV ch) ELSE 0 END) " +
          "DIV sum(CASE WHEN cb IS NOT NULL THEN tf ELSE 0 END))").as("mean_cond_ppm"))
      .orderBy(col(idCol))
  }

  /** C99 update: fold a new batch's counts into the index — count
    * merge by (hh, th), so updateLmIndex(buildLmIndex(corpus), batch)
    * ≡ buildLmIndex(corpus ∪ batch) row-for-row (spec-proven, the
    * probe-after-append ≡ rebuild contract).
    */
  def updateLmIndex(index: DataFrame, batch: DataFrame, textCol: String): DataFrame =
    index.unionByName(buildLmIndex(batch, textCol))
      .groupBy(col("hh"), col("th")).agg(sum(col("cb")).as("cb"))

  /** C100: token-distribution drift between two corpus snapshots —
    * the data-mix monitoring card ([[graft.operators.DataQuality]]'s
    * numeric drift_report, lifted to the vocabulary): per token the
    * ppm share in snapshot A vs snapshot B and the SIGNED share delta,
    * top-k movers by absolute delta. A crawler config change, a new
    * domain in the mix, or a dedup-threshold tweak shows up here as
    * concrete tokens moving, not as an opaque divergence number —
    * and the exact-ppm arithmetic keeps the card bit-reproducible
    * (log-based KL is not, the C62 discipline).
    *
    * Plan: ONE corpus scan — the side flag rides the explode
    * projection, per-(token, side) counts collapse map-side, side
    * totals are a 2-row broadcast, top-k is TakeOrderedAndProject.
    * Token strings DO cross the one exchange here (they are the
    * output, vocabulary-cardinality — the same shape as
    * text_topterms; the LM chains hash because their keys are
    * join-internal).
    */
  def tokenDrift(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sideExpr: Column,
      topK: Int = 30
  ): DataFrame = {
    val counts = df
      .select(sideExpr.cast("long").as("side"), explode(words(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(
        sum(when(col("side") === 0L, 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("side") =!= 0L, 1L).otherwise(0L)).as("cnt_b"))
      .localCheckpoint()
    val totals = counts.agg(sum(col("cnt_a")).as("tot_a"), sum(col("cnt_b")).as("tot_b"))
    // An empty side (all docs on one side of the split) yields
    // share 0 for that side — defined behavior rather than NULL
    // shares a downstream getLong would NPE on. The DuckDB twin
    // requires both sides non-empty (`//` by zero errors there);
    // the driver's doc_id % 2 split always satisfies it.
    counts.crossJoin(broadcast(totals))
      .select(col("term"), col("cnt_a"), col("cnt_b"),
        expr("IF(tot_a = 0, 0L, cnt_a * 1000000L DIV tot_a)").as("share_a_ppm"),
        expr("IF(tot_b = 0, 0L, cnt_b * 1000000L DIV tot_b)").as("share_b_ppm"))
      .withColumn("delta_ppm", col("share_b_ppm") - col("share_a_ppm"))
      .orderBy(abs(col("delta_ppm")).desc, col("term"))
      .limit(topK)
  }

  /** C101: green-list watermark detection (Kirchenbauer et al. 2023,
    * "A Watermark for Large Language Models") — the synthetic-text
    * screen a training-data pipeline runs so watermarked model output
    * doesn't feed the next model: a keyed PRF of the PREVIOUS token
    * partitions the vocabulary into green/red quarters, watermarked
    * generators oversample green, and the detector is a one-sided
    * binomial test on the observed green count. The PRF is the real
    * thing: the suite's FNV-1a kernel ([[graft.functions.Fingerprint64]],
    * DuckDB-oracle-matched byte-for-byte) over the detection key and
    * the TOKEN IDENTITIES `key ∥ 0x01 ∥ prev ∥ 0x01 ∥ cur` — cur is
    * green given prev iff the low two hash bits are zero, exactly the
    * "hash of the previous token seeds the vocabulary partition"
    * construction of the paper (§3, Algorithm 2), keyed so only the
    * key holder can enumerate green lists. γ = 1/4, so
    * under H₀ green_bp ≈ 2500; per doc: bigram count, green count,
    * green share (bp), excess over expectation (bp), and the z > 4
    * detection flag decided by INTEGER cross-multiplication —
    * z = (4g − n)/√(3n) > 4 ⟺ 4g > n AND (4g − n)² > 48n — no
    * float, no sqrt (the Gopher-gate discipline).
    *
    * Plan: one projection over the corpus scan (the bigram zip and
    * the green fold are array expressions — nothing shuffles but the
    * per-doc result rows).
    */
  def watermarkScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      key: String = "graft"
  ): DataFrame = {
    // ONE kernel pass over the normalized bytes
    // ([[graft.functions.VecOps.watermarkGreenCounts]]): FNV-1a is
    // byte-sequential, so the per-bigram PRF threads over the word
    // bytes in place from the precomputed key∥ 0x01 state — replacing
    // two slice arrays, an interpreted zip_with building a fresh
    // 5-part concat string per bigram, and an interpreted fold
    // (bit-identical; parity spec in OptimizationParitySpec, and the DuckDB
    // oracle still runs the concat formulation)
    val wm = graft.functions.VecOps.watermark_green_counts(
      graft.functions.VecOps.normalize_ws(col(textCol)), key)
    df.select(col(idCol), wm.as("__wm"))
      .select(col(idCol), (col("__wm")(0) - 1L).as("n_bigrams"), col("__wm")(1).as("n_green"))
      .filter(col("n_bigrams") > 0L)
      .select(col(idCol), col("n_bigrams"), col("n_green"),
        expr("10000 * n_green DIV n_bigrams").as("green_bp"),
        expr("10000 * n_green DIV n_bigrams - 2500").as("excess_bp"),
        expr("CAST(CASE WHEN 4 * n_green > n_bigrams AND " +
          "(4 * n_green - n_bigrams) * (4 * n_green - n_bigrams) > 48 * n_bigrams " +
          "THEN 1 ELSE 0 END AS BIGINT)").as("flagged"))
      .orderBy(col(idCol))
  }

  /** C92: CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3 —
    * the head/middle/tail split behind CCNet-derived corpora): per
    * DOMAIN, documents are cut at the 33rd/67th percentile of their
    * LM score and labeled head (most fluent third), middle, tail —
    * the mixture knob pipelines tune instead of a hard quality cut
    * (CCNet trains on head+middle; tail is held for ablations).
    * Scoring is [[bigramLmScore]]'s integer conditional-probability
    * mean (higher = more fluent), so the whole split is cross-engine
    * exact. Thresholds are VALUES AT EXACT RANKS ⌈n/3⌉ and ⌈2n/3⌉
    * (ascending) per domain; docs compare by value, so score ties
    * land in one bucket (the cut is value-based — bucket sizes are
    * n/3 only up to ties, the honest semantics). Docs with no bigram
    * (single-word) carry no score and are absent, as in
    * [[bigramLmScore]].
    *
    * Plan: the LM chain runs ONCE (scored frame localCheckpointed —
    * it feeds both the multi-pass rank selection and the final
    * comparison; the funnel-latency lesson), thresholds come from
    * [[Analytics.groupedExactRanks]] (binned selection — never a
    * per-domain sort window over corpus-scale partitions), and the
    * |domains|-row threshold frame broadcasts back. Nothing after
    * the one keyed domain join is larger than the corpus row count.
    */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String, domainCol: String): DataFrame = {
    val scored = bigramLmScore(df, idCol, textCol)
      .select(col(idCol), col("mean_cond_ppm").as("score_ppm"))
      .join(df.select(col(idCol), col(domainCol)), Seq(idCol))
      .localCheckpoint()
    val ranks = Analytics.groupedExactRanks(
      scored.select(col(domainCol), col("score_ppm")),
      domainCol,
      col("score_ppm"),
      Seq(
        "t33" -> (n => ((n + lit(2L)) / lit(3L)).cast("long")),
        "t67" -> (n => ((n * 2L + lit(2L)) / lit(3L)).cast("long"))))
    val th = ranks
      .groupBy(col(domainCol))
      .agg(
        max(when(col("rank_name") === "t33", col("value"))).as("t33"),
        max(when(col("rank_name") === "t67", col("value"))).as("t67"))
    scored
      .join(broadcast(th), Seq(domainCol))
      .select(col(idCol), col(domainCol), col("score_ppm"),
        when(col("score_ppm") > col("t67"), "head")
          .when(col("score_ppm") > col("t33"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col(idCol))
  }

  /** C65: winnowing document fingerprints (Schleimer, Wilkerson &
    * Aiken, SIGMOD 2003 — the MOSS local fingerprinting algorithm):
    * hash every k-word shingle, slide a w-position window over the
    * position-ordered hashes, and select each window's MINIMUM. The
    * paper's guarantee: any shared run of >= w+k-1 words between two
    * documents shares at least one selected fingerprint, while only
    * ~2/(w+1) of all shingle hashes are kept — positional near-dup
    * detection at a fraction of [[Dedup]]'s full-shingle volume.
    *
    * Determinism: the selection key is `md5(shingle) || ':' ||
    * zero-padded position`, so the window argmin is a plain string
    * MIN with (hash asc, pos asc) tie order — no RNG, engine-exact
    * (md5 and lexicographic string order agree across engines).
    * Documents with fewer than w shingles keep their single global
    * minimum (the standard short-document rule).
    *
    * Plan: the window min is a PER-DOCUMENT sliding minimum, so the
    * whole selection runs inside one codegen'd projection
    * ([[graft.functions.VecOps.winnowFps]], a monotonic-deque scan
    * over the shingle hashes) and only the selected ~2/(w+1) density
    * explodes — no shuffle at all before the caller's join/agg. The
    * windowed-SQL formulation below ([[winnowFingerprintsWindowed]])
    * is the semantic reference the kernel must equal row-for-row
    * (OptimizationParitySpec parity test) and the shape the DuckDB oracle
    * runs; at sf10 it pushed ~100M exploded shingle rows through a
    * doc-keyed window sort for a 29s floor the kernel removes.
    */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4
  ): DataFrame = {
    require(k >= 1 && w >= 1, s"winnow needs k,w >= 1; got k=$k w=$w")
    df.select(col(idCol), explode(graft.functions.VecOps.winnow_fps(words(col(textCol)), k, w)).as("fp"))
      .select(col(idCol), col("fp.fp_hash").as("fp_hash"), col("fp.fp_pos").as("fp_pos"))
      .orderBy(col(idCol), col("fp_pos"), col("fp_hash"))
  }

  /** The explode → doc-keyed window → distinct reference formulation
    * of [[winnowFingerprints]] (spec parity + the oracle's shape). */
  private[graft] def winnowFingerprintsWindowed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, s"winnow needs k,w >= 1; got k=$k w=$w")
    // the word array MUST materialize as its own column before the
    // HOF: a lambda referencing the raw split(normalize(text))
    // expression re-runs the regex split PER POSITION — O(words²)
    // per document (the dup_ngram_mass defect class; measured 4.4s →
    // sub-second at sf0.1)
    val ws = col("__ws")
    // (pos, selection key) per shingle position; sequence() must be
    // guarded — Spark's sequence(1, n) DESCENDS for n < 1
    val grams = when(size(ws) >= k,
      transform(
        sequence(lit(1), size(ws) - (k - 1)),
        i => struct(
          i.cast("long").as("pos"),
          concat(
            md5(array_join(slice(ws, i, lit(k)), " ").cast("binary")),
            lit(":"), lpad(i.cast("string"), 10, "0")).as("key"))))
      .otherwise(array().cast("array<struct<pos:bigint,key:string>>"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), Window.currentRow)
    df.select(col(idCol), words(col(textCol)).as("__ws"))
      .select(col(idCol), size(ws).cast("long").as("__n"), explode(grams).as("g"))
      .select(col(idCol), col("__n") - (k - 1) as "n_grams", col("g.pos").as("pos"), col("g.key").as("key"))
      .withColumn("sel", min(col("key")).over(win))
      // full windows only — except short docs (< w shingles), which
      // keep the single global min (visible at the last position)
      .filter(col("pos") >= w || (col("n_grams") < w && col("pos") === col("n_grams")))
      .select(
        col(idCol),
        substring(col("sel"), 1, 32).as("fp_hash"),
        substring(col("sel"), 34, 10).cast("long").as("fp_pos"))
      .distinct()
      .orderBy(col(idCol), col("fp_pos"), col("fp_hash"))
  }

  /** C69 index build: the persisted winnowing-fingerprint index — the
    * positional pendant of Dedup's hash/MinHash/embedding indexes: a
    * corpus is fingerprinted ONCE ([[winnowFingerprints]]) and stored
    * as (id, fp_hash, fp_pos); arriving batches probe it without ever
    * re-reading corpus text. ~2/(w+1) of shingle volume on disk.
    */
  def buildWinnowIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4
  ): DataFrame = winnowFingerprints(corpus, idCol, textCol, k, w)

  /** C69 index maintenance: fold a processed batch's accepted docs
    * into the persisted winnow index. Fingerprint rows are per-doc
    * independent (id, fp_hash, fp_pos), so append IS the merge — the
    * buildMinhashIndex/buildEmbeddingIndex discipline, no keyed merge
    * step. The one invariant to keep is id-uniqueness: an id anti-join
    * against the index skips docs already indexed, so a replayed batch
    * (at-least-once delivery) cannot double its posting lists — spec
    * proves probe-after-append ≡ probe-after-rebuild and idempotence.
    */
  def updateWinnowIndex(
      index: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4
  ): DataFrame =
    index.unionByName(
      winnowFingerprints(batch, idCol, textCol, k, w)
        .join(index.select(col(idCol)).distinct(), Seq(idCol), "left_anti"))

  /** C69 probe: batch docs sharing >= `minShared` DISTINCT winnowing
    * fingerprints with a corpus doc — the incremental form of the
    * MOSS overlap report (shared fingerprints witness shared >=
    * w+k−1-word runs, so n_shared ranks pairs by copied MATERIAL, not
    * bag-of-words likeness). Fingerprint the BATCH only, join the
    * (tiny, hash-keyed) fingerprint posting lists, count distinct
    * shared hashes per pair: candidate volume scales with the batch's
    * fingerprint count × posting density, never the corpus, and never
    * doc×doc. Batch and corpus id spaces must be disjoint (self-pairs
    * are dropped defensively).
    */
  def winnowAgainstIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      k: Int = 4,
      w: Int = 4,
      minShared: Long = 2L
  ): DataFrame = {
    val bf = winnowFingerprints(batch, idCol, textCol, k, w)
      .select(col(idCol).as("id_a"), col("fp_hash")).distinct()
    val cf = index.select(col(idCol).as("id_b"), col("fp_hash")).distinct()
    bf.join(cf, Seq("fp_hash"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }
}
