package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for LLM training-data prep — the steps a
  * 100 TB pipeline runs between raw ingestion (the reference's domain)
  * and tokenization: PII scrubbing, markup stripping, deterministic
  * train/val/test splitting, benchmark decontamination, and sequence
  * packing. All pure `functions._` projections/joins — no UDFs, every
  * one reproducible bit-for-bit in the DuckDB oracle.
  */
object Curation {

  // RE2-safe patterns (no lookaround/backrefs) so the same regex runs
  // unchanged in Spark (Java regex) and DuckDB (RE2)
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\+?\\d[\\d\\s()-]{6,}\\d"

  /** Scrub common PII shapes to typed placeholder tokens. Order
    * matters and is part of the contract: emails first (their digits
    * must not look like phones), then IPs (dotted digits must not feed
    * the phone pattern), then phones.
    */
  def scrubPii(c: Column): Column = graft.functions.VecOps.scrub_pii_ascii(c)

  /** The same chain as three regexp_replace passes — the semantic
    * reference [[graft.functions.VecOps.scrubPiiAscii]] must equal
    * byte-for-byte (CurationSpec's kernel-parity test), and the shape
    * the DuckDB oracle runs.
    */
  def scrubPiiRegex(c: Column): Column = {
    val noEmail = regexp_replace(c, EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, IpRe, "<IP>")
    regexp_replace(noIp, PhoneRe, "<PHONE>")
  }

  /** Strip HTML/XML markup: tags out, entities spaced, whitespace
    * collapsed — the boilerplate-removal front of a web-scrape
    * pipeline (one codegen'd projection, linear scan).
    */
  def stripMarkup(c: Column): Column = graft.functions.VecOps.strip_markup_ws(c)

  /** Regex reference for [[stripMarkup]]'s kernel (spec parity + the
    * oracle's shape). */
  def stripMarkupRegex(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "\\s+", " "))

  /** Deterministic corpus split: bucket 0-99 from the first 8 hex
    * chars of md5(id) — stable across runs, partitions and engines
    * (never `rand()`: resuming a 100 TB job must not reshuffle the
    * split). `trainPct`/`valPct` give train/val, remainder is test.
    */
  def splitBucket(idCol: Column): Column =
    pmod(conv(substring(md5(idCol.cast("string")), 1, 8), 16, 10).cast("long"), lit(100L))

  def hashSplit(df: DataFrame, idCol: String, trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct + valPct <= 100, "train+val must leave room for test")
    val b = splitBucket(col(idCol))
    df.withColumn(
      "split",
      when(b < trainPct, "train").when(b < trainPct + valPct, "val").otherwise("test")
    )
  }

  /** C25: deterministic stratified sampling — per-stratum keep rates
    * in basis points (0-10000), e.g. downsample an over-represented
    * language. The keep decision hashes `stratum:id` (salted so
    * sampling is independent of [[splitBucket]]'s buckets — a doc's
    * train/val/test split must not correlate with whether it
    * survives sampling). Pure projection + filter: stateless,
    * partition-local, reproducible on resume — never `rand()`.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      ratesBp: Map[String, Int],
      defaultBp: Int = 10000
  ): DataFrame = {
    require((defaultBp +: ratesBp.values.toSeq).forall(r => r >= 0 && r <= 10000), "rates are basis points 0-10000")
    val bucket = pmod(
      conv(substring(md5(concat_ws(":", col(strataCol), col(idCol).cast("string"))), 1, 8), 16, 10).cast("long"),
      lit(10000L)
    )
    val rate = ratesBp.toSeq.sortBy(_._1).foldLeft(lit(defaultBp)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** C93: SEMANTIC decontamination — the embedding-space member of the
    * decontam family (exact n-gram C18, fuzzy Jaccard C72): a corpus
    * document is contaminated if its embedding sits within cosine ≥ τ
    * of ANY benchmark embedding — the screen that catches paraphrased
    * and translated eval leakage that string overlap misses (the
    * method model reports describe for eval-set scrubbing). Returns
    * (idCol, n_eval_hits) for contaminated docs only — the drop list
    * plus how entangled each doc is.
    *
    * Plan: the benchmark set is BROADCAST (eval suites are thousands
    * of rows, not corpus-scale — require'd small by the caller's
    * contract) against ONE corpus scan, Θ(N·|eval|·dim) multiply-adds
    * in one codegen stage ([[Similarity.rangeSearch]]'s shape), then
    * a corpus-id-keyed count. For corpus-scale eval sets, the same
    * call composes with [[Similarity.rangeSearchIvf]]'s cell prune.
    *
    * Corpus and benchmark are INDEPENDENT datasets with unrelated id
    * spaces, so the range search runs with selfExclude = false: a
    * corpus doc whose id happens to collide with an eval id must not
    * silently lose that hit.
    */
  def semanticContamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double
  ): DataFrame =
    Similarity.rangeSearch(corpus, benchmark, idCol, vecCol, tau, selfExclude = false)
      .groupBy(col("vec_id").as(idCol))
      .agg(count(lit(1)).as("n_eval_hits"))
      .orderBy(col(idCol))

  /** Benchmark decontamination: corpus docs sharing at least
    * `minShared` word n-grams with any benchmark/eval document. The
    * benchmark side is tiny by nature → broadcast its distinct shingle
    * hashes; the corpus side is one explode + broadcast-hash-join +
    * keyed count — never a doc×doc comparison. Returns
    * (idCol, n_shared) for contaminated docs.
    */
  def contaminationHits(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minShared: Int = 1
  ): DataFrame = {
    val bench = broadcast(
      benchmark
        .select(explode(array_distinct(Dedup.shingleHashSet(col(textCol), n))).as("h"))
        .distinct()
    )
    corpus
      .select(col(idCol), explode(array_distinct(Dedup.shingleHashSet(col(textCol), n))).as("h"))
      .join(bench, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col(idCol))
  }

  /** C72: FUZZY benchmark decontamination — where [[contaminationHits]]
    * counts shared n-grams, this ranks (corpus doc, eval doc) pairs by
    * exact shingle-set Jaccard, the doc-level contamination score used
    * when an eval item may appear lightly paraphrased (GPT-3 appendix-C
    * style 13-gram overlap is the hit-count variant; this is the
    * set-similarity variant). Jaccard is compared in exact ppm —
    * `shared·10⁶ div (|A|+|B|−shared)` — so the ranking is
    * engine-reproducible.
    *
    * Plan: the eval side is tiny by nature → its exploded shingle
    * hashes broadcast; the corpus side is one explode + broadcast-hash
    * join + (doc, eval)-keyed count. Candidate pairs are bounded by
    * shared shingles (never |corpus|×|eval|), 8-byte hashes travel the
    * shuffle instead of shingle text, and the top-k is a
    * TakeOrderedAndProject, never a global sort.
    */
  def fuzzyContamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      topK: Int = 50
  ): DataFrame = {
    def shingled(df: DataFrame, as: String) = df.select(
      col(idCol).as(as),
      array_distinct(Dedup.shingleHashSet(col(textCol), n)).as("sh"))
    val cor = shingled(corpus, "doc_id")
      .select(col("doc_id"), size(col("sh")).cast("long").as("sz_a"), explode(col("sh")).as("h"))
    val ben = broadcast(
      shingled(benchmark, "eval_id")
        .select(col("eval_id"), size(col("sh")).cast("long").as("sz_b"), explode(col("sh")).as("h")))
    cor
      .join(ben, "h")
      .groupBy(col("doc_id"), col("eval_id"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("shared"))
      .select(
        col("doc_id"), col("eval_id"), col("shared"),
        expr("(shared * 1000000L) div (sz_a + sz_b - shared)").as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("doc_id"), col("eval_id"))
      .limit(topK)
  }

  /** C74: per-document n-gram NOVELTY against everything earlier in
    * the corpus order — the inverse view of dup_ngram_mass: what
    * fraction of a doc's distinct shingles has no earlier witness?
    * The curve curation teams use to decide corpus ordering and
    * diminishing-returns cutoffs (novelty collapsing toward 0 means
    * additional data is re-treading seen n-grams).
    *
    * Plan: a shingle is novel exactly in the doc where it FIRST
    * appears, so one (hash)-keyed min-doc aggregation assigns each
    * distinct shingle to its first doc; per-doc novel counts are then
    * a doc-keyed count of that assignment — two map-side-combined
    * shuffles over 8-byte hashes, never text, never doc×doc.
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val sh = df.select(
      col(idCol).cast("long").as("doc_id"),
      explode(array_distinct(Dedup.shingleHashSet(col(textCol), n))).as("h"))
    val perDoc = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val novel = sh.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    perDoc
      .join(novel, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr("(coalesce(n_novel, 0L) * 1000000L) div n_shingles").as("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  /** C33: per-stratum percentile quality gate — keep documents at or
    * above the `keepBp` (basis-points) percentile of `valueCol`
    * WITHIN their stratum (per-source / per-language thresholds are
    * the standard curation shape: one global cutoff over-prunes clean
    * sources and under-prunes noisy ones). The rank test is pure
    * integer arithmetic — `10000·(rank−1) ≥ keepBp·(n−1)` is
    * percent_rank ≥ keepBp/10000 without ever materializing a float —
    * and ties break on the id, so the kept set is bit-deterministic.
    * Plan: two windows over the SAME partition key (stratum) — one
    * sort-rank, one unordered count — Catalyst shares the single
    * keyed shuffle between them.
    */
  def percentileGate(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      valueCol: String,
      keepBp: Int = 2000
  ): DataFrame = {
    require(keepBp >= 0 && keepBp <= 10000, "keepBp is basis points 0-10000")
    val byStratum = Window.partitionBy(col(strataCol))
    df.select(col(idCol), col(strataCol), col(valueCol))
      .withColumn("rnk", row_number().over(byStratum.orderBy(col(valueCol), col(idCol))).cast("long"))
      .withColumn("n_stratum", count(lit(1)).over(byStratum).cast("long"))
      .withColumn(
        "keep",
        when(lit(10000L) * (col("rnk") - 1L) >= lit(keepBp.toLong) * (col("n_stratum") - 1L), 1L)
          .otherwise(0L)
      )
  }

  /** C34: corpus length histogram per stratum — fixed-width bins over
    * a numeric column, with doc counts and total mass per bin. The
    * one-pass profile a curation run consults before choosing length
    * cutoffs. Single map-side-combined aggregation on (stratum, bin);
    * bin ids are floor-division so the histogram is engine-exact.
    */
  def lengthHistogram(
      df: DataFrame,
      strataCol: String,
      valueCol: String,
      binWidth: Long = 200L
  ): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    df.groupBy(col(strataCol), floor(col(valueCol) / lit(binWidth)).as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col(valueCol)).as("sum_value"))
  }

  /** C47: per-doc duplicated-n-gram mass — the corpus-level
    * duplication signal from "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al. 2022, arXiv:2107.06499):
    * for every doc, the fraction (basis points) of its distinct word
    * n-grams that already occur in an EARLIER doc (first-seen =
    * min doc id per n-gram). Docs with fewer than n words carry no
    * n-grams and report 0.
    *
    * Shape at 100 TB: explode to (doc, shingle), one keyed agg for
    * first-seen per shingle, one keyed join back, one per-doc agg —
    * work is proportional to total shingle volume, never quadratic.
    * Production hashes the shingle first (`Dedup.shingleHashSet`) so
    * the shuffle carries 8 bytes/shingle; raw strings are kept here
    * for bit-exact oracle parity — the counts are identical either
    * way modulo 2^-64 collisions.
    */
  def dupNgramMass(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // 64-bit hashed shingles from the native kernel (one pass, no
    // per-shingle string materialization), hash-equivalent to string
    // shingles w.h.p. — the same discipline as ngramJaccardPairs,
    // whose string-based oracle passes on it. The first-seen shuffle
    // below then moves 8-byte longs, not n-word strings.
    // guard: the kernel hashes one whole-doc shingle for docs shorter
    // than n words (the set-similarity contract); here short docs
    // have ZERO n-grams
    val exploded = df
      .select(col(idCol).as("id"),
        when(size(split(Dedup.normalize(col(textCol)), " ")) >= n,
          array_distinct(Dedup.shingleHashSet(col(textCol), n)))
          .otherwise(array().cast("array<long>")).as("shs"))
      .select(col("id"), explode(col("shs")).as("sh"))
    // first-seen per shingle as a window min: ONE evaluation of the
    // shingle stream and no join-back (an agg + self-join would
    // re-generate every shingle a second time)
    val perDoc = exploded
      .withColumn("first_id", min(col("id")).over(Window.partitionBy(col("sh"))))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_ngrams"),
        sum(when(col("first_id") < col("id"), 1L).otherwise(0L)).as("n_dup"))
    df.select(col(idCol))
      .join(perDoc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_ngrams"), lit(0L)) > 0L,
          floor(coalesce(col("n_dup"), lit(0L)) * 10000L / col("n_ngrams")).cast("long"))
          .otherwise(0L).as("dup_bp"))
      .orderBy(col(idCol))
  }

  /** C58: duplicated-SPAN statistics — the exact-substring-dedup
    * signal of Lee et al. 2022 (arXiv:2107.06499 §4.1): for every
    * doc, how much of it is covered by token windows an EARLIER doc
    * already contains, and the LONGEST consecutive such run (the
    * span a clip-out dedup would remove). Unlike [[dupNgramMass]]
    * (distinct n-grams), this is positional: stride-1 windows at
    * every token position, runs detected with gaps-and-islands
    * (pos − row_number over shared positions).
    *
    * Scale: work ∝ token volume, never doc×doc — windows hash to 8
    * bytes in the kernel before any shuffle (string n-grams only in
    * the oracle, hash-equivalent w.h.p.); first-seen is a window min
    * over the hash key; the island detection and both per-doc aggs
    * run under ONE doc-keyed partitioning.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"),
        when(size(split(Dedup.normalize(col(textCol)), " ")) >= n,
          graft.functions.VecOps.shingle_hashes(
            split(Dedup.normalize(col(textCol)), " "), n))
          .otherwise(array().cast("array<long>")).as("shs"))
      .select(col("id"), posexplode(col("shs")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("sh"))
    // ONE doc-keyed aggregation computes all three signals: the island
    // detection (max consecutive shared run) folds over the sorted
    // shared positions in a codegen kernel
    // ([[graft.functions.VecOps.maxConsecRun]]) instead of a second
    // doc-keyed window sort + two more aggregations + a second join —
    // row-identical (parity spec in OptimizationParitySpec against the
    // gaps-and-islands reference in test-scope ParityFormulations).
    val perDoc = exploded
      .withColumn("first_id", min(col("id")).over(Window.partitionBy(col("sh"))))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("first_id") < col("id"), 1L).otherwise(0L)).as("dup_windows"),
        graft.functions.VecOps.max_consec_run(
          sort_array(collect_list(when(col("first_id") < col("id"), col("pos")))))
          .as("max_dup_run"))
    df.select(col(idCol))
      .join(perDoc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"))
      .orderBy(col(idCol))
  }

  /** C70: exact-substring CLIP-OUT dedup (Lee et al. 2022,
    * arXiv:2107.06499 §4 "ExactSubstr") — the TRANSFORM that
    * [[dupSpanStats]] only measures: every token covered by an
    * n-token window whose content an EARLIER doc already contains is
    * removed, and the cleaned document (identified by hash — the
    * text itself is reconstructable by re-running the projection) is
    * reported with its removal counts. This is the dedup mode that
    * keeps a document's unique prose while cutting the boilerplate /
    * quoted material wholesale dedup would either miss or
    * over-delete.
    *
    * Plan: shingle hashes (8-byte kernel output, never strings)
    * through ONE first-seen window over the hash key, shared window
    * starts explode into ≤ n covered token positions, one doc-keyed
    * distinct + collect of removed positions (bounded by doc length,
    * the sessionize state-size argument), and the kept-token
    * reconstruction is a per-row indexed-lambda filter. Work ∝
    * token volume; never doc×doc. First-seen via corpus-wide min
    * doc id — the [[dupSpanStats]] convention, hash-equivalent
    * w.h.p. to string comparison (2^-64-collision trade, documented
    * there).
    */
  def clipDedup(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val docs = df.select(col(idCol).as("id"), split(Dedup.normalize(col(textCol)), " ").as("__ws"))
    val exploded = docs
      .select(col("id"),
        when(size(col("__ws")) >= n,
          graft.functions.VecOps.shingle_hashes(col("__ws"), n))
          .otherwise(array().cast("array<long>")).as("shs"))
      .select(col("id"), posexplode(col("shs")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("sh"))
    // shared window STARTS fold straight into one sorted per-doc list;
    // the covered-position set and the kept-text rebuild run in one
    // interval-merge kernel ([[graft.functions.VecOps.clipOutKept]]) —
    // replacing the n-way sequence explode + DISTINCT shuffle +
    // collect_set + the interpreted per-token array_contains filter
    // (O(words·|removed|) per doc). Row-identical (parity spec in
    // OptimizationParitySpec against the exploded reference in
    // test-scope ParityFormulations).
    val removedStarts = exploded
      .withColumn("first_id", min(col("id")).over(Window.partitionBy(col("sh"))))
      .filter(col("first_id") < col("id"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    docs
      .join(removedStarts, Seq("id"), "left")
      .select(col("id").as(idCol), size(col("__ws")).cast("long").as("n_tokens"),
        graft.functions.VecOps.clip_out_kept(
          col("__ws"), coalesce(col("starts"), array().cast("array<long>")), n).as("__c"))
      .select(col(idCol), col("n_tokens"),
        col("__c.n_removed").as("n_removed"),
        md5(col("__c.clean").cast("binary")).as("clean_hash"))
      .orderBy(col(idCol))
  }

  /** C67: overlapping-window document chunking — the context-window
    * segmentation step ahead of embedding/indexing or long-document
    * training (each chunk carries `overlap = chunkTokens − stride`
    * tokens of its predecessor so no span is ever split without
    * context). Chunk starts sit at token offsets 0, stride, 2·stride…
    * while they fall inside the document; the final chunk may be
    * short. Chunks are identified by (doc, chunk_id, start, length,
    * md5-of-content) — the HASH rides downstream shuffles instead of
    * chunk text (the dedup_passages discipline; the text itself is
    * re-sliceable from the source by (start, length)).
    *
    * Plan: one per-row HOF projection + explode, work ∝ token volume
    * × (1 + overlap/chunk), ZERO shuffles — stream-compatible and
    * trivially partition-parallel at any corpus size.
    */
  def chunkOverlap(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 64,
      stride: Int = 48,
      sorted: Boolean = true // false for streaming inputs (no global sort on a stream)
  ): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1 && stride <= chunkTokens,
      s"need 1 <= stride <= chunkTokens; got chunkTokens=$chunkTokens stride=$stride")
    // materialized word-array column: a lambda referencing the raw
    // split expression re-runs the regex split per chunk (the
    // dup_ngram_mass defect class)
    val ws = col("__ws")
    val chunks = transform(
      // n >= 1 always (normalize of "" still yields one empty token),
      // so sequence() never sees a descending range
      sequence(lit(0), floor((size(ws) - 1) / stride).cast("int")),
      c => {
        val toks = slice(ws, c * stride + 1, lit(chunkTokens))
        struct(
          c.cast("long").as("chunk_id"),
          (c * stride + 1).cast("long").as("start_pos"),
          size(toks).cast("long").as("n_tokens"),
          md5(array_join(toks, " ").cast("binary")).as("chunk_hash"))
      })
    val base = df.select(col(idCol), split(Dedup.normalize(col(textCol)), " ").as("__ws"))
      .select(col(idCol), explode(chunks).as("c"))
      .select(col(idCol), col("c.chunk_id"), col("c.start_pos"), col("c.n_tokens"), col("c.chunk_hash"))
    if (sorted) base.orderBy(col(idCol), col("chunk_id")) else base
  }

  /** Sequence packing: concat-then-chunk assignment of documents to
    * fixed token-budget packs, sharded so the window never needs a
    * global sort — shard by pmod(id, shards), order by id within the
    * shard, pack = floor(preceding-cumsum / budget) (a document starts
    * in the pack where its first token lands; standard concat packing
    * semantics). One keyed shuffle per shard window; shards scale out.
    * Output schema is (idCol, n_tokens, shard, pack_id) — join back by
    * id to carry document payloads into the packs.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokensCol: Column,
      budget: Long,
      shards: Int = 16
  ): DataFrame = {
    require(budget > 0 && shards > 0, "budget and shards must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol)).rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), tokensCol.as("n_tokens"), pmod(col(idCol), lit(shards.toLong)).as("shard"))
      .withColumn("pack_id", floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / lit(budget)))
  }

  /** C40: per-source document cap — the web-corpus "domain cap" that
    * stops one crawl source from dominating the training mix. Keeps
    * the top `cap` docs per source by a priority column (quality score,
    * here length) with an id tiebreak; every doc comes back with its
    * rank and keep decision so the drop set is auditable. One hash
    * shuffle on the source key; hot sources are bounded by the cap
    * itself (the window only ranks, never collects a source to one
    * row).
    */
  def domainCap(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      priorityCol: Column,
      cap: Int
  ): DataFrame = {
    require(cap > 0, "cap must be positive")
    val w = Window.partitionBy(col(sourceCol)).orderBy(col("__prio").desc, col(idCol))
    df.select(col(idCol), col(sourceCol), priorityCol.as("__prio"))
      .withColumn("src_rank", row_number().over(w).cast("long"))
      .select(col(idCol), col(sourceCol), col("src_rank"),
        when(col("src_rank") <= cap, 1L).otherwise(0L).as("is_kept"))
      .orderBy(col(sourceCol), col("src_rank"))
  }

  /** C50: URL canonicalization — the key under which a web corpus
    * dedups fetches of the same page (the same article arrives as
    * `HTTP://Host:80/a/?utm_source=feed&b=2&a=1#frag` and
    * `https://host/a?a=1&b=2`). Pure codegen/HOF column chain, no
    * shuffle:
    *   - scheme + host lowercase (path/query case is significant per
    *     RFC 3986 — only the authority is case-insensitive);
    *   - default port stripped (:80 for http, :443 for https; any
    *     other port is meaningful and kept);
    *   - fragment dropped (client-side only, never sent to servers);
    *   - tracking params removed (utm_*, gclid, fbclid, ref), the
    *     rest SORTED so param order stops mattering;
    *   - one trailing slash stripped from non-root paths; an empty
    *     path becomes "/".
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val afterHost = regexp_replace(rest, "^[^/?]*", "")
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val rawPath = regexp_extract(afterHost, "^([^?]*)", 1)
    val path0 = when(rawPath === "", lit("/")).otherwise(rawPath)
    val path = when(length(path0) > 1, regexp_replace(path0, "/$", "")).otherwise(path0)
    val query = regexp_extract(afterHost, "\\?(.*)$", 1)
    val kept = filter(split(query, "&"),
      p => !(p.rlike("^(utm_[^=]*|gclid|fbclid|ref)=") || p === lit("")))
    val sortedQ = array_join(array_sort(kept), "&")
    concat(scheme, lit("://"), host, path,
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** C50 corpus form: canonical-URL dedup groups — per canonical URL
    * the fetch count and the canonical (minimum) doc id to keep. One
    * keyed agg shuffle on the canonical string.
    */
  def urlDedupGroups(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), canonicalizeUrl(col(urlCol)).as("url_canon"))
      .groupBy(col("url_canon"))
      .agg(count(lit(1)).as("n_fetches"), min(col(idCol)).as("keep_id"))
      .orderBy(col("url_canon"))

  /** C57: deterministic weighted sampling without replacement —
    * sequential Poisson sampling (Ohlsson 1998, the estimation-grade
    * weighted-sample scheme): rank every row by priority
    * hash(id) DIV weight and keep the k smallest, so inclusion odds
    * scale ∝ weight while the whole draw stays reproducible (no RNG
    * state — the hash IS the uniform variate, exactly the md5-bucket
    * discipline of [[stratifiedSample]]).
    *
    * Scale: priorities are a pure projection; the global k-smallest
    * runs as TakeOrderedAndProject (k candidates per partition cross
    * the shuffle, never a full sort — same plan lock as
    * text_bigrams_top).
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int
  ): DataFrame = {
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long")
    df.select(
        col(idCol),
        col(weightCol).cast("long").as("weight"),
        (h.cast("long")).as("h"))
      .withColumn("priority", expr("h DIV greatest(weight, 1L)"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
      .select(col(idCol), col("weight"), col("priority"))
      .orderBy(col(idCol))
  }

  /** C55: temperature-scaled mixture allocation with EXACT budget
    * apportionment — the "how many docs from each source" decision a
    * multilingual/multi-domain training mix makes (α=0.5 temperature
    * sampling, the mT5/XLM-R convention: weight ∝ √count flattens
    * head domains without drowning the tail).
    *
    * Exactness: w = floor(sqrt(count)) is cross-engine exact because
    * IEEE-754 sqrt is correctly rounded in both engines; everything
    * after is integer — base_i = (B·w_i) DIV Σw, and the leftover
    * R = B − Σ base (< #strata) goes to the R largest remainders
    * (largest-remainder apportionment, stratum-name tiebreak), so
    * Σ alloc == B exactly, not approximately.
    *
    * Scale: one keyed count agg; the remainder rank runs through
    * [[Analytics.globalRowNumber]] (binned parallel rank), so
    * millions of strata (web hosts) never serialize into one window
    * task; scalars (Σw, Σbase) broadcast as 1-row frames.
    */
  def temperatureAllocate(
      df: DataFrame,
      strataCol: String,
      budget: Long
  ): DataFrame = {
    // "wgt" not "w": globalRowNumber's broadcast stats frame carries
    // its own bin-width column named w
    val counts = df.groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("docs"))
      .withColumn("wgt", floor(sqrt(col("docs").cast("double"))).cast("long"))
    val tot = counts.agg(sum(col("wgt")).as("tw"))
    // checkpointed: the remainder sum and the rank's three passes read it
    val based = counts
      .crossJoin(broadcast(tot))
      .withColumn("base", expr(s"(${budget}L * wgt) DIV tw"))
      .withColumn("rem", expr(s"(${budget}L * wgt) % tw"))
      .localCheckpoint()
    val left = based.agg((lit(budget) - sum(col("base"))).as("r"))
    Analytics
      .globalRowNumber(based, col("rem"), descending = true, Seq(col("stratum")))
      .crossJoin(broadcast(left))
      .withColumn("alloc", col("base") + when(col("rn") <= col("r"), 1L).otherwise(0L))
      .select(col("stratum"), col("docs"), col("wgt").as("w"), col("alloc"))
      .orderBy(col("stratum"))
  }

  /** C76 (curate_corpus_v2): the END-TO-END curation pipeline as ONE
    * plan — the composition a real training-data run actually
    * executes, threading the suite's own stages in production order:
    * exact-substring clip-out dedup (C70, Lee et al. §4) → fuzzy
    * decontamination against the eval set (C72) → per-stratum
    * quality gate on the CLEANED length (C33 — the gate reads what
    * dedup left, not raw length) → sqrt-temperature mixture
    * allocation over the survivors (C55) → deterministic per-stratum
    * down-selection to the allocation → shard shuffle manifest (C60).
    * The output is the per-shard training-manifest card; its
    * order-sensitive checksums witness the doc-id SET every stage
    * produced, so membership drift anywhere in the pipeline fails the
    * oracle.
    *
    * Plan: the three text-derived signals (token counts, clip-removed
    * counts, contamination flags) each read ONE pruned column scan of
    * the source and fold straight into per-doc longs; their join — the
    * doc-count-sized signal frame of (id, stratum, kept_tokens) — is
    * localCheckpointed, so every stage after it (gate, allocation,
    * selection, shard card) reads materialized 24-byte rows and the
    * FINAL executed plan contains zero parquet scans (plan-locked).
    * Materializing the signals rather than the shingle arrays is
    * deliberate: the shingles are ~16 bytes/word (≈3× the compressed
    * text) and checkpointing them measured SLOWER than re-scanning the
    * column store per signal — the signals are 3 longs/doc at any
    * corpus size. Clip first-seen is one hash-keyed window over
    * exploded 8-byte shingle hashes; decontamination broadcasts the
    * eval side (never corpus×eval); the allocation frame is
    * strata-sized and broadcasts back; the shard card aggregation is
    * map-side combined.
    */
  def curatePipeline(
      df: DataFrame,
      idCol: String,
      textCol: String,
      strataCol: String,
      evalCol: Column,
      clipN: Int = 8,
      decontamN: Int = 3,
      decontamTauPpm: Long = 150000L,
      keepBp: Int = 2000,
      budget: Long = 200L,
      nShards: Int = 8
  ): DataFrame = {
    val ws = split(Dedup.normalize(col(textCol)), " ")
    val corpus = df.filter(!evalCol)
    // C70: tokens covered by a window an earlier doc already contains;
    // short docs carry no clip windows (clipDedup's convention)
    val removed = corpus
      .select(col(idCol).cast("long").as("id"),
        when(size(ws) >= clipN, graft.functions.VecOps.shingle_hashes(ws, clipN))
          .otherwise(array().cast("array<long>")).as("sh_clip"))
      .select(col("id"), posexplode(col("sh_clip")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("sh"))
      .withColumn("first_id", min(col("id")).over(Window.partitionBy(col("sh"))))
      .filter(col("first_id") < col("id"))
      // covered-token count via the interval-merge kernel over sorted
      // shared starts (the clipDedup r12 shape) — no clipN-way
      // sequence explode, no DISTINCT shuffle; identical count
      .groupBy(col("id"))
      .agg(graft.functions.VecOps.covered_count(
        sort_array(collect_list(col("pos"))), clipN).as("n_removed"))
    // C72: any eval doc within the fuzzy-Jaccard radius contaminates;
    // short docs carry a whole-text shingle (shingleHashSet's convention)
    def dcShingled(src: DataFrame, as: String) = src.select(
      col(idCol).cast("long").as(as),
      array_distinct(Dedup.shingleHashSet(col(textCol), decontamN)).as("sh"))
    val ben = broadcast(dcShingled(df.filter(evalCol), "eval_id")
      .select(col("eval_id"), size(col("sh")).cast("long").as("sz_b"), explode(col("sh")).as("h")))
    val contaminated = dcShingled(corpus, "id")
      .select(col("id"), size(col("sh")).cast("long").as("sz_a"), explode(col("sh")).as("h"))
      .join(ben, "h")
      .groupBy(col("id"), col("eval_id"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") * 1000000L >= lit(decontamTauPpm) * (col("sz_a") + col("sz_b") - col("shared")))
      .select(col("id"))
      .distinct()
    val sig = corpus
      .select(col(idCol).cast("long").as("id"), col(strataCol).as("stratum"),
        size(ws).cast("long").as("n_tokens"))
      .join(removed, Seq("id"), "left")
      .join(contaminated, Seq("id"), "left_anti")
      .select(col("id"), col("stratum"),
        (col("n_tokens") - coalesce(col("n_removed"), lit(0L))).as("kept_tokens"))
      .localCheckpoint()
    // C33 on the cleaned length; C55 over what the gate kept.
    // Checkpointed: the survivors feed the allocation (which reads its
    // input ~4× across tot/left/rank passes) AND the down-selection —
    // unchecked, the gate window re-executed ~5× and the final plan
    // carried every copy (24-byte rows, gate-surviving cardinality).
    val kept = percentileGate(sig, "id", "stratum", "kept_tokens", keepBp)
      .filter(col("keep") === 1L)
      .select(col("id"), col("stratum"), col("kept_tokens"))
      .localCheckpoint()
    val alloc = temperatureAllocate(kept, "stratum", budget)
      .select(col("stratum"), col("alloc"))
    // deterministic per-stratum down-selection to the allocation: rank
    // by an id-derived hash (stratifiedSample discipline, never rand())
    val hm = conv(substring(md5(concat(col("id").cast("string"), lit(":m"))), 1, 8), 16, 10)
      .cast("long")
    val sel = kept
      .withColumn("hm", hm)
      .withColumn("srn",
        row_number().over(Window.partitionBy(col("stratum")).orderBy(col("hm"), col("id"))).cast("long"))
      .join(broadcast(alloc), Seq("stratum"))
      .filter(col("srn") <= col("alloc"))
      .select(col("id"), col("kept_tokens"))
    // C60: the shard manifest of the final selection
    shuffleShards(sel, "id", "kept_tokens", nShards)
  }

  /** C60: deterministic global shuffle into training shards — the
    * last step of every corpus pipeline: assign each doc to one of
    * `nShards` output files and fix a pseudo-random ORDER within the
    * shard, with no RNG state (both keys are md5-derived, the
    * [[stratifiedSample]]/[[weightedSample]] discipline), so a re-run
    * or a resumed job produces byte-identical shards.
    *
    * Shard = h(id, "s") mod n; intra-shard position = rank of
    * (h(id, "p"), id) — independent salts so shard membership and
    * order don't correlate. The returned card proves BOTH decisions
    * cross-engine: per shard the doc count, char mass, the first/last
    * doc ids in shuffle order, and an order-sensitive checksum
    * Σ rn·(id mod 1000003) that any off-by-one in the permutation
    * breaks.
    *
    * Scale: the per-shard window IS the shard writer's sort — one
    * hash shuffle on shard id then an in-partition sort, exactly
    * what `repartition(shard).sortWithinPartitions(pos)` does when
    * the real writer dumps shards to parquet; shard count is chosen
    * so a shard fits an executor (docs/nShards rows), and the card
    * aggregation is map-side-combined per shard.
    */
  def shuffleShards(
      df: DataFrame,
      idCol: String,
      sizeCol: String,
      nShards: Int
  ): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val hs = conv(substring(md5(concat(col(idCol).cast("string"), lit(":s"))), 1, 8), 16, 10).cast("long")
    val hp = conv(substring(md5(concat(col(idCol).cast("string"), lit(":p"))), 1, 8), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("pos"), col(idCol))
    df.select(col(idCol), col(sizeCol).cast("long").as("sz"),
        (hs % nShards).as("shard"), hp.as("pos"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("sz")).as("total_size"),
        min_by(col(idCol), struct(col("pos"), col(idCol))).as("first_id"),
        max_by(col(idCol), struct(col("pos"), col(idCol))).as("last_id"),
        sum(col("rn") * (col(idCol) % 1000003L)).as("order_checksum"))
      .orderBy("shard")
  }

  /** C78: per-domain curation report — the table a data-quality owner
    * reads before deciding which sources to keep, cap ([[domainCap]])
    * or drop: docs, size, short-doc share, and the CORPUS-GLOBAL
    * duplicate share attributed per domain (a copy counts as dup even
    * when its first witness lives in another domain — domain-local
    * dup rates systematically undercount mirror sites). Identity is
    * the whitespace-normalized text, first witness = min(doc id), the
    * [[Dedup.exact]] convention; shares are exact integer basis
    * points.
    *
    * Plan: one corpus scan projects (id, domain, len, norm-hash);
    * first witnesses come from one hash-keyed aggregate joined back
    * KEYED on the hash (two shuffles of slim rows — the 16-byte
    * dedup-index row shape, never the text); the report itself is a
    * |domains|-bounded aggregate. Text leaves the scan only as a
    * 16-byte md5.
    */
  def domainQualityReport(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      textCol: String,
      shortMaxChars: Long = 200L
  ): DataFrame = {
    val base = df.select(
      col(idCol).as("id"),
      col(domainCol).as("domain"),
      length(col(textCol)).cast("long").as("n_chars"),
      md5(Dedup.normalize(col(textCol))).as("h"))
    val first = base.groupBy(col("h")).agg(min(col("id")).as("first_id"))
    base.join(first, Seq("h"))
      .groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        expr("sum(n_chars) DIV count(1)").as("mean_chars"),
        expr(s"10000 * sum(CASE WHEN n_chars <= $shortMaxChars THEN 1 ELSE 0 END) DIV count(1)")
          .as("short_bp"),
        expr("10000 * sum(CASE WHEN id != first_id THEN 1 ELSE 0 END) DIV count(1)").as("dup_bp"))
      .orderBy(col("domain"))
  }

  /** C105: cross-snapshot corpus diff card — the curation owner's
    * standing question after every corpus rebuild: which documents
    * changed between v1 and v2 and WHY. Each snapshot is a keyed frame
    * of (id, content hash, gate decision, source); ONE full-outer join
    * on the id classifies every document exactly once:
    *
    *   - `added`     in v2 only
    *   - `removed`   in v1 only
    *   - `edited`    in both, content hash differs
    *   - `regated`   in both, same content, gate decision flipped
    *                 (a policy change, not a data change)
    *   - `unchanged` in both, same content, same gate
    *
    * Output is |sources|-bounded: per-source category counts plus a
    * membership checksum over the changed ids (sum of doc ids in
    * added/removed/edited/regated — the same order-free witness the
    * curate cards use), so two runs disagreeing on WHICH docs changed
    * can't agree on the card.
    *
    * Scale: both snapshots shuffle once on the 8-byte id (sort-merge;
    * neither side broadcasts — at 100 TB both snapshots ARE the
    * corpus), then one |sources|-keyed agg; no window, no driver work.
    */
  def corpusDiff(
      v1: DataFrame,
      v2: DataFrame,
      idCol: String,
      hashCol: String,
      gateCol: String,
      srcCol: String
  ): DataFrame = {
    val a = v1.select(col(idCol).as("id"), col(hashCol).as("h1"),
      col(gateCol).cast("long").as("g1"), col(srcCol).as("s1"))
    val b = v2.select(col(idCol).as("id"), col(hashCol).as("h2"),
      col(gateCol).cast("long").as("g2"), col(srcCol).as("s2"))
    val cat = when(col("h1").isNull, "added")
      .when(col("h2").isNull, "removed")
      .when(col("h1") =!= col("h2"), "edited")
      .when(col("g1") =!= col("g2"), "regated")
      .otherwise("unchanged")
    a.join(b, Seq("id"), "full_outer")
      .select(coalesce(col("s2"), col("s1")).as("source"), cat.as("cat"), col("id"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("cat") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("cat") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("cat") === "edited", 1L).otherwise(0L)).as("n_edited"),
        sum(when(col("cat") === "regated", 1L).otherwise(0L)).as("n_regated"),
        sum(when(col("cat") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
        sum(when(col("cat") =!= "unchanged", col("id")).otherwise(0L)).as("chk_changed_ids"))
      .orderBy(col("source"))
  }

  /** C106: per-stratum weighted top-k sample — eval-set construction's
    * standard draw: within every stratum (language, domain), k docs
    * with inclusion odds ∝ weight, deterministic across runs. The
    * priority is [[weightedSample]]'s sequential-Poisson key
    * (hash(id) DIV weight — the md5 IS the uniform variate), ranked
    * WITHIN the stratum instead of globally, so the two draws agree
    * on every shared member (spec-pinned).
    *
    * Scale: the rank<=k filter compiles to WindowGroupLimit
    * (Spark 3.5+), so each map task forwards only its own per-stratum
    * top-k into the stratum shuffle — a million-doc stratum never
    * sorts whole; plan-locked in PlanSpec.
    */
  def weightedSampleStratified(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      weightCol: String,
      kPerStratum: Int
  ): DataFrame = {
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long")
    val w = Window.partitionBy(col("stratum")).orderBy(col("priority"), col(idCol))
    df.select(
        col(idCol),
        col(strataCol).as("stratum"),
        col(weightCol).cast("long").as("weight"),
        h.as("h"))
      .withColumn("priority", expr("h DIV greatest(weight, 1L)"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= kPerStratum)
      .select(col("stratum"), col(idCol), col("weight"), col("priority"), col("rn"))
      .orderBy(col("stratum"), col("rn"))
  }
}
