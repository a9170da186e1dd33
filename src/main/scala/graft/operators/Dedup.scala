package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

/** Deduplication family for training-data prep at 100 TB.
  *
  * Four tiers, cheapest-first — the intended pipeline runs them in
  * order so each tier only sees what the previous one kept:
  *   1. [[exact]] — hash group-by, one shuffle on a 16-byte key.
  *   2. [[minhashLshPairs]] — MinHash + banded LSH; the self-join runs
  *      on (band, bucket) keys, NEVER a cross join, so candidate
  *      generation is linear-ish in corpus size at any scale.
  *   3. [[simhashPairs]] — 64-bit SimHash with pigeonhole banding for
  *      Hamming ≤ maxHamming.
  *   4. [[ngramJaccardPairs]] — exact pairwise verification; quadratic,
  *      only ever applied inside candidate blocks (or small corpora —
  *      it doubles as the oracle-checkable baseline).
  *
  * Everything is built from codegen'd `functions._` expressions — no
  * UDFs anywhere in the hot path.
  */
object Dedup {

  /** Content normalization shared by all tiers: lowercase, collapse
    * whitespace runs, trim, as one byte-scan kernel
    * (byte-exact with `trim(regexp_replace(lower(c), "\\s+", " "))` —
    * see [[graft.functions.VecOps.normalizeWs]]). Every text operator
    * normalizes through HERE; two drifting copies would silently
    * desynchronize dedup surfaces.
    */
  def normalize(c: Column): Column = graft.functions.VecOps.normalize_ws(c)

  /** The 16-byte (binary, not hex-string) content identity every
    * exact-dedup surface keys on — ONE implementation on purpose:
    * batch probes, index builds, and streaming state must agree
    * byte-for-byte or dedup silently finds nothing.
    */
  def contentHash(c: Column): Column = unhex(md5(normalize(c)))

  /** Guard every hash-index consumer: a legacy index whose `h` is the
    * old 32-char hex STRING would implicitly cast against binary
    * probe hashes and match NOTHING — every duplicate silently
    * admitted. Fail loudly instead and name the migration.
    */
  private[graft] def requireBinaryHashIndex(index: DataFrame): Unit = {
    val t = index.schema.apply("h").dataType
    require(t == org.apache.spark.sql.types.BinaryType,
      s"hash index column 'h' is $t, expected BINARY — this looks like a legacy " +
        "hex-string index; rebuild it with buildHashIndex (contentHash is now 16 raw bytes)")
  }

  /** 64-bit hashes of the word n-gram shingles of normalized text —
    * the native kernel form every dedup tier consumes (HOF string
    * shingling costs ~18µs/shingle interpreted; this is ~50x cheaper
    * and hash-equivalent w.h.p.). Not deduplicated; callers
    * `array_distinct` as needed.
    */
  def shingleHashSet(c: Column, n: Int): Column =
    graft.functions.VecOps.shingle_hashes(split(normalize(c), " "), n)

  /** Distinct word n-gram shingles of normalized text. */
  def wordShingles(c: Column, n: Int): Column = {
    val words = split(normalize(c), " ")
    when(
      size(words) >= n,
      array_distinct(
        transform(sequence(lit(0), size(words) - n), i => array_join(slice(words, i + 1, lit(n)), " "))
      )
    ).otherwise(array(array_join(words, " ")))
  }

  /** C1: exact dedup. Group by a 128-bit content hash (shuffles the
    * hash, not the document), keep the smallest id per group.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), contentHash(col(textCol)).as("__h"))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_dups"))
      .select(col("kept_id"), col("n_dups"))
      .orderBy(col("kept_id"))

  /** C88: SOFT dedup — reweight duplicates instead of dropping them
    * (SoftDeDup, Xue et al. 2024; also the "count-normalize" option in
    * CCNet-style pipelines): every member of an exact-duplicate
    * cluster keeps a training weight of 1/cluster_size, so the
    * CONTENT's total contribution to the loss is constant no matter
    * how many copies crawl brought in, while intra-cluster variation
    * upstream normalization erased (casing, whitespace) still
    * surfaces. The hard-dedup decision (C1) is recoverable from the
    * output: keep rows with is_canonical = 1.
    *
    * Returns per input doc: (idCol, cluster_size, weight_ppm =
    * 10^6 DIV cluster_size — exact integer, no float weights in a
    * result contract, sums reconstruct corpus mass to ±1ppm/doc,
    * is_canonical = 1 on the min-id member).
    *
    * Plan shape: one keyed agg on the 128-bit content hash (map-side
    * combined — the shuffle carries 16-byte hashes + two longs, never
    * text) and one hash-keyed join back to the (id, hash) frame.
    * Cluster sizes are corpus-global, so this can't be a window over
    * anything smaller; at 100 TB both exchanges move |corpus| × ~32
    * bytes, the same bound as exact dedup itself.
    */
  def softDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(col(idCol), contentHash(col(textCol)).as("__h"))
    val clusters = hashed
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("cluster_size"), min(col(idCol)).as("__keep"))
    hashed
      .join(clusters, Seq("__h"))
      .select(
        col(idCol),
        col("cluster_size"),
        expr("1000000 DIV cluster_size").as("weight_ppm"),
        when(col(idCol) === col("__keep"), lit(1L)).otherwise(lit(0L)).as("is_canonical"))
      .orderBy(col(idCol))
  }

  /** C24: corpus-level exact passage dedup — the practical form of
    * exact-substring deduplication a pre-training pipeline runs: chop
    * every document into consecutive NON-overlapping `window`-word
    * passages, find passages occurring in ≥2 distinct documents, and
    * report per document how much of it is globally duplicated
    * material. Returns (idCol, n_passages, n_dup_passages,
    * dup_passage_bp) — basis points of duplicated passages, the usual
    * drop/trim threshold input.
    *
    * Plan shape: a per-row `transform(sequence)` chops passages with
    * no explode until the corpus-wide stage; "occurs in ≥2 distinct
    * docs" is `min(id) != max(id)` over an unordered window on the
    * 128-bit passage hash — ONE pass over the exploded frame, one
    * shuffle on the hash, one on the doc id. No self-join (which would
    * re-scan and re-hash the corpus) and no per-passage id collection
    * (which a hot boilerplate passage would blow up at 100 TB: min/max
    * stay O(1) per key however many docs share the passage).
    */
  def passageDupStats(df: DataFrame, idCol: String, textCol: String, window: Int = 8): DataFrame = {
    require(window >= 2, "passage window must be at least 2 words")
    // passage identity via the shingle-hash kernel: overlapping
    // window-gram hashes at stride `window` ARE the non-overlapping
    // passages (element i*window+1 hashes words [i*window,
    // i*window+window)). Hash-equivalent to the md5-of-joined-words
    // form w.h.p. (ngramJaccardPairs discipline), and the first-seen
    // shuffle moves 8-byte longs instead of 32-char digests. The hash
    // array and passage count materialize in their OWN projection —
    // referenced inline from the transform lambda they would
    // re-evaluate once per passage (the C47 lambda-inlining trap).
    val w = split(normalize(col(textCol)), " ")
    val base = df.select(
      col(idCol),
      graft.functions.VecOps.shingle_hashes(w, window).as("__hs"),
      floor(size(w) / window).cast("int").as("__np"))
    val passages = transform(
      sequence(lit(0), col("__np") - 1),
      i => element_at(col("__hs"), i * window + 1)
    )
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("ph"))
    base.select(col(idCol), explode(when(col("__np") > 0, passages).otherwise(array().cast("array<long>"))).as("ph"))
      .withColumn(
        "isdup",
        (min(col(idCol)).over(byHash) =!= max(col(idCol)).over(byHash)).cast("long")
      )
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_passages"),
        sum(col("isdup")).as("n_dup_passages")
      )
      .withColumn("dup_passage_bp", floor(lit(10000L) * col("n_dup_passages") / col("n_passages")))
      .orderBy(col(idCol))
  }

  /** Docs above which [[ngramJaccardPairs]] and [[containmentPairs]]
    * switch their prefix ordering from exact-df window sorts to the
    * Count-Min sketch path ([[dfRanked]]): the sketch build is one
    * extra (fixed-cost) job, a loss on small corpora and a large win
    * once the posting list dwarfs it (measured break-even ~30–50k
    * docs; 2× at 500k).
    */
  private[graft] val sketchDfMinDocs: Long = 32768L

  // -------------------------------------------------------------------
  // The candidate → verify stages the set and vector pair operators
  // share: the set projections, the df-ranked postings their prefix
  // joins read, and the exact verify of a candidate (id_a, id_b) list
  // against the two sides' rows, fetched by id.

  /** (id, hs, nsh): the sorted distinct shingle-hash set of each doc
    * and its size.
    */
  private def shingleSets(df: DataFrame, id: Column, textCol: String, n: Int): DataFrame =
    df.select(id.as("id"), array_sort(array_distinct(shingleHashSet(col(textCol), n))).as("hs"))
      .withColumn("nsh", size(col("hs")).cast("long"))

  /** [[shingleSets]] plus `sk`, the [[containSketchK]]-entry KMV sketch
    * the containment screen reads.
    */
  private def sketchedSets(df: DataFrame, id: Column, textCol: String, n: Int): DataFrame =
    shingleSets(df, id, textCol, n)
      .withColumn("sk", graft.functions.VecOps.kmv_sketch16(col("hs"), containSketchK))

  /** A set's own-size prefix length under threshold τ, |s| − ⌈τ|s|⌉ + 1,
    * in Long integer math over the `nsh` column.
    */
  private def prefixLen(tauPct: Int): Column =
    col("nsh") - expr(s"((nsh * $tauPct) + 99) div 100") + 1L

  /** Postings (h, id, nsh, rk) of the (id, hs, nsh) sets `sh`, with rk
    * the shingle's 1-based rank in its doc under one CONSISTENT global
    * (df, h) order — the prefix theorem holds under any consistent
    * order; df-ascending is what makes prefixes selective. Two ways to
    * get it, picked by corpus size (`forceSketch` pins one):
    *   - small — exact df via two window passes over the posting
    *     list; every posting is ranked;
    *   - large — a Count-Min df sketch from one mergeable map-side
    *     aggregation, broadcast to the caller's per-row `kernel`,
    *     whose output array is in the shared order, so its positions
    *     ARE the ranks and not one posting row crosses a window. Sketch
    *     overestimates only shift candidate volume, never lose a pair;
    *     rare-vs-common separation survives ~N/width estimate noise.
    */
  private def dfRanked(sh: DataFrame, nDocs: Long, forceSketch: Option[Boolean])(
      kernel: org.apache.spark.broadcast.Broadcast[Array[Byte]] => Column): DataFrame =
    if (forceSketch.map(!_).getOrElse(nDocs < sketchDfMinDocs)) {
      val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      val wId = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("df"), col("h"))
      sh.select(col("id"), col("nsh"), explode(col("hs")).as("h"))
        .withColumn("df", count(lit(1)).over(wDf))
        .withColumn("rk", row_number().over(wId))
        .select(col("h"), col("id"), col("nsh"), col("rk"))
    } else {
      // the 32 MB grid ships as a BROADCAST (once per executor via the
      // block manager), never as a plan literal in every task binary
      val cms = sh.sparkSession.sparkContext.broadcast(
        graft.functions.CountMin.build(
          sh.select(explode(col("hs")).as("h")), "h", depth = 4, width = 1 << 20))
      sh.select(col("id"), col("nsh"), posexplode(kernel(cms)).as(Seq("pos", "h")))
        .select(col("h"), col("id"), col("nsh"), (col("pos") + 1L).as("rk"))
    }

  /** The (id_a, id_b) rows of `cands` with each column in `cols`
    * fetched by id from both sides — `c_a` from `a`, `c_b` from `b` —
    * in two id-keyed joins. `a` and `b` carry an `id` column.
    */
  private def bothSides(cands: DataFrame, a: DataFrame, b: DataFrame, cols: String*): DataFrame = {
    def side(f: DataFrame, s: String): DataFrame =
      f.select(col("id").as(s"id_$s") +: cols.map(c => col(c).as(s"${c}_$s")): _*)
    cands.join(side(a, "a"), "id_a").join(side(b, "b"), "id_b")
  }

  /** Distinct (id_a, id_b) pairs of an `a` row and a `b` row equal on
    * every `keys` column, with `ids` holding between their ids (`<` for
    * a self-join, `=!=` for a batch against an index): a keyed join,
    * never a cross join.
    */
  private def sharedKeyPairs(
      a: DataFrame, b: DataFrame, keys: Seq[String], ids: (Column, Column) => Column): DataFrame =
    a.alias("a")
      .join(b.alias("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) && ids(col("a.id"), col("b.id")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** Exact Jaccard verify of candidate pairs over the sorted `hs` sets
    * of `a` and `b`: (id_a, id_b, jacc_pct) for 100·|∩| ≥ τ·|∪|, pure
    * integer threshold math (bit-for-bit reproducible on any engine),
    * sorted by (id_a, id_b).
    */
  private[graft] def exactJaccard(cands: DataFrame, a: DataFrame, b: DataFrame, tauPct: Int): DataFrame =
    bothSides(cands, a, b, "hs")
      .withColumn("i", graft.functions.VecOps.sorted_intersect_count(col("hs_a"), col("hs_b")))
      .withColumn("u", (size(col("hs_a")) + size(col("hs_b"))).cast("long") - col("i"))
      .filter(col("i") * 100 >= col("u") * tauPct)
      .select(col("id_a"), col("id_b"), floor(col("i") * lit(100.0) / col("u")).as("jacc_pct"))
      .orderBy(col("id_a"), col("id_b"))

  /** Candidate pairs flagged `keep` by the KMV containment screen
    * ([[graft.functions.VecOps.kmvContainScreen]]) over the `sk` and
    * `nsh` of `a` and `b`: (id_a, id_b, keep).
    */
  private def kmvScreen(cands: DataFrame, a: DataFrame, b: DataFrame, tauPct: Int): DataFrame =
    bothSides(cands, a, b, "sk", "nsh")
      .select(col("id_a"), col("id_b"), graft.functions.VecOps.kmv_contain_screen(
        col("sk_a"), col("nsh_a"), col("sk_b"), col("nsh_b"), tauPct).as("keep"))

  /** Exact containment verify of candidate pairs over the (hs, nsh) of
    * `a` and `b`, after the KMV screen unless `screen` is off:
    * (id_a, id_b, cont_pct) for 100·|∩| ≥ τ·|smaller|, sorted by
    * (id_a, id_b). The screen moves candidate volume, not rows.
    */
  private[graft] def exactContainment(
      cands: DataFrame, a: DataFrame, b: DataFrame, tauPct: Int, screen: Boolean): DataFrame = {
    val kept =
      if (screen) kmvScreen(cands, a, b, tauPct).filter(col("keep")).select(col("id_a"), col("id_b"))
      else cands
    bothSides(kept, a, b, "hs", "nsh")
      .withColumn("i", graft.functions.VecOps.sorted_intersect_count(col("hs_a"), col("hs_b")))
      .filter(col("i") * 100 >= least(col("nsh_a"), col("nsh_b")) * tauPct)
      .select(col("id_a"), col("id_b"),
        floor(col("i") * lit(100.0) / least(col("nsh_a"), col("nsh_b"))).as("cont_pct"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** (candidates, kept) of a flagged (id_a, id_b, keep) pair list, in
    * one job: the instrumentation of a screen.
    */
  private def keptCounts(flagged: DataFrame): (Long, Long) = {
    val row = flagged.agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L))).collect()(0)
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** (id, v, nrm) plus `extra`: the vectors and norms every cosine
    * operator verifies from.
    */
  private def vectors(df: DataFrame, idCol: String, vecCol: String, extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as("id"), col(vecCol).as("v"), Similarity.norm(col(vecCol)).as("nrm")) ++ extra: _*)

  /** Exact double-precision cosine verify of candidate pairs over the
    * (v, nrm) of `a` and `b`: (id_a, id_b) with cos ≥ τ, unordered.
    */
  private[graft] def exactCosine(cands: DataFrame, a: DataFrame, b: DataFrame, tau: Double): DataFrame =
    bothSides(cands, a, b, "v", "nrm")
      .filter(Similarity.dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")) >= tau)
      .select(col("id_a"), col("id_b"))

  /** C49: CONTAINMENT near-dup pairs — overlap / |smaller set| ≥ τ.
    * Catches what Jaccard structurally cannot: a document CONTAINING
    * another (quote pages, aggregator wrappers, doc+boilerplate) has
    * high containment but low Jaccard because the union is dominated
    * by the larger doc; there is deliberately NO size-ratio filter.
    *
    * Prefix theorem, containment form: for a qualifying pair the
    * SMALLER set S needs overlap α = ceil(τ|S|), so S's prefix of
    * |S| − α + 1 shingles (under the global df-ascending order) must
    * contain a common element — but the larger side's needed α
    * depends on its PARTNER's size, so its prefix cannot be bounded.
    * Hence the candidate join is prefix × FULL ranked posting list
    * (either side's prefix vs the other's full list finds the pair
    * via the smaller side). Positional filter stays lossless: the
    * FIRST common element under the shared order sits at ranks
    * (rka, rkb) with min(|A|−rka, |B|−rkb)+1 ≥ α for any qualifying
    * pair. Exact verify (sorted-merge intersect) decides every
    * surviving candidate — no false positives ever.
    *
    * Scale: every stage is a keyed shuffle; the full-side posting
    * list is long for common shingles but the prefix side holds only
    * each doc's RAREST shingles (df-ascending), so the per-key
    * product stays bounded. Past [[sketchDfMinDocs]] the rank comes
    * from the Count-Min df path — [[graft.functions.VecOps.df_order_sort]]
    * reorders each doc's array per-row under the shared (sketch-df, h)
    * order, so posexplode positions ARE the ranks and not one posting
    * row crosses a window (sketch overestimates only reorder
    * consistently, never lose a pair — the [[ngramJaccardPairs]]
    * argument verbatim; paths proven pair-identical in PipelineSpec).
    *
    * Measured honesty (sf10, 500k docs, n=3, τ=70): the cost is NOT
    * the rank build — it is CANDIDATE VERIFICATION. Without Jaccard's
    * size-ratio filter (deliberately absent — containment's point is
    * size-asymmetric pairs) the positional filter admits millions of
    * candidate pairs on this small-vocabulary synthetic corpus for
    * only 25.6k real pairs, and fetching two ~400-byte shingle arrays
    * per candidate dominated the round-8 profile (≈ 17 GB through the
    * verify joins, ~160s at local[32]). Two fixes bend that curve:
    *
    *  1. SMALLER-SIDE constraint in the candidate join (lossless):
    *     the theorem above needs a collision in the SMALLER set's
    *     prefix only, so join rows where the prefix side is the
    *     LARGER doc prove nothing — every qualifying pair is still
    *     found via its small-side row. `a.nsh < b.nsh` (id tiebreak)
    *     drops the entire wrong-direction candidate stream.
    *  2. KMV sketch screen before the array fetch
    *     ([[graft.functions.VecOps.kmvContainScreen]]): candidates
    *     fetch two [[containSketchK]]-entry truncated bottom-k
    *     sketches (128 bytes vs the full arrays), and a pair is
    *     rejected only when the exactly-decidable sample makes
    *     containment ≥ τ a < 1e-6-probability event. Survivors are
    *     still verified EXACTLY, so screening moves candidate volume,
    *     not semantics; the parity spec pins screened ≡ unscreened.
    *
    * The remaining scalable recourse when candidates explode is
    * raising n (Lee et al. use ~50-token windows for containment-class
    * dedup), a query-level parameter choice.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 3, tauPct: Int = 80): DataFrame =
    containmentPairsImpl(df, idCol, textCol, n, tauPct, forceSketch = None)

  /** Bottom-k sketch width for the containment screen: 64 truncated
    * 16-bit entries ([[graft.functions.VecOps.kmvSketch16]]) cost 128
    * bytes — ~3× lighter than shipping full shingle arrays — while
    * d ≈ 64 decidable samples give the binomial test sharp rejection
    * power (a τ=0.7 screen at d=64 rejects anything measuring m ≤ 27,
    * which kills essentially all candidates with true containment
    * below ~0.4).
    */
  private[graft] val containSketchK: Int = 64

  /** `forceSketch` pins the df-rank path for parity specs (None =
    * size-adaptive, the production rule); `screen = false` disables
    * the KMV pre-verify screen so specs can pin screened ≡ unscreened.
    */
  private[graft] def containmentPairsImpl(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tauPct: Int,
      forceSketch: Option[Boolean],
      screen: Boolean = true
  ): DataFrame = {
    val (sh, cands) = containmentCandidates(df, idCol, textCol, n, tauPct, forceSketch)
    exactContainment(cands, sh, sh, tauPct, screen)
  }

  /** The checkpointed (id, hs, nsh, sk) sets of [[containmentPairs]]
    * and their distinct (id_a, id_b) candidate pairs: the prefix × full
    * posting join with the positional filter AND the lossless
    * smaller-side constraint (prefix side must be the smaller doc —
    * see [[containmentPairs]] note 1).
    */
  private def containmentCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tauPct: Int,
      forceSketch: Option[Boolean]
  ): (DataFrame, DataFrame) = {
    // both join sides, the screen and the verify read the sets
    val (sh, nDocs) = Materialize.counted(sketchedSets(df, col(idCol), textCol, n))
    val ranked = dfRanked(sh, nDocs, forceSketch)(graft.functions.VecOps.df_order_sort(col("hs"), _))
    // own-size prefix: valid whenever this doc is the smaller side
    val prefix = ranked.filter(col("rk") <= prefixLen(tauPct))
    // a is the smaller side by construction, so α = ceil(τ·|a|)
    val alpha = expr(s"((`a`.nsh * $tauPct) + 99) div 100")
    val cands = prefix.alias("a")
      .join(ranked.alias("b"),
        col("a.h") === col("b.h") &&
          (col("a.nsh") < col("b.nsh") ||
            (col("a.nsh") === col("b.nsh") && col("a.id") < col("b.id"))) &&
          least(col("a.nsh") - col("a.rk"), col("b.nsh") - col("b.rk")) + 1L >= alpha)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    (sh, cands)
  }

  /** Candidate-volume instrumentation for [[containmentPairs]]:
    * (n_candidates, n_after_screen) — measures how many positional-
    * filter survivors the KMV screen rejects before any full-array
    * fetch, the number that decides whether the screen pays at a
    * given corpus shape. Runs the operator's own candidate and screen
    * stages.
    */
  private[graft] def containmentScreenStats(
      df: DataFrame, idCol: String, textCol: String, n: Int, tauPct: Int): (Long, Long) = {
    val (sh, cands) = containmentCandidates(df, idCol, textCol, n, tauPct, forceSketch = None)
    keptCounts(kmvScreen(cands, sh, sh, tauPct))
  }

  /** C2: exact n-gram Jaccard pairs at >= tauPct/100 similarity.
    * Thresholding uses pure integer math (100*|I| >= tau*|U|) so the
    * result is reproducible bit-for-bit on any engine.
    *
    * PPJoin-style prefix-filtered set-similarity join (exact, never
    * probabilistic): two sets with Jaccard >= τ MUST share at least
    * one element among each set's first (|s| - ⌈τ|s|⌉ + 1) elements
    * under any global total order — candidates therefore join only on
    * PREFIX postings (the rarest ~(1-τ) of each doc's shingles, in
    * global document-frequency order), then every candidate pair is
    * verified exactly with a sorted-merge intersection on the full
    * hash sets. Ordering rare-first makes the hottest shingles drop
    * out of the join entirely: the classic quadratic blowup on a
    * corpus-wide common trigram cannot happen. Every stage is a keyed
    * shuffle (df agg on hash, prefix rank on id, candidate join on
    * hash, verify joins on id) — no stage quadratic in corpus size.
    * Jaccard over 64-bit hashed shingles equals string-shingle
    * Jaccard w.h.p.
    *
    * Three tiers, all exact, all returning the same rows in the same
    * order with the same schema — (id_a, id_b, jacc_pct) sorted by
    * (id_a, id_b) — picked after the one checkpoint of the shingle
    * sets, whose job also counts the docs and their posting entries
    * (Σ|s|):
    *   1. driver — at most [[DriverMaxEdges]] posting entries, an
    *      integral id type, no id repeated, and at most
    *      [[DriverMaxEdges]] pairs within the prefix posting lists: the
    *      sets are collected once and the same filters (exact-df
    *      prefix, size, positional) and the same sorted-merge verify
    *      run in driver memory; the result is a local frame.
    *   2. exact-df window — above either gate (or for ids the driver
    *      cannot take) and below [[sketchDfMinDocs]] docs: df and
    *      prefix ranks come from two window passes over the postings.
    *   3. Count-Min — from [[sketchDfMinDocs]] docs: a df sketch and a
    *      per-row prefix kernel, no posting row through a window.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 3, tauPct: Int = 80): DataFrame =
    ngramJaccardPairs(df, idCol, textCol, n, tauPct, DriverMaxEdges, forceSketch = None)

  /** [[ngramJaccardPairs]] with explicit tiers: `driverMaxEdges = 0`
    * skips the driver tier for any corpus with a shingle, and
    * `forceSketch` pins the distributed tier (None = by doc count, the
    * production rule).
    */
  private[graft] def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tauPct: Int,
      driverMaxEdges: Long,
      forceSketch: Option[Boolean]
  ): DataFrame = {
    // every later stage reads the shingle sets
    val (sh, stats) = Materialize.observed(shingleSets(df, col(idCol), textCol, n),
      count(lit(1)).as("docs"), sum(col("nsh")).as("posts"))
    val posts = Option(stats("posts")).fold(0L)(_.asInstanceOf[Long])
    (if (posts <= driverMaxEdges) driverJaccardPairs(sh, tauPct, driverMaxEdges) else None)
      .getOrElse(distributedJaccardPairs(sh, stats("docs").asInstanceOf[Long], tauPct, forceSketch))
  }

  /** The driver tier of [[ngramJaccardPairs]] over the checkpointed
    * (id, hs) sets: one collect, then the distributed tiers' filters
    * and verify kernel in driver memory. None, before the collect, for
    * a non-integral id (Spark's order on it is not a Long order); after
    * it for a repeated id (the distributed verify pairs every copy of
    * an id with every copy of its partner, so its rows for that id are
    * not a function of one set per id); and, before any pair is
    * enumerated, when the prefix posting lists hold more than
    * `driverMaxEdges` pairs (Σ C(len, 2)): the posting gate bounds the
    * collect, not the pair work, which grows with the square of a
    * list — n copies of one template share every prefix shingle.
    */
  private def driverJaccardPairs(sh: DataFrame, tauPct: Int, driverMaxEdges: Long): Option[DataFrame] = {
    val idField = sh.schema("id")
    if (!Seq(ByteType, ShortType, IntegerType, LongType).contains(idField.dataType)) return None
    // a null id never pairs (id_a < id_b is null); a null text has no set
    val docs = sh.select(col("id"), col("hs")).collect().filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val ids = docs.map(_.getAs[Number](0).longValue)
    if (ids.distinct.length < ids.length) return None
    val hs = docs.map(_.getSeq[Long](1).toArray)
    // the shared order: every distinct shingle ranked by (df, h)
    val dfOf = mutable.LongMap.empty[Int]
    hs.foreach(_.foreach(h => dfOf(h) = dfOf.getOrElse(h, 0) + 1))
    val byDf = dfOf.toArray.sortBy { case (h, c) => (c, h) }
    val rankOf = mutable.LongMap.empty[Int]
    byDf.indices.foreach(r => rankOf(byDf(r)._1) = r)
    // prefix postings per shingle rank: (doc << 32) | 1-based position
    val postings = Array.fill(byDf.length)(mutable.ArrayBuilder.make[Long])
    for (d <- hs.indices) {
      val s = hs(d).length
      val prefLen = math.min(s.toLong, s - (s.toLong * tauPct + 99L) / 100L + 1L).toInt
      val ranks = hs(d).map(rankOf)
      java.util.Arrays.sort(ranks)
      for (k <- 0 until prefLen) postings(ranks(k)) += (d.toLong << 32 | (k + 1))
    }
    // the pairs enumerated below bound the loop, the candidates and the
    // result rows held on the driver
    val lists = postings.map(_.result())
    if (lists.iterator.map(l => l.length.toLong * (l.length - 1) / 2).sum > driverMaxEdges) return None
    // size and positional filters on every pair of one posting list
    val cands = mutable.LongMap.empty[Unit]
    lists.foreach { list =>
      for (i <- list.indices; j <- i + 1 until list.length) {
        val (x, y) = if (ids((list(i) >>> 32).toInt) < ids((list(j) >>> 32).toInt)) (list(i), list(j))
          else (list(j), list(i))
        val (a, b) = ((x >>> 32).toInt, (y >>> 32).toInt)
        val (na, nb) = (hs(a).length.toLong, hs(b).length.toLong)
        val alpha = (tauPct * (na + nb) + 100 + tauPct - 1) / (100 + tauPct)
        if (math.min(na, nb) * 100 >= math.max(na, nb) * tauPct &&
            math.min(na - x.toInt, nb - y.toInt) + 1L >= alpha)
          cands(a.toLong << 32 | b) = ()
      }
    }
    // exact verify with the distributed tiers' kernel
    val sets = hs.map(UnsafeArrayData.fromPrimitiveArray(_))
    val rows = cands.keysIterator.flatMap { p =>
      val (a, b) = ((p >>> 32).toInt, p.toInt)
      val i = graft.functions.VecOps.sortedIntersectCount(sets(a), sets(b))
      val u = hs(a).length + hs(b).length - i
      if (i * 100 >= u * tauPct) Iterator((a, b, math.floor(i * 100.0 / u).toLong)) else Iterator.empty
    }.toArray.sortBy { case (a, b, _) => (ids(a), ids(b)) }
      .map { case (a, b, j) => Row(docs(a).get(0), docs(b).get(0), j) }
    val schema = StructType(Seq(
      StructField("id_a", idField.dataType, idField.nullable),
      StructField("id_b", idField.dataType, idField.nullable),
      StructField("jacc_pct", LongType, nullable = true)))
    Some(sh.sparkSession.createDataFrame(rows.toSeq.asJava, schema))
  }

  /** The window and Count-Min tiers of [[ngramJaccardPairs]] over the
    * checkpointed (id, hs, nsh) sets.
    */
  private def distributedJaccardPairs(
      sh: DataFrame, nDocs: Long, tauPct: Int, forceSketch: Option[Boolean]): DataFrame = {
    // the Count-Min kernel returns only the prefix; the filter trims
    // the window path's full ranks
    val prefix = dfRanked(sh, nDocs, forceSketch)(graft.functions.VecOps.prefix_select(col("hs"), _, tauPct))
      .filter(col("rk") <= prefixLen(tauPct))
    // PPJoin positional filter (Xiao et al. 2008): a pair needs
    // overlap α = ceil(τ(|A|+|B|)/(1+τ)); a collision at (sorted)
    // positions rka/rkb caps the achievable overlap at
    // min(|A|-rka, |B|-rkb)+1 — prune below α IN the join, before
    // any pair row shuffles to distinct or fetches shingle sets.
    // Lossless: positions are full-array ranks under the shared
    // (df, h) order, so the bound is exact; measured 3.88M → ~70k
    // candidates on a 500k-doc corpus.
    // integer ceil(tauPct*(na+nb)/(100+tauPct)) via (x+d-1) div d —
    // Long integral division, never double math
    val alpha = expr(
      s"(($tauPct * (`a`.nsh + `b`.nsh)) + ${100 + tauPct - 1}) div ${100 + tauPct}")
    val cands = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          // size filter: |A| and |B| within τ of each other or J < τ
          least(col("a.nsh"), col("b.nsh")) * 100 >= greatest(col("a.nsh"), col("b.nsh")) * tauPct &&
          least(col("a.nsh") - col("a.rk"), col("b.nsh") - col("b.rk")) + 1L >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    exactJaccard(cands, sh, sh, tauPct)
  }

  /** MinHash signature: k lane-minimums over per-shingle hashes,
    * computed by the native [[graft.functions.MinHashSig]] kernel (a
    * HOF formulation interprets k×|shingles| lambda calls per row).
    */
  private[graft] def withSignature(df: DataFrame, idCol: String, textCol: String, k: Int, shingleN: Int): DataFrame =
    shingleSets(df, col(idCol), textCol, shingleN)
      .select(col("id"), col("hs"), graft.functions.VecOps.minhash_sig(col("hs"), k).as("sig"))

  /** Banded signature rows (id, band, bh): `bands` band-hashes per
    * signature. ONE implementation on purpose — band hashing is the
    * compatibility contract between signatures persisted by
    * [[buildMinhashIndex]] and later [[nearDupsAgainstIndex]] probes;
    * two copies drifting apart would silently lose candidates.
    */
  private[graft] def bandedSignatures(sigs: DataFrame, bands: Int, r: Int): DataFrame =
    sigs.select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), bi => xxhash64(slice(col("sig"), bi * r + 1, lit(r)))))
    ).toDF("id", "band", "bh")

  /** C3: MinHash-LSH near-dup pairs. `bands` bands of `k/bands` rows;
    * candidates = docs sharing any band bucket; candidates are then
    * verified with exact Jaccard over shingle-hash sets (integer
    * threshold math, like [[ngramJaccardPairs]]).
    *
    * Shuffle profile: explode to `bands` rows/doc, hash-join on
    * (band, bucket_hash); verification joins are id-keyed. No stage is
    * quadratic in corpus size.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      tauPct: Int = 80
  ): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val sigs = withSignature(df, idCol, textCol, k, shingleN).localCheckpoint()
    val banded = bandedSignatures(sigs, bands, r)
    exactJaccard(sharedKeyPairs(banded, banded, Seq("band", "bh"), _ < _), sigs, sigs, tauPct)
  }

  /** 64-bit SimHash of the (weighted) word multiset: bit j of the
    * signature is the sign of sum over words of ±1 votes, where the
    * vote is bit j of the word's FNV-1a hash. Both the per-word hash
    * loop and the 64-lane vote loop are native codegen'd kernels
    * ([[graft.functions.FnvHashes]], [[graft.functions.SimHash64Expr]]).
    * FNV-1a (not XXH64) as the word hash keeps the entire pipeline
    * reproducible in the DuckDB oracle — see the "dedup_simhash"
    * entry of [[graft.SparkEntry.registry]].
    */
  def simhash64(c: Column): Column =
    graft.functions.VecOps.simhash64(
      graft.functions.VecOps.fnv_hashes(split(normalize(c), " ")))

  /** C4: SimHash near-dup pairs at Hamming distance <= maxHamming.
    * Pigeonhole banding: with 4 chunks of 16 bits, any pair at
    * distance <= 3 shares at least one exact chunk — candidates join
    * on (chunk_idx, chunk_value), then exact `bit_count(xor)` filters.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    // 4 x 16-bit pigeonhole chunks only guarantee candidate coverage
    // for Hamming <= 3; a larger radius would silently lose pairs
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashPairs supports maxHamming in [0, 3] with 4-chunk banding, got $maxHamming")
    val sigs = df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sig"))
    val chunks = sigs.select(
      col("id"),
      col("sig"),
      posexplode(array((0 until 4).map(ci => shiftrightunsigned(col("sig"), ci * 16).bitwiseAND(lit(0xffffL))): _*))
    ).toDF("id", "sig", "chunk_idx", "chunk")
    chunks
      .alias("a")
      .join(
        chunks.alias("b"),
        col("a.chunk_idx") === col("b.chunk_idx") && col("a.chunk") === col("b.chunk") && col("a.id") < col("b.id")
      )
      // Hamming-filter INSIDE the join stage, before the dedup
      // shuffle: candidates sharing several chunks are re-checked
      // once per collision (bit_count is ~free), but the distinct
      // then shuffles only true near-dup pairs instead of the full
      // chunk-collision volume (which grows n²/2^16 per band)
      .filter(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** C5: embedding-cosine near-dup pairs above a threshold. Pairing is
    * blocked by `blockCol` when given (at scale: an LSH bucket or
    * cluster id — see [[Similarity.tableBuckets]]); cosine math is done
    * in double precision from float vectors.
    */
  def embeddingPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      blockCol: Option[String] = None
  ): DataFrame = {
    val base = vectors(df, idCol, vecCol, blockCol.map(col).toSeq: _*)
    val a = base.columns.foldLeft(base)((d, c) => d.withColumnRenamed(c, s"${c}_a")).alias("a")
    val b = base.columns.foldLeft(base)((d, c) => d.withColumnRenamed(c, s"${c}_b")).alias("b")
    val joinCond = blockCol
      .map(bc => col(s"${bc}_a") === col(s"${bc}_b") && col("id_a") < col("id_b"))
      .getOrElse(col("id_a") < col("id_b"))
    a.join(b, joinCond)
      .withColumn("cos", Similarity.dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** C5 at scale: embedding near-dup pairs blocked by multi-table
    * random-hyperplane LSH — the 100 TB path ([[embeddingPairs]] with
    * `blockCol=None` is the exact all-pairs oracle baseline, quadratic
    * by construction). Candidates are pairs sharing a bucket in ANY of
    * `tables` hash tables; each candidate is then verified with exact
    * double-precision cosine. For near-identical vectors (tau ~0.99,
    * angle ~0.14 rad) per-plane collision is ~0.96, so the miss
    * probability decays like (1 - 0.96^planes)^tables — recall is
    * property-tested >= 0.95 vs the exact pairs in PipelineSpec.
    *
    * Shuffle profile: explode to `tables` rows/vector, self-join on
    * (table, bucket), id-keyed joins to fetch vectors for candidates
    * only — no stage quadratic in corpus size (mirrors
    * [[minhashLshPairs]]).
    *
    * `planes`/`tables` are FLOORS, not fixed values: with a fixed
    * plane count, expected bucket occupancy is n/2^planes, so the
    * within-bucket candidate volume grows quadratically in n (measured
    * 26.6× time for 10× vectors at planes=8). Auto-sizing raises
    * planes with the corpus and raises tables so a tau-cosine pair's
    * miss probability stays ≤ 1e-3 under the longer codes (per-plane
    * collision p = 1 − acos(tau)/π, miss = (1 − p^planes)^tables).
    * Codes grow at ALL corpus sizes (log2(n)+8 planes raises even a
    * 1k-vector corpus from the (8,8) floors to (18,13)), so candidate
    * SETS are not bit-identical to what the caller's floors would
    * produce — what is preserved is the tau-pair miss bound ≤ 1e-3
    * (and the exact verify step, so no false positives ever).
    * Tables are capped at 64 —
    * past that (huge n at low tau) the right tool is multi-probe or
    * the IVF index, not more hash tables.
    */
  def embeddingPairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      planes: Int = 8,
      tables: Int = 4
  ): DataFrame = {
    // the sized codes leave a candidate stream small enough that the
    // exact cosine verifies every candidate directly — a sketch
    // prefilter would only add a second pass over it
    val (base, n) = Materialize.counted(vectors(df, idCol, vecCol))
    exactCosine(lshCandidates(base, n, tau, planes, tables), base, base, tau)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The (planes, tables) actually used for a corpus of `n` vectors:
    * caller values are floors. Planes grow to log2(n)+8 — expected
    * RANDOM bucket occupancy n/2^planes ≤ 1/256, so background
    * collisions vanish and surviving candidates are mostly real
    * near-pairs even on label-clustered corpora (occupancy-16 codes
    * measured 33x more candidates at 400k clustered vectors). Tables
    * grow so a tau-cosine pair's miss probability stays <= 1e-3 under
    * the longer codes; planes cap at 56 (codes pack into a Long with
    * the table index), tables at 64 (beyond that, use IVF).
    */
  private[graft] def lshSizing(n: Long, tau: Double, planes: Int, tables: Int): (Int, Int) = {
    val planesEff = math.max(planes, math.min(56,
      math.ceil(math.log(math.max(2.0, n.toDouble)) / math.log(2.0)).toInt + 8))
    val pCollide = 1.0 - math.acos(math.min(tau, 1.0)) / math.Pi
    val missPerTable = 1.0 - math.pow(pCollide, planesEff)
    val tablesEff = math.min(64, math.max(tables,
      math.ceil(math.log(1e-3) / math.log(missPerTable)).toInt))
    (planesEff, tablesEff)
  }

  /** Distinct (id_a, id_b) pairs of the checkpointed vectors `base`
    * (`n` rows carrying id and v) that share a hyperplane-LSH bucket in
    * any table — and, given `within`, the same value of that column —
    * under codes sized by [[lshSizing]]. A SLIM self-join: the bucketed
    * frame carries only (id, [within,] code), so the shuffle that
    * enumerates bucket collisions moves keys, never vectors.
    */
  private def lshCandidates(
      base: DataFrame,
      n: Long,
      tau: Double,
      planes: Int,
      tables: Int,
      within: Option[String] = None
  ): DataFrame = {
    val (planesEff, tablesEff) = lshSizing(n, tau, planes, tables)
    val bucketed = base.select((col("id") +: within.toSeq.map(col)) :+
      explode(Similarity.tableBuckets(col("v"), planesEff, tablesEff)).as("tb"): _*)
    sharedKeyPairs(bucketed, bucketed, within.toSeq :+ "tb", _ < _)
  }

  /** C86: [[embeddingPairsLsh]] with a SimHash-over-embeddings
    * PREFILTER between candidate generation and exact verification —
    * the "second pass over the pair stream" ruled unnecessary at
    * moderate volumes (see the comment there), implemented for the
    * corpora where it pays: when bucket collisions are dominated by
    * mid-similarity pairs (dense label clusters, billions of
    * candidates), an 8-byte sign sketch rejects most of them by
    * popcount(xor) BEFORE the candidate pair joins back to its two
    * float vectors — the prefilter joins move 8-byte codes,
    * the expensive vector fetch only sees sketch survivors.
    *
    * Sketch: 56 sign bits from [[graft.functions.VecOps.tableCodes]]'
    * SECOND table (planes 56..111 — mostly disjoint from the bucket
    * planes; partial overlap only biases the estimate optimistic,
    * harmless for a prefilter). For cos ≥ τ the expected differing
    * bits are 56·arccos(τ)/π; `slackBits` over that (default 6 ≈ 4σ
    * of the binomial tail) keeps true pairs: on the staged fixture
    * recall is exact and the result matches [[embeddingPairsLsh]]
    * bit-for-bit — same oracle.
    */
  def embeddingPairsLshSketch(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      planes: Int = 8,
      tables: Int = 4,
      slackBits: Int = 6
  ): DataFrame = {
    val (base, flagged) = sketchScreened(df, idCol, vecCol, tau, planes, tables, slackBits)
    exactCosine(flagged.filter(col("keep")).select(col("id_a"), col("id_b")), base, base, tau)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The checkpointed (id, v, nrm, sk) vectors of
    * [[embeddingPairsLshSketch]] and its LSH candidates, each flagged
    * `keep` when the two sign sketches differ in at most
    * ⌈56·arccos(τ)/π⌉ + `slackBits` bits: (id_a, id_b, keep).
    */
  private def sketchScreened(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      planes: Int,
      tables: Int,
      slackBits: Int
  ): (DataFrame, DataFrame) = {
    val hmax = math.ceil(56.0 * math.acos(tau) / math.Pi).toLong + slackBits
    val (base, n) = Materialize.counted(vectors(df, idCol, vecCol,
      element_at(Similarity.tableBuckets(col(vecCol), 56, 2), 2).as("sk")))
    val flagged = bothSides(lshCandidates(base, n, tau, planes, tables), base, base, "sk")
      .select(col("id_a"), col("id_b"), (expr("bit_count(sk_a ^ sk_b)") <= lit(hmax)).as("keep"))
    (base, flagged)
  }

  /** Candidate-volume instrumentation for
    * [[embeddingPairsLshSketch]]: (n_candidates, n_after_sketch) —
    * the measurement that decides whether the sketch pass pays at a
    * given corpus shape (it pays when the second number is much
    * smaller: every rejected candidate saves a 2×dim-float fetch).
    * Runs the operator's own candidate and sketch stages.
    */
  private[graft] def sketchPrefilterStats(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      planes: Int = 8,
      tables: Int = 4,
      slackBits: Int = 6
  ): (Long, Long) =
    keptCounts(sketchScreened(df, idCol, vecCol, tau, planes, tables, slackBits)._2)

  /** C44: semantic dedup — the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into clusters,
    * then prune near-duplicates only WITHIN each cluster, so the
    * quadratic never sees the corpus — only a cluster. Two nested
    * blocking levels keep even big clusters safe: candidates must
    * share BOTH the cluster AND a multi-table hyperplane-LSH bucket
    * (the [[embeddingPairsLsh]] family), then exact double-precision
    * cosine verifies each candidate. Keep rule is deterministic:
    * smallest id among same-cluster near-dups survives.
    *
    * Clustering here is nearest deterministic per-label-mean centroid
    * (the oracle-reproducible stand-in for k-means — same shape as
    * Similarity.nearestCentroid); swap the centroid frame for trained
    * k-means centers at production scale, the plan is unchanged:
    * centroid build is two keyed aggs over |labels|x|dim| groups,
    * assignment is a broadcast of the tiny centroid frame, candidate
    * generation is a keyed self-join on (cluster, table, bucket) —
    * no stage is ever quadratic in corpus size.
    *
    * Returns one row PER INPUT DOC: (idCol, cluster, is_kept 1|0).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      tau: Double,
      planes: Int = 8,
      tables: Int = 8
  ): DataFrame = {
    val base = vectors(df, idCol, vecCol, col(labelCol).as("lab"))
    // min_by over (d2, clab) makes ties deterministic; first(v) is safe
    // because v is constant per id across the broadcast fan-out
    val (assigned, nAssigned) = Materialize.counted(base
      .crossJoin(broadcast(Similarity.labelCentroids(base, "lab", "v")))
      .select(col("id"), col("v"), col("nrm"), col("clab"),
        // native sqdist kernel — see Similarity.nearestCentroid
        graft.functions.VecOps.vec_sqdist(col("v"), col("centroid")).as("d2"))
      .groupBy(col("id"))
      .agg(
        min_by(col("clab"), struct(col("d2"), col("clab"))).cast("long").as("cluster"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm")))
    // planes/tables are floors here exactly as in embeddingPairsLsh:
    // fixed-length codes make within-(cluster, bucket) candidate
    // volume quadratic in corpus size (measured: a 76 GB spill at 400k
    // vectors with planes=8). Sizing by TOTAL n overshoots per-cluster
    // occupancy, which only prunes harder; the tables formula keeps
    // the tau-pair miss bound regardless.
    val cands = lshCandidates(assigned, nAssigned, tau, planes, tables, within = Some("cluster"))
    val dropped = exactCosine(cands, assigned, assigned, tau)
      .select(col("id_b").as("id"))
      .distinct()
    assigned
      .join(dropped.withColumn("is_dup", lit(1L)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        when(col("is_dup").isNotNull, 0L).otherwise(1L).as("is_kept"))
      .orderBy(col(idCol))
  }

  /** The size gate of the operators that switch between a driver
    * kernel and a distributed plan: the longs the driver kernel holds
    * after its one collect. For [[connectedComponents]] and
    * [[GraphOps.labelPropRounds]] that is symmetric raw edge rows; for
    * [[ngramJaccardPairs]] it gates twice, once on posting entries
    * (the shingles summed over all documents, what the collect holds)
    * and once on the pairs within the prefix posting lists (what the
    * candidate loop visits and keeps). The value was set for edge
    * rows; where the near-dup driver tier stops beating the
    * distributed tiers has not been measured.
    */
  private[graft] val DriverMaxEdges: Long = 1L << 20

  /** C14: connected components over near-dup pairs — pairs alone don't
    * dedup a corpus; the survivor set is one doc per component of the
    * near-dup graph. Returns (id, cluster_id) where cluster_id is the
    * component's minimum id (the canonical survivor).
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * does (a) lbl(v) ← min(lbl(v), min over neighbors lbl(u)) — one
    * keyed join+agg — and (b) lbl(v) ← lbl(lbl(v)) — one more keyed
    * join — so convergence is O(log diameter) rounds, each round a
    * constant number of hash shuffles on the id. Near-dup components
    * are small/dense in practice (dup clusters), so this terminates in
    * a handful of rounds; `localCheckpoint` truncates the growing
    * lineage each round (at cluster scale swap for `checkpoint` on a
    * reliable store to also get fault tolerance).
    *
    * Convergence test: labels are non-increasing per node, so
    * sum(lbl) strictly decreases until fixpoint — one scalar agg per
    * round, never a data collect. Exiting via `maxIters` with the sum
    * still falling would mean silently-wrong components, so that case
    * THROWS — a correctness tool must fail loudly, never approximate.
    *
    * Below `driverMaxEdges` symmetric edges (2 × the pair count) a
    * driver union-find replaces the loop. The count is of RAW pairs,
    * duplicates and self-loops included, not distinct ones: union-find
    * reads the raw pair list, so raw rows are what bound driver memory,
    * and counting them needs no distinct shuffle. A local pair list
    * (the driver tier of [[ngramJaccardPairs]]) is already in driver
    * memory: it is read without a job and never checkpointed.
    */
  def connectedComponents(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 20,
      driverMaxEdges: Long = DriverMaxEdges
  ): DataFrame = {
    val edges = pairs.select(col(idACol).cast("long").as("src"), col(idBCol).cast("long").as("dst"))
    val local = if (pairs.isLocal) Some(edges.collect()) else None
    // Materialize a distributed pair list ONCE before anything references
    // it twice: the union-with-swap below puts the pairs subtree in the
    // plan twice, and Catalyst does not dedupe common subtrees — with
    // an expensive candidate pipeline upstream (ngram/minhash joins)
    // the whole pipeline executed twice per cluster query. Pair lists
    // are near-dup-sized (tiny relative to the corpus at any scale),
    // so the checkpoint is cheap, and it counts them in the same job.
    val (und, nPairs) = local.fold(Materialize.counted(edges))(rows => (edges, rows.length.toLong))
    // size-adaptive strategy (same spirit as AQE's join re-planning):
    // the near-dup graph holds ONLY docs that have a near-dup — tiny
    // relative to the corpus even at 100 TB — so below the threshold a
    // driver union-find (one collect of the edge list, O(E α)) beats
    // 2 keyed shuffles + a scalar collect per iteration. Above it, the
    // distributed label-propagation loop takes over. Union-find is
    // direction/duplicate-insensitive, so it reads the raw pair list;
    // only the distributed loop needs the symmetrized distinct edges.
    if (2L * nPairs <= driverMaxEdges) driverUnionFind(pairs.sparkSession, local.getOrElse(und.collect()))
    else distributedComponents(
      und.union(und.select(col("dst").as("src"), col("src").as("dst"))).distinct().localCheckpoint(),
      maxIters)
  }

  /** Components of the (src, dst) edge rows by union-find. */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession, edges: Array[Row]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // min root wins → the final label IS the component minimum
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "cluster_id")
  }

  private def distributedComponents(edges: DataFrame, maxIters: Int): DataFrame = {
    def labelSum(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("lbl").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    var curr = labelSum(labels)
    // curr == null means zero pairs → zero labeled nodes: already done,
    // don't spin maxIters rounds of empty joins
    var converged = curr == null
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("lbl").as("dst_lbl")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_lbl")).as("nbr_lbl"))
      val propagated = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"))
      // pointer jump: follow the label's own label one hop
      labels = propagated
        .join(
          propagated.select(col("id").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"),
          "left"
        )
        .select(col("id"), coalesce(col("lbl2"), col("lbl")).as("lbl"))
        .localCheckpoint()
      val prev = curr
      curr = labelSum(labels)
      converged = prev.compareTo(curr) == 0
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIters iterations " +
          "(label sum still falling) — results would be wrong; raise maxIters")
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  // -------------------------------------------------------------------
  // Incremental dedup against a PERSISTED corpus index — the
  // continuous-ingest form of C1/C3. At 100 TB you never re-scan or
  // re-shingle the historical corpus per arriving batch; you maintain
  // a compact index (content hashes / MinHash signatures, ~1e-3..1e-6
  // of corpus bytes) and join each new batch against THAT. Mirrors the
  // reference's incremental sync (watermark + state), applied to the
  // dedup decision instead of the row transport.

  /** C14 incrementally: fold NEW near-dup pairs (a batch probe's
    * output) into an existing cluster assignment WITHOUT the original
    * pair set — the assignment already encodes its components as a
    * star forest ((id, cluster_id) edges), so union those edges with
    * the new pairs and re-label. Cost scales with the assignment plus
    * the batch, and the original corpus pairs never need to be kept or
    * recomputed. Proven equal to a full recompute over the combined
    * pair set (PipelineSpec).
    */
  def mergeClusters(assignment: DataFrame, idCol: String, newPairs: DataFrame): DataFrame = {
    val forest = assignment
      .filter(col(idCol) =!= col("cluster_id")) // singleton self-edges are no-ops
      .select(col(idCol).cast("long").as("id_a"), col("cluster_id").cast("long").as("id_b"))
    val pairs = forest.unionByName(
      newPairs.select(col("id_a").cast("long"), col("id_b").cast("long")))
    val ids = assignment.select(col(idCol).cast("long").as(idCol))
      .unionByName(newPairs.select(col("id_a").cast("long").as(idCol)))
      .unionByName(newPairs.select(col("id_b").cast("long").as(idCol)))
      .distinct()
    clusterAssign(ids, idCol, pairs)
  }

  /** C28 index build: one row per distinct normalized-content hash in
    * the corpus with its canonical (minimum) id. The key is stored as
    * 16 RAW BYTES (`unhex` of the md5 hex), not the 32-char hex
    * string — truly 16 bytes + id per DISTINCT document, and half the
    * probe-join shuffle width. Write it bucketed by `h`
    * (Writers.bucketed) and the per-batch probe join needs no
    * index-side shuffle at any corpus size.
    */
  def buildHashIndex(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus
      .select(contentHash(col(textCol)).as("h"), col(idCol).cast("long").as("kept_id"))
      .groupBy(col("h"))
      .agg(min(col("kept_id")).as("kept_id"))

  /** C28 probe: flag every batch doc as dup-of-corpus or new. One
    * hash-keyed left join — the batch side shuffles 16-byte hashes,
    * never documents; AQE broadcasts the batch when it is small.
    * Within-batch duplicates are [[exact]]'s job (run it on the batch
    * first); this operator answers "seen before in the corpus?".
    * Output: (idCol, is_dup, dup_of) for every batch row.
    */
  def exactAgainstIndex(batch: DataFrame, idCol: String, textCol: String, index: DataFrame): DataFrame = {
    requireBinaryHashIndex(index)
    batch
      .select(col(idCol).cast("long").as("__bid"), contentHash(col(textCol)).as("h"))
      .join(index.select(col("h"), col("kept_id")), Seq("h"), "left")
      .select(
        col("__bid").as(idCol),
        when(col("kept_id").isNotNull, 1L).otherwise(0L).as("is_dup"),
        col("kept_id").as("dup_of")
      )
      .orderBy(col(idCol))
  }

  /** C39: bloom-accelerated incremental exact dedup. Builds a Bloom
    * filter over the index's 16-byte hashes (one scan of the index —
    * ids+hashes only, never text) and drops every batch row the bitmap
    * rejects BEFORE the join: rejected rows are DEFINITELY new (no
    * false negatives), so only bitmap-accepted candidates shuffle into
    * the exact verification join. End-to-end output is byte-identical
    * to [[exactAgainstIndex]] — bloom false positives are killed by
    * the verify join — but at a realistic corpus:batch ratio the join
    * input shrinks from |batch| to ~|dups| + fpp*|batch| rows, and the
    * non-candidate majority never shuffles at all.
    *
    * `expectedKeys` sizes the bitmap (see [[graft.functions.Bloom]]
    * for the sharding story above ~1e8 keys).
    */
  def exactAgainstIndexBloom(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      expectedKeys: Long,
      fpp: Double = 0.01
  ): DataFrame = {
    import graft.functions.Bloom
    requireBinaryHashIndex(index)
    val bloom = Bloom.build(index.select(xxhash64(col("h")).as("k")), "k", expectedKeys, fpp)
    val keyed = batch.select(col(idCol).cast("long").as("__bid"), contentHash(col(textCol)).as("h"))
    val probed = keyed.withColumn("__cand", Bloom.bloom_might_contain(lit(bloom), xxhash64(col("h"))))
    val hits = probed
      .filter(col("__cand"))
      .join(index.select(col("h"), col("kept_id")), Seq("h"), "left")
      .select(col("__bid"), when(col("kept_id").isNotNull, 1L).otherwise(0L).as("is_dup"),
        col("kept_id").as("dup_of"))
    val misses = probed
      .filter(!col("__cand"))
      .select(col("__bid"), lit(0L).as("is_dup"), lit(null).cast("long").as("dup_of"))
    hits.unionByName(misses)
      .select(col("__bid").as(idCol), col("is_dup"), col("dup_of"))
      .orderBy(col(idCol))
  }

  /** C28 state advance: fold a processed batch into the hash index.
    * FIRST-SEEN-WINS: hashes already indexed keep their existing
    * canonical id unconditionally (an anti-join drops them from the
    * batch side), so canonical ids never churn — even when a late
    * batch carries a numerically smaller id. Also cheaper than a
    * min-regroup: the existing index is never re-aggregated, only
    * probed. The returned frame REPLACES the old index
    * (write-new-then-promote, like PartitionedUpsert).
    */
  def updateHashIndex(index: DataFrame, batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    requireBinaryHashIndex(index)
    index.unionByName(
      buildHashIndex(batch, idCol, textCol)
        .join(index.select(col("h")), Seq("h"), "left_anti"))
  }

  /** C29 index build: (id, hs, sig) per corpus doc — the MinHash
    * signature (k longs) plus the sorted shingle-hash set `hs` that
    * exact verification walks. Storing `hs` (~8 bytes/word, smaller
    * than the text it summarizes) is what makes probes corpus-scan-
    * free: candidates fetch ONLY their own `hs` rows by id.
    * Rows are per-doc independent, so appending a processed batch is
    * just `buildMinhashIndex(batch, ...).write.mode("append")` — no
    * merge step (unlike the hash index, whose keys dedup via
    * [[updateHashIndex]]); [[buildEmbeddingIndex]] appends the same
    * way.
    */
  def buildMinhashIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      shingleN: Int = 3
  ): DataFrame =
    withSignature(corpus, idCol, textCol, k, shingleN)

  /** C29 probe: near-dup pairs (batch_id, corpus_id, jacc_pct) of a
    * new batch against a persisted [[buildMinhashIndex]] frame —
    * [[minhashLshPairs]] semantics without ever touching corpus TEXT.
    * Both sides band their signatures; candidates join on
    * (band, bucket-hash) — batch bands vs index bands, so candidate
    * count scales with the batch, not the corpus. Verification is the
    * same integer exact-Jaccard threshold, id-keyed against each
    * side's stored hash sets. Batch and corpus id spaces must be
    * disjoint (enforce upstream; ids collide → pair is dropped as a
    * self-pair).
    */
  def nearDupsAgainstIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      tauPct: Int = 80
  ): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    // NOT checkpointed: recomputing the (small) batch signatures for
    // the verify join is cheaper than an eager materialization per
    // arriving batch; callers probing one batch many times can
    // checkpoint the batch themselves.
    val bSigs = withSignature(batch, idCol, textCol, k, shingleN)
    val cands = sharedKeyPairs(
      bandedSignatures(bSigs, bands, r), bandedSignatures(index, bands, r), Seq("band", "bh"), _ =!= _)
    exactJaccard(cands, bSigs, index, tauPct)
  }

  /** C94 index build: (id, hs, nsh, sk) per corpus doc — the sorted
    * shingle-hash set, its size, and the [[containSketchK]]-entry KMV
    * screen sketch. The matching probe's prefix order is PLAIN
    * HASH-ASCENDING (each doc's own sorted `hs`), NOT the batch
    * operator's corpus-df rank: df ranks shift as batches append, so a
    * df-ordered prefix would force a full index re-rank on every
    * update, while hash order is append-independent — rows written
    * once never change. Hash order costs prefix selectivity (uniform-
    * random instead of rarest-first); the KMV screen absorbs the
    * difference before any full-array fetch. Rows are per-doc
    * independent, so appending a processed batch is
    * [[updateContainmentIndex]]'s one anti-join, no merge step.
    */
  def buildContainmentIndex(corpus: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    sketchedSets(corpus, col(idCol).cast("long"), textCol, n)

  /** C94 probe: containment pairs (id_a = batch doc, id_b = corpus
    * doc, cont_pct) of a new batch against a persisted
    * [[buildContainmentIndex]] frame — [[containmentPairs]] semantics
    * (|∩| / |smaller| ≥ τ, NO size-ratio filter) without ever touching
    * corpus TEXT. The prefix theorem needs the SMALLER side's own-size
    * prefix to collide, and either side can be smaller, so candidates
    * are the union of two keyed posting joins: batch prefixes × index
    * full postings (batch doc smaller) and batch full postings × index
    * prefixes (index doc smaller; the prefix is a `slice` of the
    * stored sorted array — derived, not stored, so the index schema
    * stays order-free). Ties (equal sizes) route to the first arm
    * exactly once. Candidate volume scales with batch-side postings ×
    * collision rate; the index side is scanned (ids + hashes, columnar)
    * but its text is never re-read. Survivors pass the same KMV screen
    * and exact sorted-intersect verify as the batch operator — both
    * sides' sketches/arrays are fetched BY ID from the two frames.
    * Batch and corpus id spaces must be disjoint (enforce upstream,
    * the [[nearDupsAgainstIndex]] contract).
    */
  def containmentAgainstIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      n: Int = 3,
      tauPct: Int = 80
  ): DataFrame = {
    // both candidate arms, the screen and the verify read it
    val bsh = buildContainmentIndex(batch, idCol, textCol, n).localCheckpoint()
    def prefix(f: DataFrame): DataFrame = f.select(col("id"), col("nsh"),
      posexplode(slice(col("hs"), lit(1), prefixLen(tauPct).cast("int"))).as(Seq("p", "h")))
    def full(f: DataFrame): DataFrame =
      f.select(col("id"), col("nsh"), explode(col("hs")).as("h"))
    // positional bound from the smaller side alone: a qualifying pair
    // has |∩| ≥ α = ceil(τ·|small|), so its FIRST shared element sits
    // at small-side position ≤ |small| − α (0-based) — inside the
    // prefix, with remaining = nsh − p ≥ α
    def arm(small: DataFrame, large: DataFrame, smallIsBatch: Boolean): DataFrame = {
      val sizeCond =
        if (smallIsBatch) col("a.nsh") <= col("b.nsh") else col("a.nsh") < col("b.nsh")
      prefix(small).alias("a")
        .join(full(large).alias("b"), col("a.h") === col("b.h") && sizeCond &&
          col("a.nsh") - col("a.p") >= expr(s"((`a`.nsh * $tauPct) + 99) div 100"))
        .select(
          (if (smallIsBatch) col("a.id") else col("b.id")).as("id_a"),
          (if (smallIsBatch) col("b.id") else col("a.id")).as("id_b"))
    }
    val cands = arm(bsh, index, smallIsBatch = true)
      .unionByName(arm(index, bsh, smallIsBatch = false))
      .distinct()
    exactContainment(cands, bsh, index, tauPct, screen = true)
  }

  /** C94 state advance: fold a processed batch into the containment
    * index. Rows are per-doc and keyed by unique id, so the fold is
    * one id-keyed anti-join + union — ids already indexed keep their
    * existing row unconditionally, which makes REPLAYING a batch (the
    * at-least-once delivery case) a no-op rather than a duplicate-row
    * corruption. The returned frame REPLACES the old index
    * (write-new-then-promote, like [[updateHashIndex]]).
    */
  def updateContainmentIndex(
      index: DataFrame, batch: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    index.unionByName(
      buildContainmentIndex(batch, idCol, textCol, n)
        .join(index.select(col("id")), Seq("id"), "left_anti"))

  /** C32 index build: (id, v, nrm, tbs) per corpus vector — the
    * embedding-side pendant of [[buildMinhashIndex]]: multi-table
    * hyperplane bucket ids are precomputed once and persisted, so a
    * batch probe never re-hashes (or even re-reads, under bucket
    * pruning) the corpus vectors. planes/tables are baked into the
    * stored buckets — probe with the SAME values. SCHEMA: `tbs` is
    * array<long> of packed codes ((table << 56) | signBits, see
    * Similarity.tableBuckets) — indexes persisted under the earlier
    * array<struct(t, bucket)> layout must be rebuilt, and C32 probes
    * join on these packed codes.
    */
  def buildEmbeddingIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int = 8,
      tables: Int = 8
  ): DataFrame =
    vectors(corpus, idCol, vecCol, Similarity.tableBuckets(col(vecCol), planes, tables).as("tbs"))

  /** C32 probe: near-dup pairs (batch_id, corpus_id) of a new batch
    * against a persisted [[buildEmbeddingIndex]] frame —
    * [[embeddingPairsLsh]] semantics with the corpus side read from
    * the index. Candidates join on (table, bucket); verification is
    * exact double-precision cosine, id-keyed. Batch and corpus id
    * spaces must be disjoint.
    */
  def embeddingNearDupsAgainstIndex(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      index: DataFrame,
      tau: Double,
      planes: Int = 8,
      tables: Int = 8
  ): DataFrame = {
    // not checkpointed — per-batch API, see nearDupsAgainstIndex
    val b = buildEmbeddingIndex(batch, idCol, vecCol, planes, tables)
    def buckets(f: DataFrame): DataFrame = f.select(col("id"), explode(col("tbs")).as("tb"))
    val cands = sharedKeyPairs(buckets(b), buckets(index), Seq("tb"), _ =!= _)
    exactCosine(cands, b, index, tau).orderBy(col("id_a"), col("id_b"))
  }

  /** C45: blocked fuzzy-match join — entity resolution of dirty
    * strings against a canonical list by edit distance. Candidates
    * come from an EQUI join on a cheap blocking key (the first
    * `blockPrefix` chars) plus a length-band prefilter, then exact
    * Levenshtein verifies each candidate — the plan is never a
    * cartesian, and the quadratic only ever sees one block.
    *
    * Blocking recall: a single prefix key misses edits inside the
    * first `blockPrefix` chars (tested, documented). At production
    * scale run multiple passes with complementary keys (prefix,
    * suffix, phonetic) and union candidates — each pass is this same
    * keyed join.
    *
    * Output: every (record, candidate) match within `maxDist`,
    * deterministic ordering, ties NOT broken — downstream picks
    * min-by(dist) per record if it wants best-match-only.
    */
  def fuzzyMatch(
      dirty: DataFrame,
      idCol: String,
      nameCol: String,
      clean: DataFrame,
      cleanCol: String,
      maxDist: Int,
      blockPrefix: Int = 3
  ): DataFrame = {
    val d = dirty.select(col(idCol).as("rec_id"), col(nameCol).as("name"),
      substring(col(nameCol), 1, blockPrefix).as("__blk"))
    val c = clean.select(col(cleanCol).as("matched"),
      substring(col(cleanCol), 1, blockPrefix).as("__blk"))
    d.join(c, "__blk")
      .filter(abs(length(col("name")) - length(col("matched"))) <= maxDist)
      .filter(levenshtein(col("name"), col("matched")) <= maxDist)
      .select(col("rec_id"), col("name"), col("matched"),
        levenshtein(col("name"), col("matched")).cast("long").as("dist"))
      .orderBy(col("rec_id"), col("matched"))
  }

  /** Full corpus dedup assignment: every doc gets its component's
    * cluster_id (itself when it has no near-dup) and a kept flag —
    * the survivor is the minimum id of each component. One broadcast-
    * or hash-join against the (tiny relative to corpus) component map.
    * Output schema: (idCol, cluster_id, is_kept) — all other input
    * columns are dropped (join the result back by id to keep them).
    */
  def clusterAssign(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    require(idCol != "cluster_id" && idCol != "is_kept",
      s"idCol '$idCol' collides with a clusterAssign output column")
    val comps = connectedComponents(pairs)
    df.select(col(idCol).cast("long").as(idCol))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        when(coalesce(col("cluster_id"), col(idCol)) === col(idCol), 1L).otherwise(0L).as("is_kept")
      )
      .orderBy(col(idCol))
  }

  /** C96: QUALITY-AWARE canonical selection — [[clusterAssign]] keeps
    * a cluster's MIN-ID member, which is the right deterministic rule
    * when members are interchangeable; real pipelines keep the BEST
    * member (here: most words, the "keep the longest duplicate"
    * heuristic — near-dup clusters usually contain truncated/cropped
    * variants of one fullest document; ties break to the smallest id
    * so the choice stays deterministic). Swap the `n_words` metric
    * column for any quality score and nothing else changes.
    *
    * Plan: components as in [[clusterAssign]], then the per-cluster
    * argmax is ONE min-aggregate over (−n_words, id) structs as an
    * unordered window over `partitionBy(cluster_id)`: the input is
    * scanned once and shuffled once on cluster_id, and the window
    * sorts only by that key. A row with a null id belongs to no
    * cluster and is dropped.
    * Output: (idCol, cluster_id, n_words, is_kept).
    */
  def clusterKeepBest(df: DataFrame, idCol: String, textCol: String, pairs: DataFrame): DataFrame = {
    require(idCol != "cluster_id" && idCol != "is_kept" && idCol != "n_words",
      s"idCol '$idCol' collides with a clusterKeepBest output column")
    val comps = connectedComponents(pairs)
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    df
      .select(col(idCol).cast("long").as(idCol),
        size(split(normalize(col(textCol)), " ")).cast("long").as("n_words"))
      .filter(col(idCol).isNotNull)
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("__best", min(struct((-col("n_words")).as("neg"), col(idCol).as("bid"))).over(byCluster))
      .select(col(idCol), col("cluster_id"), col("n_words"),
        when(col(idCol) === col("__best.bid"), 1L).otherwise(0L).as("is_kept"))
      .orderBy(col(idCol))
  }

  /** C66: sparse TF-IDF cosine similarity θ-join via an inverted
    * index — the WEIGHTED pendant of the set-overlap joins above
    * (Jaccard treats "the" and "spark" alike; tf-idf cosine is the
    * classic text-similarity metric that doesn't). Candidate pairs
    * come from a term-keyed self-join of posting lists (work ∝
    * Σ_term df², never doc×doc); each pair's dot product is one keyed
    * aggregation of per-term weight products.
    *
    * Exactness: weights are integer tf-idf (w = tf·1000 DIV df, the
    * C26 discipline), norms are Σw² in Longs, and the cosine
    * threshold is decided WITHOUT square roots or floats by squaring:
    *   dot ≥ τ·‖a‖·‖b‖  ⟺  dot > 0 ∧ dot²·10⁸ ≥ τbp²·‖a‖²·‖b‖²,
    * with the 38-digit products carried in DECIMAL(38,0)/HUGEINT —
    * bit-reproducible across engines. Reported `cos2_x1e8` =
    * (dot²·10⁸) DIV (‖a‖²·‖b‖²) is monotone in cosine for dot > 0.
    *
    * Scale: `maxDf` excludes terms appearing in more than maxDf docs
    * from the VECTOR SPACE itself (weights, norms, candidates alike —
    * both engines agree, so it's exact over the defined space). This
    * is the standard stopword cap: idf already crushes those weights
    * toward zero, and the cap bounds every posting list, so the
    * self-join's worst term costs maxDf² — no web-scale "the" posting
    * list ever self-joins. AQE's skew split covers residual hot terms.
    */
  def sparseCosineJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tauBp: Int = 5000,
      maxDf: Long = 1000L
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tauBp >= 1 && tauBp <= 10000, s"tauBp must be 1..10000, got $tauBp")
    val tf = df
      .select(col(idCol).cast("long").as("id"), explode(split(normalize(col(textCol)), " ")).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df via ONE unordered window pass over the tf frame (C26
    // discipline: a dictionary self-join would scan it twice)
    val weighted = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .filter(col("df") <= maxDf)
      .select(col("id"), col("term"), expr("tf * 1000L DIV df").as("w"))
      .filter(col("w") > 0)
    val norms = weighted.groupBy(col("id")).agg(sum(expr("w * w")).as("n2"))
    val pairs = weighted.alias("a")
      .join(weighted.alias("b"), col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
    bothSides(pairs, norms, norms, "n2")
      .filter(col("dot") > 0 &&
        expr(s"CAST(dot AS DECIMAL(38,0)) * dot * 100000000 >= CAST($tauBp AS DECIMAL(38,0)) * $tauBp * n2_a * n2_b"))
      .select(col("id_a"), col("id_b"), col("dot"),
        expr("CAST((CAST(dot AS DECIMAL(38,0)) * dot * 100000000) DIV (CAST(n2_a AS DECIMAL(38,0)) * n2_b) AS BIGINT)")
          .as("cos2_x1e8"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
