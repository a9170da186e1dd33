package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.sources.Catalog

/** A (score, id) candidate for top-k selection. */
case class ScoredId(score: Double, id: Long)

/** Bounded top-k with map-side partial aggregation: each partition
  * keeps at most k candidates, so the shuffle moves k rows per
  * partition per group instead of the full candidate set — the
  * property that makes brute-force ANN viable at cluster scale.
  * Order: score desc, id asc (total, reproducible).
  */
class TopKAggregator(k: Int) extends Aggregator[ScoredId, Seq[ScoredId], Seq[ScoredId]] {
  private def best(xs: Seq[ScoredId]): Seq[ScoredId] =
    xs.sortBy(s => (-s.score, s.id)).take(k)
  override def zero: Seq[ScoredId] = Nil
  // best() keeps the buffer sorted, so once it is full the common case
  // (candidate ranks below the current worst) is an O(1) rejection —
  // the map-side hot loop only pays a sort when the top-k changes
  override def reduce(buf: Seq[ScoredId], a: ScoredId): Seq[ScoredId] =
    if (buf.size >= k) {
      val worst = buf.last
      if (a.score < worst.score || (a.score == worst.score && a.id >= worst.id)) buf
      else best(buf :+ a)
    } else best(buf :+ a)
  override def merge(b1: Seq[ScoredId], b2: Seq[ScoredId]): Seq[ScoredId] = best(b1 ++ b2)
  override def finish(r: Seq[ScoredId]): Seq[ScoredId] = best(r)
  override def bufferEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder[Seq[ScoredId]]()
  override def outputEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder[Seq[ScoredId]]()
}

/** Approximate/exact nearest-neighbor search over embedding columns.
  *
  * [[bruteForceTopK]] is the exact baseline: broadcast the query set,
  * score every (candidate, query) pair with codegen'd double-precision
  * expressions, reduce with [[TopKAggregator]] (map-side combine). The
  * ANN family cuts the candidate set before scoring: [[lshTopK]]
  * (random-hyperplane buckets), [[ivfTopK]] and the persisted IVF
  * indexes ([[buildIvfIndex]], [[buildIvfIndexSq8]] with int8
  * vectors), product quantization ([[buildPqIndex]], ADC scoring),
  * IVF-PQ ([[buildIvfPqIndex]], residual codes per cell) and the
  * graph index ([[buildGraphIndex]], beam search).
  *
  * Every index is one pipeline over the private stages below: assign
  * vectors to cells ([[assignCells]]), pick each query's cells
  * ([[probeCells]]), score exactly ([[exactCosine]]) or by ADC, then
  * take the top k ([[cellTopK]], [[scanTopK]], both over
  * [[topKReduce]]).
  */
object Similarity {

  /** Double-precision dot product of two float-array columns — native
    * codegen'd kernel (bit-identical to the `zip_with`+`aggregate`
    * formulation, ~50x faster; see [[graft.functions.VecOps]]).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecOps.vec_dot(a, b)

  /** Reference HOF formulation of [[dot]] — kept for cross-checking
    * the native kernel in tests.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v
    )

  /** L2 norm of a float-array column, double precision. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The (`p`id, `p`vec, `p`nrm) side of a scoring join: id, vector and
    * its norm under one prefix — `c` for candidates, `q` for queries.
    */
  private def vecSide(df: DataFrame, idCol: String, vecCol: String, p: String): DataFrame =
    df.select(col(idCol).as(s"${p}id"), col(vecCol).as(s"${p}vec"), norm(col(vecCol)).as(s"${p}nrm"))

  /** Exact cosine of two [[vecSide]] frames joined side by side, from
    * their stored norms: the one scoring expression of every exact
    * path here.
    */
  private def exactCosine(a: String = "c", b: String = "q"): Column =
    dot(col(s"${a}vec"), col(s"${b}vec")) / (col(s"${a}nrm") * col(s"${b}nrm"))

  /** C6: exact top-k neighbors (cosine) for each query vector.
    * Returns (qid, rank, neighbor_id), rank 1-based, ties broken by
    * neighbor id.
    */
  def bruteForceTopK(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame =
    scanTopK(vecSide(candidates, idCol, vecCol, "c"), vecSide(queries, idCol, vecCol, "q"), exactCosine(), k)

  /** C89: hybrid retrieval by RECIPROCAL-RANK FUSION (Cormack,
    * Clarke & Buettcher 2009) — the standard way production search
    * combines a lexical and a vector ranking without score
    * calibration: each arm contributes 10^6 DIV (rrfK + rank) for the
    * documents in its top-`kEach` list, fused candidates re-rank by
    * the sum. Rank-based fusion sidesteps the incomparable-score
    * problem (tf·idf mass vs cosine) entirely, which is why RRF wins
    * A/B tests against weighted score sums despite its simplicity.
    *
    * Lexical arm: inverted-index retrieval — corpus (doc, term, tf)
    * frame joined KEYED on term to the df counts (a web-scale
    * vocabulary never broadcasts) and BROADCAST to the query term
    * set (tiny by contract), scored Σ tf · (10^6 DIV df), top-kEach
    * per query via the map-side-combined [[TopKAggregator]]. Vector
    * arm: [[bruteForceTopK]] (queries broadcast over ONE corpus
    * scan). Fusion joins two k-bounded lists — everything after the
    * two corpus passes is k·|Q| rows, so the final per-query window
    * ranks ≤ 2·kEach rows. Integer RRF contributions (10^6 DIV
    * (rrfK+rank)) are distinct for ranks 1..20 at rrfK=60 and make
    * the fused score cross-engine exact; ties break by id.
    *
    * `textId`/`vecId` name the id columns of the two corpora; ids
    * must refer to the same entities (the doc_id ≡ vec_id contract
    * of a jointly-embedded corpus).
    */
  def rrfFusionTopK(
      corpusText: DataFrame,
      queryText: DataFrame,
      textId: String,
      textCol: String,
      corpusVec: DataFrame,
      queryVec: DataFrame,
      vecId: String,
      vecCol: String,
      kEach: Int = 20,
      k: Int = 10,
      rrfK: Int = 60
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(2 * kEach >= k, s"fusion pool (up to 2*kEach=${2 * kEach}) must cover final k=$k")
    val terms = (c: Column) => split(Dedup.normalize(c), " ")
    // MATERIALIZED once: both the df rollup and the scoring join read
    // this (doc, term, tf) aggregate — without it the corpus term
    // explode + keyed agg executed twice (Catalyst does not dedupe
    // common subtrees; the winsorize_stats r12 lesson).
    val cTf = corpusText
      .select(col(textId).as("cid"), explode(terms(col(textCol))).as("term"))
      .groupBy(col("cid"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = cTf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qTerms = queryText
      .select(col(textId).as("qid"), explode(array_distinct(terms(col(textCol)))).as("term"))
    val lexScored = cTf
      .join(dfreq, Seq("term"))
      .join(broadcast(qTerms), Seq("term"))
      .filter(col("cid") =!= col("qid"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("tf") * expr("1000000 DIV df")).as("ls"))
    val lex = topKReduce(lexScored, col("ls").cast("double"), kEach)
    val vec = bruteForceTopK(corpusVec, queryVec, vecId, vecCol, kEach)
    def contrib(r: DataFrame) =
      r.select(col("qid"), col("neighbor_id").as("id"),
        expr(s"1000000 DIV ($rrfK + rank)").as("c"))
    val fused = contrib(lex).withColumnRenamed("c", "lc")
      .join(contrib(vec).withColumnRenamed("c", "vc"), Seq("qid", "id"), "full_outer")
      .select(col("qid"), col("id"),
        (coalesce(col("lc"), lit(0L)) + coalesce(col("vc"), lit(0L))).as("rrf_ppm"))
    val w = Window.partitionBy(col("qid")).orderBy(col("rrf_ppm").desc, col("id"))
    fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor_id"), col("rrf_ppm"))
      .orderBy(col("qid"), col("rank"))
  }

  /** C80: exact cosine RANGE search — every corpus vector within
    * cosine ≥ tau of each query (radius search, FAISS
    * `IndexFlat.range_search`): the retrieval mode dedup thresholds
    * and near-match audits need, where top-k's fixed cutoff either
    * truncates dense neighborhoods or pads sparse ones. Exact by
    * construction — cost is one corpus scan per batch of queries, the
    * right tool when the query set is small (an IVF probe bounds the
    * scan when it isn't — [[ivfSearch]]).
    *
    * Plan: queries BROADCAST against the corpus scan — Θ(N·|Q|·dim)
    * multiply-adds inside one codegen stage ([[dot]] is the native
    * kernel), zero shuffle of the corpus; the id-pair output shuffles
    * only for the gate sort. `selfExclude` (default true) drops pairs
    * with vec_id == qid — the same-table radius-search contract, where
    * a corpus vector is trivially within any radius of itself. Pass
    * false when corpus and queries are INDEPENDENT datasets (e.g.
    * [[Curation.semanticContamination]]'s eval-vs-corpus screen):
    * their id spaces are unrelated, so an id collision there is a
    * coincidence that must not hide a genuine match.
    */
  def rangeSearch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      selfExclude: Boolean = true
  ): DataFrame =
    withinTau(
      vecSide(corpus, idCol, vecCol, "c")
        .join(broadcast(vecSide(queries, idCol, vecCol, "q")), if (selfExclude) col("cid") =!= col("qid") else lit(true)),
      tau)

  /** The (qid, vec_id) pairs of joined [[vecSide]] frames whose exact
    * cosine is at least `tau`, in (qid, vec_id) order.
    */
  private def withinTau(pairs: DataFrame, tau: Double): DataFrame =
    pairs
      .filter(exactCosine() >= tau)
      .select(col("qid"), col("cid").as("vec_id"))
      .orderBy(col("qid"), col("vec_id"))

  /** C80b: IVF-BOUNDED range search — [[rangeSearch]]'s scale path
    * for large query sets, and still EXACT: cells are pruned by the
    * spherical triangle inequality, never by a fixed nProbes. At
    * build, each cell records its angular radius `rad = max angle
    * (member, centroid)`; a query q must probe cell c only if
    * `angle(q, c) ≤ arccos(τ) + rad_c` — any member x with
    * cos(q, x) ≥ τ has angle(q,x) ≤ arccos τ, and angle(q,c) ≤
    * angle(q,x) + angle(x,c) bounds the rest. A 1e-9 slack absorbs
    * float rounding in the arccos, so no true match is ever pruned
    * (the final exact-cosine filter kills the extra candidates) —
    * output is bit-identical to [[rangeSearch]], same oracle.
    *
    * Plan: assignment + radii are one broadcast-centroid pass over
    * the corpus (built once; with [[buildIvfIndex]]'s partitioned
    * layout they persist and probes read only matching cells'
    * directories). The probe frame is |Q|·nClusters rows pre-prune —
    * tiny — and the scoring join touches only surviving (cell, query)
    * pairs: probed-cell IO, not corpus IO, while tight clusters and
    * high τ prune most of the sphere.
    */
  def rangeSearchIvf(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      nClusters: Int = 16,
      selfExclude: Boolean = true
  ): DataFrame = {
    require(tau > -1.0 && tau <= 1.0, s"tau must be in (-1, 1], got $tau")
    val (cands, qs) = rangeProbeFrame(corpus, queries, idCol, vecCol, tau, nClusters)
    withinTau(
      cands
        .join(broadcast(qs), Seq("cell"))
        .filter(if (selfExclude) col("cid") =!= col("qid") else lit(true)),
      tau)
  }

  /** [[rangeSearchIvf]]'s two sides: the cell-assigned corpus
    * (cid, cvec, cnrm, cell) and the pruned (qid, qvec, qnrm, cell)
    * probe frame.
    */
  private def rangeProbeFrame(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      nClusters: Int
  ): (DataFrame, DataFrame) = {
    val centers = fitCentroids(corpus, vecCol, nClusters)
    val cands = assignCells(corpus, Quantizer(centers, joinAssign = true), idCol, vecCol)
    val cd = centersDf(queries.sparkSession, centers)
    // angle between a [[vecSide]] vector (prefix p) and the joined centroid
    def centerAngle(p: String): Column =
      acos(least(lit(1.0), greatest(lit(-1.0),
        dot(col(s"${p}vec"), col("__center")) / (col(s"${p}nrm") * sqrt(col("__cnorm2"))))))
    val radii = cands
      .join(cd, col("cell") === col("__cell"))
      .select(col("cell"), centerAngle("c").as("ang"))
      .groupBy(col("cell"))
      .agg(max(col("ang")).as("rad"))
    val qs = vecSide(queries, idCol, vecCol, "q")
      .crossJoin(cd)
      .select(col("qid"), col("qvec"), col("qnrm"), col("__cell").as("cell"), centerAngle("q").as("qang"))
      .join(broadcast(radii), Seq("cell"))
      .filter(col("qang") <= lit(math.acos(tau) + 1e-9) + col("rad"))
      .select(col("qid"), col("qvec"), col("qnrm"), col("cell"))
    (cands, qs)
  }

  /** (qid, cell) pairs [[rangeSearchIvf]] would score, for specs that
    * measure the prune (pairs ≪ |Q|·nClusters) independently of
    * result correctness.
    */
  private[graft] def rangeProbePairs(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      nClusters: Int
  ): DataFrame =
    rangeProbeFrame(corpus, queries, idCol, vecCol, tau, nClusters)._2.select(col("qid"), col("cell"))

  /** C84: truncated-dimension retrieval recall — the Matryoshka /
    * dimension-reduction evaluation an embedding pipeline runs before
    * cutting storage: top-k neighbors by full-dimension cosine vs
    * top-k by a PREFIX of the dimensions (MRL-style truncation), per
    * query the overlap as exact basis points. Both rankings are
    * [[bruteForceTopK]]'s deterministic (score desc, id) order, so
    * overlap@k is well-defined; queries with zero overlap still
    * report (LEFT join from the query set).
    *
    * Plan: two broadcast-query corpus scans (full + sliced — the
    * slice prunes the dot-product work to `dims` components), the
    * overlap a (query, neighbor)-keyed join of two k·|Q| frames —
    * everything after the scans is k·|Q|-bounded.
    */
  def dimTruncateRecall(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int
  ): DataFrame = {
    val full = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("qid"), col("neighbor_id"))
    def truncate(df: DataFrame): DataFrame =
      df.select(col(idCol), slice(col(vecCol), 1, dims).as(vecCol))
    val trunc = bruteForceTopK(truncate(corpus), truncate(queries), idCol, vecCol, k)
      .select(col("qid"), col("neighbor_id"))
    val common = full.join(trunc, Seq("qid", "neighbor_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_common"))
    queries.select(col(idCol).as("qid"))
      .join(common, Seq("qid"), "left")
      .select(
        col("qid"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        expr(s"CAST(coalesce(n_common, 0L) * 10000L DIV $k AS BIGINT)").as("recall_bp"))
      .orderBy(col("qid"))
  }

  /** C27: nearest-centroid assignment — per-label mean centroids, then
    * every vector assigned to its closest centroid (squared L2, label
    * tiebreak). The classifier form of embedding clustering: centroid
    * quality / label coherence checks on a 100 TB embedding corpus.
    *
    * Fully declarative — no `.collect()`, no ml.Vector conversions:
    * centroids come from a posexplode → (label, dim) sum/count →
    * re-assembled array (two keyed aggregations over |labels|×dim
    * groups), and the assignment cross-joins the |labels|-row centroid
    * frame broadcast against the corpus: Θ(N·labels·dim) multiply-adds
    * with zero shuffle of the embedding column itself beyond its scan.
    * `min_by` over a (distance, label) struct makes ties deterministic.
    */
  def nearestCentroid(emb: DataFrame, idCol: String, vecCol: String, labelCol: String): DataFrame =
    emb
      .crossJoin(broadcast(labelCentroids(emb, labelCol, vecCol)))
      .select(
        col(idCol),
        col(labelCol).cast("long").as("label"),
        col("clab"),
        // native sqdist kernel: the HOF zip_with+aggregate form
        // interprets 2 lambdas × dim × |centroids| per row
        graft.functions.VecOps.vec_sqdist(col(vecCol), col("centroid")).as("d2")
      )
      .groupBy(col(idCol), col("label"))
      .agg(min_by(col("clab"), struct(col("d2"), col("clab"))).cast("long").as("pred_label"))
      .orderBy(col(idCol))

  /** (clab, centroid): the per-label mean vector in double precision,
    * from a posexplode → (label, dim) sum/count → re-assembled array —
    * two keyed aggregations over |labels|×dim groups. Shared by
    * [[nearestCentroid]] and [[Dedup.semanticDedup]].
    */
  private[operators] def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df
      .select(col(labelCol).as("clab"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("clab"), col("pos"))
      .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
      .groupBy(col("clab"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("pos"), (col("sx") / col("n")).as("cx")))),
          s => s.getField("cx")
        ).as("centroid")
      )

  /** Trained coarse quantizers, keyed by (candidate plan, the RDD ids
    * of its checkpointed leaves, data fingerprint, k). An IVF index is
    * built once and queried many times; re-fitting per query would
    * dominate. Deterministic (fixed
    * seed), so caching cannot change results; LRU-bounded like the
    * schema caches, so rewritten corpora and refits do not grow it
    * forever.
    */
  private val centroidCache = new graft.sources.SchemaCache[Array[Array[Double]]]

  private[graft] def fitCentroids(candidates: DataFrame, vecCol: String, nClusters: Int): Array[Array[Double]] = {
    // key includes a file-level fingerprint: same-path data that has
    // been rewritten must re-fit, not reuse pre-update centroids.
    // CANONICALIZED plan, not toString: raw plan strings embed fresh
    // exprIds per invocation, so a re-run of the same query never hit
    // the cache and re-fit every time (measured: the 8 PQ subspace
    // fits dominated sim_topk_pq's bench time). A checkpointed or
    // RDD-backed leaf prints only its columns and has no files, so its
    // RDD id stands in for its data
    val plan = candidates.queryExecution.logical
    val rddIds = plan.collectLeaves().collect { case r: LogicalRDD => r.rdd.id }
    val cacheKey = plan.canonicalized.toString + "#" + vecCol + "#" + rddIds.mkString(",") +
      "#" + Catalog.dataFingerprint(candidates.sparkSession, candidates) + "#k=" + nClusters
    centroidCache.get(cacheKey).getOrElse {
      val train = candidates.select(array_to_vector(col(vecCol)).as("features"))
      // centroids ride into the plan as literals → assignment is a
      // pure projection, no model object on the executors
      val centers = new KMeans().setK(nClusters).setSeed(42L).setMaxIter(10).fit(train)
        .clusterCenters.map(_.toArray)
      centroidCache.put(cacheKey, centers)
      centers
    }
  }

  private def centerCol(c: Array[Double]): Column = array(c.map(lit).toIndexedSeq: _*)

  private def sqDistTo(v: Column, c: Array[Double]): Column = {
    val d = dot(v, centerCol(c))
    val cNorm = c.map(x => x * x).sum
    dot(v, v) - lit(2.0) * d + lit(cNorm)
  }

  // NB: arg-min via array_sort, NOT a when()-reduce — a reduce of
  // when(a.d<=b.d, a, b) duplicates the whole accumulated expression
  // at every level (2^k tree growth → OOM at analysis time)
  private def cellsByDistance(centers: Array[Array[Double]], v: Column): Column = {
    val scored = array(centers.zipWithIndex.map { case (c, i) =>
      struct(sqDistTo(v, c).as("d"), lit(i).as("cell"))
    }.toIndexedSeq: _*)
    transform(array_sort(scored), s => s.getField("cell"))
  }

  /** Above this many clusters, cell assignment switches from inlined
    * centroid literals (a pure whole-stage-codegen projection — fastest
    * at small k) to a broadcast join against a centroids frame: one
    * expression holding k×dim literals stops analyzing/compiling long
    * before data is the bottleneck, and a 100 TB corpus wants
    * thousands of cells.
    */
  private[graft] val literalCentroidMax = 64

  /** A fitted coarse quantizer and how vectors find their cells:
    * `joinAssign` false inlines the centroids as literals, true joins
    * the broadcast centroid frame. Both paths compute the same
    * squared distance, so they assign the same cells.
    */
  private[graft] final case class Quantizer(centers: Array[Array[Double]], joinAssign: Boolean)

  private[graft] object Quantizer {

    /** The one path rule: literals up to [[literalCentroidMax]] fitted
      * centers, the broadcast join above.
      */
    def apply(centers: Array[Array[Double]]): Quantizer =
      Quantizer(centers, joinAssign = centers.length > literalCentroidMax)
  }

  /** Centroids as a tiny broadcastable frame (cell, center, |c|²). */
  private def centersDf(spark: org.apache.spark.sql.SparkSession, centers: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    broadcast(
      centers.zipWithIndex
        .map { case (c, i) => (i, c, c.map(x => x * x).sum) }
        .toIndexedSeq
        .toDF("__cell", "__center", "__cnorm2")
    )
  }

  // same expression shape as sqDistTo so both assignment paths agree
  // bit-for-bit: dot(v,v) - 2·dot(v,c) + |c|²
  private def sqDistExpr(v: Column): Column =
    dot(v, v) - lit(2.0) * dot(v, col("__center")) + col("__cnorm2")

  /** ONE cell-assignment implementation for build, append, refit and
    * every index kind: two code paths drifting apart would silently
    * mix cell geometries inside one index (appended vectors assigned
    * by a different rule become unfindable at probe time). Returns
    * (cid, cvec, cnrm, cell). The join path broadcast-joins every
    * vector with all k centroids; a map-side partial min collapses the
    * k rows per vector before the (single, id-keyed) shuffle, so it
    * scales to any nClusters the fit can produce.
    */
  private[graft] def assignCells(df: DataFrame, q: Quantizer, idCol: String, vecCol: String): DataFrame = {
    val side = vecSide(df, idCol, vecCol, "c")
    if (!q.joinAssign) side.withColumn("cell", element_at(cellsByDistance(q.centers, col("cvec")), 1))
    else
      side
        .crossJoin(centersDf(df.sparkSession, q.centers))
        .withColumn("__d", sqDistExpr(col("cvec")))
        .groupBy(col("cid"))
        .agg(
          first(col("cvec")).as("cvec"),
          first(col("cnrm")).as("cnrm"),
          min(struct(col("__d"), col("__cell"))).getField("__cell").as("cell")
        )
  }

  /** Each query's `nProbes` nearest cells: (qid, qvec, qnrm, cell), one
    * row per probed cell. The join path ranks the (tiny)
    * query×centroid frame with one window.
    */
  private[graft] def probeCells(
      queries: DataFrame,
      q: Quantizer,
      idCol: String,
      vecCol: String,
      nProbes: Int
  ): DataFrame = {
    val side = vecSide(queries, idCol, vecCol, "q")
    if (!q.joinAssign) side.withColumn("cell", explode(slice(cellsByDistance(q.centers, col("qvec")), 1, nProbes)))
    else nearestCells(side, q.centers, "q", nProbes).select(col("qid"), col("qvec"), col("qnrm"), col("__cell").as("cell"))
  }

  /** The `n` nearest cells of each vector of a [[vecSide]] frame with
    * prefix `p`, through the broadcast centroid frame: one row per
    * (vector, cell) carrying `__cell`, the squared distance `__d` and
    * its 1-based rank `__rn` (ties by cell id).
    */
  private def nearestCells(side: DataFrame, centers: Array[Array[Double]], p: String, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(s"${p}id"))
      .orderBy(col("__d"), col("__cell"))
    side
      .crossJoin(centersDf(side.sparkSession, centers))
      .withColumn("__d", sqDistExpr(col(s"${p}vec")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
  }

  /** The probe tail of the IVF family: join the broadcast probe frame
    * `qs` (one row per query and probed cell) to the cell-keyed
    * candidates, drop self-pairs and take each query's top k by
    * `score`.
    */
  private def cellTopK(cells: DataFrame, qs: DataFrame, score: Column, k: Int, scoreOut: Option[String] = None): DataFrame =
    topKReduce(cells.join(broadcast(qs), Seq("cell")).filter(col("cid") =!= col("qid")), score, k, scoreOut)

  /** The scan tail: every candidate against the broadcast queries `qs`
    * in one corpus pass, self-pairs dropped, each query's top k by
    * `score`.
    */
  private[operators] def scanTopK(
      cands: DataFrame,
      qs: DataFrame,
      score: Column,
      k: Int,
      scoreOut: Option[String] = None
  ): DataFrame =
    topKReduce(cands.join(broadcast(qs), col("cid") =!= col("qid")), score, k, scoreOut)

  /** ONE top-k assembly for every search surface (float cosine, int8
    * dot, LSH, IVF): (qid, cid) pairs scored by `score` → per-query
    * map-side TopKAggregator reduce → (qid, rank, neighbor_id[,
    * scoreOut]). Rank order and tie-breaking (score desc, id asc) live
    * HERE only — three drifting copies of this pipeline is how an ANN
    * surface grows inconsistent ranking semantics.
    */
  private def topKReduce(pairs: DataFrame, score: Column, k: Int, scoreOut: Option[String] = None): DataFrame = {
    val topk = udaf(new TopKAggregator(k))
    val cols =
      Seq(col("qid"), (col("pos") + 1).cast("long").as("rank"), col("col.id").as("neighbor_id")) ++
        scoreOut.map(n => col("col.score").cast("long").as(n))
    pairs
      .select(col("qid"), score.as("score"), col("cid").as("id"))
      .groupBy(col("qid"))
      .agg(topk(col("score"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(cols: _*)
      .orderBy(col("qid"), col("rank"))
  }

  /** Core IVF search over fitted centers; `joinAssign` picks the cell
    * assignment strategy (package-visible so tests can force both
    * paths and assert identical results).
    */
  private[graft] def ivfSearch(
      candidates: DataFrame,
      queries: DataFrame,
      centers: Array[Array[Double]],
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int,
      joinAssign: Boolean
  ): DataFrame = {
    val q = Quantizer(centers, joinAssign)
    cellTopK(assignCells(candidates, q, idCol, vecCol), probeCells(queries, q, idCol, vecCol, nProbes), exactCosine(), k)
  }

  /** C7b: IVF (inverted-file) ANN — the FAISS-style scale path. A
    * coarse k-means quantizer (trained once) partitions the corpus
    * into `nClusters` cells; each query exhaustively scores only its
    * `nProbes` nearest cells, i.e. ~nProbes/nClusters of the corpus.
    * Cell assignment inlines the centroids as literals up to
    * [[literalCentroidMax]] clusters (pure codegen projection) and
    * switches to a broadcast centroid join above it (large-nClusters
    * corpora). Search is a hash join on cell id + the same map-side
    * TopKAggregator as brute force.
    */
  def ivfTopK(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nClusters: Int = 16,
      nProbes: Int = 4
  ): DataFrame = {
    val q = Quantizer(fitCentroids(candidates, vecCol, nClusters))
    ivfSearch(candidates, queries, q.centers, idCol, vecCol, k, nProbes, q.joinAssign)
  }

  /** Persist the IVF index: centroids as a tiny parquet table plus the
    * cell assignment (cell, id, vec, norm) PARTITIONED BY cell. The
    * expensive parts — k-means fit, cell assignment, norm computation
    * — happen once at build time and amortize across sessions; a probe
    * then reads only its cells' directories (partition pruning /
    * dynamic partition pruning on the broadcast probe join), never the
    * full corpus.
    */
  def buildIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      indexDir: String
  ): Unit =
    buildIvf(spark, candidates, Quantizer(fitCentroids(candidates, vecCol, nClusters)), idCol, vecCol, indexDir)

  /** The one IVF builder: `centroids` from the quantizer, then each
    * candidate's assigned (cid, cvec, cnrm, cell) row through `stored`
    * — the stored-vector projection — into `cells`, partitioned by
    * cell.
    */
  private[graft] def buildIvf(
      spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame,
      q: Quantizer,
      idCol: String,
      vecCol: String,
      indexDir: String,
      stored: DataFrame => DataFrame = identity
  ): Unit = {
    writeCentroids(spark, q.centers, indexDir)
    stored(assignCells(candidates, q, idCol, vecCol))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/cells")
  }

  /** The coarse quantizer as `indexDir/centroids` (cell, center), one
    * file — the layout every IVF-family index shares.
    */
  private def writeCentroids(
      spark: org.apache.spark.sql.SparkSession,
      centers: Array[Array[Double]],
      indexDir: String
  ): Unit = {
    import spark.implicits._
    centers.zipWithIndex.toIndexedSeq
      .map { case (c, i) => (i, c) }
      .toDF("cell", "center")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** The stored coarse quantizer, in cell order — shared by the
    * append and probe paths.
    */
  private def loadQuantizer(spark: org.apache.spark.sql.SparkSession, indexDir: String): Quantizer =
    Quantizer(
      Catalog.readParquet(spark, s"$indexDir/centroids")
        .orderBy("cell").collect()
        .map(_.getAs[Seq[Double]]("center").toArray))

  /** Append a new batch into a persisted IVF index WITHOUT refitting:
    * the stored centroids are read back and FROZEN (cell geometry
    * stays comparable across batches), the batch is assigned exactly
    * like [[buildIvfIndex]] assigns the corpus, and only the touched
    * cell partitions gain files (parquet append under `cell=`). After
    * the append, [[ivfTopKIndexed]] answers as if the index had been
    * built over the union with these centroids — the k-means refit
    * (and rebuild) is a scheduled maintenance job, not a per-batch
    * cost. Pair with Writers.compactPartitioned on `cells/` when
    * batch-sized files accumulate.
    */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String
  ): Unit =
    assignCells(batch, loadQuantizer(spark, indexDir), idCol, vecCol)
      .write.mode("append").partitionBy("cell").parquet(s"$indexDir/cells")

  /** The scheduled maintenance job that [[appendToIvfIndex]] defers
    * to: re-fit the coarse quantizer from the indexed vectors (or a
    * sample) and re-assign every cell. Frozen-centroid appends keep
    * the index correct, but a drifted distribution leaves dense new
    * regions straddling stale Voronoi boundaries — neighbors split
    * across cells a low-nProbes probe won't cover, and cell sizes
    * skew (probe IO is proportional to probed-cell bytes). The whole
    * NEW index (centroids + cells) is staged under `indexDir__tmp`
    * and swapped in with ONE checked promote of the index root, so
    * concurrent probes read the complete old index until the rename
    * and the complete new one after — never a mixed geometry. A
    * failed promote restores the old index and throws.
    */
  def refitIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      nClusters: Int,
      sampleFraction: Double = 1.0,
      seed: Long = 42L
  ): Unit = {
    // the indexed vectors ARE the corpus — no external source needed
    val corpus = Catalog.readParquet(spark, s"$indexDir/cells").select(col("cid"), col("cvec"))
    val train =
      if (sampleFraction >= 1.0) corpus
      else corpus.sample(withReplacement = false, sampleFraction, seed)
    val tmp = s"${indexDir}__tmp"
    buildIvf(spark, corpus, Quantizer(fitCentroids(train, "cvec", nClusters)), "cid", "cvec", tmp)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sinks.PartitionedUpsert.promote(fs, tmp, indexDir)
  }

  /** Query a persisted IVF index (see [[buildIvfIndex]]) — no k-means
    * fit, no full-corpus assignment: centroids load from one tiny file
    * and candidate IO is bounded by the probed cells.
    */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int = 4
  ): DataFrame = {
    val q = loadQuantizer(spark, indexDir)
    cellTopK(Catalog.readParquet(spark, s"$indexDir/cells"),
      probeCells(queries, q, idCol, vecCol, nProbes), exactCosine(), k)
  }

  /** C42: IVF-SQ8 build — the FAISS IVF+scalar-quantizer shape: cell
    * geometry identical to [[buildIvfIndex]] (same fit, same
    * [[assignCells]] rule), but the stored vectors are int8-quantized
    * ([[graft.functions.VecOps.quantizeI8]]) — 4x smaller in memory,
    * measured ~2.3x smaller on disk after parquet int-packing
    * (ScaleSpec), which at 100 TB is the difference between an index
    * that fits hot storage and one that does not. Probing scores with
    * exact integer dots; the recall tradeoff is property-tested.
    */
  def buildIvfIndexSq8(
      spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      indexDir: String
  ): Unit =
    buildIvf(spark, candidates, Quantizer(fitCentroids(candidates, vecCol, nClusters)), idCol, vecCol, indexDir,
      sq8Cells)

  /** The SQ8 stored-vector projection: (cid, cq int8 vector, cell). */
  private[graft] def sq8Cells(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), graft.functions.VecOps.quantize_i8(col("cvec")).as("cq"), col("cell"))

  /** [[buildIvfIndexSq8]] behind the build-once gate
    * ([[Catalog.buildOnce]]), keyed on the candidates' files plus
    * `nClusters`: a warm probe skips the fit and the index rewrite.
    * Returns whether it built.
    */
  def buildIvfIndexSq8IfAbsent(
      spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      indexDir: String
  ): Boolean =
    Catalog.buildOnce(spark, candidates, indexDir, s"#nc=$nClusters") {
      buildIvfIndexSq8(spark, candidates, idCol, vecCol, nClusters, indexDir)
    }

  /** C42 probe: query a persisted SQ8 index — cell selection uses the
    * float centroids exactly like [[ivfTopKIndexed]] (the coarse
    * quantizer stays full-precision; only the residual scoring is
    * int8), candidates are ranked by exact Long dot of quantized
    * vectors. Output carries the integer score (`dot_q`).
    */
  def ivfTopKIndexedSq8(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int = 4
  ): DataFrame =
    ivfTopKIndexedSq8(spark, indexDir, loadQuantizer(spark, indexDir), queries, idCol, vecCol, k, nProbes)

  /** [[ivfTopKIndexedSq8]] with the index's quantizer given, so specs
    * can force either cell-selection path.
    */
  private[graft] def ivfTopKIndexedSq8(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      q: Quantizer,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int
  ): DataFrame =
    cellTopK(
      Catalog.readParquet(spark, s"$indexDir/cells"),
      probeCells(queries, q, idCol, vecCol, nProbes).withColumn("qq", graft.functions.VecOps.quantize_i8(col("qvec"))),
      graft.functions.VecOps.vec_dot_int(col("cq"), col("qq")).cast("double"),
      k,
      scoreOut = Some("dot_q")
    )

  /** C42 refined probe: SQ8 shortlist + exact re-rank — the FAISS
    * discipline the PQ path already follows ([[pqTopKRefined]]):
    * int8 scoring only SELECTS `shortlist` candidates per query
    * (cell-pruned, quantized-scan cheap), then ONLY those ids fetch
    * their true vectors for exact-cosine ranking. Measured on the
    * driver embeddings at sf0.1, raw int8 ranking holds recall@5 at
    * ~0.44 (quantization noise reorders near-ties); the refine step
    * recovers the IVF ceiling at the same nProbes, reading full
    * vectors for shortlist×|Q| rows — never a corpus scan.
    */
  def ivfTopKIndexedSq8Refined(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int = 4,
      shortlist: Int = 50
  ): DataFrame =
    exactRerank(ivfTopKIndexedSq8(spark, indexDir, queries, idCol, vecCol, shortlist, nProbes),
      corpus, queries, idCol, vecCol, k)

  // ---------------------------------------------------------------
  // Product quantization (C48, Jégou et al. 2011): the memory-bound
  // ANN scale path. Each vector stores as ONE packed Long (m=8
  // subspaces × 1-byte codes) — 32x smaller than 64 float32s, so a
  // billion-vector index is 8 GB of codes instead of 256 GB of
  // vectors. Probing is ADC: per query one m×kCodes table of partial
  // dots (codegen kernel), then every candidate costs m array lookups
  // on its code — the scan reads ONLY (id, code) longs, never a
  // vector, and top-k reduces map-side (k rows per partition per
  // query cross the shuffle). Codebooks are per-subspace k-means fits
  // (~64 KB — plan literals, deterministic seed).
  // ---------------------------------------------------------------

  /** Fit per-subspace codebooks and persist the PQ index:
    * `codebooks` (sub, code, center) + `codes` (id, code Long).
    * Requires dim % m == 0; kCodes ≤ 256 (one byte per subspace).
    */
  def buildPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      indexDir: String,
      m: Int = 8,
      kCodes: Int = 256
  ): Unit = {
    val subDim = pqSubDim(dim, m, kCodes)
    // L2-normalize first: ADC sums partial DOT products, so encoding
    // unit vectors makes the score approximate COSINE — the metric
    // every other similarity path here ranks by. The norm is
    // materialized as a column BEFORE the transform lambda (a norm
    // call inside the lambda would re-evaluate the full dot per
    // element — the defect class fixed for dup_ngram_mass).
    val unit = normalized(candidates, idCol, vecCol)
    val flat = trainPq(spark, unit, unit.count(), idCol, "__unit", m, kCodes, subDim, indexDir)
    unit
      .select(col(idCol).as("cid"),
        graft.functions.VecOps.pq_encode(col("__unit"), flat, m, kCodes, subDim).as("code"))
      .write.mode("overwrite").parquet(s"$indexDir/codes")
  }

  /** The PQ shape checks of every PQ build; returns the subspace width
    * dim / m.
    */
  private def pqSubDim(dim: Int, m: Int, kCodes: Int): Int = {
    require(m >= 1 && m <= 8, s"PQ m must be in [1,8] (codes pack one byte per subspace); got $m")
    require(kCodes >= 1 && kCodes <= 256, s"PQ kCodes must be in [1,256]; got $kCodes")
    require(dim % m == 0, s"PQ needs dim % m == 0; got dim=$dim m=$m")
    dim / m
  }

  /** The one PQ trainer: per-subspace k-means codebooks over
    * `vecCol` of `vecs` (`total` rows, ids in `idCol`), written as
    * `codebooks` (sub, code, center) and returned flattened for the
    * encode and ADC kernels.
    *
    * Training runs on a deterministic hash-sample of the vectors — the
    * FAISS discipline (~256 training vectors per centroid saturate
    * codebook quality; training all N is O(N·k·iters·m) for no recall
    * gain and dominated the build at 200k vectors). ENCODING still
    * covers every vector. xxhash64 of the id makes the sample
    * reproducible, so codes stay deterministic across rebuilds.
    */
  private def trainPq(
      spark: org.apache.spark.sql.SparkSession,
      vecs: DataFrame,
      total: Long,
      idCol: String,
      vecCol: String,
      m: Int,
      kCodes: Int,
      subDim: Int,
      indexDir: String
  ): Array[Float] = {
    import spark.implicits._
    val trainTarget = kCodes.toLong * 256L
    // ppm threshold floored to >= 1: the integer division hits 0 once
    // total > trainTarget*10000 (~655M rows at kCodes=256), which would
    // select NOTHING and fit codebooks on an empty frame — exactly the
    // corpus size this sampling exists for. The floor over-samples
    // slightly past that point (0.01% of the corpus >= trainTarget),
    // never under-samples.
    val trainBase =
      if (total <= trainTarget) vecs
      else vecs.filter(pmod(xxhash64(col(idCol)), lit(10000L)) <
        lit(math.max(1L, trainTarget * 10000L / total)))
    // per-subspace k-means over the sliced vectors — m small fits,
    // each a distinct fitCentroids cache entry
    val books: Array[Array[Array[Double]]] = (0 until m).map { s =>
      fitCentroids(
        trainBase.select(slice(col(vecCol), s * subDim + 1, subDim).as("sub")),
        "sub", kCodes)
    }.toArray
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, ci) => (s, ci, c.toSeq) }
    }.toIndexedSeq
      .toDF("sub", "code", "center")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$indexDir/codebooks")
    flatBooks(books, m, kCodes, subDim)
  }

  /** [[buildPqIndex]] guarded by a persisted data fingerprint: a PQ
    * index is trained once and probed many times — refitting m
    * codebooks on every probe call would dominate (it did: the
    * unguarded entry spent ~90% of its time re-fitting). The
    * fingerprint file pins (files, mtimes, lengths) of the candidate
    * frame; a rewritten corpus re-trains, an unchanged one skips
    * straight to the probe ([[Catalog.buildOnce]]).
    */
  def buildPqIndexIfAbsent(
      spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      indexDir: String,
      m: Int = 8,
      kCodes: Int = 256
  ): Boolean = {
    Catalog.buildOnce(spark, candidates, indexDir, s"#dim=$dim#m=$m#k=$kCodes") {
      buildPqIndex(spark, candidates, idCol, vecCol, dim, indexDir, m, kCodes)
    }
  }

  /** (idCol, __unit): the L2-normalized vector, zero vectors passed
    * through unchanged. Norm materializes as its own column so the
    * per-element division never re-evaluates the dot.
    */
  private def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol).as("__v"), norm(col(vecCol)).as("__n"))
      .select(col(idCol),
        when(col("__n") > 0.0,
          transform(col("__v"), x => (x / col("__n")).cast("float")))
          .otherwise(col("__v")).as("__unit"))

  private def flatBooks(books: Array[Array[Array[Double]]], m: Int, kCodes: Int, subDim: Int): Array[Float] = {
    val flat = new Array[Float](m * kCodes * subDim)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < kCodes) {
        val center = books(s)(c)
        var d = 0
        while (d < subDim) {
          flat((s * kCodes + c) * subDim + d) = center(d).toFloat
          d += 1
        }
        c += 1
      }
      s += 1
    }
    flat
  }

  private def loadPqBooks(spark: org.apache.spark.sql.SparkSession, indexDir: String): (Array[Float], Int, Int, Int) = {
    val rows = Catalog.readParquet(spark, s"$indexDir/codebooks")
      .orderBy("sub", "code").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val kCodes = rows.map(_.getInt(1)).max + 1
    val subDim = rows(0).getAs[Seq[Double]]("center").length
    val books = Array.ofDim[Array[Double]](m, kCodes)
    rows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getAs[Seq[Double]]("center").toArray)
    (flatBooks(books.map(_.toArray), m, kCodes, subDim), m, kCodes, subDim)
  }

  /** C48 probe: ADC top-k over the persisted code table. Scans 8
    * bytes per candidate (the packed code), never a vector; each
    * (query, candidate) score is m table lookups via the codegen
    * `pq_adc` kernel; map-side TopK reduce. Approximate by design
    * (quantization error) — recall property-tested vs brute force.
    */
  def pqTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val (flat, m, kCodes, subDim) = loadPqBooks(spark, indexDir)
    val codes = Catalog.readParquet(spark, s"$indexDir/codes")
    val qs = normalized(queries, idCol, vecCol).select(
      col(idCol).as("qid"),
      graft.functions.VecOps.pq_query_table(col("__unit"), flat, m, kCodes, subDim).as("qtab"))
    scanTopK(codes, qs, graft.functions.VecOps.pq_adc(col("code"), col("qtab"), m, kCodes), k)
  }

  /** C48 production probe: ADC SHORTLIST + exact re-rank — the
    * standard PQ deployment (Jégou et al. §V): the 8-byte-code scan
    * ranks a shortlist of `shortlist` candidates per query (cheap,
    * memory-bound), then ONLY those ids fetch their true vectors from
    * the corpus table (id-keyed join, shortlist×queries rows — never
    * a corpus scan) for exact-cosine re-ranking. Lifts recall@10 from
    * PQ's intrinsic ~0.4-0.6 at 32x compression to near-exact while
    * reading full vectors for a vanishing fraction of the corpus.
    */
  def pqTopKRefined(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      shortlist: Int = 50
  ): DataFrame =
    exactRerank(pqTopKIndexed(spark, indexDir, queries, idCol, vecCol, shortlist), corpus, queries, idCol, vecCol, k)

  /** Shared exact-cosine re-rank for every shortlist-then-refine ANN
    * path: ONLY the ids of the shortlist's (qid, rank, neighbor_id)
    * rows fetch their true vectors (id-keyed join, shortlist×queries
    * rows — never a corpus scan).
    */
  private def exactRerank(
      short: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame =
    topKReduce(
      short
        .select(col("qid"), col("neighbor_id").as("cid"))
        .join(vecSide(corpus, idCol, vecCol, "c"), "cid")
        .join(broadcast(vecSide(queries, idCol, vecCol, "q")), "qid"),
      exactCosine(),
      k)

  /** C68: IVF-PQ index build — the full IVFADC shape (Jégou et al.
    * 2011 §V, the FAISS `IVFx,PQy` workhorse): a coarse k-means
    * quantizer partitions the corpus into cells (IVF — probes read
    * only nProbes cells' bytes), and each vector stores ONLY an
    * 8-byte PQ code of its RESIDUAL r = x − c(cell) (PQ — 32x
    * smaller than float32). Residual encoding is what separates this
    * from [[buildPqIndex]]+[[buildIvfIndex]] side by side: residuals
    * concentrate near zero, so the SAME codebook budget quantizes
    * them with far less error than raw vectors (the paper's central
    * observation). Probing scores inner product exactly as
    *   q·x̂ = q·c(cell) + q·r̂,
    * one per-cell scalar plus an m-lookup ADC sum.
    *
    * Layout: `centroids` matches [[buildIvfIndex]], `codebooks`/
    * `cells` match the PQ layout ([[loadPqBooks]] reads both), cells
    * partition the (cid, code) pairs by `cell` so probe IO is bounded
    * by probed cells. Codebooks train on a deterministic hash-sample
    * of residuals ([[trainPq]], floor ≥ 1 ppm).
    */
  def buildIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nClusters: Int,
      indexDir: String,
      m: Int = 8,
      kCodes: Int = 256
  ): Unit = {
    pqSubDim(dim, m, kCodes) // fail on a bad shape before the coarse fit
    val centers = fitCentroids(normalized(candidates, idCol, vecCol).select(col("__unit")), "__unit", nClusters)
    buildIvfPqIndex(spark, candidates, idCol, vecCol, dim, Quantizer(centers), indexDir, m, kCodes)
  }

  /** [[buildIvfPqIndex]] over a given coarse quantizer (fitted on the
    * unit vectors), so specs can force either assignment path.
    */
  private[graft] def buildIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      q: Quantizer,
      indexDir: String,
      m: Int,
      kCodes: Int
  ): Unit = {
    val subDim = pqSubDim(dim, m, kCodes)
    writeCentroids(spark, q.centers, indexDir)
    // residual under the vector's own centroid — keyed broadcast join,
    // never an nClusters-branch literal expression
    val (withRes, total) = Materialize.counted(
      assignCells(normalized(candidates, idCol, vecCol), q, idCol, "__unit")
        .join(centersDf(spark, q.centers).select(col("__cell").as("cell"), col("__center")), "cell")
        .select(col("cid"), col("cell"),
          zip_with(col("cvec"), col("__center"), (a, b) => (a - b).cast("float")).as("__res")))
    val flat = trainPq(spark, withRes, total, "cid", "__res", m, kCodes, subDim, indexDir)
    withRes
      .select(col("cid"), col("cell"),
        graft.functions.VecOps.pq_encode(col("__res"), flat, m, kCodes, subDim).as("code"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/cells")
  }

  /** [[buildIvfPqIndex]] guarded by the same persisted data
    * fingerprint as [[buildPqIndexIfAbsent]] — built once, probed
    * many times; a rewritten corpus re-trains.
    */
  def buildIvfPqIndexIfAbsent(
      spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nClusters: Int,
      indexDir: String,
      m: Int = 8,
      kCodes: Int = 256
  ): Boolean = {
    Catalog.buildOnce(spark, candidates, indexDir, s"#dim=$dim#nc=$nClusters#m=$m#k=$kCodes") {
      buildIvfPqIndex(spark, candidates, idCol, vecCol, dim, nClusters, indexDir, m, kCodes)
    }
  }

  /** C68 probe: nProbes nearest cells per query, ADC over each probed
    * cell's 8-byte residual codes, score = q·c(cell) + q·r̂. Only the
    * probed cells' (cid, code) pairs are read — IO ∝ probed-cell
    * bytes at 1/32nd of float width; vectors never load.
    */
  def ivfPqTopK(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int = 4
  ): DataFrame =
    ivfPqTopK(spark, indexDir, loadQuantizer(spark, indexDir), queries, idCol, vecCol, k, nProbes)

  /** [[ivfPqTopK]] with the index's quantizer given, so specs can force
    * either cell-selection path.
    */
  private[graft] def ivfPqTopK(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      q: Quantizer,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int
  ): DataFrame = {
    val (flat, m, kCodes, subDim) = loadPqBooks(spark, indexDir)
    val cells = Catalog.readParquet(spark, s"$indexDir/cells")
    val qs = probeCells(normalized(queries, idCol, vecCol), q, idCol, "__unit", nProbes)
      .join(centersDf(spark, q.centers).select(col("__cell").as("cell"), col("__center")), "cell")
      .select(col("qid"), col("cell"), dot(col("qvec"), col("__center")).as("qc"),
        graft.functions.VecOps.pq_query_table(col("qvec"), flat, m, kCodes, subDim).as("qtab"))
    cellTopK(cells, qs, col("qc") + graft.functions.VecOps.pq_adc(col("code"), col("qtab"), m, kCodes), k)
  }

  /** C68 production probe: IVF-PQ ADC shortlist + exact re-rank on
    * id-fetched vectors — the deployment shape FAISS calls
    * IVFADC+refine.
    */
  def ivfPqTopKRefined(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int = 4,
      shortlist: Int = 50
  ): DataFrame =
    exactRerank(ivfPqTopK(spark, indexDir, queries, idCol, vecCol, shortlist, nProbes), corpus, queries, idCol, vecCol, k)

  /** Bucket ids for `tables` independent hash tables (table t uses
    * planes [t*planes, (t+1)*planes) of the deterministic family),
    * each code a single Long packing (table << 56) | signBits — the
    * complete join key. Native one-pass kernel: the former
    * declarative form built tables*planes literal arrays as Catalyst
    * expressions, which blows past Janino limits (and interpreted
    * fallback speed) at the 20+-bit codes clustered corpora need.
    * Public: also the blocking key for Dedup.embeddingPairsLsh. The
    * vector width is read from each row's array at runtime.
    *
    * Hard limits planes ≤ 56 / tables ≤ 255 come from the packed-Long
    * code layout ((table << 56) | signBits) and are validated HERE so
    * a caller gets a sizing error at call time, not a generic
    * analysis-time type-check failure deep in a plan. SCHEMA NOTE: the
    * packed-Long codes replaced an earlier array<struct(t, bucket)>
    * layout — an embedding index persisted under the old schema
    * cannot be probed by this code; rebuild it with
    * Dedup.buildEmbeddingIndex.
    */
  def tableBuckets(vecCol: Column, planes: Int, tables: Int): Column = {
    require(planes >= 1 && planes <= 56,
      s"tableBuckets: planes must be in [1, 56] (codes pack sign bits into the low 56 bits of a Long); got $planes. " +
        "For more planes use the IVF index instead of wider LSH codes.")
    require(tables >= 1 && tables <= 255,
      s"tableBuckets: tables must be in [1, 255] (table id packs into the top byte of the code); got $tables.")
    graft.functions.VecOps.table_codes(vecCol, planes, tables)
  }

  /** C7: ANN top-k with multi-table random-hyperplane LSH. Exact
    * cosine is only computed against candidates sharing a bucket with
    * the query in at least one of `tables` hash tables (expected
    * ~N*tables/2^planes of the corpus). Recall/latency tunes with
    * (planes, tables); measured in the test suite. Queries in sparse
    * buckets return fewer than k rows — standard ANN semantics.
    */
  def lshTopK(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 8,
      tables: Int = 4,
      probeHamming: Int = 2
  ): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 2, s"probeHamming in [0,2], got $probeHamming")
    val cands = vecSide(candidates, idCol, vecCol, "c")
      .withColumn("tb", explode(tableBuckets(col("cvec"), planes, tables)))
    // MULTI-PROBE (Lv et al., VLDB'07 shape): a true neighbor that
    // disagrees with the query on 1–2 hyperplane signs lands in a
    // bucket at Hamming distance 1–2, so each query also probes every
    // ≤probeHamming-bit sign perturbation of its own bucket. The
    // perturbation explode happens ONLY on the broadcast query side —
    // the corpus keeps exactly one posting per (vector, table), so
    // corpus IO is unchanged and candidate volume grows with the
    // probed-bucket count, the tunable recall/cost dial. XOR masks
    // stay below the table-id bits of the packed (table<<56 | signs)
    // code, so perturbed keys never cross tables.
    val masks: Seq[Long] = {
      val h1 = (0 until planes).map(1L << _)
      val h2 = for { i <- 0 until planes; j <- (i + 1) until planes } yield (1L << i) | (1L << j)
      Seq(0L) ++ (if (probeHamming >= 1) h1 else Nil) ++ (if (probeHamming >= 2) h2 else Nil)
    }
    val qs = broadcast(
      vecSide(queries, idCol, vecCol, "q")
        .withColumn("qtb0", explode(tableBuckets(col("qvec"), planes, tables)))
        .select(col("qid"), col("qvec"), col("qnrm"),
          explode(array(masks.map(m => col("qtb0").bitwiseXOR(lit(m))): _*)).as("qtb"))
    )
    topKReduce(
      cands
        .join(qs, col("tb") === col("qtb") && col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), col("cvec"), col("qvec"), col("cnrm"), col("qnrm"))
        .distinct(), // a pair may collide in several tables; score once
      exactCosine(),
      k
    )
  }

  // ------------------------------------------------------------------
  // C104: graph ANN — Spark-native HNSW-class beam search
  // ------------------------------------------------------------------

  /** Build a degree-bounded navigable neighbor graph — the HNSW-class
    * index (Malkov & Yashunin 2016), here as a single-layer NSW
    * variant: the hierarchy exists to cut single-machine pointer-chase
    * latency, but a Spark probe amortizes every hop over the whole
    * query BATCH as one keyed join, so one well-connected layer plus
    * per-cell entry points plays the upper layers' role (greedy
    * zoom-in starts near the right region by construction).
    *
    * Construction is IVF-blocked kNN: every vector joins its 2 nearest
    * coarse cells (multi-assignment creates the cross-cell edges
    * single-cell blocking would miss), intra-block pairs score
    * exactly, each vector keeps its m best, and the edge set is
    * symmetrized then degree-capped at m keep-best (HNSW's neighbor
    * pruning). Build work is Σ block², dialed by `nClusters` — the
    * 100 TB knob: more cells = smaller blocks; the graph, not the
    * blocks, carries probe-time recall.
    *
    * `nClusters = 0` (the default) auto-sizes the coarse blocking to
    * ~512-vector blocks (n/256 cells at 2-cell assignment, floor 16):
    * build work is Σ block² ≈ n·512, LINEAR in corpus size, and the
    * entry-point count grows with the corpus so beam navigation depth
    * stays bounded — a fixed cell count would make build quadratic
    * AND strand a fixed seed set in an ever-larger graph.
    *
    * Persisted layout under `indexDir`: `vectors` (cid, cvec, cnrm),
    * `edges` (src, dst), `entries` (cid — one nearest-to-centroid
    * vector per cell, the beam's deterministic start set).
    */
  def buildGraphIndex(
      spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String,
      m: Int = 16,
      nClusters: Int = 0
  ): Unit = {
    vecSide(candidates, idCol, vecCol, "c").write.mode("overwrite").parquet(s"$indexDir/vectors")
    val vecs = Catalog.readParquet(spark, s"$indexDir/vectors")
    val c =
      if (nClusters > 0) nClusters
      else math.max(16, (vecs.count() / 256L).toInt)
    val centers = fitCentroids(candidates, vecCol, c)
    val assigned = nearestCells(vecs, centers, "c", 2)
      .select(col("cid"), col("cvec"), col("cnrm"),
        col("__cell").as("cell"), col("__d").as("cdist"), col("__rn").as("crank"))
      .localCheckpoint()
    // entry points: the vector nearest its PRIMARY cell's centroid
    val we = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("cdist"), col("cid"))
    assigned.filter(col("crank") === 1)
      .withColumn("__rn", row_number().over(we))
      .filter(col("__rn") === 1)
      .select(col("cid"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$indexDir/entries")
    // intra-block exact kNN, deduped across the 2 assignments
    val a = assigned.select(col("cell"), col("cid").as("src"), col("cvec").as("svec"), col("cnrm").as("snrm"))
    val b = assigned.select(col("cell"), col("cid").as("dst"), col("cvec").as("dvec"), col("cnrm").as("dnrm"))
    val scored = a.join(b, Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), exactCosine("s", "d").as("score"))
      .groupBy(col("src"), col("dst")).agg(max(col("score")).as("score"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("score").desc, col("dst"))
    val knn = scored.withColumn("__rn", row_number().over(wd))
      .filter(col("__rn") <= m).select(col("src"), col("dst"), col("score"))
    // symmetrize (navigability needs the reverse edge), re-cap at m
    knn
      .unionByName(knn.select(col("dst").as("src"), col("src").as("dst"), col("score")))
      .groupBy(col("src"), col("dst")).agg(max(col("score")).as("score"))
      .withColumn("__rn", row_number().over(wd))
      .filter(col("__rn") <= m)
      .select(col("src"), col("dst"))
      .write.mode("overwrite").parquet(s"$indexDir/edges")
  }

  /** [[buildGraphIndex]] behind the build-once gate
    * ([[Catalog.buildOnce]]), keyed on the candidates' files plus `m`
    * and `nClusters`: a rewritten corpus at the same path rebuilds the
    * graph instead of probing the old one. Returns whether it built.
    */
  def buildGraphIndexIfAbsent(
      spark: org.apache.spark.sql.SparkSession,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String,
      m: Int = 16,
      nClusters: Int = 0
  ): Boolean =
    Catalog.buildOnce(spark, candidates, indexDir, s"#m=$m#nc=$nClusters") {
      buildGraphIndex(spark, candidates, idCol, vecCol, indexDir, m, nClusters)
    }

  /** Probe-dial auto-sizing (the graph pendant of `lshSizing`):
    * a FIXED beam loses recall as the corpus grows — distractor
    * density rises while the kept frontier stays constant (measured:
    * recall@5 at beam=32/rounds=6 is 0.99 / 0.93 / 0.87 / 0.91 across
    * 500 / 5k / 20k / 200k vectors). Graph search path length grows
    * ~log n (Malkov & Yashunin §4.2), so both dials scale with
    * ⌈log₂ n⌉: beam = max(32, 4·⌈log₂n⌉), rounds = max(6, ⌈log₂n/2⌉−1)
    * — measured 0.93 at 20k (beam 60) and ≥0.95 at 200k (beam 72),
    * flat-to-rising where the fixed default sagged, at LOWER probe
    * cost than over-rounding a small beam (early-exit fires sooner).
    */
  def graphProbeSizing(n: Long): (Int, Int) = {
    val log2n = math.ceil(math.log(math.max(2L, n).toDouble) / math.log(2.0)).toInt
    (math.max(32, 4 * log2n), math.max(6, (log2n + 1) / 2 - 1))
  }

  /** Beam search over the persisted graph: seed with the entry points,
    * then `rounds` rounds of expand-score-prune — frontier joins the
    * edge list (8-byte ids ride the exchange), fresh candidates fetch
    * their vectors by ONE keyed join and score exactly, and a
    * per-query window keeps the best `beam`. Every hop is one join
    * over the whole query batch, so probe cost is
    * O(rounds × |Q| × beam × m) candidate scorings — independent of
    * corpus size, the property that makes graph ANN the industry
    * workhorse. Rounds are plan-checkpointed (localCheckpoint) so the
    * iterative plan can't stack.
    *
    * `beam = 0` / `rounds = 0` (the defaults) auto-size from the
    * indexed corpus size via [[graphProbeSizing]] — one parquet
    * metadata count against `vectors`, amortized over the whole query
    * batch.
    *
    * Returns (qid, rank, neighbor_id) — the ANN surface contract
    * (rank 1-based; score desc, id asc tie-break).
    */
  def graphTopK(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      beam: Int = 0,
      rounds: Int = 0
  ): DataFrame = {
    // NOT persisted: the per-round joins re-read the index parquet,
    // but those scans are trivial next to the per-round plan compile,
    // and a persist here measured WORSE at sf0.1 — two cache-fill
    // jobs, a full-scan count() where parquet's count is
    // metadata-only, and a CacheManager lookup in every round's
    // compile (+25-40% on the whole probe).
    val vecs = Catalog.readParquet(spark, s"$indexDir/vectors")
    val (autoBeam, autoRounds) =
      if (beam > 0 && rounds > 0) (beam, rounds)
      else {
        val (b, r) = graphProbeSizing(vecs.count())
        (if (beam > 0) beam else b, if (rounds > 0) rounds else r)
      }
    val edges = Catalog.readParquet(spark, s"$indexDir/edges")
    val entries = broadcast(Catalog.readParquet(spark, s"$indexDir/entries"))
    val qs = broadcast(vecSide(queries, idCol, vecCol, "q"))
    def score(cands: DataFrame): DataFrame = cands
      .join(vecs, Seq("cid"))
      .join(qs, Seq("qid"))
      .select(col("qid"), col("cid"), exactCosine().as("score"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    def prune(cands: DataFrame): DataFrame = cands
      .withColumn("__rn", row_number().over(wb)).filter(col("__rn") <= autoBeam).drop("__rn")
    var best = prune(score(qs.select(col("qid")).crossJoin(entries))).localCheckpoint()
    var visited = best.select(col("qid"), col("cid")).localCheckpoint()
    var round = 0
    var converged = false
    while (round < autoRounds && !converged) {
      round += 1
      val (fresh, nFresh) = Materialize.counted(best.select(col("qid"), col("cid").as("src"))
        .join(edges, Seq("src"))
        .select(col("qid"), col("dst").as("cid"))
        .distinct()
        .join(visited, Seq("qid", "cid"), "left_anti"))
      // early exit: every beam's full neighborhood is already visited
      // — remaining rounds would re-schedule empty joins. The count
      // rides the checkpoint's own job; prune(best ∪ score(∅)) ≡ best,
      // so exiting on the last round leaves the final beam unchanged.
      if (nFresh == 0L) converged = true
      else {
        best = prune(best.unionByName(score(fresh))).localCheckpoint()
        // NOT checkpointed: both inputs are already materialized
        // (visited starts as a checkpoint, fresh checkpoints above),
        // so the union is a zero-compute wrapper — a per-round
        // checkpoint here re-materialized the whole visited set every
        // round for no lineage benefit (depth grows only linearly in
        // rounds, and rounds is O(log n)).
        visited = visited.unionByName(fresh)
      }
    }
    best
      .filter(col("cid") =!= col("qid"))
      .withColumn("rank", row_number().over(wb).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid").as("neighbor_id"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Incremental attach: each new vector probes the existing graph for
    * its m nearest, then joins the graph with edges in BOTH directions
    * — the standard online-insert move (HNSW §4 insert without the
    * repair pass; appended-node degree is exactly m, neighbors gain
    * one reverse edge each, so degree drifts up only by append
    * volume — rebuild on schedule like the IVF refit discipline).
    * Id-idempotent: ids already in the index are skipped, so a
    * replayed batch (at-least-once delivery) cannot double edges.
    */
  def appendGraphIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 16,
      beam: Int = 0,
      rounds: Int = 0
  ): Unit = {
    val existing = Catalog.readParquet(spark, s"$indexDir/vectors").select(col("cid"))
    val fresh = vecSide(batch, idCol, vecCol, "c")
      .join(existing, Seq("cid"), "left_anti")
      .localCheckpoint() // materialize BEFORE appending to dirs it reads
    val nbrs = graphTopK(spark, indexDir,
      fresh.select(col("cid").as(idCol), col("cvec").as(vecCol)), idCol, vecCol,
      k = m, beam = beam, rounds = rounds)
      .select(col("qid").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint() // graphTopK checkpoints internally; pin the edge batch too
    nbrs
      .unionByName(nbrs.select(col("dst").as("src"), col("src").as("dst")))
      .write.mode("append").parquet(s"$indexDir/edges")
    fresh.write.mode("append").parquet(s"$indexDir/vectors")
  }
}
