package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelationWithTable, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._

import graft.functions.VecOps

/** Embedding-column storage transforms for the 100 TB corpus: int8
  * quantization (4x smaller vectors, integer-exact scoring) and
  * fixed-point random projection (dimensionality reduction with
  * engine-exact arithmetic). Both are pure per-row projections —
  * no shuffle, fully codegen'd via the [[graft.functions.VecOps]]
  * kernels — and both emit LONG-format (id, dim, value) rows so
  * results hash bit-for-bit against SQL oracles.
  *
  * Why quantize: at 100 TB the embedding column dominates storage and
  * scan IO; int8 cuts both 4x and turns similarity scoring into exact
  * Long math (no float summation drift). Recall loss vs float cosine
  * is property-tested in EmbedOpsSpec, the standard tradeoff every
  * large ANN deployment makes.
  */
object EmbedOps {

  /** Scale-adaptive partition width for the checkpointed iteration frames:
    * ~2 MB of input per partition, clamped to [1, defaultParallelism].
    * The old rule was the constant `defaultParallelism` — right for a
    * compactly-written big corpus (one 49 MB file = one input split
    * would serialize every iteration scan), but at small inputs it made
    * every per-iteration job pay `par` near-empty tasks: measured at
    * sf0.1 (2k vectors, 0.5 MB), a bare count() on the cached frame
    * cost 0.23-0.40 s — the task-scheduling floor itself — so the
    * 10-job k-means/PCA loops were floor-bound. Bytes are the lengths
    * in the file indexes of the frame's scans, the listing Spark
    * already holds, so sizing costs no filesystem call; a file read by
    * two scans counts once. Non-file frames (tests) keep the old rule.
    * At cluster scale bytes/2MB ≫ par, so this clamps to par —
    * behavior unchanged where it mattered.
    */
  private[graft] def iterPartitions(df: DataFrame): Int = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val files = df.queryExecution.optimizedPlan.collect {
      case LogicalRelationWithTable(r: HadoopFsRelation, _) => r.location
    }.flatMap {
      case idx: PartitioningAwareFileIndex => idx.allFiles().map(f => f.getPath.toUri.toString -> f.getLen)
      case idx => Seq(idx.rootPaths.mkString(",") -> idx.sizeInBytes)
    }.toMap
    if (files.isEmpty) return par
    math.max(1L, math.min(par.toLong, files.values.sum / (2L << 20) + 1L)).toInt
  }

  /** C36: per-vector symmetric int8 quantization, long format:
    * (idCol, dim, q) with q = round(x*127/max|x|) in [-127,127].
    *
    * Deterministic (id, dim) output order comes from sorting the
    * VECTOR frame before the explode — posexplode emits dims in
    * order within each row and preserves row order within partitions,
    * so the exploded output is globally (id, dim)-ordered without
    * ever sorting it. Sorting after the explode was the dominant cost
    * at scale: a 12.8M-row range exchange + sort vs a 200k-row one
    * (measured 4.3s → 0.7s for the whole query at 200k×64).
    */
  def quantizeLong(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame =
    embeddings
      .orderBy(col(idCol))
      .select(col(idCol), posexplode(VecOps.quantize_i8(col(vecCol))))
      .select(col(idCol), col("pos").cast("long").as("dim"), col("col").cast("long").as("q"))

  /** C37: fixed-point random projection to `outDims` dims, long
    * format: (idCol, dim, proj_fp) where proj_fp is the signed sum of
    * micro-unit components (exact integer math; see
    * [[graft.functions.VecOps.randProject]]).
    */
  def projectLong(embeddings: DataFrame, idCol: String, vecCol: String, outDims: Int): DataFrame =
    embeddings
      .orderBy(col(idCol)) // see quantizeLong: pre-explode sort, same order
      .select(col(idCol), posexplode(VecOps.rand_project(col(vecCol), outDims)))
      .select(col(idCol), col("pos").cast("long").as("dim"), col("col").as("proj_fp"))

  /** C38: top-k neighbors by QUANTIZED dot product — the int8 scoring
    * path. Corpus and queries quantize per-row (codegen projection),
    * queries broadcast, scores are exact Long dots via the native
    * [[graft.functions.VecOps.dotII]] kernel, and per-query top-k
    * reduces map-side through [[TopKAggregator]] (k rows per partition
    * per query cross the shuffle — the same property that makes
    * [[Similarity.bruteForceTopK]] viable at cluster scale). Integer
    * scores make this FULLY oracle-checkable, unlike float-cosine ANN.
    * Dot magnitudes are bounded by 127*127*dim << 2^53, so the Double
    * ride through ScoredId is exact.
    */
  def quantizedTopK(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val cands = candidates.select(col(idCol).as("cid"), VecOps.quantize_i8(col(vecCol)).as("cq"))
    val qs = queries.select(col(idCol).as("qid"), VecOps.quantize_i8(col(vecCol)).as("qq"))
    Similarity.scanTopK(cands, qs, VecOps.vec_dot_int(col("cq"), col("qq")).cast("double"), k, scoreOut = Some("dot_q"))
  }

  /** C52: top-principal-component projection by INTEGER power
    * iteration — the PCA-whitening primitive embedding pipelines run
    * before semantic dedup (SemDeDup centers + projects) and ANN
    * index fitting, in a form two engines can reproduce bit-for-bit.
    *
    * Floating-point power iteration cannot be oracle-checked (sum
    * order drifts ulps across engines), so every step here is exact
    * Long arithmetic: vectors quantize once to milli-units, the mean
    * is an integer `DIV`, the component v lives in fixed-point 1e6
    * scale, and each step renormalizes by the L-infinity norm (max
    * |w|) with a pre-shift so no product ever leaves a Long:
    *
    *   s_i = ((x_i - mu) . v)  DIV 1e6          (per row)
    *   w   = sum_i s_i (x_i - mu)               (one agg, d sums)
    *   wr  = w DIV max(1, max|w| DIV 1e6)       (pre-shift: |wr|<=~2e6)
    *   v'  = wr * 1e6 DIV max(1, max|wr|)       (L-inf renormalize)
    *
    * Plan shape per iteration: ONE whole-stage-codegen scan of the
    * checkpointed quantized frame into `dims` map-side partial sums — no
    * join, no shuffle wider than the d-column partial merge. The
    * driver holds only mu and v (2×d Longs — metadata-scale, like the
    * k-means centroid loads). Output is each vector's centered
    * projection on the final component, the ranking SemDeDup-style
    * pipelines bucket on.
    *
    * Overflow bounds (documented, not checked per-row): |s| <=
    * d·2e3·1e6/1e6 ≈ 1.3e5, per-row w term <= 2.6e8, so the global
    * sum stays in a Long up to ~3.5e9 rows per job; beyond that,
    * partition the corpus and merge (the sums are monoidal).
    */
  def pcaTopProjection(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      iters: Int = 8
  ): DataFrame = {
    // spread the checkpointed frame across the cluster BEFORE iterating: a
    // compactly-written corpus can arrive as one input split (one
    // 49 MB parquet file = one partition), which would serialize
    // every iteration's scan onto a single core — measured 3x the
    // whole loop at 200k vectors. One small shuffle up front buys
    // parallel scans for all `iters` passes.
    val par = iterPartitions(embeddings)
    // shrink via coalesce (no exchange added), spread via repartition
    // only when genuinely below the target — `!= par` repartitioned a
    // many-split cluster-scale source through a full corpus shuffle
    val cur = embeddings.rdd.getNumPartitions
    val spread =
      if (cur < par) embeddings.repartition(par)
      else if (cur > par) embeddings.coalesce(par)
      else embeddings
    val xq = spread
      .select(
        col(idCol),
        transform(col(vecCol), x => floor(x.cast("double") * lit(1000d)).cast("long")).as("xq")
      )
      .localCheckpoint()
    val muRow = xq
      .agg(array((0 until dims).map(d => expr(s"sum(xq[$d]) DIV count(*)")): _*).as("mu"))
      .head().getSeq[Long](0).toArray
    // s via the dot_centered_div KERNEL (mu/v as reference objects):
    // the string-built 64-term expression regenerated different codegen
    // source per iteration (v inlined), costing a fresh janino compile
    // + re-analysis every round — measured 0.54 s/iteration at sf0.1;
    // with reference objects the per-round plan compiles once ever.
    // The w-agg's mu literals are FIXED for the whole query, so its
    // source was already iteration-stable. Arithmetic is bit-identical
    // (Long addition is associative mod 2^64; Spark DIV on Longs is
    // Java truncation division) — parity in OptimizationParitySpec.
    def sCol(v: Array[Long]) = graft.functions.VecOps.dot_centered_div(col("xq"), muRow, v)
    var v = Array.fill(dims)(1000000L)
    for (_ <- 0 until iters) {
      val w = xq
        .select(sCol(v).as("s"), col("xq"))
        .agg(array((0 until dims).map(d => expr(s"sum(s * (xq[$d] - ${muRow(d)}L))")): _*).as("w"))
        .head().getSeq[Long](0).toArray
      val shift = math.max(1L, w.map(math.abs).max / 1000000L)
      val wr = w.map(_ / shift)
      val m = math.max(1L, wr.map(math.abs).max)
      v = wr.map(_ * 1000000L / m)
    }
    xq.select(col(idCol).as("vec_id"), sCol(v).as("pc1_proj")).orderBy("vec_id")
  }

  /** C53: Lloyd's k-means fit in EXACT integer arithmetic — the
    * clustering primitive every index here depends on (IVF cells, PQ
    * codebooks, SemDeDup clusters) in a form a second engine can
    * replay bit-for-bit. Vectors quantize once to milli-units;
    * init centroid j = integer mean (DIV) of rows with id % k == j
    * (deterministic partition init, expressible in both engines);
    * each round assigns by exact-Long squared distance (smallest-j
    * tiebreak) and recomputes integer means, empty clusters keeping
    * their previous centroid.
    *
    * Plan shape per round: ONE codegen scan of the checkpointed quantized
    * frame through the [[graft.functions.VecOps.nearestCentroidLL]]
    * kernel (k·d multiply-adds per row, no join, no k-way expand) +
    * one k-group agg whose map-side combine reduces every partition
    * to ≤k·d partial sums — the shuffle carries ~k rows per
    * partition regardless of corpus size. The driver holds only the
    * k·d centroid Longs. This is exactly the 1000-executor k-means
    * loop: broadcast-read centroids, scan, tiny keyed merge.
    *
    * Output: (vec_id, cluster, d2) — final assignment and its exact
    * squared distance in milli-unit² scale.
    */
  def kmeansFit(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int = 8,
      iters: Int = 5
  ): DataFrame = {
    // same single-input-split hazard as pcaTopProjection: spread
    // before the per-round scans
    val par = iterPartitions(embeddings)
    // same shrink-coalesce / spread-repartition rule as pcaTopProjection
    val cur = embeddings.rdd.getNumPartitions
    val spread =
      if (cur < par) embeddings.repartition(par)
      else if (cur > par) embeddings.coalesce(par)
      else embeddings
    val xq = spread
      .select(
        col(idCol).as("id"),
        transform(col(vecCol), x => floor(x.cast("double") * lit(1000d)).cast("long")).as("xq")
      )
      .localCheckpoint()
    val meanCols = array((0 until dims).map(d => expr(s"sum(xq[$d]) DIV count(*)")): _*).as("c")
    def toCents(rows: Array[org.apache.spark.sql.Row]): Map[Int, Array[Long]] =
      rows.map(r => r.getLong(0).toInt -> r.getSeq[Long](1).toArray).toMap
    val init = toCents(xq.groupBy((col("id") % k).as("j")).agg(meanCols).collect())
    var cents: Array[Array[Long]] = Array.tabulate(k)(init(_))
    for (_ <- 0 until iters) {
      val asg = xq.select(
        VecOps.nearest_centroid_ll(col("xq"), cents.flatten, dims)(0).as("j"),
        col("xq")
      )
      val next = toCents(asg.groupBy("j").agg(meanCols).collect())
      cents = Array.tabulate(k)(j => next.getOrElse(j, cents(j)))
    }
    val fin = VecOps.nearest_centroid_ll(col("xq"), cents.flatten, dims)
    xq.select(col("id").as("vec_id"), fin(0).as("cluster"), fin(1).as("d2"))
      .orderBy("vec_id")
  }

  /** C56: embedding-space outlier pruning — flag vectors whose exact
    * k-means distance sits beyond median + 3·MAD of their OWN
    * cluster (the robust per-cluster gate curation runs to drop
    * mislabeled/junk embeddings; a global threshold would flag whole
    * small clusters). Entirely integer: d2 comes exact from
    * [[kmeansFit]], medians are exact lower-median ranks
    * ((n+1) DIV 2, id tiebreak — the B54 discipline), MAD floors to
    * ≥1 so constant clusters don't flag everything.
    *
    * Plan: both median windows and the deviation join run under ONE
    * cluster-keyed partitioning (k groups after the kmeans scan);
    * the per-cluster med/mad frames are k rows — broadcast joins.
    */
  def clusterOutliers(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int = 8,
      iters: Int = 5
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asg = kmeansFit(embeddings, idCol, vecCol, dims, k, iters)
    def lowerMedian(df: DataFrame, valCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("cluster")).orderBy(col(valCol), col("vec_id"))
      val wc = Window.partitionBy(col("cluster"))
      df.withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wc))
        .filter(expr("rk = (n + 1) DIV 2"))
        .select(col("cluster"), col(valCol).as(out))
    }
    val med = lowerMedian(asg, "d2", "med")
    val dev = asg.join(broadcast(med), "cluster")
      .withColumn("dev", abs(col("d2") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(broadcast(mad), "cluster")
      .select(
        col("vec_id"), col("cluster"), col("d2"),
        when(col("d2") > col("med") + lit(3L) * greatest(col("mad"), lit(1L)), 1L)
          .otherwise(0L).as("outlier"))
      .orderBy("vec_id")
  }
}
