package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver-side recall measurement for the six rows-only ANN entries
  * (test scope, not shipped): runs each approximate `SparkEntry` query
  * and `sim_topk_brute` on the SAME data, computes recall@k —
  * |approx ∩ brute| / |brute| over (qid, neighbor_id) sets — and
  * writes one JSON line per (index, scale, params) to the output path.
  * The ScaleSpec property tests assert these same floors; this
  * artifact makes the numbers driver-checkable like CORRECTNESS.
  *
  * Round 10: besides the six SHIPPED-DEFAULT rows (exactly what the
  * SparkEntry queries run), each index gets a small recall-vs-params
  * CURVE — the probe-side dials (probed buckets / cells / shortlist)
  * at 2-3 settings around the default, so the recall/cost tradeoff is
  * a documented choice instead of a single opaque number. Probe dials
  * never retrain: all curve points share the one persisted index.
  */
object RecallMain {

  /** Round 11: n_queries widened 10 → 100 (VERDICT r10 item 2) —
    * at 10 queries one flipped neighbor moved recall@5 by 0.02 and
    * rank-1 by 0.10; 100 queries puts the knee decision on a stable
    * base. vec_id < 100 exists at every scale (sf0.01 has 500).
    */
  private val NQueries = 100
  private def qN(e: DataFrame): DataFrame = e.filter(col("vec_id") < NQueries)

  /** (index, params-label, is-shipped-default, probe runner). */
  private def annRuns(dir: String): Seq[(String, String, Boolean, (SparkSession, DataFrame) => DataFrame)] = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val pqDir = s"target/pq_$safe"
    val ivfPqDir = s"target/ivfpq_$safe"
    val sq8Dir = s"target/ivf_sq8_$safe"
    def lsh(probe: Int) = (s: SparkSession, e: DataFrame) =>
      operators.Similarity.lshTopK(e, qN(e), "vec_id", "embedding", k = 5,
        planes = 8, tables = 4, probeHamming = probe)
    def ivf(probes: Int) = (s: SparkSession, e: DataFrame) =>
      operators.Similarity.ivfTopK(e, qN(e), "vec_id", "embedding", k = 5,
        nClusters = 16, nProbes = probes)
    def sq8(probes: Int, short: Int) = (s: SparkSession, e: DataFrame) => {
      operators.Similarity.buildIvfIndexSq8IfAbsent(s, e, "vec_id", "embedding", nClusters = 16, indexDir = sq8Dir)
      operators.Similarity.ivfTopKIndexedSq8Refined(s, sq8Dir, qN(e), e,
        "vec_id", "embedding", k = 5, nProbes = probes, shortlist = short)
    }
    def pq(short: Int) = (s: SparkSession, e: DataFrame) => {
      operators.Similarity.buildPqIndexIfAbsent(s, e, "vec_id", "embedding", dim = 64,
        indexDir = pqDir, m = 8, kCodes = 64)
      operators.Similarity.pqTopKRefined(s, pqDir, qN(e), e, "vec_id", "embedding",
        k = 5, shortlist = short)
    }
    val hnswDir = s"target/hnsw_$safe"
    def hnsw(beam: Int, rounds: Int) = (s: SparkSession, e: DataFrame) => {
      operators.Similarity.buildGraphIndexIfAbsent(s, e, "vec_id", "embedding",
        indexDir = hnswDir, m = 16)
      operators.Similarity.graphTopK(s, hnswDir, qN(e), "vec_id", "embedding",
        k = 5, beam = beam, rounds = rounds)
    }
    def ivfpq(probes: Int, short: Int) = (s: SparkSession, e: DataFrame) => {
      operators.Similarity.buildIvfPqIndexIfAbsent(s, e, "vec_id", "embedding", dim = 64,
        nClusters = 16, indexDir = ivfPqDir, m = 8, kCodes = 64)
      operators.Similarity.ivfPqTopKRefined(s, ivfPqDir, qN(e), e, "vec_id", "embedding",
        k = 5, nProbes = probes, shortlist = short)
    }
    Seq(
      ("sim_topk_lsh", "planes=8,tables=4,probeHamming=0", false, lsh(0)),
      ("sim_topk_lsh", "planes=8,tables=4,probeHamming=1", false, lsh(1)),
      ("sim_topk_lsh", "planes=8,tables=4,probeHamming=2", true, lsh(2)),
      ("sim_topk_ivf", "nClusters=16,nProbes=2", false, ivf(2)),
      ("sim_topk_ivf", "nClusters=16,nProbes=4", false, ivf(4)),
      ("sim_topk_ivf", "nClusters=16,nProbes=8", true, ivf(8)),
      ("sim_topk_ivf_sq8", "nClusters=16,nProbes=4,shortlist=50", false, sq8(4, 50)),
      ("sim_topk_ivf_sq8", "nClusters=16,nProbes=8,shortlist=100", true, sq8(8, 100)),
      ("sim_topk_pq", "m=8,kCodes=64,shortlist=25", false, pq(25)),
      ("sim_topk_pq", "m=8,kCodes=64,shortlist=50", false, pq(50)),
      ("sim_topk_pq", "m=8,kCodes=64,shortlist=100", true, pq(100)),
      ("sim_topk_ivfpq", "nClusters=16,nProbes=4,m=8,kCodes=64,shortlist=50", false, ivfpq(4, 50)),
      ("sim_topk_ivfpq", "nClusters=16,nProbes=8,m=8,kCodes=64,shortlist=100", true, ivfpq(8, 100)),
      ("sim_topk_ivfpq", "nClusters=16,nProbes=12,m=8,kCodes=64,shortlist=200", false, ivfpq(12, 200)),
      ("sim_topk_hnsw", "m=16,auto-cells,beam=16,rounds=3", false, hnsw(16, 3)),
      ("sim_topk_hnsw", "m=16,auto-cells,beam=32,rounds=6", false, hnsw(32, 6)),
      // round 12: the shipped default is the log2(n)-sized auto probe
      // (graphProbeSizing) — the fixed beam=32 row above documents the
      // sag it replaces (0.99/0.93/0.87 across three decades)
      ("sim_topk_hnsw", "m=16,auto-cells,beam=auto,rounds=auto", true, hnsw(0, 0))
    )
  }

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("RECALL_r12.json")
    // sf1/sf10 (20k/200k vectors via tools/scale_up.py) run
    // DEFAULTS-ONLY: the knee choice must hold where cell occupancy is
    // realistic, but the off-default curve points are an
    // sf0.01/sf0.1 artifact
    val sfDirs = if (args.length > 1) args.drop(1).toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1",
        "/tmp/graft_scale/sf1", "/tmp/graft_scale/sf10")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .appName("recall").getOrCreate()

    def rankedDf(df: DataFrame): Map[Long, Seq[Long]] =
      df.select("qid", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }

    val records = for {
      dir <- sfDirs
      e = sources.Catalog.load(spark, dir, "embeddings")
      brute = rankedDf(operators.Similarity.bruteForceTopK(e, qN(e), "vec_id", "embedding", k = 5))
      (name, params, isDefault, fn) <- annRuns(dir)
      if isDefault || !dir.contains("graft_scale")
    } yield {
      val approx = rankedDf(fn(spark, e))
      val brutePairs = brute.toSeq.flatMap { case (q, ns) => ns.map((q, _)) }.toSet
      val approxPairs = approx.toSeq.flatMap { case (q, ns) => ns.map((q, _)) }.toSet
      val recallK = (approxPairs intersect brutePairs).size.toDouble / brutePairs.size
      // rank-1 recall: is each query's TRUE nearest neighbor anywhere
      // in the approximate list? (the twin-finding contract the
      // bucketed LSH index is built for — its ScaleSpec floor)
      val rank1 = brute.count { case (q, ns) =>
        ns.headOption.exists(n1 => approx.getOrElse(q, Nil).contains(n1))
      }.toDouble / brute.size
      val sf = dir.split("/").last
      f"""{"index":"$name","sf":"$sf","k":5,"params":"$params","default":$isDefault,"n_queries":${brute.size},"recall_at_k":$recallK%.4f,"rank1_recall":$rank1%.4f}"""
    }
    val out = new java.io.PrintWriter(outPath)
    try records.foreach(out.println) finally out.close()
    records.foreach(println)
    spark.stop()
  }
}
