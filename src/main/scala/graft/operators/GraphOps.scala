package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Link-graph operators for web-corpus curation. Reference scope:
  * the reference ETL has no graph capability; this implements the
  * domain/page centrality signal large web-corpus pipelines rank
  * sources by (harmonic/PageRank centrality is the documented
  * quality prior behind Common-Crawl-derived corpora).
  */
object GraphOps {

  /** C54: PageRank in EXACT integer fixed-point — the canonical
    * "must survive 1000 executors" iterative graph op, in a form a
    * second engine replays bit-for-bit (float PageRank cannot be
    * cross-engine checked; integer DIV can).
    *
    * Semantics: rank lives in units of SCALE=1e12 total mass;
    * r0 = SCALE DIV n per node, and each round
    *   r'(v) = base + (damp · Σ_{u→v} (r(u) DIV deg(u))) DIV 100,
    * with base = ((100−damp) · (SCALE DIV n)) DIV 100. Nodes with no
    * in-edges get exactly base. Dangling mass (nodes without
    * out-edges) leaks rather than redistributing — the standard
    * simplification, identical in the oracle.
    *
    * Plan shape per round — the distributed-PageRank shape, nothing
    * driver-side: the (src, dst, deg) frame is built ONCE (one deg
    * agg + one keyed join, checkpointed); each round is one keyed join of
    * ranks into that frame on src and one map-side-combined agg on
    * dst, then a LEFT join back to the node set. Ranks never visit
    * the driver; n (one Long) is the only collected value. At
    * cluster scale the edge frame partitions by src once and every
    * round's join reuses that partitioning; the dst agg is the one
    * unavoidable shuffle per round.
    */
  def pageRank(
      edges: DataFrame,
      iters: Int = 5,
      dampPct: Int = 85
  ): DataFrame = {
    require(dampPct >= 0 && dampPct <= 100, s"dampPct must be 0..100, got $dampPct")
    val SCALE = 1000000000000L
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val (nodes, n) = Materialize.counted(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    val r0 = SCALE / n // exact: both engines compute SCALE DIV n
    val base = ((100L - dampPct) * r0) / 100L
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val ecd = e.join(deg, "src").localCheckpoint()
    var ranks = nodes.select(col("id"), lit(r0).as("r"))
    for (_ <- 0 until iters) {
      val sums = ecd
        .join(ranks, ecd("src") === ranks("id"))
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(sums, nodes("id") === sums("dst"), "left")
        .select(col("id"), (lit(base) + expr(s"($dampPct * coalesce(s, 0L)) DIV 100")).as("r"))
    }
    ranks.select(col("id").as("node_id"), col("r").as("rank_fp")).orderBy("node_id")
  }

  /** C63: HITS hub/authority scores (Kleinberg 1999) in EXACT integer
    * fixed-point — the complementary centrality to [[pageRank]]: a
    * node is a good AUTHORITY if good hubs link to it and a good HUB
    * if it links to good authorities (directory/link-farm structure
    * PageRank's single score conflates). Per round: a(v) = Σ_{u→v}
    * h(u) then L∞-renormalize to 1e6 (integer DIV against a 1-row
    * broadcast max), h(u) = Σ_{u→v} a(v) then renormalize — the
    * power-iteration normalization that keeps every value in [0,
    * 1e6] so cross-engine Long arithmetic never overflows (bound:
    * max in-degree · 1e6 · 1e6 < 2^63 ⟺ degree < 9.2e6; document
    * larger graphs onto a wider scale). DuckDB twin unrolls the
    * rounds and matches bit-for-bit.
    *
    * Plan per round: two keyed join+agg pairs (src then dst), each
    * with map-side combine and each checkpointed; each maximum is
    * observed on its checkpoint's job and enters the next projection
    * as a literal; scores never visit the driver.
    */
  def hits(edges: DataFrame, iters: Int = 4): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint()
    var hubs = nodes.select(col("id"), lit(1000000L).as("h"))
    // zero-initialized so iters = 0 degrades to all-zero authorities
    // instead of an NPE at the final join
    var auths: DataFrame = nodes.select(col("id"), lit(0L).as("a"))
    // Per half-step: ONE keyed join+agg over the score frames that
    // actually carry mass — nodes with no in-edges (no asum row) have
    // score 0, contribute nothing to the next sum, and can never be
    // the (non-negative) max, so the per-round LEFT join back onto
    // the full node set is dropped entirely; zeros materialize once
    // in the final projection. Each half-step localCheckpoints, so
    // every round's plan stays constant-size (no lineage growth), and
    // its maximum is observed on that same job.
    for (_ <- 0 until iters) {
      val (asum, am) = checkpointWithMax(
        e.join(hubs, e("src") === hubs("id")).groupBy(col("dst")).agg(sum(col("h")).as("ar")), "ar")
      auths = asum.select(col("dst").as("id"), expr(s"(ar * 1000000L) DIV ${am}L").as("a"))
      val (hsum, hm) = checkpointWithMax(
        e.join(auths, e("dst") === auths("id")).groupBy(col("src")).agg(sum(col("a")).as("hr")), "hr")
      hubs = hsum.select(col("src").as("id"), expr(s"(hr * 1000000L) DIV ${hm}L").as("h"))
    }
    nodes
      .join(auths, Seq("id"), "left")
      .join(hubs, Seq("id"), "left")
      .select(col("id").as("node_id"),
        coalesce(col("a"), lit(0L)).as("auth_fp"),
        coalesce(col("h"), lit(0L)).as("hub_fp"))
      .orderBy("node_id")
  }

  /** `df` checkpointed with the maximum of its column `c`, floored at
    * 1 so it can divide; an empty frame (null maximum) reads 1.
    */
  private def checkpointWithMax(df: DataFrame, c: String): (DataFrame, Long) = {
    val (cp, m) = Materialize.observed(df, max(col(c)).as("m"))
    (cp, Option(m("m")).fold(1L)(v => math.max(v.asInstanceOf[Long], 1L)))
  }

  /** C59: per-node triangle participation — the clustering-structure
    * signal web-graph curation ranks link farms / mutual-citation
    * rings by (a page whose neighborhood is a clique is a very
    * different quality prior than a tree-like hub).
    *
    * Algorithm: the compact-forward / degree-ordering enumeration
    * (Latapy 2008; also MR triangle counting, Suri & Vassilvitskii
    * 2011 — "node-iterator++"): canonicalize to undirected simple
    * edges, rank nodes by (degree, id), DIRECT every edge from
    * lower to higher rank, and join forward-adjacency with itself on
    * the source — each wedge (a→b, a→c) closes iff b→c (or c→b,
    * but rank-direction makes it exactly b→c for rank(b)<rank(c)) is
    * an edge. Directing by DEGREE bounds every node's forward
    * out-degree by O(sqrt(m)) on any graph, so the wedge self-join —
    * the only superlinear step — generates O(m^1.5) candidates
    * worst-case instead of Σ deg² (a single hub node would otherwise
    * emit deg²/2 wedges; ranked, a hub emits almost none). Each
    * triangle is enumerated exactly once, then credited to its three
    * corners via explode.
    *
    * Plan: degree agg + two keyed joins to rank endpoints, one
    * wedge self-join keyed on the source, one closing keyed join
    * against the directed edge set, explode + keyed count back onto
    * the node set. Everything is keyed shuffles on node ids; AQE's
    * skew split covers residual hot sources.
    *
    * The per-node result is enumeration-ORDER-INVARIANT, so the
    * DuckDB oracle can use the naive a<b<c id-ordered enumeration —
    * identical answer, no need to replicate the degree ranking.
    */
  def trianglesPerNode(edges: DataFrame): DataFrame = {
    // canonical simple undirected edges: u < v, self-loops dropped
    val und = edges
      .select(
        least(col("src").cast("long"), col("dst").cast("long")).as("u"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val nodes = und.select(col("u").as("id")).union(und.select(col("v").as("id"))).distinct()
    val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // rank key (deg, id) is a total order; direct edges low -> high
    val ranked = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("u")).otherwise(col("v")).as("a"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")), col("v")).otherwise(col("u")).as("b"))
      .localCheckpoint()
    // rank of b vs c inside a wedge: compare (deg, id) again — join
    // degrees once onto the directed frame so the wedge filter is local
    val fwd = ranked
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("db"))
    val wedges = fwd.alias("x")
      .join(fwd.alias("y"), col("x.a") === col("y.a") &&
        (col("x.db") < col("y.db") || (col("x.db") === col("y.db") && col("x.b") < col("y.b"))))
      .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
    val tris = wedges
      .join(ranked.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
    val credit = tris.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    nodes
      .join(credit, Seq("id"), "left")
      .select(col("id").as("node_id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy("node_id")
  }

  /** C73 (graph_kcore): k-core decomposition by BOUNDED-ROUND peeling —
    * the density structure web-corpus curation keeps (the k-core) vs
    * prunes (low-connectivity periphery), and the standard first step
    * of community/degeneracy analysis.
    *
    * Semantics are exactly `rounds` peel iterations: each round drops
    * every node with degree < k in the CURRENT subgraph, then edges
    * with a dropped endpoint. Peeling is MONOTONE (the surviving set
    * only shrinks, and once no node is below k nothing changes), so
    * any `rounds` ≥ the graph's peel depth yields THE k-core, and the
    * bounded form is engine-exact either way — both engines run the
    * identical rounds, which is what makes a bit-for-bit oracle
    * possible for an otherwise run-to-fixpoint algorithm (the
    * pageRank/hits fixed-iteration discipline). Convergence at test
    * scale is spec-asserted (round R−1 ≡ round R).
    *
    * Plan shape per round: one degree aggregation (explode both
    * endpoints + keyed count) and two LEFT SEMI joins back onto the
    * edge set — all keyed, never node×node. Each round
    * localCheckpoints (constant-size plans, see [[Materialize]]).
    * Returns the surviving nodes with their in-core degree.
    */
  def kcoreRounds(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // canonical undirected simple graph: (lo, hi), self-loops dropped
    var e = edges
      .select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    // No early-exit-on-fixpoint here, although peeling is monotone and
    // a count-stable round would make the tail rounds identity:
    // measured at sf0.1 the staged graph keeps shrinking through all
    // 10 rounds, so a per-round convergence count was pure added cost
    // (36 → 58 jobs, no round ever saved).
    for (_ <- 0 until rounds) {
      val alive = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("id"))
      e = e
        .join(alive.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("id").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint()
    }
    e.select(col("a").as("node_id")).unionAll(e.select(col("b").as("node_id")))
      .groupBy(col("node_id")).agg(count(lit(1)).as("deg_core"))
      .orderBy(col("node_id"))
  }

  /** C91: synchronous MIN-LABEL propagation for a FIXED round budget —
    * the bounded-cost community/component signal (Raghavan et al. 2007
    * simplified to the deterministic min rule): label_0(v) = v,
    * label_{t+1}(v) = min(label_t(v), min over undirected neighbors
    * of label_t). After `rounds` rounds every node carries the
    * smallest node id within `rounds` hops — nodes sharing a label are
    * provably connected, and labels stabilize to connected components
    * once rounds ≥ diameter. The fixed budget is the point: a
    * production pipeline runs k rounds per batch window (cost known in
    * advance) instead of converge-to-fixpoint whose round count the
    * data controls — [[graft.operators.Dedup]] cluster assignment
    * wants the exact fixpoint; THIS is the budgeted scan that feeds
    * dashboards.
    *
    * Size-adaptive, like [[Dedup.connectedComponents]] and behind the
    * same gate ([[Dedup.DriverMaxEdges]] symmetric edges): the
    * symmetrized, self-loop-free edge list is materialized once and
    * counted. The count is of RAW rows, duplicates included, because
    * the driver kernel reads raw rows and that is what bounds driver
    * memory.
    *   - At or below the gate the edge list is collected and the
    *     `rounds` synchronous rounds run in driver memory; each round
    *     reads only the previous round's labels.
    *   - Above it the rounds chain lazily in ONE plan over the closed
    *     neighbourhood N[u] = {u} ∪ nbrs(u) (the distinct edges plus
    *     one (u, u) row per node): round 1 is min(v) grouped by u, and
    *     every later round is one join of the labels onto N on v plus
    *     one min-agg on u. Each round references the labels once, so
    *     the plan grows linearly in `rounds`; the edge list is the only
    *     materialization and labels never visit the driver.
    *
    * Both sides return the same rows and schema, `(node_id, label)`
    * sorted by node_id; a node whose only edge is a self-loop is
    * absent. Deterministic min arithmetic keeps the unrolled DuckDB
    * twin bit-exact.
    */
  def labelPropRounds(edges: DataFrame, rounds: Int): DataFrame =
    labelPropRounds(edges, rounds, Dedup.DriverMaxEdges)

  /** [[labelPropRounds]] with an explicit gate: 0 forces the distributed chain. */
  private[graft] def labelPropRounds(edges: DataFrame, rounds: Int, driverMaxEdges: Long): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val (sym, n) = Materialize.counted(
      edges.select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
        .unionAll(edges.select(col("dst").cast("long").as("u"), col("src").cast("long").as("v")))
        .filter(col("u") =!= col("v")))
    if (n <= driverMaxEdges) driverLabelProp(sym, rounds)
    else {
      val nbhd = sym.unionAll(sym.select(col("u"), col("u").as("v"))).distinct()
      var labels = nbhd.groupBy(col("u").as("node_id")).agg(min(col("v")).as("label"))
      for (_ <- 1 until rounds)
        labels = nbhd
          .join(labels.select(col("node_id").as("v"), col("label")), Seq("v"))
          .groupBy(col("u").as("node_id")).agg(min(col("label")).as("label"))
      labels.orderBy(col("node_id"))
    }
  }

  /** The synchronous rounds over the collected edge list, on dense
    * node indices; the schema is the distributed chain's (node_id as
    * nullable as the edge ids, a min-aggregate label).
    */
  private def driverLabelProp(sym: DataFrame, rounds: Int): DataFrame = {
    val rows = sym.collect()
    val ids = rows.map(_.getLong(0)).distinct.sorted // symmetric: every node is some row's u
    val u = rows.map(r => java.util.Arrays.binarySearch(ids, r.getLong(0)))
    val v = rows.map(r => java.util.Arrays.binarySearch(ids, r.getLong(1)))
    var label = ids
    for (_ <- 0 until rounds) {
      val next = label.clone()
      var e = 0
      while (e < u.length) {
        if (label(v(e)) < next(u(e))) next(u(e)) = label(v(e))
        e += 1
      }
      label = next
    }
    val schema = StructType(Seq(
      StructField("node_id", LongType, sym.schema("u").nullable),
      StructField("label", LongType, nullable = true)))
    sym.sparkSession.createDataFrame(ids.indices.map(i => Row(ids(i), label(i))).asJava, schema)
  }
}
