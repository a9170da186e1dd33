package graft

import graft.operators.{Dedup, GraphOps}

class GraphOpsSpec extends SparkSpec {

  test("pagerank: star graph concentrates rank on the hub, deterministic") {
    import spark.implicits._
    // star: nodes 1..20 all link to node 0; hub links back to node 1
    val edges = ((1 to 20).map(i => (i.toLong, 0L)) :+ (0L, 1L)).toDF("src", "dst")
    val r = GraphOps.pageRank(edges, iters = 5, dampPct = 85)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.size == 21)
    val hub = r(0L)
    val spoke = r(5L)
    assert(hub > 10 * spoke, s"hub rank $hub not dominant over spoke $spoke")
    // node 1 gets the hub's entire outflow — must beat plain spokes
    assert(r(1L) > spoke, "hub-pointed node must outrank plain spokes")
    val r2 = GraphOps.pageRank(edges, iters = 5, dampPct = 85)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r2 == r, "integer pagerank must be bit-identical across runs")
  }

  test("pagerank: ring graph is exactly uniform; mass approximately conserved") {
    import spark.implicits._
    val n = 50
    val edges = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)).toDF("src", "dst")
    val r = GraphOps.pageRank(edges, iters = 4, dampPct = 85).collect().map(_.getLong(1))
    assert(r.distinct.length == 1, "ring symmetry must give one identical rank everywhere")
    // total mass: SCALE up to DIV truncation (n nodes, a few units each)
    val total = r.sum
    assert(math.abs(total - 1000000000000L) < 100L * n,
      s"rank mass drifted: $total vs 1e12")
  }

  test("pagerank: node with no in-edges gets exactly the base mass") {
    import spark.implicits._
    // 0 -> 1 -> 2 -> 1 : node 0 has no in-edges
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = GraphOps.pageRank(edges, iters = 3, dampPct = 85)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val scale = 1000000000000L
    val base = ((100L - 85L) * (scale / 3L)) / 100L
    assert(r(0L) == base, s"source-only node must hold exactly base: ${r(0L)} vs $base")
    assert(r(1L) > r(2L), "node fed by two sources must outrank single-fed node")
  }

  test("HITS: star spokes are pure hubs, the center a pure authority; deterministic") {
    import spark.implicits._
    // spokes 1..10 all link to center 0; center links nowhere
    val star = (1 to 10).map(i => (i.toLong, 0L)).toDF("src", "dst")
    val r = GraphOps.hits(star, iters = 3)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(0L) == ((1000000L, 0L)), s"center must be the max authority with zero hub: ${r(0L)}")
    (1L to 10L).foreach(i =>
      assert(r(i) == ((0L, 1000000L)), s"spoke $i must be a pure max hub: ${r(i)}"))
    val r2 = GraphOps.hits(star, iters = 3)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r2 == r, "integer HITS must be bit-identical across runs")
    // iters = 0 degrades to the initial state (zero auth, unit hub),
    // never an NPE
    val r0 = GraphOps.hits(star, iters = 0)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r0.values.forall(_ == ((0L, 1000000L))), s"iters=0 must be the initial state: $r0")
  }

  test("HITS: a node linking to two authorities out-hubs one linking to one") {
    import spark.implicits._
    // hubs: 10 -> {0, 1}, 11 -> {0}; authorities 0 (two hubs) > 1 (one hub)
    val g = Seq((10L, 0L), (10L, 1L), (11L, 0L)).toDF("src", "dst")
    val r = GraphOps.hits(g, iters = 4)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(10L)._2 > r(11L)._2, s"two-authority hub must dominate: ${r(10L)} vs ${r(11L)}")
    assert(r(0L)._1 > r(1L)._1, s"two-hub authority must dominate: ${r(0L)} vs ${r(1L)}")
    assert(r(10L)._2 == 1000000L && r(0L)._1 == 1000000L, "maxima renormalize to exactly 1e6")
  }

  test("HITS: an empty edge list gives no rows; its null maxima read as 1") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.hits(empty, iters = 2).collect().isEmpty)
  }

  test("triangles: K4 gives every node 3 triangles; ring of 5 gives none") {
    import spark.implicits._
    val k4 = (for (i <- 0 to 3; j <- 0 to 3 if i < j) yield (i.toLong, j.toLong)).toDF("src", "dst")
    val r = GraphOps.trianglesPerNode(k4).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L), s"K4 per-node triangles wrong: $r")
    val ring = (0 until 5).map(i => (i.toLong, ((i + 1) % 5).toLong)).toDF("src", "dst")
    val r2 = GraphOps.trianglesPerNode(ring).collect().map(_.getLong(1))
    assert(r2.forall(_ == 0L), "odd ring must be triangle-free")
  }

  test("triangles: direction/duplicates/self-loops don't change the undirected answer") {
    import spark.implicits._
    // one triangle (0,1,2) written messily: both directions, dups, a self-loop, a dangling edge
    val messy = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L), (0L, 2L), (2L, 2L), (3L, 0L))
      .toDF("src", "dst")
    val r = GraphOps.trianglesPerNode(messy).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 0L), s"canonicalization broken: $r")
  }

  test("triangles: degree-ordered enumeration matches brute force on a deterministic graph") {
    import spark.implicits._
    // modular graph, the staged query shape: 60 nodes, 3 out-links each
    val n = 60L
    val edges = (0L until n).flatMap(i => Seq((i, (i * 7 + 1) % n), (i, (i * 13 + 2) % n), (i, (i * 31 + 3) % n)))
    val got = GraphOps.trianglesPerNode(edges.toDF("src", "dst"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // brute force on the driver
    val und = edges.flatMap { case (a, b) => if (a == b) Nil else Seq((a min b, a max b)) }.toSet
    val counts = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val ids = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    for (Seq(a, b, c) <- ids.combinations(3)
         if und((a, b)) && und((b, c)) && und((a, c));
         v <- Seq(a, b, c)) counts(v) += 1
    val exp = ids.map(i => i -> counts(i)).toMap
    assert(got == exp, s"degree-ordered result diverges from brute force")
  }

  test("kcore: triangle survives 2-core, tail peels; cascade removes chained nodes") {
    import spark.implicits._
    // triangle 1-2-3 plus tail 3-4-5: 2-core = the triangle (4 and 5
    // peel in cascade: 5 first, then 4)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = GraphOps.kcoreRounds(edges, k = 2, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max degree empties the graph
    assert(GraphOps.kcoreRounds(edges, k = 4, rounds = 3).count() == 0L)
    // direction and duplicate edges don't change the undirected core
    val noisy = edges.union(Seq((2L, 1L), (3L, 2L), (1L, 1L)).toDF("src", "dst"))
    val got2 = GraphOps.kcoreRounds(noisy, k = 2, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)
  }

  test("labelPropRounds: label = min id within k hops; convergence at diameter; self-loops and direction ignored") {
    import spark.implicits._
    // path 0-1-2-3-4-5 (diameter 5), separate pair 10-11, self-loop noise
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (11L, 10L), (3L, 3L)).toDF("src", "dst")
    // both sides of the size gate: the driver rounds and the distributed chain
    for (gate <- Seq(Dedup.DriverMaxEdges, 0L)) {
      def labels(rounds: Int): Map[Long, Long] =
        GraphOps.labelPropRounds(edges, rounds, gate).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val l2 = labels(2)
      assert(l2(5L) == 3L && l2(4L) == 2L && l2(2L) == 0L, s"2-hop minima (gate $gate): $l2")
      assert(l2(10L) == 10L && l2(11L) == 10L, "the pair converges round 1")
      // at rounds >= diameter the labels ARE connected components
      val l5 = labels(5)
      assert((0L to 5L).forall(l5(_) == 0L) && l5(10L) == 10L && l5(11L) == 10L)
      assert(labels(7) == l5, "stable past convergence")
    }
  }

  test("labelPropRounds: driver rounds and the distributed chain return identical rows and schema on seeded random graphs") {
    import spark.implicits._
    /** Several components on non-contiguous ids, each a random tree plus
      * extra edges; duplicated, reversed and self-loop edges; node 777777's
      * only edge is a self-loop.
      */
    def graph(seed: Int): Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(seed)
      val comps = (0 until 3 + rnd.nextInt(3)).map { c =>
        val size = 2 + rnd.nextInt(14)
        (0 until size).map(i => c * 1000L + 3L * i + rnd.nextInt(3)).reverse
      }
      val tree = comps.flatMap(ns => (1 until ns.length).map(i => (ns(i), ns(rnd.nextInt(i)))))
      val extra = comps.flatMap(ns => Seq.fill(ns.length / 3)((ns(rnd.nextInt(ns.length)), ns(rnd.nextInt(ns.length)))))
      val base = tree ++ extra
      val noise = base.take(4) ++ base.takeRight(3).map(_.swap) ++
        comps.map(ns => (ns.head, ns.head)) :+ ((777777L, 777777L))
      rnd.shuffle(base ++ noise)
    }
    /** Synchronous min-label rounds over undirected, self-loop-free adjacency. */
    def expected(edges: Seq[(Long, Long)], rounds: Int): Seq[(Long, Long)] = {
      val nbrs = edges.filter { case (a, b) => a != b }
        .flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
      var label = nbrs.keys.map(k => k -> k).toMap
      for (_ <- 1 to rounds)
        label = label.map { case (k, l) => k -> (l +: nbrs(k).map(label)).min }
      label.toSeq.sorted
    }
    for (seed <- Seq(7, 8)) {
      val g = graph(seed)
      val noNull = g.toDF("src", "dst")
      // nullable ids, with an edge that has no dst
      val nullable = (g.map { case (a, b) => (Option(a), Option(b)) } :+ ((Option(5L), None))).toDF("src", "dst")
      for (edges <- Seq(noNull, nullable); rounds <- 1 to 6) {
        val driver = GraphOps.labelPropRounds(edges, rounds)
        val chain = GraphOps.labelPropRounds(edges, rounds, driverMaxEdges = 0L)
        val ctx = s"seed $seed rounds $rounds"
        assert(driver.queryExecution.optimizedPlan.toString.contains("LocalRelation"), ctx)
        assert(driver.schema == chain.schema, s"$ctx: ${driver.schema} vs ${chain.schema}")
        val rows = driver.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(rows == chain.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq, ctx)
        assert(rows == expected(g, rounds), ctx)
        assert(!rows.exists(_._1 == 777777L), s"$ctx: a self-loop-only node is not a graph node")
      }
      assert(GraphOps.labelPropRounds(noNull, 1).schema("node_id").nullable == false)
      assert(GraphOps.labelPropRounds(nullable, 1).schema("node_id").nullable)
    }
  }

  test("connectedComponents: a local pair list runs no job and equals a distributed copy of it") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    /** Random pairs over a few components, with duplicated, reversed and self-loop pairs. */
    def pairs(seed: Int): Seq[Row] = {
      val rnd = new scala.util.Random(seed)
      val base = Seq.fill(40)((rnd.nextInt(8) * 100L + rnd.nextInt(6), rnd.nextInt(8) * 100L + rnd.nextInt(6)))
        .filter { case (a, b) => a / 100 == b / 100 }
      val noise = base.take(5) ++ base.takeRight(4).map(_.swap) ++ Seq((901L, 901L), (3L, 3L))
      rnd.shuffle(base ++ noise).map { case (a, b) => Row(a, b) }
    }
    for (rows <- Seq(pairs(3), pairs(4), Seq.empty[Row])) {
      val local = spark.createDataFrame(rows.asJava, schema)
      val distributed = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      assert(local.isLocal && !distributed.isLocal)
      val (fromLocal, jobs) = jobsDuring {
        val cc = Dedup.connectedComponents(local)
        (cc.schema, cc.collect().toSeq)
      }
      assert(jobs == 0, s"$jobs jobs on a local pair list")
      val cc = Dedup.connectedComponents(distributed)
      assert(fromLocal == ((cc.schema, cc.collect().toSeq)), s"${rows.size} pairs")
      // above the gate a local list takes the distributed loop: the same components
      val loop = Dedup.connectedComponents(local, driverMaxEdges = 0L).collect().sortBy(_.getLong(0)).toSeq
      assert(loop == fromLocal._2, s"${rows.size} pairs, distributed loop")
      assert(rows.isEmpty == fromLocal._2.isEmpty)
    }
  }

  test("kcore: the staged query graph converges within the bounded rounds") {
    // bounded-round semantics equal THE k-core only past the peel
    // depth — prove rounds-1 ≡ rounds on the gate's staged graph
    val r9 = SparkEntry.queries("graph_kcore")(spark, sf)
    val edges = {
      import org.apache.spark.sql.functions._
      val docs = graft.sources.Catalog.load(spark, sf, "documents")
      val n = docs.count()
      val full = array(
        (col("doc_id") * 7 + 1) % n, (col("doc_id") * 13 + 2) % n,
        (col("doc_id") * 31 + 3) % n, (col("doc_id") * 37 + 4) % n,
        (col("doc_id") * 41 + 5) % n, (col("doc_id") * 43 + 6) % n,
        (col("doc_id") * 47 + 7) % n, (col("doc_id") * 53 + 8) % n)
      docs.select(col("doc_id").as("src"),
        explode(slice(full, lit(1), lit(2) + col("doc_id") % 7)).as("dst"))
    }
    val a = GraphOps.kcoreRounds(edges, k = 7, rounds = 9).collect().map(_.toSeq).toSeq
    val b = r9.collect().map(_.toSeq).toSeq
    assert(a == b, "peeling must have converged before the bounded round count")
  }
}
