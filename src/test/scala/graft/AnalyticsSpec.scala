package graft

import org.apache.spark.sql.functions._

import graft.sources.Catalog

class AnalyticsSpec extends SparkSpec {

  test("every declared query runs at sf0.001 and returns rows") {
    // no query may leave a cache entry behind (graft.operators.Materialize)
    spark.catalog.clearCache()
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned no rows")
      assert(spark.sharedState.cacheManager.isEmpty, s"query $name left the session's CacheManager non-empty")
    }
  }

  test("as-of join: a matched right row with NULL value wins over an older non-null") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    val left = Seq((1L, 100L), (1L, 50L), (2L, 10L)).toDF("k", "t")
    val right = Seq(
      (1L, 10L, Some("old")),
      (1L, 90L, None: Option[String]), // latest before t=100 — value is genuinely NULL
      (2L, 99L, Some("late"))          // after t=10 — no match for left row
    ).toDF("k", "t", "v")
    val got = AsOfJoin.lastBefore(left, right, "k", "t", "t", "v")
      .orderBy("k", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    assert(got.toSeq == Seq(
      (1L, 50L, Some("old")),  // only t=10 precedes
      (1L, 100L, None),        // t=90 row matched, its NULL carried (not "old")
      (2L, 10L, None)          // no right row precedes
    ))
  }

  test("bounded as-of: fresh match carried, stale match nulled, exact-bound edge included") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    val left = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L)).toDF("k", "t")
    val right = Seq(
      (1L, 95L, "fresh"),   // within 10
      (2L, 90L, "edge"),    // exactly at the bound: <= keeps it
      (3L, 89L, "stale"),   // just outside: nulled
      (3L, 20L, "older")    // even staler — must not resurface
    ).toDF("k", "t", "v")
    val got = AsOfJoin.lastWithin(left, right, "k", "t", "t", "v", tolerance = 10L)
      .orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getString(2))))
    assert(got.toSeq == Seq(
      (1L, Some("fresh")), (2L, Some("edge")), (3L, None), (4L, None)), got.mkString(","))
  }

  test("nearest as-of: backward, forward, tie-to-backward, tolerance clamp, both-sides pick") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    val left = Seq(
      (1L, 100L), // backward-only: right at 95 (dt -5), nothing after
      (2L, 100L), // forward-only: right at 104 (dt +4), nothing before
      (3L, 100L), // tie: 95 and 105 both at distance 5 — backward wins
      (4L, 100L), // both sides: 80 (d=20) vs 103 (d=3) — forward nearer
      (5L, 100L), // out of tolerance both ways (60 and 150, tol=10)
      (6L, 100L)  // no right rows at all
    ).toDF("k", "t")
    val right = Seq(
      (1L, 95L, "b1"),
      (2L, 104L, "f2"),
      (3L, 95L, "b3"), (3L, 105L, "f3"),
      (4L, 80L, "b4"), (4L, 103L, "f4"),
      (5L, 60L, "b5"), (5L, 150L, "f5")
    ).toDF("k", "t", "v")
    val got = AsOfJoin.nearestWithin(left, right, "k", "t", "t", "v", tolerance = 10L)
      .orderBy("k")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(got.toSeq == Seq(
      (1L, Some("b1"), Some(-5L)),
      (2L, Some("f2"), Some(4L)),
      (3L, Some("b3"), Some(-5L)),
      (4L, Some("f4"), Some(3L)),
      (5L, None, None),
      (6L, None, None)
    ), got.mkString(","))
  }

  test("groupedExactRanks equals the window-sort formulation bit-for-bit") {
    import graft.operators.Analytics
    import org.apache.spark.sql.expressions.Window
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    // the formulation groupedExactRanks replaced: full per-group sort
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("price_c"), col("o_orderkey"))
    val wAll = Window.partitionBy(col("o_orderpriority"))
    val viaWindow = orders
      .select(col("o_orderpriority"), Analytics.cents(col("o_totalprice")).as("price_c"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("o_orderpriority"))
      .agg(
        min(when(col("rn") === ceil(col("n") / lit(4.0)), col("price_c"))).as("p25"),
        min(when(col("rn") === floor((col("n") + 1) / lit(2.0)), col("price_c"))).as("med"),
        min(when(col("rn") === ceil(col("n") * lit(3) / lit(4.0)), col("price_c"))).as("p75"),
        max(col("n")).as("n"))
      .orderBy("o_orderpriority")
      .collect().toSeq
    // deliberately tiny bin budget so every rank lands in a multi-row
    // bin and the in-bin ranking path is actually exercised
    val viaBins = Analytics
      .groupedExactRanks(
        orders, "o_orderpriority", Analytics.cents(col("o_totalprice")),
        Seq(
          "p25" -> (n => ceil(n / lit(4.0))),
          "med" -> (n => floor((n + lit(1)) / lit(2.0))),
          "p75" -> (n => ceil(n * lit(3) / lit(4.0)))),
        bins = 7)
      .groupBy(col("o_orderpriority"))
      .agg(
        min(when(col("rank_name") === "p25", col("value"))).as("p25"),
        min(when(col("rank_name") === "med", col("value"))).as("med"),
        min(when(col("rank_name") === "p75", col("value"))).as("p75"),
        max(col("n")).as("n"))
      .orderBy("o_orderpriority")
      .collect().toSeq
    assert(viaBins == viaWindow)
    // exactly one value row per (group, rank)
    val perRank = Analytics.groupedExactRanks(
      orders, "o_orderpriority", Analytics.cents(col("o_totalprice")),
      Seq("med" -> (n => floor((n + lit(1)) / lit(2.0)))), bins = 7)
    assert(perRank.groupBy("o_orderpriority").count().filter(col("count") =!= 1L).count() == 0L)
  }

  test("globalRowNumber + ntileFromRank equal the unpartitioned-window formulation bit-for-bit") {
    import graft.operators.Analytics
    import org.apache.spark.sql.expressions.Window
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), Analytics.cents(col("o_totalprice")).as("p_c"))
    val w = Window.orderBy(col("p_c").desc, col("o_orderkey"))
    val viaWindow = orders
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .select(col("o_orderkey"), col("rn"), col("decile"))
      .orderBy(col("o_orderkey")).collect().toSeq
    // tiny bin budget → multi-row bins, cross-bin offsets exercised
    val viaBins = Analytics
      .globalRowNumber(orders, col("p_c"), descending = true, Seq(col("o_orderkey")), bins = 7)
      .withColumn("decile", Analytics.ntileFromRank(col("rn"), col("n_total"), 10))
      .select(col("o_orderkey"), col("rn"), col("decile"))
      .orderBy(col("o_orderkey")).collect().toSeq
    assert(viaBins == viaWindow)
  }

  test("ntileFromRank degenerate shapes: n < k, n == k, constant values") {
    import spark.implicits._
    import graft.operators.Analytics
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(3, 10, 23)) {
      val df = (1 to n).map(i => (i.toLong, 42L)).toDF("id", "v")
      val w = Window.orderBy(col("v").desc, col("id"))
      val viaWindow = df.withColumn("t", ntile(10).over(w).cast("long"))
        .select(col("id"), col("t")).orderBy("id").collect().toSeq
      val viaBins = Analytics.globalRowNumber(df, col("v"), descending = true, Seq(col("id")), bins = 5)
        .withColumn("t", Analytics.ntileFromRank(col("rn"), col("n_total"), 10))
        .select(col("id"), col("t")).orderBy("id").collect().toSeq
      assert(viaBins == viaWindow, s"n=$n")
    }
  }

  test("groupedExactRanks: constant value column (single-bin degenerate) and n=1 groups") {
    import spark.implicits._
    import graft.operators.Analytics
    val df = Seq(("a", 5L), ("a", 5L), ("a", 5L), ("b", 9L)).toDF("g", "v")
    val got = Analytics
      .groupedExactRanks(df, "g", col("v"), Seq("med" -> (n => floor((n + lit(1)) / lit(2.0)))))
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", "med", 5L, 3L), ("b", "med", 9L, 1L)))
  }

  test("mergeRollup: state + batch partials equal the full recompute, any split") {
    import spark.implicits._
    import graft.operators.Incremental
    val rows = (1L to 300L).map(i => (i, s"g${i % 7}", i * 3))
    val df = rows.toDF("id", "grp", "v")
    val full = df.groupBy("grp").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    for (mod <- Seq(2L, 5L, 299L)) { // batch = tiny, mid, nearly-everything
      def partials(part: org.apache.spark.sql.DataFrame) =
        part.groupBy("grp").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      val merged = Incremental.mergeRollup(
        partials(df.filter(col("id") % mod =!= 0)),
        partials(df.filter(col("id") % mod === 0)),
        Seq("grp"), Seq("sv", "n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(merged == full, s"split mod=$mod diverged")
    }
  }

  test("profileTable: nulls, exact ndv, stringified min/max, one row per column") {
    import spark.implicits._
    import graft.operators.Analytics
    val df = Seq(
      (Some(3L), Some("b")), (Some(1L), None), (None, Some("a")), (Some(3L), Some("c"))
    ).toDF("k", "s")
    val p = Analytics.profileTable(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(p("k") == ((4L, 1L, 2L, "1", "3")))
    assert(p("s") == ((4L, 1L, 3L, "a", "c")))
  }

  test("profileTable approxNdv: single-scan plan with NO per-value ndv shuffle, HLL-bounded estimate") {
    import spark.implicits._
    import graft.operators.Analytics
    val df = spark.range(0, 20000).select(
      (col("id") % 1000).as("k"), concat(lit("v"), col("id") % 777).as("s"))
    val approx = Analytics.profileTable(df, Seq("k", "s"), approxNdv = true)
    // plan lock: the exact path shuffles an 8-byte hash PER VALUE
    // (xxhash64 + a (col_name, hv) aggregate); the approx path must
    // fold HLL into the one-row agg — no per-value hashing, and the
    // only exchanges are the single-partition agg merge
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("xxhash64"), "approx mode must not hash per-value")
    assert(!plan.contains("Exchange hashpartitioning"),
      "approx mode's only exchange is the one-row agg merge (SinglePartition) — a keyed shuffle means ndv data moved")
    val rows = approx.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // HLL++ default rsd = 5%; allow 3x that for a deterministic gate
    assert(math.abs(rows("k") - 1000L) <= 150, s"k ndv estimate ${rows("k")} off from 1000")
    assert(math.abs(rows("s") - 777L) <= 120, s"s ndv estimate ${rows("s")} off from 777")
    // exact twin on the same data agrees with truth, for contrast
    val exact = Analytics.profileTable(df, Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(exact("k") == 1000L)
  }

  test("dq checks: predicate fusion, fk anti join, duplicate keys — counts are exact") {
    import spark.implicits._
    import graft.operators.DataQuality
    val child = Seq((1L, 10L), (2L, 11L), (3L, 99L), (3L, 12L)).toDF("id", "fk")
    val parent = Seq((10L, "x"), (11L, "y"), (12L, "z")).toDF("pk", "name")
    val rep = DataQuality.report(Seq(
      DataQuality.predicateViolations(child, Seq(
        "id_positive" -> (col("id") <= 0),
        "fk_below_50" -> (col("fk") >= 50))),
      DataQuality.fkViolations("fk_resolvable", child, "fk", parent, "pk"),
      DataQuality.dupKeyViolations("id_unique", child, Seq("id"))
    )).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep == Map(
      "id_positive" -> 0L, "fk_below_50" -> 1L,
      "fk_resolvable" -> 1L, "id_unique" -> 1L))
  }

  test("skewReport: exact hot-key census, shares in basis points, rank deterministic") {
    import spark.implicits._
    import graft.operators.Skew
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val got = Skew.skewReport(df, Seq("k"), topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", 6L, 6000L, 1L), ("b", 3L, 3000L, 2L)))
  }

  test("q1 cents sums are exact integers and grouped correctly") {
    val df = SparkEntry.queries("q1_pricing")(spark, sf)
    val rows = df.collect()
    assert(rows.map(_.getString(0)).distinct.length <= 3)
    val total = rows.map(_.getLong(6)).sum
    val liCount = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(total == liCount)
  }

  test("sessionize: session ids are dense per user starting at 1") {
    val df = SparkEntry.queries("sessionize")(spark, sf)
    val bad = df
      .groupBy(col("user_id"))
      .agg(min(col("session_id")).as("mn"), max(col("session_id")).as("mx"), count(lit(1)).as("n"))
      .filter(col("mn") =!= 1 || col("mx") =!= col("n"))
      .count()
    assert(bad == 0)
  }

  test("retention cohorts: week-0 count is the cohort ceiling for every later week") {
    import graft.operators.TimeSeries
    val df = TimeSeries.retentionCohorts(graft.sources.Catalog.load(spark, sf, "events"))
    val bad = df.alias("w")
      .join(
        df.filter(col("weeks_since") === 0)
          .select(col("cohort_week_us").as("cw"), col("n_users").as("n0")),
        col("cohort_week_us") === col("cw")
      )
      .filter(col("n_users") > col("n0"))
      .count()
    assert(bad == 0, "a later week retained more users than the cohort had at week 0")
  }

  test("gap-fill: grid is dense (users x full day span) and zero rows really have no events") {
    import graft.operators.TimeSeries
    val ev = graft.sources.Catalog.load(spark, sf, "events")
    val df = TimeSeries.gapFillDaily(ev, "error", maxUserId = 8L).cache()
    val users = df.select("user_id").distinct().count()
    val days = df.select("day").distinct().count()
    assert(df.count() == users * days, "grid must be the full cross product")
    val span = ev.agg(
      datediff(to_date(max(col("ts"))), to_date(min(col("ts")))).as("d")
    ).head().getInt(0) + 1
    assert(days == span, "grid must cover the whole corpus span")
    val zeros = df.filter(col("n_events") === 0)
    val real = ev.filter(col("event_type") === "error" && col("user_id") < 8)
      .select(col("user_id"), date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
    assert(zeros.join(real, Seq("user_id", "day")).count() == 0)
    df.unpersist()
  }

  test("moving 7d window: range frame spans at most 7 calendar days and sums its own days") {
    import graft.operators.TimeSeries
    val df = TimeSeries.movingRevenue7d(spark.read.parquet(s"$sf/lineitem.parquet")).cache()
    assert(df.filter(col("n_days_7d") > 7).count() == 0)
    // first row's window is itself only
    val first = df.orderBy("day").head()
    assert(first.getLong(1) == first.getLong(2) && first.getLong(3) == 1L)
    // every 7-day sum >= that day's own revenue
    assert(df.filter(col("rev_7d_c") < col("rev_c")).count() == 0)
    df.unpersist()
  }

  test("rfmSegments: quintile codes reward recency, frequency and spend; deterministic") {
    import spark.implicits._
    import graft.operators.Analytics
    // 10 customers; customer i has i orders of 100.00 each, last order
    // on day 7000+i — so rank order on every dimension is c1 < ... < c10
    val cust = (1L to 10L).map(i => Tuple1(i)).toDF("c_custkey")
    val orders = (1L to 10L).flatMap { i =>
      (1L to i).map(j => (i, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(7000 + i - (if (j == i) 0 else 1))), 100.0))
    }.toDF("o_custkey", "o_orderdate", "o_totalprice")
    val got = Analytics.rfmSegments(cust, orders).collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // 10 rows over 5 tiles = 2 per tile on each dimension
    assert(got(1L) == ((1L, 1L, 1L)) && got(2L) == ((1L, 1L, 1L)), got.toString)
    assert(got(9L) == ((5L, 5L, 5L)) && got(10L) == ((5L, 5L, 5L)))
    assert(got(5L) == ((3L, 3L, 3L)) && got(6L) == ((3L, 3L, 3L)))
  }

  test("basketLift: exclusive pair out-lifts the ubiquitous one; exact ppm values") {
    import spark.implicits._
    import graft.operators.Analytics
    // 12 orders; parts 1,2 co-occur in exactly their 4 shared orders
    // (exclusive pair); part 9 is in EVERY order (ubiquitous)
    val rows =
      (1L to 4L).flatMap(o => Seq((o, 1L), (o, 2L), (o, 9L))) ++
      (5L to 12L).map(o => (o, 9L)) ++
      (5L to 8L).map(o => (o, 3L))
    val li = rows.toDF("l_orderkey", "l_partkey")
    val got = Analytics.basketLift(li, minCount = 3, topK = 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(5))).toMap
    // lift(1,2) = 12*4*1e6/(4*4) = 3,000,000 ppm (perfect association)
    assert(got((1L, 2L)) == 3000000L, got.toString)
    // lift(1,9) = 12*4*1e6/(4*12) = 1,000,000 ppm (chance-level)
    assert(got((1L, 9L)) == 1000000L)
    // the exclusive pair ranks above every chance-level pair
    assert(got((1L, 2L)) > got((1L, 9L)))
  }

  test("equidepthHist: exact ntile buckets with real-value boundaries") {
    import spark.implicits._
    import graft.operators.Analytics
    // 32 distinct values over 16 buckets: exactly 2 rows per bucket,
    // boundaries are the data values themselves
    val df = (1L to 32L).map(i => (i, i * 10L)).toDF("id", "cents")
    val got = Analytics.equidepthHist(df, col("cents"), Seq(col("id")), buckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 16)
    got.zipWithIndex.foreach { case ((b, n, lo, hi), i) =>
      assert(b == i + 1 && n == 2L && lo == (2 * i + 1) * 10L && hi == (2 * i + 2) * 10L,
        s"bucket $b: n=$n lo=$lo hi=$hi")
    }
    // uneven split follows SQL ntile: 5 rows over 2 buckets -> 3 + 2
    val odd = (1L to 5L).map(i => (i, i)).toDF("id", "cents")
    val g2 = Analytics.equidepthHist(odd, col("cents"), Seq(col("id")), buckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g2.toSeq == Seq((1L, 3L), (2L, 2L)))
  }

  test("movingDistinct7d: hand-computed trailing distinct counts, observed days only") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def ts(day: Int): java.sql.Timestamp = new java.sql.Timestamp(day * 86400000L)
    // day 0: users {1,2}; day 3: {2,3}; day 10: {1}; duplicate events collapse
    val events = Seq((1L, ts(0)), (2L, ts(0)), (2L, ts(0)), (2L, ts(3)), (3L, ts(3)), (1L, ts(10)))
      .toDF("user_id", "ts")
    val got = TimeSeries.movingDistinct7d(events).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // day 0 window {-6..0}: {1,2}=2 ; day 3 window {-3..3}: {1,2,3}=3 ;
    // day 10 window {4..10}: {1}=1 — day 3's users age out
    assert(got == Map(0L -> 2L, 3L -> 3L, 10L -> 1L))
  }

  test("cumulativeDistinctUsers: first-seen-day plan equals hand-computed expanding distinct") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def ts(day: Int): java.sql.Timestamp = new java.sql.Timestamp(day * 86400000L)
    // day 0: {1,2}; day 3: {2,3}; day 10: {1,4,4}
    val events = Seq((1L, ts(0)), (2L, ts(0)), (2L, ts(3)), (3L, ts(3)),
      (1L, ts(10)), (4L, ts(10)), (4L, ts(10))).toDF("user_id", "ts")
    val got = TimeSeries.cumulativeDistinctUsers(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 2L, 2L), (3L, 1L, 3L), (10L, 1L, 4L)))
  }

  test("pivot: per-type columns sum back to the raw event count") {
    import graft.operators.TimeSeries
    val ev = graft.sources.Catalog.load(spark, sf, "events")
    val types = Seq("click", "error", "purchase", "signup", "view")
    val df = TimeSeries.pivotDailyCounts(ev, types)
    val total = df
      .select(types.map(t => sum(col(s"n_$t"))).reduce(_ + _).as("n"))
      .head().getLong(0)
    assert(total == ev.count())
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("funnelCounts: strict stage ordering enforced, counts monotone") {
    import spark.implicits._
    val ev = Seq(
      (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L), // completes all 3
      (2L, "click", 50L), (2L, "view", 100L), (2L, "purchase", 300L), // click BEFORE view: stuck at view
      (3L, "view", 10L), (3L, "purchase", 20L) // skips click: purchase must not count
    ).map { case (u, t, ms) => (u, t, new java.sql.Timestamp(ms)) }.toDF("user_id", "event_type", "ts")
    val f = graft.operators.Analytics
      .funnelCounts(ev, "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .orderBy("stage_idx").collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(f == Seq(("view", 3L), ("click", 1L), ("purchase", 1L)))
  }

  test("q4 semi-join equals distinct-inner-join formulation") {
    val semi = SparkEntry.queries("q4_semi_join")(spark, sf).collect().toSeq
    val o = graft.sources.Catalog.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
    val l = graft.sources.Catalog.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), unix_micros(col("l_shipdate").cast("timestamp")).as("l_us"))
    val viaDistinct = o
      .join(l, col("o_orderkey") === col("l_orderkey") && col("l_us") > col("o_us") + lit(7776000000000L))
      .select(col("o_orderkey"), col("o_orderpriority")).distinct()
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority")).collect().toSeq
    assert(semi == viaDistinct && semi.nonEmpty)
  }

  test("twap: hold-until-next weighting on a hand-built day, exact integer result") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // user 1: 1.0 held 10s, 2.0 held 20s, 4.0 unweighted (last of day)
    val ev = Seq(
      (1L, 1L, "2024-01-01 00:00:00", 1.0),
      (2L, 1L, "2024-01-01 00:00:10", 2.0),
      (3L, 1L, "2024-01-01 00:00:30", 4.0)
    ).toDF("event_id", "user_id", "tss", "value")
      .withColumn("ts", to_timestamp(col("tss")))
    val got = TimeSeries.twap(ev).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_spans") == 2L)
    // (1000*10000 + 2000*20000) DIV 30000 = 50_000_000 DIV 30_000
    assert(r.getAs[Long]("twap_milli") == 1666L)
  }

  test("twap: single-event user-days drop out; same-ms bursts never divide by zero") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val ev = Seq(
      (1L, 7L, "2024-01-01 00:00:00.000", 5.0), // lone event → no span
      (2L, 8L, "2024-01-02 00:00:00.0001", 1.0), // two events inside one ms
      (3L, 8L, "2024-01-02 00:00:00.0005", 9.0)  // → span_ms = 0 → filtered
    ).toDF("event_id", "user_id", "tss", "value")
      .withColumn("ts", to_timestamp(col("tss")))
    assert(TimeSeries.twap(ev).count() == 0)
  }

  test("anomaly_mad: median baseline immune to the spike it flags; zero MAD floored") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // 4 flat days of 3 events + one day of 10 → med 3, mad 0 (floored to 1)
    val rows = (0 until 4).flatMap(d => (0 until 3).map(i => (s"2024-02-0${d + 1} 00:00:0$i", d * 10L + i))) ++
      (0 until 10).map(i => (s"2024-02-05 00:10:0$i", 100L + i))
    val ev = rows.toDF("tss", "event_id").withColumn("ts", to_timestamp(col("tss")))
    val got = TimeSeries.anomalyMadDays(ev).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.forall { case (_, _, med, mad, _) => med == 3L && mad == 0L })
    assert(got.filter(_._5 == 1L).map(_._1).toSeq == Seq("2024-02-05"))
    assert(got.count(_._5 == 0L) == 4)
  }

  test("unigram score: common-word docs score high ppm, hapax docs max rare_bp — exact") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "the the the cat"), (2L, "zzz qqq")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramScore(docs, "doc_id", "text").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // total=6 tokens; ppm: the=500000, cat/zzz/qqq=166666
    assert(got(0) == ((1L, 4L, (3L * 500000L + 166666L) / 4L, 2500L)))
    assert(got(1) == ((2L, 2L, 166666L, 10000L)))
  }

  test("ewma: exact fold in time order, single-event identity, order independence of input") {
    import graft.operators.TimeSeries
    import java.sql.Timestamp
    import spark.implicits._
    // user 1: values 10.0, 20.0, 30.0 at t=1,2,3s (shuffled input rows);
    // alpha=20: e = 10000 -> (80*10000+20*20000)/100 = 12000 -> (80*12000+20*30000)/100 = 15600
    val rows = Seq(
      (3L, new Timestamp(3000L), 1L, 30.0),
      (1L, new Timestamp(1000L), 1L, 10.0),
      (2L, new Timestamp(2000L), 1L, 20.0),
      (4L, new Timestamp(5000L), 2L, 7.5)
    ).toDF("event_id", "ts", "user_id", "value")
    val got = TimeSeries.ewma(rows, alphaPct = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 3L, 15600L), (2L, 1L, 7500L)))
    // input row order must not matter: fold order comes from (ts, event_id)
    val got2 = TimeSeries.ewma(rows.orderBy(col("value")), alphaPct = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got2.toSeq == got.toSeq)
  }

  test("holt: packed two-part state replays the hand-computed fold, negative trend included") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:0$i:00")
    // user 1: [10, 20, 5] -> l=10760, t=56 (hand-computed)
    // user 2: [100, 0]    -> l=80000, t=-2000 (negative trend through the packing)
    // user 3: single event -> identity (l=x0, t=0)
    val rows = Seq(
      (1L, ts(1), 101L, 10.0), (1L, ts(2), 102L, 20.0), (1L, ts(3), 103L, 5.0),
      (2L, ts(1), 201L, 100.0), (2L, ts(2), 202L, 0.0),
      (3L, ts(1), 301L, 7.5)
    ).toDF("user_id", "ts", "event_id", "value")
    val r = TimeSeries.holt(rows, alphaPct = 20, betaPct = 10)
      .collect().map(x => x.getLong(0) -> ((x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((10760L, 56L)), s"user1: ${r(1L)}")
    assert(r(2L) == ((80000L, -2000L)), s"user2 negative trend: ${r(2L)}")
    assert(r(3L) == ((7500L, 0L)), s"user3 identity: ${r(3L)}")
  }

  test("sequenceNextNode: next event after the earliest view->click chain; (time, id) tiebreak; silent users absent") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val events = Seq(
      // u1: chain completes at click@5; next is error@7
      (1L, ts(0), 1L, "view"), (1L, ts(5), 2L, "click"), (1L, ts(7), 3L, "error"), (1L, ts(9), 4L, "purchase"),
      // u2: chain completes but nothing follows -> absent
      (2L, ts(0), 5L, "view"), (2L, ts(5), 6L, "click"),
      // u3: click BEFORE the first view doesn't complete the chain;
      //     t0=5, t1=7, next is signup@8
      (3L, ts(0), 7L, "click"), (3L, ts(5), 8L, "view"), (3L, ts(7), 9L, "click"), (3L, ts(8), 10L, "signup"),
      // u4: no click at all -> absent
      (4L, ts(0), 11L, "view"),
      // u5: two candidates at the same instant — event_id 9 < 10 wins
      (5L, ts(0), 12L, "view"), (5L, ts(2), 13L, "click"),
      (5L, ts(4), 20L, "error"), (5L, ts(4), 19L, "purchase")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Analytics.sequenceNextNode(events, "user_id", "event_type", "ts", "event_id",
      Seq("view", "click")).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("error" -> 1L, "signup" -> 1L, "purchase" -> 1L), got.toString)
  }

  test("segmentOverlap: full pair matrix with exact Jaccard; zero-overlap pairs present; threshold filters") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:0$i:00")
    val events = Seq(
      (1L, "A", 200.0), (1L, "B", 200.0),
      (2L, "A", 200.0), (2L, "B", 200.0),
      (3L, "A", 200.0), (3L, "C", 200.0),
      (4L, "C", 200.0),
      (4L, "A", 1.0) // below threshold: u4 must NOT join segment A
    ).zipWithIndex.map { case ((u, t0, v), i) => (u, ts(i % 10), t0, v) }
      .toDF("user_id", "ts", "event_type", "value")
    val got = Analytics.segmentOverlap(events, "user_id", "event_type", "value", minValue = 150.0)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // |A|=3 |B|=2 |C|=2; A∩B=2 -> 2e6/3; A∩C=1 -> 1e6/4; B∩C=0 (the zero row)
    assert(got.toSeq == Seq(
      ("A", "B", 3L, 2L, 2L, 666666L),
      ("A", "C", 3L, 2L, 1L, 250000L),
      ("B", "C", 2L, 2L, 0L, 0L)), got.mkString(","))
  }

  test("holtWinters: hand-computed triple-smoothing fold, truncating division pinned") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def day(x: Int) = java.sql.Timestamp.valueOf(f"1992-01-${x + 1}%02d 00:00:00")
    // x = [100, 200, 300, 400] cents; alpha=beta=gamma=50, season=2:
    // i0: l=100 b=0 s=[0,0]
    // i1: l=150 b=25 s=[0,25]
    // i2: l=(15000+8750)/100=237 (DIV truncates 237.5) b=56 s=[31,25]
    // i3: l=334 b=76 (7650/100 -> 76) s=[31,45] (4550/100 -> 45)
    val li = (0 until 4).map(x => ((x + 1).toDouble, day(x)))
      .toDF("l_extendedprice", "l_shipdate")
    val got = TimeSeries.holtWinters(li, alphaPct = 50, betaPct = 50, gammaPct = 50, season = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((0L, 31L, 334L, 76L, 4L), (1L, 45L, 334L, 76L, 4L)), got.mkString(","))
  }

  test("trendSlope: planted linear daily revenue recovers the exact slope, sign included") {
    import spark.implicits._
    // brand UP: daily revenue 100 + 5x dollars; brand DOWN: 1000 - 7x
    def day(x: Int) = java.sql.Timestamp.valueOf(f"1992-01-${x + 1}%02d 00:00:00")
    val li = (0 until 10).flatMap { x =>
      Seq((1L, (100 + 5 * x).toDouble, day(x)), (2L, (1000 - 7 * x).toDouble, day(x)))
    }.toDF("l_partkey", "l_extendedprice", "l_shipdate")
    val part = Seq((1L, "UP"), (2L, "DOWN")).toDF("p_partkey", "p_brand")
    val r = operators.Analytics.trendSlope(li, part)
      .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
    assert(r("UP") == 5000L, s"UP slope_md: ${r("UP")}")
    assert(r("DOWN") == -7000L, s"negative slope must survive truncating DIV: ${r("DOWN")}")
  }

  test("corrPairs: perfect linear (anti-)correlation hits ±1 to double precision") {
    import spark.implicits._
    // discounts are i/16: exactly representable doubles, so
    // floor(d*10000) = 625·i is exactly linear in i (an arbitrary
    // 1/10000-grid value can floor to 624.99..→624 and break ±1)
    val li = (1 to 40).map(i =>
      ("P", i.toDouble, i / 16.0) ) ++ (1 to 40).map(i =>
      ("N", i.toDouble, (50.0 - i) / 16.0))
    val df = li.toDF("l_returnflag", "l_quantity", "l_discount")
    val r = operators.Analytics.corrPairs(df)
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(math.abs(r("P") - 1.0) < 1e-12, s"corr(P)=${r("P")}")
    assert(math.abs(r("N") + 1.0) < 1e-12, s"corr(N)=${r("N")}")
    // determinism: the IEEE tail must be bit-stable across runs
    val r2 = operators.Analytics.corrPairs(df)
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(r2 == r, "corr must be bit-identical across runs")
  }

  test("cusumChangepoint: scaled statistic matches hand computation, peak flagged") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def ts(day: Int): java.sql.Timestamp = new java.sql.Timestamp(day * 86400000L)
    // day 0: 3 events, day 1: 1, day 2: 2 -> T=6, D=3
    // cusum_scaled: 3*3-6=3 ; 3+(1*3-6)=0 ; 0+(2*3-6)=0 -> peak at day 0
    val events = Seq(ts(0), ts(0), ts(0), ts(1), ts(2), ts(2)).toDF("ts")
    val got = TimeSeries.cusumChangepoint(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 3L, 3L, 1L), (1L, 1L, 0L, 0L), (2L, 2L, 0L, 0L)))
  }

  test("eventTransitions: counts and exact-ppm rates over per-user sequences") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def ts(m: Int): java.sql.Timestamp = new java.sql.Timestamp(m * 60000L)
    // user 1: view->click->click ; user 2: click->view
    val events = Seq(
      (1L, ts(0), 1L, "view"), (1L, ts(1), 2L, "click"), (1L, ts(2), 3L, "click"),
      (2L, ts(0), 4L, "click"), (2L, ts(5), 5L, "view")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = TimeSeries.eventTransitions(events).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("click", "click", 1L, 500000L),
      ("click", "view", 1L, 500000L),
      ("view", "click", 1L, 1000000L)))
  }

  test("driftReport: bins, per-side counts and ppm shift on a hand-built split") {
    import spark.implicits._
    import graft.operators.DataQuality
    // values 0..9 at times 0..9us; mid=4 -> ref {0..4}, cur {5..9};
    // 2 bins over [0,9]: v*2 div 10 -> 0..4 in bin 0, 5..9 in bin 1
    val df = (0 to 9).map(i => (i.toLong, i.toLong)).toDF("v", "tus")
    val got = DataQuality.driftReport(df, col("v"), col("tus"), bins = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 5L, 0L, -1000000L), (1L, 0L, 5L, 1000000L)))
  }

  test("winsorize_stats entry: clamped sum bracketed by cut points and equal to a naive clamp") {
    val out = SparkEntry.queries("winsorize_stats")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, p05, p95, ws) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(p05 <= p95, s"cuts out of order for ${r.getString(0)}")
      assert(ws >= n * p05 && ws <= n * p95, s"clamped sum outside bounds for ${r.getString(0)}")
    }
    // naive re-computation: full per-brand sort via window rank
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Analytics
    val v = Catalog.load(spark, sf, "lineitem")
      .select(col("l_partkey"), Analytics.cents(col("l_extendedprice")).as("v_c"),
        col("l_orderkey"), col("l_linenumber"))
      .join(Catalog.load(spark, sf, "part").select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"), col("v_c"), col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy(col("brand")).orderBy(col("v_c"), col("l_orderkey"), col("l_linenumber"))
    val rk = v.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("brand"))).cast("long"))
    val cuts = rk.groupBy(col("brand")).agg(
      min(when(col("rn") === ceil(col("n") / lit(20.0)), col("v_c"))).as("p05_c"),
      min(when(col("rn") === ceil(col("n") * lit(19) / lit(20.0)), col("v_c"))).as("p95_c"))
    val naive = v.join(cuts, "brand")
      .groupBy(col("brand"), col("p05_c"), col("p95_c"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v_c") < col("p05_c"), col("p05_c"))
          .when(col("v_c") > col("p95_c"), col("p95_c"))
          .otherwise(col("v_c"))).as("wins_sum_c"))
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    out.foreach { r =>
      val exp = naive(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == exp,
        s"binned selection disagrees with naive window for ${r.getString(0)}")
    }
  }

  test("acfDaily: perfectly linear daily series gives AR slope exactly 1000 md per lag; n=1 lag is NULL") {
    import spark.implicits._
    import graft.operators.Analytics
    // days 1..5 of 1970-01, revenue 100t cents (price t dollars, no discount):
    // x_t = x_{t-k} + 100k exactly, so the Yule-Walker slope is 1.000 at every
    // lag with >= 2 pairs; lag 4 has a single pair (zero variance) -> NULL
    val li = (1 to 5).map(t =>
      (java.sql.Timestamp.valueOf(s"1970-01-0$t 00:00:00"), t.toDouble, 0.0))
      .toDF("l_shipdate", "l_extendedprice", "l_discount")
    val got = Analytics.acfDaily(li, maxLag = 7).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got.filter(_.getLong(1) >= 2).forall(_.getLong(2) == 1000L), got.mkString(","))
    val lag4 = got.find(_.getLong(0) == 4L).get
    assert(lag4.getLong(1) == 1L && lag4.isNullAt(2))
  }

  test("dowSeasonality: flat weekdays at 7777 bp, the 3x day at 23333 bp (exact integer floors)") {
    import spark.implicits._
    import graft.operators.Analytics
    // epoch days 0..6 (1970-01-01..07), one day per dow key; dow 6 has 3x revenue
    val li = (0 to 6).map { d =>
      (java.sql.Timestamp.valueOf(s"1970-01-0${d + 1} 00:00:00"), if (d == 6) 3.0 else 1.0, 0.0)
    }.toDF("l_shipdate", "l_extendedprice", "l_discount")
    val got = Analytics.dowSeasonality(li).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // S = 900c over N = 7 days; index_bp = (10000 * s_d * 7) DIV (1 * 900)
    assert(got.toSeq == (0 to 5).map(d => (d.toLong, 1L, 100L, 7777L)) :+ ((6L, 1L, 300L, 23333L)))
  }

  test("seasonalDecompose: spike day isolated in its weekday residual; incomplete windows dropped") {
    import spark.implicits._
    import graft.operators.Analytics
    // epoch days 1..10 (1970-01-02..11), 70c/day except 140c on day 5;
    // complete centered windows exist for days 4..7 only, each summing
    // 560c -> trend 80c; residual 60c on the spike day, -10c elsewhere
    val li = (1 to 10).map { d =>
      (java.sql.Timestamp.valueOf(s"1970-01-${"%02d".format(d + 1)} 00:00:00"),
        if (d == 5) 1.40 else 0.70, 0.0)
    }.toDF("l_shipdate", "l_extendedprice", "l_discount")
    val got = Analytics.seasonalDecompose(li).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 1L, -10L), (4L, 1L, -10L), (5L, 1L, 60L), (6L, 1L, -10L)))
  }

  test("funnelLatency: exact p50/p90 hop durations; non-converting and out-of-order users excluded") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val events = Seq(
      (1L, ts(0), "view"), (1L, ts(10), "click"), (1L, ts(70), "purchase"),
      (2L, ts(0), "view"), (2L, ts(30), "click"),
      (3L, ts(0), "view"),
      (4L, ts(5), "click") // click with no prior view: not in the funnel
    ).toDF("user_id", "ts", "event_type")
    val got = Analytics.funnelLatency(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // view->click durs [10,30]: p50 = rank 1 -> 10, p90 = rank 2 -> 30
    // click->purchase durs [60]: both ranks -> 60
    assert(got.toSeq == Seq(
      ("1:view->click", "p50", 10L, 2L), ("1:view->click", "p90", 30L, 2L),
      ("2:click->purchase", "p50", 60L, 1L), ("2:click->purchase", "p90", 60L, 1L)))
  }

  test("funnelAttribution: first-touch channel, same-timestamp tie by event_id, exact conv_bp") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val events = Seq(
      // user 1: two views at the SAME ts — channel from event_id 10 (ch 7), converts
      (1L, 10L, ts(0), "view", 7L), (1L, 11L, ts(0), "view", 9L),
      (1L, 12L, ts(5), "click", 0L), (1L, 13L, ts(9), "purchase", 0L),
      // user 2: ch 7, enters but does not convert (click only)
      (2L, 20L, ts(0), "view", 7L), (2L, 21L, ts(3), "click", 0L),
      // user 3: ch 5, converts
      (3L, 30L, ts(0), "view", 5L), (3L, 31L, ts(1), "click", 0L), (3L, 32L, ts(2), "purchase", 0L),
      // user 4: never views — not in the funnel at all
      (4L, 40L, ts(0), "click", 3L)
    ).toDF("user_id", "event_id", "ts", "event_type", "ch")
    val got = Analytics.funnelAttribution(events, "user_id", "event_id", "event_type", "ts",
        Seq("view", "click", "purchase"), col("ch")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((5L, 1L, 1L, 10000L), (7L, 2L, 1L, 5000L)), got.mkString(","))
  }

  test("snaiveBacktest: perfect weekly periodicity scores zero error; a planted spike lands in its own weekday") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // 28 days: revenue = 100 + dow pattern, perfectly 7-periodic except
    // day 21 (index 21 -> third Monday-of-cycle) which spikes +50
    val base = java.time.LocalDate.parse("2024-01-01")
    val rows = (0 until 28).map { i =>
      val spike = if (i == 21) 50.0 else 0.0
      (i.toLong, java.sql.Timestamp.valueOf(base.plusDays(i.toLong).atStartOfDay),
        1.0 + (i % 7) * 0.10 + spike / 100.0)
    }
    val li = rows.toDF("l_orderkey", "l_shipdate", "l_extendedprice")
    val got = TimeSeries.snaiveBacktest(li).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == 7, "all weekdays evaluated")
    // 21 evaluated days (28 - 7 warmup): 3 per weekday
    assert(got.forall(_._2 == 3L))
    // the spike day's weekday: |err| = 50 cents once over 3 days -> MAE 16, bias +16
    val spikeDow = got.filter(t => t._3 != 0L)
    assert(spikeDow.length == 1 && spikeDow.head._3 == 16L && spikeDow.head._4 == 16L,
      got.mkString(","))
    assert(got.filter(_._3 == 0L).forall(t => t._4 == 0L && t._5 == 0L),
      "periodic weekdays are error-free")
  }

  test("newVsReturning: first-ever day counts as new, later days as returning; multi-event days dedup") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-02-0$day $h%02d:00:00")
    val events = Seq(
      (1L, ts(1, 1)), (1L, ts(1, 9)), // user 1 day 1 twice -> ONE new
      (1L, ts(2, 3)),                 // user 1 day 2 -> returning
      (2L, ts(2, 4)),                 // user 2 new on day 2
      (2L, ts(3, 5)), (1L, ts(3, 6))  // both return day 3
    ).toDF("user_id", "ts")
    val got = TimeSeries.newVsReturning(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("2024-02-01", 1L, 0L), ("2024-02-02", 1L, 1L), ("2024-02-03", 0L, 2L)), got.mkString(","))
  }

  test("semanticContamination: planted near-copies of eval vectors flagged with hit counts; clean docs absent") {
    import spark.implicits._
    import graft.operators.Curation
    val eval = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(0.99f, 0.02f)), // near both eval vectors
      (11L, Array(0.0f, 1.0f)),   // clean (cos ~0.11 to eval 1, below tau)
      (12L, Array(-1.0f, 0.0f))   // clean, opposite
    ).toDF("vec_id", "embedding")
    val got = Curation.semanticContamination(corpus, eval, "vec_id", "embedding", tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((10L, 2L)), got.mkString(","))
  }

  test("semanticContamination: corpus/eval id collision does not hide a hit (independent id spaces)") {
    import spark.implicits._
    import graft.operators.Curation
    // corpus doc 0 is a near-copy of eval doc 0 — SAME id by
    // coincidence (the datasets are independent); the hit must count
    val eval = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (0L, Array(0.99f, 0.02f)), // contaminated, id collides with eval id
      (1L, Array(0.0f, 1.0f))    // clean
    ).toDF("vec_id", "embedding")
    val got = Curation.semanticContamination(corpus, eval, "vec_id", "embedding", tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 1L)), got.mkString(","))
  }

  test("funnelWindowLevels: hops must land inside the anchored window; greedy first-anchor rule; level histogram") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val W = 100L // seconds
    val events = Seq(
      // A: view 0, click 10, purchase 50 -> all within 100s -> level 3
      (1L, ts(0), "view"), (1L, ts(10), "click"), (1L, ts(50), "purchase"),
      // B: click at 150 > t0+100 -> level 1
      (2L, ts(0), "view"), (2L, ts(150), "click"),
      // C: click 90 in-window, purchase 120 out -> level 2
      (3L, ts(0), "view"), (3L, ts(90), "click"), (3L, ts(120), "purchase"),
      // D: the documented greedy divergence — anchored at view 0, click 500
      // misses the window even though the view at 450 would anchor a
      // completing chain -> level 1
      (4L, ts(0), "view"), (4L, ts(450), "view"), (4L, ts(500), "click"),
      // E: no view at all -> not in the funnel
      (5L, ts(0), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = Analytics.funnelWindowLevels(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowSec = W).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L)), got.mkString(","))
  }

  test("funnelWindowLevels takes any stage name; funnelCounts, which writes the names into SQL, keeps its identifier check") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val stages = Seq("page.view", "add to cart")
    val events = Seq(
      (1L, ts(0), "page.view"), (1L, ts(10), "add to cart"), // level 2
      (2L, ts(0), "page.view")                                // level 1
    ).toDF("user_id", "ts", "event_type")
    val got = Analytics.funnelWindowLevels(events, "user_id", "event_type", "ts", stages, windowSec = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L)), got.mkString(","))
    intercept[IllegalArgumentException](Analytics.funnelCounts(events, "user_id", "event_type", "ts", stages))
  }

  test("funnelWindowLevelsMode: strictness matrix — default ignores, strict_order freezes on any interleave, strict_dedup on repeats") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val W = 100L
    val stages = Seq("view", "click", "purchase")
    val events = Seq(
      // A: clean chain view 0 -> click 10 -> purchase 50: level 3 in EVERY mode
      (1L, ts(0), "view"), (1L, ts(10), "click"), (1L, ts(50), "purchase"),
      // B: repeat view BETWEEN click steps: view 0, view 5, click 10, purchase 50
      //    default 3; strict_order freezes at the view repeat -> 1; strict_dedup
      //    freezes on the already-matched-stage repeat -> 1
      (2L, ts(0), "view"), (2L, ts(5), "view"), (2L, ts(10), "click"), (2L, ts(50), "purchase"),
      // C: skipped-ahead purchase before click: view 0, purchase 5, click 10, purchase 50
      //    default 3 (early purchase ignored, click 10 then purchase 50);
      //    strict_order freezes at the interleaving purchase -> 1;
      //    strict_dedup ignores it (purchase not yet matched) -> 3
      (3L, ts(0), "view"), (3L, ts(5), "purchase"), (3L, ts(10), "click"), (3L, ts(50), "purchase"),
      // D: expected click arrives OUTSIDE the window: view 0, click 150, purchase 160
      //    default 1; strict_order freezes at the invalid click -> 1; strict_dedup 1
      (4L, ts(0), "view"), (4L, ts(150), "click"), (4L, ts(160), "purchase"),
      // E: same-instant tie never freezes: view 0 and click 0 (tie), click 10, purchase 50
      //    click@0 folds after view@0 (stage order on ties) and ADVANCES (t > last
      //    fails -> not freeze-eligible, and advance needs t > last too, so the
      //    tie click is ignored); click 10 advances -> 3 everywhere
      (5L, ts(0), "view"), (5L, ts(0), "click"), (5L, ts(10), "click"), (5L, ts(50), "purchase"),
      // F: no head event: never enters
      (6L, ts(0), "click")
    ).toDF("user_id", "ts", "event_type")
    def levels(mode: String): Map[Long, Long] =
      Analytics.funnelWindowLevelsMode(events, "user_id", "event_type", "ts", stages, W, mode)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(levels("default") == Map(3L -> 4L, 1L -> 1L), levels("default").toString)
    assert(levels("strict_order") == Map(3L -> 2L, 1L -> 3L), levels("strict_order").toString)
    assert(levels("strict_dedup") == Map(3L -> 3L, 1L -> 2L), levels("strict_dedup").toString)
    // default mode == funnelWindowLevels (B83) on real data, user for user
    val real = Catalog.load(spark, sf, "events")
    val a = Analytics.funnelWindowLevels(real, "user_id", "event_type", "ts", stages, 21600L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Analytics.funnelWindowLevelsMode(real, "user_id", "event_type", "ts", stages, 21600L, "default")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b, s"default mode diverged from B83: $a vs $b")
  }

  test("sequenceMatchDepth: set-theoretic feasibility — re-anchoring, stalled prefixes, strict hop bounds, tie order") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val stages = Seq("view", "click", "purchase")
    val events = Seq(
      // 1: RE-ANCHORING — view@0 is stale for click@12 (gap 5) but
      //    view@10 isn't; a single-anchor funnel misses this chain
      (1L, ts(0), "view"), (1L, ts(10), "view"), (1L, ts(12), "click"),
      // 2: stalled — the only click is far outside the hop bound
      (2L, ts(0), "view"), (2L, ts(100), "click"),
      // 3: full chain, each hop inside the bound
      (3L, ts(0), "view"), (3L, ts(3), "click"), (3L, ts(7), "purchase"),
      // 4: strict t' < t — a click at the SAME instant as its view
      //    does not match
      (4L, ts(10), "view"), (4L, ts(10), "click"),
      // 5: tie-order proof case — click@10 must fold BEFORE view@10
      //    overwrites the latest-feasible view (f0=6 when it checks);
      //    ascending-stage tie order would wrongly report depth 1
      (5L, ts(6), "view"), (5L, ts(10), "view"), (5L, ts(10), "click"),
      // 6: no head event: not in the pattern, no row
      (6L, ts(0), "click"), (6L, ts(1), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = Analytics.sequenceMatchDepth(events, "user_id", "event_type", "ts", stages, gapSec = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L), got.toString)
  }

  test("sequenceCountNonOverlap: greedy consume + full DP — stalled prefixes never block later chains") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val stages = Seq("view", "click", "purchase")
    val events = Seq(
      // 1: two disjoint chains -> 2
      (1L, ts(0), "view"), (1L, ts(2), "click"), (1L, ts(4), "purchase"),
      (1L, ts(10), "view"), (1L, ts(12), "click"), (1L, ts(14), "purchase"),
      // 2: completion CONSUMES the prefix — the second purchase has
      //    no feasible click left -> 1
      (2L, ts(0), "view"), (2L, ts(2), "click"), (2L, ts(4), "purchase"), (2L, ts(5), "purchase"),
      // 3: stalled prefix (view@0 with no click in bound) must not
      //    block the later tight chain -> 1 (a single-cursor greedy
      //    machine reports 0 here — the undercount this op avoids)
      (3L, ts(0), "view"), (3L, ts(98), "view"), (3L, ts(100), "click"), (3L, ts(101), "purchase"),
      // 4: two clicks, one completion — the shared prefix counts once
      (4L, ts(0), "view"), (4L, ts(2), "click"), (4L, ts(3), "click"),
      (4L, ts(4), "purchase"), (4L, ts(6), "purchase"),
      // 5: re-anchor AFTER a completion -> 2
      (5L, ts(0), "view"), (5L, ts(2), "click"), (5L, ts(4), "purchase"),
      (5L, ts(5), "view"), (5L, ts(6), "click"), (5L, ts(8), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = Analytics.sequenceCountNonOverlap(events, "user_id", "event_type", "ts", stages, gapSec = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L), got.toString)
  }

  test("funnelAttributionLinear: equal split with remainder to earliest touch; credit conserves per user") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val events = Seq(
      // user 1 converts at t=9 with THREE pre-conversion views (ch 7, 9, 7)
      // and one post-conversion view (ch 1) that must earn nothing
      (1L, 10L, ts(0), "view", 7L), (1L, 11L, ts(2), "view", 9L), (1L, 12L, ts(4), "view", 7L),
      (1L, 13L, ts(5), "click", 0L), (1L, 14L, ts(9), "purchase", 0L), (1L, 15L, ts(20), "view", 1L),
      // user 2 enters on ch 9 but never converts — zero credit anywhere
      (2L, 20L, ts(0), "view", 9L), (2L, 21L, ts(3), "click", 0L),
      // user 3 converts with a single ch-5 touch — full 10^6
      (3L, 30L, ts(0), "view", 5L), (3L, 31L, ts(1), "click", 0L), (3L, 32L, ts(2), "purchase", 0L)
    ).toDF("user_id", "event_id", "ts", "event_type", "ch")
    val got = Analytics.funnelAttributionLinear(events, "user_id", "event_id", "event_type", "ts",
        Seq("view", "click", "purchase"), col("ch")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // user 1: 1e6 DIV 3 = 333333 each, remainder 1 to the earliest (event 10, ch 7)
    assert(got.toSeq == Seq((5L, 1L, 1000000L), (7L, 2L, 666667L), (9L, 1L, 333333L)), got.mkString(","))
    assert(got.map(_._3).sum == 2000000L, "credit conserves: 10^6 per converted user")
  }

  test("sessionStats: bounce share and mean duration over gap-rule sessions, exact integers") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val events = Seq(
      (1L, 1L, ts(0)), (1L, 2L, ts(600)),  // session of 2 events, 600s
      (1L, 3L, ts(4000)),                  // gap 3400s > 30min: bounce
      (2L, 4L, ts(0))                      // bounce
    ).toDF("user_id", "event_id", "ts")
    val got = Analytics.sessionStats(events).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4)) ==
      ((3L, 2L, 6666L, 4L, 200L))) // mean dur = (600+0+0) DIV 3
  }

  test("stateDurations: dwell until next event per type; last events censored; ties ordered by event_id") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val events = Seq(
      (1L, ts(0), 1L, "A"), (1L, ts(10), 2L, "B"), (1L, ts(25), 3L, "A"), // A 10s, B 15s, last A censored
      (2L, ts(0), 4L, "B"), (2L, ts(7), 5L, "B"),                         // B 7s
      (3L, ts(5), 6L, "C"), (3L, ts(5), 7L, "D")                          // tie: C before D by id -> C dwell 0
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = TimeSeries.stateDurations(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("A", 1L, 10L, 10L), ("B", 2L, 22L, 15L), ("C", 1L, 0L, 0L)))
  }
}
