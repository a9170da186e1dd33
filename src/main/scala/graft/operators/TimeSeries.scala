package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series analytics over the events/lineitem tables: cohort
  * retention, gap-filled resampling, trailing-range windows, and
  * pivoted rollups — the dashboard queries the reference's target
  * warehouse (ClickHouse) exists to serve, re-expressed as Spark
  * plans.
  *
  * Output stability follows the repo contract (SparkEntry scaladoc):
  * integer cents, unix_micros / `yyyy-MM-dd` strings, total ordering.
  */
object TimeSeries {

  /** B21: weekly cohort retention. Cohort = week of a user's first
    * `cohortType` event; a user is retained in week k if they have ANY
    * event in cohort_week + k.
    *
    * Plan shape: two keyed aggregations (user → cohort week, then
    * (cohort, week) → distinct users) plus one join on the user key.
    * The join is NOT forced broadcast: at 100 TB the per-user cohort
    * frame is |users|-sized, so it must stay a hash join; AQE may
    * still broadcast it when small.
    */
  def retentionCohorts(events: DataFrame, cohortType: String = "signup"): DataFrame = {
    val cohorts = events
      .filter(col("event_type") === cohortType)
      .groupBy(col("user_id"))
      .agg(min(date_trunc("week", col("ts"))).as("cohort_week"))
    events
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .join(cohorts, Seq("user_id"))
      .filter(col("week") >= col("cohort_week"))
      .groupBy(
        unix_micros(col("cohort_week")).as("cohort_week_us"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("weeks_since")
      )
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week_us"), col("weeks_since"))
  }

  /** B80: cohort LTV matrix — the revenue companion to [[retentionCohorts]]:
    * customers grouped by their FIRST-order month (the acquisition
    * cohort), then each cohort's revenue tracked by month age, the
    * "how much is a January customer worth by month 6" curve behind
    * LTV/CAC decisions. Per (cohort_month, age_months): active buyer
    * count and revenue in exact cents.
    *
    * Month age is calendar-exact (12·Δyear + Δmonth — never ⌊days/30⌋,
    * which drifts across month lengths). Plan: one customer-keyed
    * min-aggregate for cohorts (map-side combined), one keyed join
    * back to orders, one (cohort, age) fold — cohort cardinality is
    * months × months, so the final agg is tiny at any corpus size and
    * the join shuffles (custkey, month, cents) only.
    */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val om = date_trunc("month", col("o_orderdate"))
    val cohorts = orders
      .groupBy(col("o_custkey"))
      .agg(min(om).as("cohort_m"))
    orders
      .select(col("o_custkey"), om.as("m"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .join(cohorts, Seq("o_custkey"))
      .groupBy(
        unix_micros(col("cohort_m")).as("cohort_month_us"),
        ((year(col("m")) - year(col("cohort_m"))) * 12 +
          (month(col("m")) - month(col("cohort_m")))).cast("long").as("age_months"))
      .agg(countDistinct(col("o_custkey")).as("n_buyers"),
        sum(col("cents")).as("revenue_cents"))
      .orderBy(col("cohort_month_us"), col("age_months"))
  }

  /** B22: gap-filled daily resample — per-user daily event counts over
    * the FULL corpus date span, missing days emitted as zero rows (the
    * "resample to a regular grid" step every downstream time-series
    * model needs).
    *
    * The grid is built lazily: a 1-row global min/max aggregate is
    * broadcast-cross-joined to the distinct-user frame and exploded
    * with `sequence` — no driver-side date loop, no collect. The count
    * frame joins the grid on (user, day): one keyed shuffle each side.
    */
  def gapFillDaily(events: DataFrame, eventType: String, maxUserId: Long): DataFrame = {
    val ev = events.filter(col("event_type") === eventType && col("user_id") < maxUserId)
    val span = events.agg(
      to_date(min(col("ts"))).as("d0"),
      to_date(max(col("ts"))).as("d1")
    )
    val grid = ev
      .select(col("user_id"))
      .distinct()
      .crossJoin(broadcast(span))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val counts = ev
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    grid
      .join(counts, Seq("user_id", "day"), "left")
      .select(
        col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n_events")
      )
      .orderBy(col("user_id"), col("day"))
  }

  /** B23: trailing 7-day revenue window over daily totals — a RANGE
    * frame on epoch-day so calendar gaps are handled correctly (a ROWS
    * frame would silently span gaps). The window runs AFTER the daily
    * aggregation, so the unpartitioned sort touches only |days| rows —
    * bounded (~36.5k rows per century) regardless of input scale; the
    * heavy lifting is the keyed daily aggregation below it.
    */
  def movingRevenue7d(lineitem: DataFrame): DataFrame = {
    val daily = lineitem
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(Analytics.cents(col("l_extendedprice"))).as("rev_c"))
      .withColumn("epoch_day", unix_date(col("day")).cast("long"))
    val w = Window.orderBy(col("epoch_day")).rangeBetween(-6, 0)
    daily
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("rev_c"),
        sum(col("rev_c")).over(w).as("rev_7d_c"),
        count(lit(1)).over(w).as("n_days_7d")
      )
      .orderBy(col("day"))
  }

  /** B82: new-vs-returning daily actives — the growth-accounting card
    * (every DAU is either a first-ever-seen user or a comeback; the
    * split is what distinguishes acquisition from retention): per
    * observed day, distinct users active whose FIRST-ever activity is
    * that day (new) vs earlier (returning).
    *
    * Plan: one user-keyed min-aggregate for first days (map-side
    * combined), one distinct (user, day) dedup, one keyed join of the
    * two — both shuffles carry (user, day) pairs only — and a
    * calendar-bounded day fold. No window at all.
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val firstDay = userDays
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    userDays
      .join(firstDay, Seq("user_id"))
      .groupBy(col("day"))
      .agg(
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("n_returning"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_new"), col("n_returning"))
      .orderBy(col("day"))
  }

  /** B81: seasonal-naive forecast BACKTEST — the baseline every real
    * forecast must beat before it ships (the M-competition rule):
    * predict each day's revenue with the value 7 days earlier
    * (same-weekday naive), then score the prediction per weekday —
    * evaluated days, MAE and signed bias in exact cents, MAPE in
    * basis points (per-day integer ratio, then the mean — all DIV
    * arithmetic, cross-engine exact). Weekday grouping shows WHERE
    * the naive breaks (weekend vs weekday dynamics), which is the
    * decision input for seasonality-aware models.
    *
    * The lag runs over the daily aggregate: calendar-bounded (~2.5k
    * rows/decade — the seasonal_decompose argument), so the
    * unpartitioned ordered window is metadata-sized at any corpus
    * volume; everything corpus-scale happens in the one keyed daily
    * fold. lag(7) over observed ROWS equals the calendar-7-days rule
    * only on gap-free histories (true of warehouse revenue at any
    * realistic scale; gapFillDaily is the repair if not).
    */
  def snaiveBacktest(lineitem: DataFrame): DataFrame = {
    val daily = lineitem
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(Analytics.cents(col("l_extendedprice"))).as("rev_c"))
    val w = Window.orderBy(col("day"))
    daily
      .withColumn("pred", lag(col("rev_c"), 7).over(w))
      .filter(col("pred").isNotNull)
      .groupBy(dayofweek(col("day")).cast("long").as("dow"))
      .agg(
        count(lit(1)).as("n_days"),
        expr("sum(abs(rev_c - pred)) DIV count(1)").as("mae_cents"),
        expr("sum(rev_c - pred) DIV count(1)").as("bias_cents"),
        expr("sum(10000 * abs(rev_c - pred) DIV rev_c) DIV count(1)").as("mape_bp"))
      .orderBy(col("dow"))
  }

  /** B62: EXACT trailing 7-day distinct users per observed day — the
    * weekly-active-users series. DISTINCT doesn't compose over a
    * sliding window (B23's RANGE-frame sum trick is monoid-only), so
    * the standard exact plan is coverage explosion: dedup to (user,
    * day), explode each user-day into the ≤7 window-days it covers,
    * dedup again, count. Work is ∝ 7·|distinct user-days| — the
    * DEDUPED activity grid, never 7× the raw event log — through
    * three keyed map-side-combinable shuffles. The observed-day frame
    * is date-cardinality-sized (thousands of rows at ANY corpus
    * scale) and broadcasts. For approximate WAU at extreme scale,
    * per-day HLL sketches union across the window (A30's machinery);
    * this is the exact oracle-checkable form.
    */
  def movingDistinct7d(events: DataFrame): DataFrame = {
    val ud = events
      .select(expr("unix_micros(ts) DIV 86400000000").as("day_id"), col("user_id"))
      .distinct()
    val days = ud.select(col("day_id")).distinct()
    val cover = ud
      .select(explode(sequence(col("day_id"), col("day_id") + 6)).as("win_day"), col("user_id"))
      .distinct()
    cover
      .join(broadcast(days), cover("win_day") === days("day_id"))
      .groupBy(col("win_day").as("day_id"))
      .agg(count(lit(1)).as("n_users_7d"))
      .orderBy("day_id")
  }

  /** B64: EXACT cumulative distinct users by day ("users ever seen").
    * The expanding-window sibling of [[movingDistinct7d]] with a
    * fundamentally better plan available: an expanding DISTINCT needs
    * no coverage explosion at all, because each user enters the count
    * exactly once — on their FIRST day. One user-keyed min, one
    * day-keyed count, and a prefix sum over the date-cardinality
    * day series (thousands of rows at ANY corpus scale — the B23
    * post-aggregation window discipline). Work ∝ |events| through two
    * keyed map-side-combined shuffles; the naive per-day expanding
    * COUNT DISTINCT the oracle runs is O(days·users).
    */
  def cumulativeDistinctUsers(events: DataFrame): DataFrame = {
    val withDay = events.select(expr("unix_micros(ts) DIV 86400000000").as("day_id"), col("user_id"))
    val newPerDay = withDay
      .groupBy(col("user_id")).agg(min(col("day_id")).as("day_id"))
      .groupBy(col("day_id")).agg(count(lit(1)).as("n_new"))
    withDay.select(col("day_id")).distinct()
      .join(newPerDay, Seq("day_id"), "left")
      .select(col("day_id"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_users_cum", sum(col("n_new")).over(Window.orderBy(col("day_id"))))
      .orderBy(col("day_id"))
  }

  /** B24: daily event counts pivoted to one column per event type.
    * The type list is explicit — `pivot(col)` without values would run
    * an extra distinct job over the full table to discover them, and a
    * warehouse rollup has a known dimension vocabulary anyway.
    */
  def pivotDailyCounts(events: DataFrame, types: Seq[String]): DataFrame = {
    require(types.nonEmpty && types.forall(_.matches("[A-Za-z0-9_-]+")), "event types must be simple identifiers")
    events
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day") +:
          types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*
      )
      .orderBy(col("day"))
  }

  /** B48: binned range join — "right events within ±window of each
    * left event", with NO equi key. A naive `|l.ts - r.ts| <= w` join
    * is a nested-loop cartesian on any engine; binning turns it into
    * an EQUI join: each right row lands in one width-w time bin, each
    * left row probes its bin and both neighbors (3 rows via explode —
    * any |Δt| <= w pair shares or neighbors a bin, and since the right
    * row has exactly ONE bin no pair can match twice), then the exact
    * |Δt| predicate filters residuals. One keyed shuffle on the bin;
    * candidate volume is bounded by temporal density, never |L|x|R|.
    * Hot bins (event storms) are AQE-split like any skewed equi key.
    * Zero-match left rows are kept (count 0) via the final left join.
    */
  def rangeJoinBinned(
      events: DataFrame,
      leftType: String,
      rightType: String,
      windowMinutes: Int = 30
  ): DataFrame = {
    val winUs = windowMinutes.toLong * 60L * 1000000L
    val l = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("l_id"), unix_micros(col("ts")).as("l_us"))
    val r = events.filter(col("event_type") === rightType)
      .select(col("event_id").as("r_id"), unix_micros(col("ts")).as("r_us"))
      .withColumn("bin", floor(col("r_us") / winUs))
    val lbin = floor(col("l_us") / winUs)
    val probes = l.withColumn("bin", explode(array(lbin - 1, lbin, lbin + 1)))
    val counts = probes
      .join(r, "bin")
      .filter(abs(col("l_us") - col("r_us")) <= winUs)
      .groupBy(col("l_id"))
      .agg(count(lit(1)).as("n_nearby"))
    l.join(counts, Seq("l_id"), "left")
      .select(col("l_id").as("event_id"), col("l_us").as("ts_us"),
        coalesce(col("n_nearby"), lit(0L)).as("n_nearby"))
      .orderBy(col("event_id"))
  }

  /** The O(n) form of [[rangeJoinBinned]] when the caller only needs
    * COUNTS: "how many right events within ±window" never has to
    * enumerate the (l, r) pairs — at fixed time span, pair volume
    * grows with density² (measured 15.4× time for 10× rows at sf10)
    * while the answer itself grows linearly. Instead, count rights at
    * two thresholds per left row with a distributed prefix sum:
    * n(l) = C(l+w) − C(l−w−1) where C(T) = #rights with ts ≤ T.
    *
    * Plan shape: union rights (weight 1) with 2 probe rows per left
    * (weight 0), cumulative-sum per time bin (keyed window, bounded by
    * bin density), add per-bin offsets (one tiny window over |bins|
    * rows), then sum ±C per left id. Every stage is keyed on bin or
    * id; work is O(n log n) regardless of density. Rights tie-break
    * BEFORE probes at equal timestamp (order by weight desc) so the
    * ≤ threshold is inclusive, matching the |Δt| ≤ w predicate
    * bit-for-bit. A hot bin is one big window partition — size
    * `binUs` below the storm scale (it need not equal the query
    * window), or let AQE split the preceding exchange.
    */
  def rangeCountSweep(
      events: DataFrame,
      leftType: String,
      rightType: String,
      windowMinutes: Int = 30,
      binUs: Long = 0L
  ): DataFrame = {
    val winUs = windowMinutes.toLong * 60L * 1000000L
    val bw = if (binUs > 0L) binUs else winUs
    val l = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("l_id"), unix_micros(col("ts")).as("l_us"))
    val probes = l.select(explode(array(
        struct((col("l_us") + winUs).as("us"), lit(1L).as("sign"), col("l_id"), col("l_us")),
        struct((col("l_us") - winUs - 1L).as("us"), lit(-1L).as("sign"), col("l_id"), col("l_us"))
      )).as("p"))
      .select(col("p.us").as("us"), col("p.sign").as("sign"),
        col("p.l_id").as("l_id"), col("p.l_us").as("l_us"), lit(0L).as("w"))
    val rights = events.filter(col("event_type") === rightType)
      .select(unix_micros(col("ts")).as("us"), lit(0L).as("sign"),
        lit(null).cast("long").as("l_id"), lit(null).cast("long").as("l_us"), lit(1L).as("w"))
    val stream = rights.unionByName(probes).withColumn("bin", floor(col("us") / bw))
    val wBins = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin")).rowsBetween(Long.MinValue, -1)
    val offsets = stream.groupBy(col("bin")).agg(sum(col("w")).as("bin_w"))
      .select(col("bin"), coalesce(sum(col("bin_w")).over(wBins), lit(0L)).as("off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bin")).orderBy(col("us"), col("w").desc)
      .rowsBetween(Long.MinValue, 0)
    stream
      .withColumn("c_in", sum(col("w")).over(wIn))
      .filter(col("l_id").isNotNull)
      .join(offsets, "bin")
      .groupBy(col("l_id"), col("l_us"))
      .agg(sum(col("sign") * (col("off") + col("c_in"))).as("n_nearby"))
      .select(col("l_id").as("event_id"), col("l_us").as("ts_us"), col("n_nearby"))
      .orderBy(col("event_id"))
  }

  /** B53: time-weighted average value per (user, day) — each reading
    * holds until the next one, so its weight is the span to the next
    * event that day (the standard TWAP/metrics-rollup semantics; a
    * plain AVG over-weights bursts). The last event of a day carries
    * no span and drops out; user-days with zero total span (all
    * events in the same millisecond) are filtered, not divided by
    * zero.
    *
    * Integer discipline: values are floored to milli-units and spans
    * to milliseconds BEFORE the weighted sum, and the division is
    * integer `DIV` — engine-reproducible, and vm*dt_ms stays ~1e15
    * below Long overflow for any realistic per-day span. The window
    * is partitioned by (user, day): millions of small partitions, no
    * global sort, scale-safe.
    */
  def twap(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("day")).orderBy(col("us"), col("event_id"))
    events
      .select(
        col("user_id"), col("event_id"),
        to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * lit(1000d)).cast("long").as("vm")
      )
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .withColumn("dt_ms", expr("(next_us - us) DIV 1000"))
      .filter(col("dt_ms").isNotNull)
      .groupBy(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_spans"),
        expr("sum(vm * dt_ms) DIV sum(dt_ms)").as("twap_milli"),
        sum(col("dt_ms")).as("span_ms")
      )
      .filter(col("span_ms") > 0L)
      .drop("span_ms")
      .orderBy(col("user_id"), col("day"))
  }

  /** B54: robust anomaly days via median/MAD instead of the mean-rate
    * bands of B26 — a single extreme day shifts a mean but not a
    * median, so this flags spikes without the baseline itself being
    * polluted by them (the standard robust-statistics upgrade).
    * Lower-median semantics (element at rank (n+1)/2) keep everything
    * in integers; a day is anomalous when |cnt - med| >= 3 * MAD
    * (MAD floored to >= 1 so a perfectly flat series still has a
    * non-degenerate band).
    *
    * Scale note: the global window runs over the DAILY series — one
    * row per day regardless of SF (100 TB of events is still ~365
    * rows here), so the single-partition rank is driver-scale by
    * construction, not a skew hazard.
    */
  def anomalyMadDays(events: DataFrame): DataFrame = {
    def lowerMedian(df: DataFrame, valueCol: String, tieCol: String, as: String): DataFrame = {
      val n = df.agg(count(lit(1)).as("n"))
      df.withColumn("rn", row_number().over(Window.orderBy(col(valueCol), col(tieCol))).cast("long"))
        .crossJoin(broadcast(n))
        .filter(col("rn") === expr("(n + 1L) DIV 2"))
        .select(col(valueCol).as(as))
    }
    val daily = events.groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("cnt"))
    val med = lowerMedian(daily, "cnt", "day", "med")
    val dev = daily.crossJoin(broadcast(med)).withColumn("dev", abs(col("cnt") - col("med")))
    val mad = lowerMedian(dev, "dev", "day", "mad")
    dev
      .crossJoin(broadcast(mad))
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cnt"), col("med"), col("mad"),
        when(col("dev") >= lit(3L) * greatest(col("mad"), lit(1L)), 1L).otherwise(0L).as("anomaly")
      )
      .orderBy(col("day"))
  }

  /** B58: Holt's linear (double-exponential) smoothing per user — the
    * level+trend forecast state ops pipelines keep per entity, one
    * step up from [[ewma]]: l' = (α·x + (100−α)·(l+t)) DIV 100,
    * t' = (β·(l'−l) + (100−β)·t) DIV 100, seeded l₀ = x₀, t₀ = 0.
    * The recurrence carries TWO mutually-dependent state components,
    * which the fold machinery only threads as one value — so the
    * state is BIT-PACKED into a single Long: acc = (l + 2³⁵)·2²⁶ +
    * (t + 2²⁵), strictly positive, so `%`/`DIV` unpack identically
    * in both engines (negative-modulo semantics never enter play).
    * Bounds: |l| < 2³⁵ milli-units and |t| < 2²⁵ hold for any input
    * the milli-unit convention admits (level is a convex combination
    * of inputs plus bounded trend drift; trend is a smoothed first
    * difference); acc < 2⁶² — no Long overflow.
    *
    * Oracle: DuckDB `list_reduce` over the same packed arithmetic —
    * the seed is `list_prepend`-ed as a PACKED value, mirroring the
    * engine's `aggregate(init = pack(x₀, 0))`, so the fold replays
    * bit-for-bit. Scale: identical shape to [[ewma]] — one keyed
    * shuffle, per-user bounded state, no window machinery.
    */
  def holt(events: DataFrame, alphaPct: Int = 20, betaPct: Int = 10): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 99, s"alphaPct must be 1..99, got $alphaPct")
    require(betaPct >= 1 && betaPct <= 99, s"betaPct must be 1..99, got $betaPct")
    val (ka, kb) = (100 - alphaPct, 100 - betaPct)
    val step =
      s"""(acc, x) -> ((((($alphaPct * x + $ka * ((acc DIV 67108864L - 34359738368L) + (acc % 67108864L - 33554432L))) DIV 100) + 34359738368L) * 67108864L)
         | + ((($betaPct * ((($alphaPct * x + $ka * ((acc DIV 67108864L - 34359738368L) + (acc % 67108864L - 33554432L))) DIV 100) - (acc DIV 67108864L - 34359738368L))
         |      + $kb * (acc % 67108864L - 33554432L)) DIV 100) + 33554432L))""".stripMargin.replace("\n", "")
    userSeries(events)
      .select(
        col("user_id"),
        col("n_events"),
        foldSeries("(xs[0].vm + 34359738368L) * 67108864L + 33554432L", step).as("acc"))
      .select(
        col("user_id"), col("n_events"),
        expr("acc DIV 67108864L - 34359738368L").as("level_milli"),
        expr("acc % 67108864L - 33554432L").as("trend_milli"))
      .orderBy(col("user_id"))
  }

  /** B88: additive Holt-Winters over the DAILY revenue series — the
    * seasonal completion of [[holt]] (level+trend) and the model
    * behind the B81 seasonal-naive baseline: triple exponential
    * smoothing with a length-`season` additive seasonal component
    * (Holt 1957 / Winters 1960; the standard formulation in
    * Hyndman & Athanasopoulos, "Forecasting: Principles and
    * Practice" §8.3). Integer-exact in cents with percent
    * coefficients, so the recurrence replays bit-for-bit in any
    * engine (Spark DIV and DuckDB // both truncate toward zero —
    * required, intermediate trend/seasonal terms go negative):
    *
    *   l_t = (α(x_t − s_{t−m}) + (100−α)(l_{t−1} + b_{t−1})) DIV 100
    *   b_t = (β(l_t − l_{t−1}) + (100−β)b_{t−1}) DIV 100
    *   s_t = (γ(x_t − l_t) + (100−γ)s_{t−m}) DIV 100
    *
    * Init rule, pinned: the first observation sets l=x₀, b=0, and
    * leaves all seasonal slots 0 (they warm up over the first
    * cycles). Seasonal slots are SERIES POSITIONS mod m from the
    * first day, not calendar weekdays — gap-free TPC-H ship dates
    * make them coincide up to rotation, and positions keep the fold
    * well-defined on gappy series.
    *
    * Output: one row per slot (s_cents) + the final level/trend and
    * series length — the full forecast state: ŷ_{T+h} = level +
    * h·trend + s_{(T+h) mod m}.
    *
    * Plan: the [[graft.operators.Analytics.acfDaily]] discipline —
    * ONE fact scan collapses map-side into the ~|days| aggregate;
    * the fold is a single codegen `aggregate` HOF over the one
    * sorted day array (day cardinality is bounded by the calendar,
    * never by corpus size — the same reason acf/trend fold on the
    * driver-safe day frame); output is m rows.
    */
  def holtWinters(
      lineitem: DataFrame,
      alphaPct: Int = 30,
      betaPct: Int = 10,
      gammaPct: Int = 20,
      season: Int = 7
  ): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 99, s"alphaPct must be 1..99, got $alphaPct")
    require(betaPct >= 1 && betaPct <= 99, s"betaPct must be 1..99, got $betaPct")
    require(gammaPct >= 1 && gammaPct <= 99, s"gammaPct must be 1..99, got $gammaPct")
    require(season >= 2 && season <= 366, s"season must be 2..366, got $season")
    val (ka, kb, kg) = (100 - alphaPct, 100 - betaPct, 100 - gammaPct)
    val daily = lineitem
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(round(col("l_extendedprice") * 100)).cast("long").as("x"))
    val zeroArr = (0 until season).map(_ => "0L").mkString("array(", ", ", ")")
    val slot = s"CAST(acc.i % $season AS INT)"
    val sOld = s"element_at(acc.s, $slot + 1)"
    val lNew = s"IF(acc.i = 0L, e.x, ($alphaPct * (e.x - $sOld) + $ka * (acc.l + acc.b)) DIV 100)"
    val bNew = s"IF(acc.i = 0L, 0L, ($betaPct * (($lNew) - acc.l) + $kb * acc.b) DIV 100)"
    val sNew = s"IF(acc.i = 0L, acc.s, transform(acc.s, (v, j) -> " +
      s"IF(j = $slot, ($gammaPct * (e.x - ($lNew)) + $kg * v) DIV 100, v)))"
    val fold = s"aggregate(xs, named_struct('l', 0L, 'b', 0L, 's', $zeroArr, 'i', 0L), " +
      s"(acc, e) -> named_struct('l', $lNew, 'b', $bNew, 's', $sNew, 'i', acc.i + 1L))"
    daily
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("xs"))
      .select(expr(fold).as("st"))
      .select(
        posexplode(col("st.s")).as(Seq("slot", "s_cents")),
        col("st.l").as("level_cents"), col("st.b").as("trend_cents"),
        col("st.i").as("n_days"))
      .select(col("slot").cast("long").as("slot"), col("s_cents"),
        col("level_cents"), col("trend_cents"), col("n_days"))
      .orderBy(col("slot"))
  }

  /** B55: per-user exponentially-weighted moving average of the event
    * value — the time-decayed metric ops dashboards keep per entity
    * (recency-weighted spend/engagement), as a STATEFUL SEQUENTIAL
    * FOLD: e₀ = first value, eₖ = ((100−α)·eₖ₋₁ + α·xₖ) DIV 100 over
    * the user's events in (ts, event_id) order. A window can't
    * express this recurrence (each step depends on the previous
    * OUTPUT, not the previous input), so it runs as collect → sort →
    * `aggregate` fold per user.
    *
    * Integer discipline: milli-unit values, integer DIV per step —
    * bit-reproducible, and DuckDB's `list_reduce` seeds with the
    * first element exactly like the `slice + aggregate(init=xs[0])`
    * form here, so the oracle replays the identical fold. Sort order
    * is total: (us, event_id) is unique, so struct comparison order
    * can't diverge between engines.
    *
    * Scale: one keyed shuffle; state is per-user event lists (the
    * same bound as sessionize — thousands of events per user, never
    * corpus-sized). The fold is O(events/user) per row with no
    * window machinery.
    */
  def ewma(events: DataFrame, alphaPct: Int = 20): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 99, s"alphaPct must be 1..99, got $alphaPct")
    val keep = 100 - alphaPct
    userSeries(events)
      .select(
        col("user_id"),
        col("n_events"),
        foldSeries("xs[0].vm", s"(acc, x) -> ($keep * acc + $alphaPct * x) DIV 100").as("ewma_milli"))
      .orderBy(col("user_id"))
  }

  /** The per-user sorted series [[ewma]] and [[holt]] fold:
    * (user_id, n_events, xs), `xs` the user's (us, event_id, vm)
    * structs in time order, `vm` the value in integer milli-units.
    */
  private def userSeries(events: DataFrame): DataFrame =
    events
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("us"),
        col("event_id"),
        floor(col("value") * 1000).cast("long").as("vm"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        array_sort(collect_list(struct(col("us"), col("event_id"), col("vm")))).as("xs"))

  /** `step` folded over `xs[1..].vm`, starting from `init`. */
  private def foldSeries(init: String, step: String): Column =
    expr(s"aggregate(transform(slice(xs, 2, size(xs) - 1), s -> s.vm), $init, $step)")

  /** B68: CUSUM changepoint detection over the daily event-count
    * series. The classic statistic is cusum_k = Σ_{i≤k}(x_i − mean);
    * multiplying through by the day count D keeps it integer-exact:
    * cusum_scaled_k = Σ_{i≤k}(x_i·D − T) = D·cusum_k, so the argmax is
    * the same day and no float mean ever exists. The day where
    * |cusum| peaks is the maximum-likelihood single changepoint of a
    * mean-shift model (Page 1954's one-sided statistic, two-sided
    * here).
    *
    * Plan: one map-side-combined day aggregation over the fact table;
    * everything after it (the running sum, the global max, the flag)
    * touches only day-count rows, so the unpartitioned window is
    * metadata-sized at any corpus scale — same discipline as
    * `cumulative_revenue`.
    */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    // every frame past `daily` is day-cardinality, so the totals, the
    // running sum and the peak flag are all unbounded windows over the
    // SAME single metadata-sized partition — the fact table is scanned
    // exactly once (a re-aggregating `agg` branch would re-scan it)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val daily = events
      .groupBy(expr("unix_micros(ts) div 86400000000L").as("day_id"))
      .agg(count(lit(1)).as("n"))
    val c = daily
      .select(
        col("day_id"), col("n"),
        sum(col("n")).over(all).as("t"),
        count(lit(1)).over(all).as("d"))
      .select(
        col("day_id"), col("n"),
        sum(col("n") * col("d") - col("t")).over(Window.orderBy(col("day_id"))).as("cusum_scaled"))
    c.select(
        col("day_id"), col("n"), col("cusum_scaled"),
        when(abs(col("cusum_scaled")) === max(abs(col("cusum_scaled"))).over(all), 1L)
          .otherwise(0L).as("is_peak"))
      .orderBy(col("day_id"))
  }

  /** B70: first-order event-transition matrix (the Markov-chain view
    * of user behavior): for every (previous event type → event type)
    * pair, the transition count and its per-source-row rate in exact
    * ppm. Consecutive events per user under (ts, event_id) order —
    * the same deterministic sequencing `sessionize` uses.
    *
    * Plan: one user-keyed window for the lag, one (prev, cur)
    * aggregation; the row-total frame is |event types|²-bounded so it
    * broadcasts for free.
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // the row total is a window over the |event types|²-bounded pair
    // aggregate — NOT a re-aggregating join branch, which would re-run
    // the fact scan and the lag window a second time
    val p = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("cur"))
      .agg(count(lit(1)).as("n"))
    p.select(
        col("prev"), col("cur"), col("n"),
        sum(col("n")).over(Window.partitionBy(col("prev"))).as("row_n"))
      .select(
        col("prev"), col("cur"), col("n"),
        expr("(n * 1000000L) div row_n").as("rate_ppm"))
      .orderBy(col("prev"), col("cur"))
  }

  /** B74: per-state dwell times — for each event type, how long users
    * sit in that state before their NEXT event (the "time in state"
    * summary behind session heatmaps, cart-abandonment timers, SLA
    * dashboards). A spell is an event with a successor for the same
    * user; dwell = successor ts − event ts, floored to whole seconds
    * with integer microsecond division (exact in both engines — no
    * float datetime math). Each user's LAST event is right-censored
    * and excluded, the standard survival-analysis convention.
    *
    * Plan: one fact scan, one user-keyed lead window (same exchange
    * shape as [[eventTransitions]] — (ts, event_id) ordering makes
    * equal-timestamp spells deterministic), then an |event types|-
    * bounded aggregate. No joins.
    */
  def stateDurations(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(byUser))
      .filter(col("next_us").isNotNull)
      .withColumn("dwell_s", expr("(next_us - unix_micros(ts)) DIV 1000000L"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_spells"),
        sum(col("dwell_s")).as("total_dwell_s"),
        max(col("dwell_s")).as("max_dwell_s"))
      .orderBy(col("event_type"))
  }
}
