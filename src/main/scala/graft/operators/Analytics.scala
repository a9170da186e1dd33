package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-style analytics over the synced tables.
  *
  * All money/quantity aggregates are computed as exact integer cents
  * (`round(x*100)` per row, summed as Long): this keeps map-side
  * partial aggregation fully codegen'd AND makes results bit-stable
  * across engines (no float-summation-order drift at 1000 executors).
  * Timestamps leave the engine as `unix_micros` integers for the same
  * reason.
  */
object Analytics {

  /** Exact integer cents of a 2-decimal monetary double. */
  def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 100).cast("long")

  /** B1: TPC-H Q1-flavor pricing summary. Single scan, hash agg with
    * map-side combine; shuffles only |flags|x|status| groups.
    */
  def q1Pricing(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_c"),
        sum(cents(col("l_extendedprice"))).as("sum_base_c"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_c"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))))
          .as("sum_charge_c"),
        count(lit(1)).as("n_rows")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** B2: shipping-priority flavor — revenue of BUILDING-segment orders
    * shipped after cutoff, top 10. customer is broadcast (small dim);
    * orders⋈lineitem is the only shuffle.
    */
  def q3TopkJoin(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val cust = customer.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    val li = lineitem
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select(
        col("l_orderkey"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c")
      )
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        sum(col("rev_c")).as("revenue_c"),
        first(unix_micros(col("o_orderdate").cast("timestamp"))).as("odate_us")
      )
      .orderBy(col("revenue_c").desc, col("l_orderkey"))
      .limit(10)
  }

  /** B3: 5-way join (region→nation→customer→orders→lineitem), revenue
    * by nation for one region. All dims broadcast; the single large
    * shuffle is the lineitem aggregation.
    */
  def q5Join5(
      region: DataFrame,
      nation: DataFrame,
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame
  ): DataFrame = {
    val dims = nation
      .join(region.filter(col("r_name") === "ASIA"), nation("n_regionkey") === region("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = customer.join(broadcast(dims), customer("c_nationkey") === dims("n_nationkey"))
      .select("c_custkey", "n_name")
    val ord = orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
      .select("o_orderkey", "n_name")
    lineitem
      .select(
        col("l_orderkey"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c")
      )
      .join(ord, col("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_c")).as("revenue_c"))
      .orderBy(col("n_name"))
  }

  /** B4: hourly event rollup (the observability query the reference's
    * target warehouse exists for). date_trunc keeps partial agg.
    */
  def eventsHourly(events: DataFrame): DataFrame =
    events
      .groupBy(
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"),
        col("event_type")
      )
      .agg(sum(cents(col("value"))).as("sum_value_c"), count(lit(1)).as("n"))
      .orderBy(col("hour_us"), col("event_type"))

  /** B5: top-3 orders per customer by price — window rank. One shuffle
    * on o_custkey.
    */
  def windowRank(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        cents(col("o_totalprice")).as("price_c"),
        row_number().over(w).cast("long").as("rk")
      )
      .filter(col("rk") <= 3)
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** B6: gap-based sessionization of the event stream: a session break
    * is a >30-min silence per user. lag + running sum of breaks — two
    * window passes over ONE shuffle (same partitioning reused).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn(
        "brk",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L).otherwise(0L)
      )
      .withColumn("session_id", sum(col("brk")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** B77: corpus-level session summary — the engagement card on top of
    * [[sessionize]]'s per-session frame (same gap rule, same window):
    * session count, bounce share (single-event sessions) in exact
    * basis points, total events, and mean session duration floored to
    * whole seconds by integer division. One user-keyed window + the
    * per-session aggregate + a 1-row global fold — map-side combined,
    * nothing corpus-sized past the session aggregate.
    */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounce"),
        expr("10000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) DIV count(1)").as("bounce_bp"),
        sum(col("n_events")).as("total_events"),
        expr("(sum(end_us - start_us) DIV count(1)) DIV 1000000L").as("mean_dur_s"))

  /** B19: ordered funnel analysis — per user, stage i completes at the
    * EARLIEST event of type stages(i) strictly after the stage i-1
    * completion time (the standard strict-order funnel). Returns one
    * row per stage: (stage_idx, stage, n_users completing it).
    *
    * Plan shape: one keyed aggregation per stage, each a hash shuffle
    * on the user key, all reusing the same partitioning; the event
    * frame is filtered per stage before its aggregate (scan pruning).
    * No windows over the full event set, no cross joins — at 100 TB
    * each pass touches only that stage's events.
    */
  def funnelCounts(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String]
  ): DataFrame = {
    val reached = funnelReached(events, userCol, typeCol, tsCol, stages)
    val counts = stages.indices.map(i => sum(when(col(s"t$i").isNotNull, 1L).otherwise(0L)).as(s"n$i"))
    // unpivot the 1-row count aggregate with stack() — stays a lazy
    // plan end to end, no driver materialization
    val stacked = stages.indices.map(i => s"CAST($i AS BIGINT), '${stages(i)}', n$i").mkString(", ")
    reached
      .agg(counts.head, counts.tail: _*)
      .selectExpr(s"stack(${stages.length}, $stacked) AS (stage_idx, stage, n_users)")
  }

  /** Per-user strict-order funnel completion times: t0 = earliest
    * stages(0) event, t_i = earliest stages(i) event strictly after
    * t_{i-1} (NULL once a stage is missed). One keyed aggregation per
    * stage, every pass reusing the user-key partitioning; each stage's
    * events are filtered before their aggregate. Shared by
    * [[funnelCounts]] (how many reach each stage) and
    * [[funnelLatency]] (how long each hop takes). With `windowUs`, a
    * later stage also needs t_i ≤ t0 + windowUs ([[funnelWindowLevels]]).
    */
  private def funnelReached(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String],
      windowUs: Option[Long] = None
  ): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    // the unbounded callers' contract (funnelCounts writes the names
    // into SQL); funnelWindowLevels builds no SQL and takes any name
    if (windowUs.isEmpty)
      require(stages.forall(_.matches("[A-Za-z0-9_-]+")), "stage names must be simple identifiers")
    val us = unix_micros(col(tsCol).cast("timestamp"))
    var reached = events
      .filter(col(typeCol) === stages.head)
      .groupBy(col(userCol))
      .agg(min(us).as("t0"))
    for (i <- 1 until stages.length) {
      val nxt = events
        .filter(col(typeCol) === stages(i))
        .select(col(userCol), us.as("__ts"))
      val carried = (0 until i).map(j => s"t$j")
      val after = col("__ts") > col(s"t${i - 1}")
      val valid = windowUs.fold(after)(w => after && col("__ts") <= col("t0") + w)
      reached = reached
        .join(nxt, Seq(userCol), "left")
        .groupBy(col(userCol) +: carried.map(col): _*)
        .agg(min(when(valid, col("__ts"))).as(s"t$i"))
    }
    reached
  }

  /** B76: funnel hop latency — for each consecutive stage pair, how
    * long converting users take (the time-to-convert distribution
    * behind "where does the funnel stall"): exact p50/p90 whole-second
    * durations over [[funnelReached]]'s strict-order completion times.
    * Quantiles are value-at-rank selections (p50 = lower median at
    * rank ⌊(n+1)/2⌋, p90 at rank ⌈9n/10⌉, duplicate durations make the
    * selected VALUE tie-order-free) through [[groupedExactRanks]]'s
    * binned pass — per-hop user populations are corpus-scale, so a
    * per-group sort window is the B33 anti-plan. Durations floor to
    * whole seconds by integer microsecond DIV.
    */
  def funnelLatency(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String]
  ): DataFrame = {
    require(stages.length >= 2, "funnel latency needs at least two stages")
    // CHECKPOINTED: `durs` unions one arm per hop and each arm
    // references this frame — without it the whole per-stage
    // groupBy+join chain over the fact table re-executed once per hop
    // (Catalyst does not dedupe common subtrees).
    val reached = funnelReached(events, userCol, typeCol, tsCol, stages).localCheckpoint()
    val durs = (1 until stages.length)
      .map { i =>
        reached
          .filter(col(s"t$i").isNotNull)
          .select(
            lit(s"$i:${stages(i - 1)}->${stages(i)}").as("step"),
            expr(s"(t$i - t${i - 1}) DIV 1000000L").as("dur_s"))
      }
      .reduce(_ unionByName _)
      .localCheckpoint() // the rank selection reads it three times
    groupedExactRanks(
      durs, "step", col("dur_s"),
      Seq(
        "p50" -> (n => floor((n + lit(1)) / lit(2.0))),
        "p90" -> (n => ceil(n * lit(9) / lit(10.0)))))
      .select(col("step"), col("rank_name"), col("value").as("dur_s"), col("n").as("n_users"))
      .orderBy(col("step"), col("rank_name"))
  }

  /** B78: first-touch funnel attribution — which acquisition channel
    * the conversions came from, the question the funnel family's
    * counts (B19) and latencies (B76) feed into. Each user's funnel
    * is attributed to the channel of their FIRST head-stage event
    * (earliest timestamp, event-id tie-break — deterministic under
    * same-microsecond events), then per channel: users entered,
    * users converted (final stage reached in strict order), and the
    * conversion rate in exact basis points.
    *
    * Plan: one [[funnelReached]] chain (per-stage groupBy+join over
    * the fact table) plus ONE more head-stage aggregation for the
    * first-touch channel — `min(struct(ts, id, ch))` is map-side
    * combinable, no per-user window — joined user-keyed and folded to
    * |channels| rows. Channel extraction is any Column (typically a
    * codegen'd `get_json_object` on the props payload), evaluated
    * only on head-stage rows.
    */
  def funnelAttribution(
      events: DataFrame,
      userCol: String,
      eventIdCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String],
      channelCol: Column
  ): DataFrame = {
    require(stages.length >= 2, "funnel attribution needs at least two stages")
    val reached = funnelReached(events, userCol, typeCol, tsCol, stages)
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val firstTouch = events
      .filter(col(typeCol) === stages.head)
      .select(col(userCol),
        struct(us.as("us"), col(eventIdCol).as("eid"), channelCol.as("ch")).as("s"))
      .groupBy(col(userCol))
      .agg(min(col("s")).as("s"))
      .select(col(userCol), col("s.ch").as("channel"))
    val last = s"t${stages.length - 1}"
    reached
      .join(firstTouch, Seq(userCol))
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_entered"),
        count(col(last)).as("n_converted"),
        expr(s"10000 * count($last) DIV count(1)").as("conv_bp"))
      .orderBy(col("channel"))
  }

  /** B83: windowed funnel levels — the ClickHouse `windowFunnel`
    * pendant (the reference's target engine ships this as a flagship
    * analytic): how deep into the stage sequence each user gets with
    * EVERY step inside a conversion window anchored at the user's
    * first head-stage event, folded to users-per-level. The window is
    * what separates "eventually purchased" (B19's unbounded funnel)
    * from "purchased within 48h of first view" — the number campaign
    * ROI is actually judged on.
    *
    * Semantics, stated exactly: t0 = min head-stage time; t_i = min
    * stage-i time with t_i > t_{i-1} AND t_i ≤ t0 + window; level =
    * 1 + count of completed later stages. Anchoring at the EARLIEST
    * head event is the deterministic greedy rule (ClickHouse's
    * windowFunnel is likewise greedy per level, not exhaustive over
    * chain starts); a user whose only completing chain starts at a
    * LATER head event counts at the anchored chain's level — the
    * documented, oracle-matched divergence from exhaustive search.
    *
    * Plan: the [[funnelReached]] loop with one extra comparison per
    * stage — per stage ONE filter + keyed min-agg join, no per-user
    * window; the level fold is ≤ |stages| rows.
    */
  def funnelWindowLevels(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String],
      windowSec: Long
  ): DataFrame = {
    require(stages.length >= 2, "windowed funnel needs at least two stages")
    require(windowSec > 0, s"window must be positive, got $windowSec")
    val reached = funnelReached(events, userCol, typeCol, tsCol, stages, Some(windowSec * 1000000L))
    val level = (1 until stages.length)
      .map(i => when(col(s"t$i").isNotNull, 1L).otherwise(0L))
      .reduce(_ + _) + 1L
    reached
      .select(level.as("level"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("level"))
  }

  /** B84/B85: windowed funnel levels with ClickHouse's STRICTNESS
    * modes — the rest of the `windowFunnel` semantics matrix
    * ([[funnelWindowLevels]] is the default mode):
    *
    *   - `"default"` — non-matching events are ignored; the chain
    *     advances at the earliest valid next-stage event. Identical
    *     to [[funnelWindowLevels]] (spec-pinned equal on real data).
    *   - `"strict_order"` — once anchored, ANY stage event that does
    *     not validly advance the chain freezes it (the CH rule: no
    *     interleaving events between steps). A repeat of a matched
    *     stage, a skipped-ahead stage, or an expected event outside
    *     the window all freeze.
    *   - `"strict_dedup"` — a repeat of an ALREADY-MATCHED stage
    *     freezes the chain; other non-advancing events are ignored
    *     (CH `strict_deduplication`).
    *
    * Rules stated exactly (pinned by spec + oracle, like B83's greedy
    * anchor): events of types outside `stages` never participate;
    * pre-anchor events of non-head stages are ignored in every mode;
    * freezing requires event time STRICTLY greater than the last
    * matched time, so same-instant ties never freeze; among equal
    * times the lower stage index folds first (the sort key is
    * time·256 + stage index — deterministic at any parallelism).
    *
    * Plan: sequence-dependent semantics genuinely need the per-user
    * event ORDER, so this is the one funnel that aggregates per-user
    * sorted arrays — each event packs to ONE long ((us << 8) | stage
    * index), the fold is a codegen'd `aggregate` HOF over that long
    * array (state: 4 scalars), and nothing wider than 8 bytes/event
    * crosses the exchange.
    *
    * PACKED-FOLD FAMILY PRECONDITION (this, [[sequenceMatchDepth]],
    * [[sequenceCountNonOverlap]], [[sequenceNextNode]]): event
    * timestamps must be POST-EPOCH (us ≥ 0). The (us << 8) | stage
    * pack sorts by the long's signed value, so a pre-1970 timestamp
    * (negative us) would order before epoch but decode fine — the
    * real hazard is us large enough that us << 8 overflows (year
    * ~3128) or negative us interleaving with the t+1 "unset"
    * sentinel arithmetic in the B86/B87 state. Event-stream
    * timestamps are wall-clock capture times, so us ≥ 0 always holds
    * in practice; feeding historical pre-epoch instants through
    * these folds is out of contract. Array length is bounded by a user's STAGE
    * events inside the job's time span — the same per-user bound
    * sessionization carries; ClickHouse's own windowFunnel
    * materializes exactly this per-user event array.
    */
  def funnelWindowLevelsMode(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String],
      windowSec: Long,
      mode: String
  ): DataFrame = {
    val packed = packedEvents(events, userCol, typeCol, tsCol, stages, reversed = false)
    require(windowSec > 0, s"window must be positive, got $windowSec")
    require(Seq("default", "strict_order", "strict_dedup").contains(mode), s"unknown mode $mode")
    val w = windowSec * 1000000L
    val init = struct(
      lit(0L).as("lvl"), lit(0L).as("anchor"), lit(0L).as("last"), lit(false).as("frozen"))
    def step(acc: Column, pk: Column): Column = {
      val t = shiftrightunsigned(pk, 8)
      val s = pk.bitwiseAND(lit(0xffL))
      val lvl = acc.getField("lvl")
      val anchor = acc.getField("anchor")
      val last = acc.getField("last")
      val advance = struct(
        (lvl + 1L).as("lvl"),
        when(lvl === 0L, t).otherwise(anchor).as("anchor"),
        t.as("last"), lit(false).as("frozen"))
      val freeze = struct(
        lvl.as("lvl"), anchor.as("anchor"), last.as("last"), lit(true).as("frozen"))
      val advances = s === lvl && (lvl === 0L || (t > last && t <= anchor + w))
      val freezes = mode match {
        case "default" => lit(false)
        case "strict_order" => lvl > 0L && t > last
        case "strict_dedup" => lvl > 0L && s < lvl && t > last
      }
      when(acc.getField("frozen"), acc)
        .when(advances, advance)
        .when(freezes, freeze)
        .otherwise(acc)
    }
    // users with stage events but no anchor don't enter the funnel
    usersPer(packed, aggregate(col("evs"), init, step).getField("lvl"), "level")
  }

  /** B86: sequence matching with PER-HOP time bounds — the ClickHouse
    * `sequenceMatch('(?1)(?t<=g)(?2)(?t<=g)(?3)')` pendant, the other
    * half of the event-pattern matrix `windowFunnel` doesn't cover:
    * the funnel bounds the WHOLE chain by a window anchored at the
    * user's FIRST head event (greedy, no re-anchoring), while
    * sequence match asks whether ANY chain exists whose consecutive
    * hops each land within `gapSec` — a user who idles a week and
    * then converts in a tight burst matches here and not there.
    *
    * Semantics are SET-THEORETIC, not greedy: stage-0 events are all
    * feasible; a stage-i event at time t is feasible iff SOME
    * feasible stage-(i−1) event exists at time t' with
    * t' < t ≤ t' + gap. Depth = number of stages with a feasible
    * event (monotone by construction). No fold-order tie rule leaks
    * into the answer — which is why the DuckDB oracle is plain
    * EXISTS-join SQL, no recursive CTE.
    *
    * The fold computes this exactly with ONE pass and k longs of
    * state: events sort by (time asc, stage DESC), and f_i carries
    * the LATEST feasible stage-i time seen so far. Latest is
    * sufficient — if the latest feasible t' < t − gap, every earlier
    * one is too — and the descending-stage tie order means a stage-i
    * event at time t folds BEFORE any stage-(i−1) event at the same
    * instant updates f_{i−1}, so the strict t' < t bound never sees
    * a same-instant completion. Plan: the [[funnelWindowLevelsMode]]
    * shape — one user-keyed shuffle, 8 bytes/event across the
    * exchange, codegen `aggregate` HOF, ≤ |stages| rows after.
    */
  def sequenceMatchDepth(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String],
      gapSec: Long
  ): DataFrame = {
    // pack (us << 8) | (k-1-s): equal-time events fold HIGHER stage first
    val packed = packedEvents(events, userCol, typeCol, tsCol, stages, reversed = true)
    require(gapSec > 0, s"gap must be positive, got $gapSec")
    val k = stages.length
    val gapUs = gapSec * 1000000L
    // state stores t+1 so 0 is a true "unset" sentinel even for
    // epoch-zero events; with prev = t'+1 the raw-time hop bound
    // t' < t ≤ t'+gap becomes t ≥ prev && t ≤ prev+gap−1
    val init = struct((0 until k).map(i => lit(0L).as(s"f$i")): _*)
    def step(acc: Column, pk: Column): Column = {
      val t = shiftrightunsigned(pk, 8)
      val s = lit((k - 1).toLong) - pk.bitwiseAND(lit(0xffL))
      struct((0 until k).map { i =>
        when(s === i.toLong && feasible(acc, t, i, gapUs), t + 1L).otherwise(acc.getField(s"f$i")).as(s"f$i")
      }: _*)
    }
    val fin = aggregate(col("evs"), init, step)
    val depth = (0 until k)
      .map(i => when(fin.getField(s"f$i") =!= 0L, 1L).otherwise(0L))
      .reduce(_ + _)
    usersPer(packed, depth, "depth") // stage events but never a head event: not in the pattern
  }

  /** B87: NON-OVERLAPPING sequence-match count — the ClickHouse
    * `sequenceCount` pendant: how many times each user completes the
    * whole stage chain with every hop inside `gapSec`, matches
    * consumed greedily left-to-right (after a completion, the state
    * clears and the next chain builds only from later events — CH
    * likewise resumes its scan after the matched chain). Crucially
    * this is NOT a single-chain cursor: within a segment the machine
    * is [[sequenceMatchDepth]]'s full feasibility DP (latest feasible
    * time per stage), so a stalled prefix — a head event whose next
    * hop never arrives in time — can never block a later chain from
    * matching (the single-cursor fold undercounts exactly there).
    * Greedy earliest-completion + consume is the maximal
    * non-overlapping count for subsequence patterns (exchange
    * argument: no chain completes before the DP's first detected
    * completion).
    *
    * Fold-order tie rule, pinned like B84/B85: equal-time events fold
    * HIGHER stage first (B86's pack — the order that keeps the strict
    * t' < t hop bound exact); after a completion at instant t,
    * same-instant lower-stage events still fold and may anchor the
    * next chain. The oracle replays the identical machine with a
    * recursive CTE. Plan: [[funnelWindowLevelsMode]] shape — one
    * user-keyed shuffle, 8 bytes/event, k+1 scalars of fold state,
    * histogram rows after.
    */
  def sequenceCountNonOverlap(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String],
      gapSec: Long
  ): DataFrame = {
    val packed = packedEvents(events, userCol, typeCol, tsCol, stages, reversed = true)
    require(gapSec > 0, s"gap must be positive, got $gapSec")
    val k = stages.length
    val gapUs = gapSec * 1000000L
    // state: f0..f_{k-2} latest feasible per incomplete stage + cnt;
    // f stores t+1 (B86's zero-safe sentinel encoding)
    val init = struct((0 until k - 1).map(i => lit(0L).as(s"f$i")) :+ lit(0L).as("cnt"): _*)
    def step(acc: Column, pk: Column): Column = {
      val t = shiftrightunsigned(pk, 8)
      val s = lit((k - 1).toLong) - pk.bitwiseAND(lit(0xffL))
      val completes = s === (k - 1).toLong && feasible(acc, t, k - 1, gapUs)
      val consumed = struct((0 until k - 1).map(i => lit(0L).as(s"f$i")) :+
        (acc.getField("cnt") + 1L).as("cnt"): _*)
      val advanced = struct((0 until k - 1).map { i =>
        when(s === i.toLong && feasible(acc, t, i, gapUs), t + 1L).otherwise(acc.getField(s"f$i")).as(s"f$i")
      } :+ acc.getField("cnt").as("cnt"): _*)
      when(completes, consumed).otherwise(advanced)
    }
    usersPer(packed, aggregate(col("evs"), init, step).getField("cnt"), "n_matches")
  }

  /** The packed-fold family's input ([[funnelWindowLevelsMode]],
    * [[sequenceMatchDepth]], [[sequenceCountNonOverlap]]): per user,
    * `evs` = the sorted array of (us << 8) + stage index over the
    * events of `stages`; `reversed` packs k−1−index instead, so
    * equal-time events fold the higher stage first.
    */
  private def packedEvents(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String],
      reversed: Boolean
  ): DataFrame = {
    require(stages.length >= 2 && stages.length < 256, "2..255 stages")
    def idx(i: Int): Column = lit((if (reversed) stages.length - 1 - i else i).toLong)
    val sidx = stages.zipWithIndex.tail.foldLeft(when(col(typeCol) === stages.head, idx(0))) {
      case (e, (st, i)) => e.when(col(typeCol) === st, idx(i))
    }
    val us = unix_micros(col(tsCol).cast("timestamp"))
    events
      .filter(col(typeCol).isin(stages: _*))
      .groupBy(col(userCol))
      .agg(sort_array(collect_list(shiftleft(us, 8) + sidx)).as("evs"))
  }

  /** B86's feasibility test inside a fold step: a stage-`i` event at
    * `t` extends a chain when i = 0 or the latest feasible stage-(i−1)
    * time t' (stored as `f{i−1}` = t'+1, 0 unset) has t' < t ≤ t' + gap.
    */
  private def feasible(acc: Column, t: Column, i: Int, gapUs: Long): Column =
    if (i == 0) lit(true)
    else {
      val prev = acc.getField(s"f${i - 1}")
      prev =!= 0L && t >= prev && t <= prev + (gapUs - 1L)
    }

  /** Users per positive `value` of a packed fold, ascending. */
  private def usersPer(packed: DataFrame, value: Column, name: String): DataFrame =
    packed
      .select(value.as(name))
      .filter(col(name) > 0L)
      .groupBy(col(name))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col(name))

  /** B79: LINEAR multi-touch attribution — the complementary card to
    * [[funnelAttribution]]'s first-touch rule: a converted user's
    * conversion credit (exactly 10^6 ppm per user) is split EQUALLY
    * across ALL of their head-stage touches at or before the
    * conversion instant, so channels that assist mid-journey are
    * visible instead of the first channel taking everything. Per
    * channel: touch count and total credit in ppm. Integer-exact
    * apportionment: each touch gets 10^6 DIV n and the REMAINDER goes
    * to the user's earliest touch ((us, event_id) min — deterministic,
    * no RNG), so Σ credit over channels == 10^6 · n_converted exactly
    * (spec-asserted invariant).
    *
    * Plan: one [[funnelReached]] chain, head-stage touches of
    * converted users filtered by `us <= t_last` (attribution windows
    * close at conversion — later touches earn nothing), then ONE
    * user-keyed aggregate for (n_touches, min touch key) joined back —
    * no per-user window — and a |channels|-row fold. Touch rows carry
    * (user, us, eid, channel): ~32 bytes through both exchanges.
    */
  def funnelAttributionLinear(
      events: DataFrame,
      userCol: String,
      eventIdCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String],
      channelCol: Column
  ): DataFrame = {
    require(stages.length >= 2, "funnel attribution needs at least two stages")
    val reached = funnelReached(events, userCol, typeCol, tsCol, stages)
    val last = s"t${stages.length - 1}"
    val converted = reached.filter(col(last).isNotNull).select(col(userCol), col(last))
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val touches = events
      .filter(col(typeCol) === stages.head)
      .select(col(userCol),
        us.as("us"), col(eventIdCol).as("eid"), channelCol.as("channel"))
      .join(converted, Seq(userCol))
      .filter(col("us") <= col(last))
    val perUser = touches
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_touches"),
        min(struct(col("us"), col("eid"))).as("first_k"))
    touches
      .join(perUser, Seq(userCol))
      .select(col("channel"),
        (expr("1000000 DIV n_touches") +
          when(struct(col("us"), col("eid")) === col("first_k"),
            expr("1000000 % n_touches")).otherwise(lit(0L))).as("credit"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"), sum(col("credit")).as("credit_ppm"))
      .orderBy(col("channel"))
  }

  /** B75: classical seasonal decomposition of daily revenue — a 7-day
    * CENTERED moving-average trend (only complete windows, the
    * textbook rule), residual = day − trend, and the seasonal
    * component as the mean residual per weekday — all exact integer
    * cents (trend = Σ7 DIV 7; negative residual means truncate toward
    * zero in BOTH engines, verified). The weekday key is epoch-day
    * mod 7 (the B73 convention). Against B73's raw index this
    * separates "Saturdays are big" from "revenue is growing".
    *
    * Plan: one fact scan into the day-cardinality daily aggregate;
    * the centered window is a RANGE frame over DAY VALUES (calendar
    * gaps shrink the window below 7 and the completeness filter drops
    * it, rather than silently averaging across a gap). The window runs
    * unpartitioned — over a series bounded by the CALENDAR (~2.5k
    * rows/decade), invariant in data volume, so the one-task window is
    * a constant-size tail, not a scale risk.
    */
  def seasonalDecompose(lineitem: DataFrame): DataFrame = {
    val daily = lineitem
      .select(
        unix_date(to_date(col("l_shipdate"))).cast("long").as("day"),
        cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("rev_c"))
      .groupBy(col("day"))
      .agg(sum(col("rev_c")).as("x"))
    val w = Window.orderBy(col("day")).rangeBetween(-3, 3)
    daily
      .select(
        col("day"), col("x"),
        count(lit(1)).over(w).as("cnt"), sum(col("x")).over(w).as("s7"))
      .filter(col("cnt") === 7)
      .select(col("day"), (col("x") - expr("s7 DIV 7")).as("resid_c"))
      .groupBy((col("day") % 7).as("dow"))
      .agg(
        count(lit(1)).as("n_days"),
        expr("sum(resid_c) DIV count(1)").as("seasonal_c"))
      .orderBy(col("dow"))
  }

  /** B49: per-column statistics profile — the ANALYZE TABLE surface a
    * warehouse runs after every load to feed its optimizer and data
    * validation (row count, null count, EXACT distinct count, min/max
    * per column). TWO linear passes for the whole profile, never a
    * pass per column and never a collect:
    *   1. count/nulls/min/max for every column in one KEYLESS
    *      aggregate (keyless means no Sort even though string min/max
    *      buffers are sort-based), unpivoted to a row per column;
    *   2. exact ndv for every column in one scan: explode to
    *      (col, value) pairs and hash-aggregate twice — count buffers
    *      only, so it stays HashAggregate end to end. (The naive
    *      alternative — N countDistincts in one agg — plans an Expand
    *      whose string min/max buffers force a full SORT of |rows|×N:
    *      measured 12x slower.)
    * The final join is |cols| rows vs |cols| rows — broadcast. min/max
    * are stringified so one schema fits every column type; timestamps
    * format explicitly (cast-to-string fraction-trimming differs
    * across engines); ndv dedups on a 64-bit hash of the
    * full-precision cast (see inline note on the wire-size and
    * collision trade).
    *
    * `approxNdv = true` is the 100 TB default: n_distinct comes from
    * `approx_count_distinct` (HLL++, relative error ~2.3% at the
    * twelve-bit default) folded into the SAME single-scan aggregate as
    * count/min/max — per-value data never shuffles anywhere; the only
    * exchange in the whole plan is the one-row partial→final agg
    * merge. Exact mode (`false`, the oracle path) dedups on a
    * per-value 8-byte hash shuffle — inherently a full-data shuffle,
    * which at 100 TB should be a deliberate opt-in, not a profile
    * default.
    */
  def profileTable(df: DataFrame, cols: Seq[String], approxNdv: Boolean = false): DataFrame = {
    def asStr(c: Column, dt: org.apache.spark.sql.types.DataType): Column = dt match {
      case org.apache.spark.sql.types.TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss")
      case _ => c.cast("string")
    }
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        asStr(min(col(c)), types(c)).as(s"${c}__min"),
        asStr(max(col(c)), types(c)).as(s"${c}__max")) ++
        (if (approxNdv) Seq(approx_count_distinct(col(c)).as(s"${c}__ndv")) else Nil)
    }
    val basic = df.agg(count(lit(1)).as("__n"), aggs: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"${c}__nn")).as("n_nulls"),
        (if (approxNdv) col(s"${c}__ndv") else lit(0L)).as("ndv_approx"),
        col(s"${c}__min").as("min_str"),
        col(s"${c}__max").as("max_str"))): _*)).as("p"))
      .select(col("p.*"))
    if (approxNdv)
      return basic.select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("ndv_approx").as("n_distinct"), col("min_str"), col("max_str"))
        .orderBy(col("col_name"))
    // ndv dedups on xxhash64 of the full-precision cast, so the
    // shuffle carries 8 bytes per value regardless of column width
    // (a wide-string column shuffles no more than a long column).
    // Collision odds within one column are birthday ~n²/2^65 — at 100M
    // values that's ~3e-4 of being off by one, the standard
    // hashed-uniqExact trade. Null must be filtered BEFORE hashing:
    // Spark's hash exprs map null to the seed, not null.
    val ndv = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("e"))
      .where(col("e.v").isNotNull)
      .select(col("e.col_name").as("col_name"), xxhash64(col("e.v")).as("hv"))
      .groupBy(col("col_name"), col("hv")).agg(count(lit(1)).as("__cnt"))
      .groupBy(col("col_name")).agg(count(lit(1)).as("n_distinct"))
    basic.drop("ndv_approx").join(broadcast(ndv), Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_str"), col("max_str"))
      .orderBy(col("col_name"))
  }

  /** Exact grouped order statistics WITHOUT a full per-group sort.
    *
    * `Window.partitionBy(group).orderBy(value)` is correct but its
    * parallelism is the number of groups: with 5 order priorities over
    * 60M orders, 5 tasks each sort 12M rows while 27 cores idle, and
    * the sort grows n·log n per group — measured 21s at sf10 vs 2s
    * here. This is the distributed selection-by-binning alternative:
    *
    *   1. one hash agg per group for (min, max, n) — sets a per-group
    *      bin width and turns each requested rank spec into a concrete
    *      target rank k ∈ [1, n];
    *   2. one hash agg for per-(group, bin) counts — fully parallel,
    *      shuffles one narrow row per OCCUPIED bin; a prefix sum over
    *      the ≤`bins` rows per group (a window over bin counts, never
    *      over data rows) locates the single bin whose cumulative
    *      range covers k;
    *   3. data rows join the broadcast target-bin frame, so only the
    *      ~n/bins rows inside hit bins survive to the final
    *      per-(group, rank) value ranking.
    *
    * Every rank is an exact DISCRETE order statistic (the k-th
    * smallest value counted with multiplicity — identical to
    * `row_number` over (value, tiebreak) == k, since the tiebreak
    * never changes which VALUE holds rank k). All math is integer
    * counts on integer-cast values: bit-identical to the window
    * formulation, proven side-by-side in PipelineSpec.
    *
    * `ranks` maps a label to the 1-based target rank as a function of
    * the group size n, e.g. lower median = floor((n+1)/2).
    *
    * The selection reads `df` three times (stats, histogram, in-bin
    * rank): a caller whose input is an expensive subplan (a join or an
    * aggregate) checkpoints it first; a bare columnar scan is cheaper
    * to re-read (measured both ways at sf10).
    */
  def groupedExactRanks(
      df: DataFrame,
      groupCol: String,
      valueCol: Column,
      ranks: Seq[(String, Column => Column)],
      bins: Int = 4096
  ): DataFrame = {
    require(ranks.nonEmpty, "at least one rank spec required")
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val base = df.select(col(groupCol).as("g"), valueCol.cast("long").as("v"))
    val stats = base.groupBy(col("g")).agg(
      min(col("v")).as("vmin"), max(col("v")).as("vmax"), count(lit(1)).as("n"))
    // ceil'd width so (vmax-vmin) div w < bins always holds; width >= 1.
    // Long `div`, not `/`: Spark long/long is DOUBLE division, exact
    // only below 2^53 — full-range long values would mis-bin
    val statsW = stats.withColumn(
      "w", greatest(lit(1L), expr(s"(vmax - vmin) div ${bins.toLong}L") + lit(1L)))
    // one row per (group, rank label): the concrete target rank k
    val rankRows = ranks
      .map { case (label, f) =>
        statsW.select(col("g"), lit(label).as("r"), f(col("n")).cast("long").as("k"), col("n"))
      }
      .reduce(_ unionByName _)
    val binned = base
      .join(broadcast(statsW.select(col("g"), col("vmin"), col("w"))), Seq("g"))
      .select(col("g"), expr("(v - vmin) div w").as("b"), col("v"))
    val binCounts = binned.groupBy(col("g"), col("b")).agg(count(lit(1)).as("c"))
    // prefix sum over <= `bins` COUNT rows per group — this window is
    // metadata-sized no matter how large the data is
    val cum = binCounts.withColumn(
      "cum", sum(col("c")).over(Window.partitionBy(col("g")).orderBy(col("b"))))
    val targets = rankRows
      .join(cum, Seq("g"))
      .filter(col("cum") >= col("k") && col("cum") - col("c") < col("k"))
      .select(col("g"), col("r"), col("b"), col("k"), (col("cum") - col("c")).as("prior"), col("n"))
    // only rows inside a hit bin reach the final ranking; a rank's
    // in-bin window ranks ~n/bins rows over |groups|x|ranks| partitions
    val res = binned
      .join(broadcast(targets), Seq("g", "b"))
      .groupBy(col("g"), col("r"), col("k"), col("prior"), col("n"), col("v"))
      .agg(count(lit(1)).as("cv"))
      .withColumn("cumv",
        sum(col("cv")).over(Window.partitionBy(col("g"), col("r")).orderBy(col("v"))) + col("prior"))
      .filter(col("cumv") >= col("k") && col("cumv") - col("cv") < col("k"))
    res.select(col("g").as(groupCol), col("r").as("rank_name"), col("v").as("value"), col("n"))
  }

  /** Distributed EXACT global row_number — the scale-safe replacement
    * for `row_number().over(Window.orderBy(...))`, which moves the
    * whole dataset into ONE task (Spark even warns: "No Partition
    * Defined for Window operation").
    *
    * Same binning idea as [[groupedExactRanks]], one global group:
    * rows bin by value range, a prefix sum over the ≤`bins` bin
    * counts (metadata-sized) gives each bin its global rank offset,
    * and each bin ranks its own rows in parallel — the per-task sort
    * is ~n/bins rows instead of n. Equal values always share a bin,
    * so `tieCols` break ties inside exactly one window partition and
    * the result is bit-identical to the single-task formulation
    * (proven side-by-side in AnalyticsSpec).
    *
    * Skew note: a single value held by a large fraction of rows
    * collapses that one bin to one task — same bound as any keyed
    * shuffle on the value; acceptable for measure-like columns.
    *
    * Output: input columns + `rn` (1-based global rank by
    * (value asc|desc, tieCols)) + `n_total`.
    *
    * Like [[groupedExactRanks]] the rank reads `df` three times
    * (stats, histogram, rank): a caller whose input is a join or an
    * aggregate checkpoints it first.
    */
  def globalRowNumber(
      df: DataFrame,
      valueCol: Column,
      descending: Boolean,
      tieCols: Seq[Column],
      bins: Int = 4096
  ): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val base = df.withColumn("__v", valueCol.cast("long"))
    val stats = base.agg(
      min(col("__v")).as("vmin"), max(col("__v")).as("vmax"), count(lit(1)).as("n_total"))
    val statsW = stats.withColumn(
      "w", greatest(lit(1L), expr(s"(vmax - vmin) div ${bins.toLong}L") + lit(1L)))
    val binned = base
      .crossJoin(broadcast(statsW)) // 1-row stats frame
      .withColumn("__b", expr("(__v - vmin) div w"))
    val binCounts = binned.groupBy(col("__b")).agg(count(lit(1)).as("__c"))
    val binOrder = if (descending) col("__b").desc else col("__b").asc
    val prior = binCounts
      .withColumn("__prior", sum(col("__c")).over(Window.orderBy(binOrder)) - col("__c"))
      .select(col("__b"), col("__prior"))
    val inBinOrder = (if (descending) col("__v").desc else col("__v").asc) +: tieCols
    binned
      .join(broadcast(prior), Seq("__b"))
      .withColumn("rn",
        col("__prior") + row_number().over(Window.partitionBy(col("__b")).orderBy(inBinOrder: _*)))
      .drop("__v", "__b", "__prior", "vmin", "vmax", "w")
  }

  /** Long integral division as a Column op — `a div b`, never the
    * double division `Column./` whose exactness ends at 2^53. */
  private def ldiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graft.ColumnBridge.expression(a.cast("long")),
        org.apache.spark.sql.graft.ColumnBridge.expression(b.cast("long"))))

  /** Exact `ntile(k)` from a global rank: SQL semantics — with
    * q = n div k, r = n mod k, the first r tiles hold q+1 rows.
    * Pure integer arithmetic on the `rn`/`n_total` columns produced
    * by [[globalRowNumber]]; bit-identical to the window `ntile`.
    */
  def ntileFromRank(rn: Column, nTotal: Column, k: Int): Column = {
    val q = ldiv(nTotal, lit(k.toLong))
    val r = nTotal % k
    when(rn <= r * (q + lit(1L)), ldiv(rn - lit(1L), q + lit(1L)) + lit(1L))
      .otherwise(r + ldiv(rn - r * (q + lit(1L)) - lit(1L), greatest(q, lit(1L))) + lit(1L))
  }

  /** B56: per-group OLS trend slope over a daily series — "is this
    * brand's revenue trending up?", the classic sales-drift signal,
    * in cross-engine-exact arithmetic. Daily revenue is aggregated
    * FIRST (so the regression runs over <= ~2500 (brand, day) points
    * per group regardless of fact rows — the sums below then can't
    * overflow), x = days since 1992-01-01, y = daily revenue in whole
    * dollars (cents summed exactly, then DIV 100). Slope =
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with the moment products in
    * DECIMAL(38,0) (Long holds Σ's but not n·Σxy at 100 TB; the
    * oracle mirrors with HUGEINT), reported in milli-dollars/day via
    * integer DIV — both engines truncate toward zero, verified
    * including negative slopes.
    *
    * Plan shape: one lineitem×part keyed join, one (brand, day) agg,
    * one brand agg — map-side partials everywhere, no window, no
    * driver state. Skew-safe: groups are brands, days bound the
    * per-group state.
    */
  def trendSlope(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val daily = lineitem
      .join(part, lineitem("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"), to_date(col("l_shipdate")).as("day"))
      .agg(expr("sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) DIV 100").as("yd"))
      .select(col("p_brand"), datediff(col("day"), lit(java.sql.Date.valueOf("1992-01-01"))).cast("long").as("x"), col("yd"))
    daily
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("yd")).as("sy"),
        sum(col("x") * col("yd")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(
        col("p_brand"), col("n_days"),
        expr("""CAST((1000 * (CAST(n_days AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy))
               | DIV (CAST(n_days AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""".stripMargin.replace("\n", ""))
          .as("slope_md"))
      .orderBy("p_brand")
  }

  /** B57: per-group Pearson correlation between two measures —
    * quantity vs discount per return flag ("do discounts move
    * volume?"). The moments are EXACT integers (quantity as units,
    * discount floored to basis points; sums in DECIMAL(38,0) /
    * HUGEINT since n·Σxy crosses 2^63 near 20M rows/group); only the
    * final three ops are doubles, and each — two sqrt, two divides,
    * in a FIXED evaluation order num/sqrt(dx)/sqrt(dy) — is
    * correctly rounded under IEEE 754 in both engines, so the double
    * result is bit-reproducible, not approximately equal. (A
    * float-sum corr, like both engines' built-in `corr`, is
    * order-dependent and can't be cross-checked bit-for-bit.)
    *
    * Plan: single lineitem scan into a 3-group agg with map-side
    * partials; no joins, no window.
    */
  def corrPairs(lineitem: DataFrame): DataFrame =
    lineitem
      .select(
        col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        floor(col("l_discount") * lit(10000d)).cast("long").as("y"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      .select(
        col("l_returnflag"), col("n"),
        expr("""CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
               | / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
               | / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))""".stripMargin.replace("\n", ""))
          .as("corr_qd"))
      .orderBy("l_returnflag")

  /** B65: RFM customer segmentation — the classic warehouse
    * recency/frequency/monetary quintile coding (1..5 per dimension,
    * 5 = most recent / most frequent / biggest spender). Exact SQL
    * ntile semantics with a custkey tiebreak on every dimension, each
    * rank through the distributed [[globalRowNumber]] bin plan (the
    * B33/B63 discipline — a million customers never serialize into
    * one window task). The customer-level aggregate is
    * localCheckpointed once: three rank passes read materialized
    * blocks, and the fact table is scanned exactly once.
    */
  def rfmSegments(customer: DataFrame, orders: DataFrame): DataFrame = {
    val base = customer.select(col("c_custkey"))
      .join(orders.select(col("o_custkey"),
        unix_date(to_date(col("o_orderdate"))).cast("long").as("day"),
        cents(col("o_totalprice")).as("p_c")),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("n_orders"), sum(col("p_c")).as("spend_c"))
      .localCheckpoint()
    def coded(df: DataFrame, valueCol: String, out: String): DataFrame =
      globalRowNumber(df, col(valueCol), descending = false, Seq(col("c_custkey")))
        .withColumn(out, ntileFromRank(col("rn"), col("n_total"), 5))
        .drop("rn", "n_total")
    // Each rank pass reads its input THREE times (stats, bin counts,
    // in-bin rank), so the nested codes must materialize between
    // levels: unchecked, level 1's whole plan re-executed ~9× inside
    // level 3.
    val c1 = coded(base, "last_day", "r_code").localCheckpoint()
    val c2 = coded(c1, "n_orders", "f_code").localCheckpoint()
    coded(c2, "spend_c", "m_code")
      .select(col("c_custkey"), col("last_day"), col("n_orders"), col("spend_c"),
        col("r_code"), col("f_code"), col("m_code"))
      .orderBy(col("c_custkey"))
  }

  /** B66: market-basket pair mining by integer LIFT — which parts
    * co-occur in orders beyond chance (N·n_ab·10⁶) DIV (n_a·n_b),
    * the association-rule signal with C62's exact-ratio discipline
    * (log-likelihood/confidence variants are monotone in the same
    * counts). Candidate pairs are generated WITHOUT a self-join: ONE
    * order-keyed shuffle folds each order into its sorted distinct
    * part set (`collect_set` dedupes, so no separate DISTINCT pass),
    * and the pair grid is a codegen array expression over that set —
    * still bounded by items-per-order², never |parts|², but the
    * (order, part) grid now crosses exactly one exchange instead of
    * four (distinct + two self-join sides + nOrders recount: the
    * self-join shape re-scanned the fact table per branch and sorted
    * both sides, the step that went superlinear at sf10). The basket
    * frame is localCheckpointed once; nOrders, item counts, and the
    * pair explode all read the materialized blocks. Pair and item
    * counts are keyed aggs with map-side partials; minCount prunes
    * the hapax tail before the component joins (parts join KEYED — a
    * web-scale catalog never broadcasts); top-k is
    * TakeOrderedAndProject.
    */
  def basketLift(lineitem: DataFrame, minCount: Long = 5, topK: Int = 20): DataFrame = {
    val (baskets, nOrders) = Materialize.counted(lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select(col("parts")))
    val itemCounts = baskets
      .select(explode(col("parts")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("c"))
    // sorted + deduped ⇒ x < every element of its tail slice: the
    // pa < pb canonical orientation holds by construction
    baskets
      .select(explode(expr(
        "flatten(transform(parts, (x, i) -> transform(" +
          "slice(parts, i + 2, size(parts) - i - 1), y -> struct(x AS pa, y AS pb))))")).as("p"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
      .join(itemCounts.select(col("pk").as("pa"), col("c").as("na")), "pa")
      .join(itemCounts.select(col("pk").as("pb"), col("c").as("nb")), "pb")
      .select(col("pa"), col("pb"), col("n_ab"), col("na"), col("nb"),
        expr(s"CAST((CAST($nOrders AS DECIMAL(38,0)) * n_ab * 1000000) DIV (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("pa"), col("pb"))
      .limit(topK)
  }

  /** B90: next-node distribution after a completed funnel prefix —
    * the ClickHouse `sequenceNextNode` pendant and the last member of
    * its event-pattern family here (windowFunnel B83-85, sequenceMatch
    * B86, sequenceCount B87): for every user who completed
    * stage₀ → stage₁ (earliest-anchor rule: t₀ = min stage₀ time,
    * t₁ = min stage₁ time > t₀ — exactly the funnel chain), the
    * single next event STRICTLY after t₁ — any type — with the
    * deterministic (time, event_id) tiebreak; folded to a
    * users-per-next-type histogram. This is the "what do users do
    * after the conversion prefix" card: a spike in `error` after
    * click is a product bug reading as analytics.  Users with no
    * event after t₁ are absent (documented; a COALESCE row would
    * claim knowledge of a next step that never happened).
    *
    * Plan: two keyed min-aggs for the chain (the funnelReached
    * shape), one keyed join + filter for the post-t₁ stream, ONE
    * keyed min-struct agg picks each user's next event (8+8+type
    * bytes of state — never a per-user window), final fold is
    * |event types| rows.
    */
  def sequenceNextNode(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      idCol: String,
      stages: Seq[String]
  ): DataFrame = {
    require(stages.length == 2, "sequenceNextNode pins a 2-stage prefix")
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val s0 = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(us).as("t0"))
    val s1 = events.filter(col(typeCol) === stages(1))
      .select(col(userCol), us.as("__ts"))
      .join(s0, Seq(userCol))
      .groupBy(col(userCol))
      .agg(min(when(col("__ts") > col("t0"), col("__ts"))).as("t1"))
      .filter(col("t1").isNotNull)
    events
      .select(col(userCol), us.as("__ts"), col(idCol).as("__id"), col(typeCol).as("__et"))
      .join(s1, Seq(userCol))
      .filter(col("__ts") > col("t1"))
      .groupBy(col(userCol))
      .agg(min(struct(col("__ts"), col("__id"), col("__et"))).as("nxt"))
      .groupBy(col("nxt.__et").as("next_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("next_type"))
  }

  /** B89: audience-segment overlap matrix — the ClickHouse
    * bitmap-family use case (`groupBitmap` + `bitmapAndCardinality`
    * dashboards: "how much do my high-value click and purchase
    * audiences overlap?") computed exactly without materializing
    * bitmaps: users qualify for a segment when they have a qualifying
    * event (here: type with value ≥ threshold), and every segment
    * PAIR gets |A|, |B|, |A∩B| and Jaccard ppm — including
    * ZERO-overlap pairs, which an intersection-driven plan would
    * silently drop (the full matrix is the dashboard contract; the
    * grid left-join supplies the zeros).
    *
    * Plan: [[basketLift]]'s single-shuffle discipline on the user
    * axis — one user-keyed `collect_set` fold (the membership
    * "bitmap", one row per user, ≤ |segments| entries), pair grid as
    * a codegen array expression, counts and overlaps as keyed aggs
    * with map-side partials. The segments×segments grid is
    * |taxonomy|²-bounded — segment taxonomies are small by
    * construction (the user axis, which does scale, never enters a
    * join wider than the fold).
    */
  def segmentOverlap(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      valueCol: String,
      minValue: Double
  ): DataFrame = {
    val members = events
      .filter(col(valueCol) >= minValue)
      .groupBy(col(userCol))
      .agg(sort_array(collect_set(col(typeCol))).as("segs"))
      .select(col("segs"))
      .localCheckpoint()
    val counts = members.select(explode(col("segs")).as("seg"))
      .groupBy(col("seg")).agg(count(lit(1)).as("n"))
    val overlaps = members
      .select(explode(expr(
        "flatten(transform(segs, (x, i) -> transform(" +
          "slice(segs, i + 2, size(segs) - i - 1), y -> struct(x AS sa, y AS sb))))")).as("p"))
      .groupBy(col("p.sa").as("seg_a"), col("p.sb").as("seg_b"))
      .agg(count(lit(1)).as("n_overlap"))
    counts.select(col("seg").as("seg_a"), col("n").as("n_a"))
      .join(counts.select(col("seg").as("seg_b"), col("n").as("n_b")), col("seg_a") < col("seg_b"))
      .join(overlaps, Seq("seg_a", "seg_b"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"), col("n_overlap"),
        expr("n_overlap * 1000000L DIV (n_a + n_b - n_overlap)").as("jaccard_ppm"))
      .orderBy(col("seg_a"), col("seg_b"))
  }

  /** B63: equi-depth histogram of a value column — the distribution
    * profile [[profileTable]]'s min/max/ndv can't see (ANALYZE-style
    * optimizer statistics, skew diagnosis, quantile-bucket boundaries
    * for range partitioning / Z-order bucketing). Buckets hold equal
    * ROW counts (SQL ntile semantics, exact), boundaries are real data
    * values. Engine-reproducible because the tile order carries a
    * unique tiebreak — and the rank is the distributed
    * [[globalRowNumber]] bin plan, so millions of rows never serialize
    * into one window task (the decile_spend discipline; a bare
    * `ntile().over(Window.orderBy(...))` is the B33 anti-plan).
    */
  def equidepthHist(
      df: DataFrame,
      valueCol: Column,
      tieCols: Seq[Column],
      buckets: Int = 16
  ): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val prepared = df.select((valueCol.cast("long").as("v_c") +: tieCols): _*)
    globalRowNumber(prepared, col("v_c"), descending = false, tieCols)
      .withColumn("bucket", ntileFromRank(col("rn"), col("n_total"), buckets))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("v_c")).as("lo_c"), max(col("v_c")).as("hi_c"))
      .orderBy(col("bucket"))
  }

  /** B72: lag-k autocorrelation structure of the daily revenue series
    * at lags 1..maxLag — the seasonality/memory diagnostic a
    * forecasting pipeline runs before fitting anything (a strong lag-7
    * says weekly cycle; slow decay across all lags says trend —
    * difference first). Lag is DAY arithmetic (day t pairs with day
    * t-k), so calendar gaps drop pairs rather than silently
    * mis-aligning the series.
    *
    * The reported statistic is the Yule-Walker lag-k AR slope in
    * milli-units — cov(x_t, x_{t−k}) / var(x_{t−k}) as the single
    * integer expression (1000·(n·Σxy − ΣxΣy)) DIV (n·Σyy − (Σy)²)
    * over exact integer-cents moments in DECIMAL(38,0)/HUGEINT (the
    * [[trendSlope]] pattern) — NOT Pearson r: r's σ_x·σ_y denominator
    * needs two sqrt over ~2^73-bit moments, and a >2^53 128-bit→double
    * cast is not correctly rounded in DuckDB (measured: one ulp off at
    * sf0.01), so r is not cross-engine bit-reproducible here. The AR
    * slope carries the same diagnostic (β_k ≈ r_k for a
    * covariance-stationary series, σ_t ≈ σ_{t−k}) and is exact —
    * the C62 PMI→lift / B56 slope discipline.
    *
    * Plan: ONE fact scan into a day-cardinality aggregate (map-side
    * partial → ~2.5k rows), localCheckpointed so the per-lag self-join
    * reads materialized blocks instead of rescanning the fact table
    * (the rfmSegments discipline); lags arrive as a broadcast k-row
    * frame; everything after the first agg is day-cardinality work.
    */
  def acfDaily(lineitem: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val daily = lineitem
      .select(
        unix_date(to_date(col("l_shipdate"))).cast("long").as("day"),
        cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("rev_c"))
      .groupBy(col("day"))
      .agg(sum(col("rev_c")).as("x"))
      .localCheckpoint()
    val lags = daily.sparkSession.range(1, maxLag + 1).select(col("id").as("lag"))
    daily
      .crossJoin(broadcast(lags))
      .join(
        daily.select(col("day").as("day_lag"), col("x").as("y")),
        col("day_lag") === col("day") - col("lag"))
      .groupBy(col("lag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .select(
        col("lag"), col("n"),
        // zero predictor variance (a single pair, or a constant series)
        // -> NULL, matching DuckDB's NULL-on-zero-divisor `//` (ANSI
        // Spark throws without the guard)
        expr("""CASE WHEN CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy = 0 THEN NULL
               | ELSE CAST((1000 * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy))
               | DIV (CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy) AS BIGINT) END""".stripMargin.replace("\n", ""))
          .as("ar_slope_md"))
      .orderBy(col("lag"))
  }

  /** B73: day-of-week seasonal index of daily revenue — mean revenue
    * on each weekday vs the overall daily mean, in exact integer basis
    * points: index_bp = ⌊10000 · (s_d/n_d) / (S/N)⌋ computed as the
    * single integer expression (10000·s_d·N) DIV (n_d·S), carried in
    * DECIMAL(38,0)/HUGEINT (the product crosses 2^63 at sf1). The
    * weekday key is engine-neutral INTEGER arithmetic — epoch-day mod
    * 7 (0 = Thursday, since day 0 = 1970-01-01) — not a locale- or
    * engine-dependent DAYOFWEEK().
    *
    * Plan: ONE fact scan into a 7-group aggregate (n_d is a distinct
    * day count per group — exact); the grand totals come from an
    * unpartitioned window over those 7 rows — NOT a re-aggregating
    * cross-join branch, which would scan the fact table a second
    * time (the drift_report discipline).
    */
  def dowSeasonality(lineitem: DataFrame): DataFrame = {
    val base = lineitem.select(
      unix_date(to_date(col("l_shipdate"))).cast("long").as("day"),
      cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("rev_c"))
    val all = Window.partitionBy()
    base
      .groupBy((col("day") % 7).as("dow"))
      .agg(
        countDistinct(col("day")).as("n_days"),
        sum(col("rev_c")).as("rev_c"))
      .select(
        col("dow"), col("n_days"), col("rev_c"),
        sum(col("n_days")).over(all).as("n_days_total"),
        sum(col("rev_c")).over(all).as("rev_c_total"))
      .select(
        col("dow"), col("n_days"), col("rev_c"),
        expr("""CAST((10000 * CAST(rev_c AS DECIMAL(38,0)) * n_days_total)
               | DIV (CAST(n_days AS DECIMAL(38,0)) * rev_c_total) AS BIGINT)""".stripMargin.replace("\n", ""))
          .as("index_bp"))
      .orderBy(col("dow"))
  }
}
