package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.functions.Fingerprint64.fingerprint64
import graft.operators.{AllString, Analytics, AsOfJoin, Curation, DataQuality, Dedup, EmbedOps, GraphOps, Incremental, Multimodal, Similarity, TextAnalysis, TimeSeries, TpchShapes, TypeMapper}
import graft.sinks.ClickHouseDdl
import graft.sources.{Catalog, JsonIngest}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Output stability rules (so DuckDB-oracle hashes match):
  *   - money/quantity aggregates → exact integer cents
  *   - timestamps → unix_micros integers (or formatted strings)
  *   - every integer output is Long; every query is fully ordered.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Catalog.load(spark, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Analytics.q5Join5(
      t(spark, dir, "region"),
      t(spark, dir, "nation"),
      t(spark, dir, "customer"),
      t(spark, dir, "orders"),
      t(spark, dir, "lineitem")
    )
  }

  private val allTables = Seq(
    "customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier"
  )

  /** One query path: its name, its build function and, for every path
    * but the six approximate `sim_topk_*` ANN probes, the DuckDB SQL
    * that must return the same rows (the correctness oracle).
    * The SQL is formatted on first use, so building a query never
    * formats it.
    */
  final class Query private[SparkEntry] (
      val name: String,
      val build: (SparkSession, String) => DataFrame,
      sql: => Option[String]
  ) {
    lazy val oracle: Option[String] = sql
  }

  private[graft] def query(name: String)(build: (SparkSession, String) => DataFrame)(oracle: => String): Query =
    new Query(name, build, Some(oracle))

  private[graft] def rowsOnly(name: String)(build: (SparkSession, String) => DataFrame): Query =
    new Query(name, build, None)

  /** `entries` unchanged, or an error naming every name declared twice. */
  private[graft] def distinctNames(entries: Seq[Query]): Seq[Query] = {
    val dups = entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    if (dups.nonEmpty)
      throw new IllegalArgumentException(s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    entries
  }

  /** The registry entries named in a comma-separated list, in registry
    * order: the one subset rule of `Bench`, `Verify` and `PlanDump`.
    * Throws naming every name the registry does not hold.
    */
  def select(names: String): Seq[Query] = {
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted -- queries.keySet
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    registry.filter(q => wanted(q.name))
  }

  /** Build function by query name: a view of [[registry]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Oracle SQL by query name, for the oracled paths: a view of
    * [[registry]] (formats every oracle on first use).
    */
  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The query registry: one entry per implemented operator from
    * SURVEY.md §2.
    *
    * CONVENTION — gate-only sorts: entries whose output is per-doc /
    * per-row (corpus cardinality, e.g. `text_quality`, `mm_*`,
    * `quality_gate_pctl`) end in a global `orderBy` purely so the
    * driver's hash compare is deterministic. That sort is NOT part of
    * the operator's semantics and would be the most expensive node in
    * the plan at 100 TB — the underlying operators either take a
    * `sorted: Boolean` flag (Multimodal) or return unsorted frames
    * that only these gate entries sort. Small aggregate outputs
    * (group-bys, top-ks) keep their sorts; those are semantic.
    *
    * The order is `Bench`'s timing order and the key order of its
    * JSON line.
    */
  val registry: Seq[Query] = distinctNames(Seq(
    query("dedup_ngram_jaccard")((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", n = 3, tauPct = 80))(
      """WITH n AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w)>=3
        |        THEN list_distinct([array_to_string(w[i:i+2],' ') for i in range(1,len(w)-1)])
        |        ELSE [array_to_string(w,' ')] END AS sh FROM n)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(floor(100.0*len(list_intersect(a.sh,b.sh)) /
        |   (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))) AS BIGINT) AS jacc_pct
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE 100*len(list_intersect(a.sh,b.sh)) >= 80*(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))
        |ORDER BY 1,2""".stripMargin),
    query("q1_pricing")((s, d) => Analytics.q1Pricing(t(s, d, "lineitem")))(
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
        | CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
        | CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*100) AS BIGINT)) AS BIGINT) AS sum_charge_c,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    query("q3_topk_join")((s, d) =>
      Analytics.q3TopkJoin(t(s, d, "customer"), t(s, d, "orders"), t(s, d, "lineitem")))(
      """SELECT l.l_orderkey AS l_orderkey,
        | CAST(sum(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        | epoch_us(any_value(o.o_orderdate)) AS odate_us
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING' AND l.l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY revenue_c DESC, l_orderkey LIMIT 10""".stripMargin),
    query("q5_join5")((s, d) =>
      Analytics.q5Join5(
        t(s, d, "region"),
        t(s, d, "nation"),
        t(s, d, "customer"),
        t(s, d, "orders"),
        t(s, d, "lineitem")
      ))(
      """SELECT n.n_name AS n_name,
        | CAST(sum(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA' GROUP BY 1 ORDER BY 1""".stripMargin),
    query("events_hourly")((s, d) => Analytics.eventsHourly(t(s, d, "events")))(
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c, count(*) AS n
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    query("events_hourly_skewed")((s, d) => {
      // same answer as events_hourly, computed through the two-stage
      // salted aggregation — the plan shape for a corpus whose hottest
      // hour dwarfs every other: stage 1 splits each (hour, type) group
      // across saltFactor reducers, stage 2 merges the tiny partials
      val ev = t(s, d, "events").select(
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"),
        col("event_type"),
        Analytics.cents(col("value")).as("value_c")
      )
      graft.operators.Skew
        .saltedSumCount(ev, Seq("hour_us", "event_type"), Seq((col("value_c"), "sum_value_c")), "n")
        .orderBy(col("hour_us"), col("event_type"))
    })(
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c, count(*) AS n
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    query("window_rank")((s, d) => Analytics.windowRank(t(s, d, "orders")))(
      """SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_c, rk
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        CAST(row_number() OVER (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |      FROM orders) ranked
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin),
    query("sessionize")((s, d) => Analytics.sessionize(t(s, d, "events")))(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |l AS (SELECT user_id, event_id, ts_us,
        |        lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us FROM e),
        |b AS (SELECT user_id, event_id, ts_us,
        |        CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT user_id, ts_us,
        |        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM b)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    query("event_transitions")((s, d) =>
      // B70: Markov transition matrix over per-user event sequences —
      // counts + exact-ppm rates per (prev, cur) pair
      TimeSeries.eventTransitions(t(s, d, "events")))(
      """WITH s AS (SELECT user_id, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
        |p AS (SELECT prev, event_type AS cur, CAST(count(*) AS BIGINT) AS n
        |      FROM s WHERE prev IS NOT NULL GROUP BY 1,2),
        |r AS (SELECT prev, CAST(sum(n) AS BIGINT) AS row_n FROM p GROUP BY 1)
        |SELECT p.prev, p.cur, p.n, CAST(p.n * 1000000 // r.row_n AS BIGINT) AS rate_ppm
        |FROM p JOIN r ON p.prev = r.prev ORDER BY p.prev, p.cur""".stripMargin),
    query("rollup_pricing")((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(Analytics.cents(col("l_extendedprice"))).as("sum_base_c"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))(
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
        | count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    query("cube_pricing")((s, d) =>
      // B32: full CUBE grouping sets (completes ROLLUP in B7) — one
      // expand + one agg shuffle, Catalyst's native grouping-sets path
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(Analytics.cents(col("l_extendedprice"))).as("sum_base_c"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))(
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
        | count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    query("decile_spend")((s, d) => {
      // B33: customer spend deciles via ntile — deterministic because
      // the tile order carries a unique tiebreak (spend desc, custkey)
      val spend = t(s, d, "customer").select(col("c_custkey"))
        .join(t(s, d, "orders").select(col("o_custkey"), Analytics.cents(col("o_totalprice")).as("p_c")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(coalesce(sum(col("p_c")), lit(0L)).as("spend_c"))
        .localCheckpoint() // the rank below reads it three times
      // distributed global rank, NOT ntile().over(Window.orderBy(...)):
      // the unpartitioned window sorts every customer in ONE task.
      // globalRowNumber bins by spend so each bin ranks in parallel,
      // and ntileFromRank reproduces SQL ntile semantics exactly
      Analytics
        .globalRowNumber(spend, col("spend_c"), descending = true, Seq(col("c_custkey")))
        .withColumn("decile", Analytics.ntileFromRank(col("rn"), col("n_total"), 10))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("spend_c")).as("decile_spend_c"),
          min(col("spend_c")).as("min_spend_c"))
        .orderBy(col("decile"))
    })(
      """WITH spend AS (
        |  SELECT c_custkey, CAST(coalesce(sum(CAST(round(o_totalprice*100) AS BIGINT)), 0) AS BIGINT) AS spend_c
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1),
        |dec AS (SELECT c_custkey, spend_c, ntile(10) OVER (ORDER BY spend_c DESC, c_custkey) AS decile FROM spend)
        |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_cust,
        |  CAST(sum(spend_c) AS BIGINT) AS decile_spend_c,
        |  CAST(min(spend_c) AS BIGINT) AS min_spend_c
        |FROM dec GROUP BY 1 ORDER BY 1""".stripMargin),
    query("brand_revenue")((s, d) => {
      val li = t(s, d, "lineitem").select(
        col("l_partkey"),
        Analytics.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c")
      )
      li.join(broadcast(t(s, d, "part").select(col("p_partkey"), col("p_brand"))), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    })(
      """SELECT p_brand,
        | CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        | count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("supplier_balance")((s, d) =>
      t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(Analytics.cents(col("s_acctbal"))).as("bal_c"), count(lit(1)).as("n_suppliers"))
        .orderBy(col("n_name")))(
      """SELECT n_name, CAST(sum(CAST(round(s_acctbal*100) AS BIGINT)) AS BIGINT) AS bal_c,
        | count(*) AS n_suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("distinct_users")((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .orderBy(col("event_type")))(
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    query("q6_filter_agg")((s, d) =>
      t(s, d, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
            col("l_discount") >= 0.02 && col("l_discount") <= 0.04 && col("l_quantity") < 10
        )
        .agg(
          sum(Analytics.cents(col("l_extendedprice") * col("l_discount"))).as("revenue_c"),
          count(lit(1)).as("n_rows")
        ))(
      """SELECT
        | CAST(sum(CAST(round(l_extendedprice*l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        | count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 10""".stripMargin),
    query("cust_no_orders")((s, d) =>
      // anti-join: customers with no small order (every FK is covered in
      // the synthetic data, so the interesting NOT EXISTS is conditional)
      t(s, d, "customer")
        .join(
          t(s, d, "orders").filter(col("o_totalprice") < 5000),
          col("c_custkey") === col("o_custkey"),
          "left_anti"
        )
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")))(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice < 5000)
        |ORDER BY c_custkey""".stripMargin),
    query("q4_semi_join")((s, d) => {
      // EXISTS semi-join (TPC-H Q4 shape): orders with any lineitem
      // shipped >90 days after the order date — left_semi keeps the
      // probe side unduplicated, one keyed shuffle
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"), unix_micros(col("l_shipdate").cast("timestamp")).as("l_us"))
      o.join(l,
          col("o_orderkey") === col("l_orderkey") && col("l_us") > col("o_us") + lit(7776000000000L),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    })(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |              AND epoch_us(l.l_shipdate) > epoch_us(o.o_orderdate) + 7776000000000)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("q18_large_orders")((s, d) => {
      // TPC-H Q18 shape: aggregate lineitem per order, filter on the
      // aggregate (HAVING), join back to orders, top-k
      val l = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(Analytics.cents(col("l_quantity"))).as("sum_qty_c"))
        .filter(col("sum_qty_c") > 30000)
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), Analytics.cents(col("o_totalprice")).as("price_c"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("price_c"), col("sum_qty_c"))
        .orderBy(col("sum_qty_c").desc, col("o_orderkey"))
        .limit(20)
    })(
      """WITH lq AS (SELECT l_orderkey, CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
        |            FROM lineitem GROUP BY 1 HAVING sum(CAST(round(l_quantity*100) AS BIGINT)) > 30000)
        |SELECT o_orderkey, o_custkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_c, sum_qty_c
        |FROM orders JOIN lq ON o_orderkey = l_orderkey
        |ORDER BY sum_qty_c DESC, o_orderkey LIMIT 20""".stripMargin),
    query("q13_cust_dist")((s, d) => {
      // TPC-H Q13 shape: order-count distribution. LEFT join keeps
      // zero-order customers; the filter rides the orders scan so the
      // outer join sees only the urgent slice; two keyed aggregations
      val urgent = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      t(s, d, "customer").select(col("c_custkey"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_custs"))
        .orderBy(col("n_custs").desc, col("n_orders").desc)
    })(
      """WITH cnt AS (
        |  SELECT c_custkey, count(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders WHERE o_orderpriority='1-URGENT') o
        |    ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT n_orders, count(*) AS n_custs FROM cnt GROUP BY 1 ORDER BY n_custs DESC, n_orders DESC""".stripMargin),
    query("q17_small_qty")((s, d) => {
      // TPC-H Q17 shape: correlated per-part average, decorrelated to
      // a per-key aggregate joined back on the same key (no subquery
      // re-scan); qty < 0.2*avg as pure integers: 5*qty*n < sum
      val li = t(s, d, "lineitem").select(
        col("l_partkey"),
        col("l_quantity").cast("long").as("qty"),
        Analytics.cents(col("l_extendedprice")).as("price_c"))
      val lp = li.join(
        broadcast(t(s, d, "part").filter(col("p_brand") === "Brand#23").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      val avgq = lp.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("sum_q"), count(lit(1)).as("n_q"))
        .select(col("l_partkey").as("pk"), col("sum_q"), col("n_q"))
      lp.join(avgq, col("l_partkey") === col("pk"))
        .filter(col("qty") * lit(5L) * col("n_q") < col("sum_q"))
        .agg(coalesce(sum(col("price_c")), lit(0L)).as("small_rev_c"), count(lit(1)).as("n_small"))
    })(
      """WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |              CAST(round(l_extendedprice*100) AS BIGINT) AS price_c FROM lineitem),
        |lp AS (SELECT li.* FROM li JOIN (SELECT p_partkey FROM part WHERE p_brand='Brand#23') p ON l_partkey = p_partkey),
        |a AS (SELECT l_partkey AS pk, sum(qty) AS sum_q, count(*) AS n_q FROM lp GROUP BY 1)
        |SELECT CAST(coalesce(sum(price_c), 0) AS BIGINT) AS small_rev_c, count(*) AS n_small
        |FROM lp JOIN a ON l_partkey = pk WHERE qty*5*n_q < sum_q""".stripMargin),
    query("q22_idle_rich")((s, d) => {
      // TPC-H Q22 shape: global scalar subquery (avg positive balance)
      // broadcast into the filter — cross-multiplied (bal*n > sum) so
      // no float average exists — then an anti-join against urgent
      // orders picks the inactive rich accounts
      val cust = t(s, d, "customer").select(
        col("c_custkey"), col("c_mktsegment"), Analytics.cents(col("c_acctbal")).as("bal_c"))
      val g = cust.filter(col("bal_c") > 0)
        .agg(sum(col("bal_c")).as("s"), count(lit(1)).as("n"))
      val urgent = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      cust.crossJoin(broadcast(g))
        .filter(col("bal_c") * col("n") > col("s"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"), sum(col("bal_c")).as("bal_sum_c"))
        .orderBy(col("c_mktsegment"))
    })(
      """WITH cust AS (SELECT c_custkey, c_mktsegment, CAST(round(c_acctbal*100) AS BIGINT) AS bal_c FROM customer),
        |g AS (SELECT sum(bal_c) AS s, count(*) AS n FROM cust WHERE bal_c > 0)
        |SELECT c_mktsegment, count(*) AS n_cust, CAST(sum(bal_c) AS BIGINT) AS bal_sum_c
        |FROM cust, g
        |WHERE bal_c*n > s AND NOT EXISTS
        |  (SELECT 1 FROM orders WHERE o_custkey = cust.c_custkey AND o_orderpriority='1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("funnel_counts")((s, d) =>
      // strict-order funnel over the event log: view -> click (after
      // the first view) -> purchase (after that click)
      Analytics
        .funnelCounts(t(s, d, "events"), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy("stage_idx"))(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s0 AS (SELECT user_id, min(us) AS t0 FROM e WHERE event_type='view' GROUP BY 1),
        |s1 AS (SELECT s0.user_id, s0.t0, min(CASE WHEN e.us > s0.t0 THEN e.us END) AS t1
        |       FROM s0 LEFT JOIN e ON e.user_id = s0.user_id AND e.event_type='click' GROUP BY 1,2),
        |s2 AS (SELECT s1.user_id, s1.t0, s1.t1, min(CASE WHEN e.us > s1.t1 THEN e.us END) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.event_type='purchase' GROUP BY 1,2,3)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, CAST(count(t0) AS BIGINT) AS n_users FROM s2
        |  UNION ALL SELECT 1, 'click', CAST(count(t1) AS BIGINT) FROM s2
        |  UNION ALL SELECT 2, 'purchase', CAST(count(t2) AS BIGINT) FROM s2
        |) ORDER BY stage_idx""".stripMargin),
    query("q2_min_cost")((s, d) =>
      TpchShapes.q2MinCost(t(s, d, "part"), t(s, d, "supplier"), t(s, d, "nation"), t(s, d, "lineitem")))(
      """WITH parts AS (SELECT p_partkey FROM part WHERE p_type='STANDARD' AND p_size<=10),
        |cost AS (SELECT l_partkey, l_suppkey,
        |           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS cost_c
        |         FROM lineitem JOIN parts ON l_partkey=p_partkey GROUP BY 1,2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY l_partkey ORDER BY cost_c, l_suppkey) AS rk FROM cost)
        |SELECT l_partkey AS p_partkey, s_name, n_name, cost_c
        |FROM rk JOIN supplier ON l_suppkey=s_suppkey JOIN nation ON s_nationkey=n_nationkey
        |WHERE rk=1 ORDER BY p_partkey""".stripMargin),
    query("q7_nation_volume")((s, d) =>
      TpchShapes.q7NationVolume(t(s, d, "nation"), t(s, d, "supplier"), t(s, d, "customer"),
        t(s, d, "orders"), t(s, d, "lineitem")))(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem
        |JOIN supplier ON l_suppkey=s_suppkey JOIN nation sn ON s_nationkey=sn.n_nationkey
        |JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey
        |JOIN nation cn ON c_nationkey=cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_18','NATION_19') AND cn.n_name IN ('NATION_18','NATION_19')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin),
    query("q8_market_share")((s, d) =>
      TpchShapes.q8MarketShare(t(s, d, "region"), t(s, d, "nation"), t(s, d, "supplier"),
        t(s, d, "customer"), t(s, d, "part"), t(s, d, "orders"), t(s, d, "lineitem")))(
      """WITH rn AS (SELECT n_nationkey FROM nation JOIN region ON n_regionkey=r_regionkey WHERE r_name='ASIA'),
        |base AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, sn.n_name AS supp_nation,
        |    CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT) AS rev_c
        |  FROM lineitem
        |  JOIN part ON l_partkey=p_partkey
        |  JOIN orders ON l_orderkey=o_orderkey
        |  JOIN customer ON o_custkey=c_custkey
        |  JOIN rn ON c_nationkey=rn.n_nationkey
        |  JOIN supplier ON l_suppkey=s_suppkey
        |  JOIN nation sn ON s_nationkey=sn.n_nationkey
        |  WHERE p_type='PROMO')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation='NATION_5' THEN rev_c ELSE 0 END) AS BIGINT) AS nation_rev_c,
        |  CAST(sum(rev_c) AS BIGINT) AS total_rev_c,
        |  CAST(sum(CASE WHEN supp_nation='NATION_5' THEN rev_c ELSE 0 END)*10000//sum(rev_c) AS BIGINT) AS share_bp
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin),
    query("q9_product_profit")((s, d) =>
      TpchShapes.q9ProductProfit(t(s, d, "nation"), t(s, d, "supplier"), t(s, d, "part"),
        t(s, d, "orders"), t(s, d, "lineitem")))(
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS profit_c
        |FROM lineitem JOIN part ON l_partkey=p_partkey
        |JOIN supplier ON l_suppkey=s_suppkey JOIN nation ON s_nationkey=n_nationkey
        |JOIN orders ON l_orderkey=o_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    query("q10_returned")((s, d) =>
      TpchShapes.q10Returned(t(s, d, "nation"), t(s, d, "customer"), t(s, d, "orders"), t(s, d, "lineitem")))(
      """WITH perc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |  FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |  WHERE l_returnflag='R' AND o_orderdate >= TIMESTAMP '1997-10-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1)
        |SELECT c_custkey, c_name, n_name, CAST(round(c_acctbal*100) AS BIGINT) AS bal_c, revenue_c
        |FROM perc JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey
        |ORDER BY revenue_c DESC, c_custkey LIMIT 20""".stripMargin),
    query("q11_stock_value")((s, d) =>
      TpchShapes.q11StockValue(t(s, d, "nation"), t(s, d, "supplier"), t(s, d, "lineitem")))(
      """WITH supp AS (SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey=n_nationkey
        |              WHERE n_name='NATION_3'),
        |pp AS (SELECT l_partkey, CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS value_c
        |       FROM lineitem JOIN supp ON l_suppkey=s_suppkey GROUP BY 1),
        |tot AS (SELECT sum(value_c) AS total_c, count(*) AS n_parts FROM pp)
        |SELECT l_partkey AS p_partkey, value_c FROM pp, tot
        |WHERE value_c*n_parts > total_c ORDER BY value_c DESC, p_partkey""".stripMargin),
    query("q12_late_lines")((s, d) =>
      TpchShapes.q12LateLines(t(s, d, "orders"), t(s, d, "lineitem")))(
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS n_low
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |WHERE epoch_us(l_shipdate) >= epoch_us(o_orderdate) + 7776000000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("q14_promo_share")((s, d) =>
      TpchShapes.q14PromoShare(t(s, d, "part"), t(s, d, "lineitem")))(
      """WITH base AS (
        |  SELECT p_type, CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT) AS rev_c
        |  FROM lineitem JOIN part ON l_partkey=p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01')
        |SELECT CAST(sum(CASE WHEN p_type='PROMO' THEN rev_c ELSE 0 END) AS BIGINT) AS promo_rev_c,
        |  CAST(sum(rev_c) AS BIGINT) AS total_rev_c,
        |  CAST(sum(CASE WHEN p_type='PROMO' THEN rev_c ELSE 0 END)*10000//sum(rev_c) AS BIGINT) AS share_bp
        |FROM base""".stripMargin),
    query("q15_top_supplier")((s, d) =>
      TpchShapes.q15TopSupplier(t(s, d, "supplier"), t(s, d, "lineitem")))(
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1),
        |mx AS (SELECT max(revenue_c) AS m FROM rev)
        |SELECT s_suppkey, s_name, revenue_c
        |FROM rev CROSS JOIN mx JOIN supplier ON l_suppkey=s_suppkey
        |WHERE revenue_c = m ORDER BY s_suppkey""".stripMargin),
    query("q16_supplier_cnt")((s, d) =>
      TpchShapes.q16SupplierCnt(t(s, d, "supplier"), t(s, d, "part"), t(s, d, "lineitem")))(
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey=p_partkey
        |WHERE p_type <> 'PROMO'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1,2,3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    query("q19_disjunctive")((s, d) =>
      TpchShapes.q19Disjunctive(t(s, d, "part"), t(s, d, "lineitem")))(
      """SELECT CAST(coalesce(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)),0) AS BIGINT) AS revenue_c,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey=p_partkey
        |WHERE l_quantity BETWEEN 1 AND 30 AND (
        |  (p_brand='Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11) OR
        |  (p_brand='Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20) OR
        |  (p_brand='Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))""".stripMargin),
    query("q20_part_promo")((s, d) =>
      TpchShapes.q20PartPromo(t(s, d, "nation"), t(s, d, "supplier"), t(s, d, "part"), t(s, d, "lineitem")))(
      """WITH movers AS (
        |  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey=p_partkey
        |  WHERE p_name LIKE 'red%' AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
        |SELECT s_suppkey, s_name, n_name FROM supplier
        |JOIN nation ON s_nationkey=n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM movers)
        |ORDER BY s_suppkey""".stripMargin),
    query("q21_waiting")((s, d) =>
      TpchShapes.q21Waiting(t(s, d, "supplier"), t(s, d, "orders"), t(s, d, "lineitem")))(
      """WITH li AS (SELECT l_orderkey, l_suppkey, epoch_us(l_shipdate) AS l_us
        |  FROM lineitem JOIN orders ON l_orderkey=o_orderkey WHERE o_orderstatus='F'),
        |po AS (SELECT l_orderkey AS ok, count(DISTINCT l_suppkey) AS n_supp, max(l_us) AS max_us
        |  FROM li GROUP BY 1 HAVING count(DISTINCT l_suppkey) > 1)
        |SELECT s_suppkey, s_name, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_waits
        |FROM li JOIN po ON l_orderkey=ok AND l_us=max_us
        |JOIN supplier ON l_suppkey=s_suppkey
        |GROUP BY 1,2 ORDER BY n_waits DESC, s_suppkey LIMIT 20""".stripMargin),
    query("median_price")((s, d) => {
      // exact grouped DISCRETE median (lower median: element at rank
      // floor((n+1)/2) under a total order) — integer cents make it
      // engine-reproducible where interpolated percentiles are not.
      // Binned selection, NOT a per-group window sort: 5 priority
      // groups would cap the sort at 5-task parallelism (21s at sf10;
      // see Analytics.groupedExactRanks). percentile_approx is the
      // sketch alternative for when exactness can be traded away.
      Analytics
        .groupedExactRanks(
          t(s, d, "orders"), "o_orderpriority", Analytics.cents(col("o_totalprice")),
          Seq("median" -> (n => floor((n + lit(1)) / lit(2.0)))))
        .select(col("o_orderpriority"), col("value").as("median_price_c"), col("n").as("n_orders"))
        .orderBy(col("o_orderpriority"))
    })(
      """WITH r AS (SELECT o_orderpriority, CAST(round(o_totalprice*100) AS BIGINT) AS price_c,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(round(o_totalprice*100) AS BIGINT), o_orderkey) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS n
        | FROM orders)
        |SELECT o_orderpriority, price_c AS median_price_c, CAST(n AS BIGINT) AS n_orders
        |FROM r WHERE rn = (n+1)//2 ORDER BY o_orderpriority""".stripMargin),
    query("quartiles_price")((s, d) => {
      // B25: exact grouped discrete quartiles (ranks ceil(q*n)) — all
      // three cut points resolved by ONE binned selection pass
      // (Analytics.groupedExactRanks), never a per-group full sort;
      // the three ranks usually land in different bins and rank
      // independently in parallel
      Analytics
        .groupedExactRanks(
          t(s, d, "orders"), "o_orderpriority", Analytics.cents(col("o_totalprice")),
          Seq(
            "p25" -> (n => ceil(n / lit(4.0))),
            "p50" -> (n => ceil(n / lit(2.0))),
            "p75" -> (n => ceil(n * lit(3) / lit(4.0)))))
        .groupBy(col("o_orderpriority"))
        .agg(
          min(when(col("rank_name") === "p25", col("value"))).as("p25_c"),
          min(when(col("rank_name") === "p50", col("value"))).as("p50_c"),
          min(when(col("rank_name") === "p75", col("value"))).as("p75_c"),
          max(col("n")).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    })(
      """WITH r AS (SELECT o_orderpriority, CAST(round(o_totalprice*100) AS BIGINT) AS price_c,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(round(o_totalprice*100) AS BIGINT), o_orderkey) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS n
        | FROM orders)
        |SELECT o_orderpriority,
        |  min(CASE WHEN rn = ceil(n/4.0) THEN price_c END) AS p25_c,
        |  min(CASE WHEN rn = ceil(n/2.0) THEN price_c END) AS p50_c,
        |  min(CASE WHEN rn = ceil(n*3/4.0) THEN price_c END) AS p75_c,
        |  CAST(max(n) AS BIGINT) AS n_orders
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
    query("winsorize_stats")((s, d) => {
      // B69: per-brand winsorized revenue — P05/P95 cut points via the
      // binned selection pass (groupedExactRanks, never a per-group
      // full sort), broadcast back, outliers clamped in ONE re-scan's
      // conditional sum. The robust-mean inputs (n, cuts, clamped sum)
      // stay integer cents so the report is engine-exact.
      // The (brand, v_c) frame is CHECKPOINTED: selection is
      // multi-pass (per-group stats, per-rank targets, bin histogram,
      // in-bin rank) plus the final clamped re-scan, and without it
      // each pass re-executed the lineitem×part join — 28 FileScans
      // in the r12 before-plan, the whole join 4+ times per run
      // (plans/r12/winsorize_stats_{before,after}.txt).
      val v = t(s, d, "lineitem")
        .select(col("l_partkey"), Analytics.cents(col("l_extendedprice")).as("v_c"))
        .join(
          t(s, d, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"), col("v_c"))
        .localCheckpoint()
      val cuts = Analytics
        .groupedExactRanks(
          v, "brand", col("v_c"),
          Seq(
            "p05" -> (n => ceil(n / lit(20.0))),
            "p95" -> (n => ceil(n * lit(19) / lit(20.0)))))
        .groupBy(col("brand"))
        .agg(
          min(when(col("rank_name") === "p05", col("value"))).as("p05_c"),
          min(when(col("rank_name") === "p95", col("value"))).as("p95_c"))
      v.join(broadcast(cuts), "brand")
        .groupBy(col("brand"), col("p05_c"), col("p95_c"))
        .agg(
          count(lit(1)).as("n"),
          sum(
            when(col("v_c") < col("p05_c"), col("p05_c"))
              .when(col("v_c") > col("p95_c"), col("p95_c"))
              .otherwise(col("v_c"))).as("wins_sum_c"))
        .select(col("brand"), col("n"), col("p05_c"), col("p95_c"), col("wins_sum_c"))
        .orderBy(col("brand"))
    })(
      """WITH v AS (SELECT p.p_brand AS brand, CAST(round(l.l_extendedprice*100) AS BIGINT) AS v_c,
        |                  l.l_orderkey, l.l_linenumber
        |           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |rk AS (SELECT brand, v_c,
        |         CAST(row_number() OVER (PARTITION BY brand ORDER BY v_c, l_orderkey, l_linenumber) AS BIGINT) AS rn,
        |         count(*) OVER (PARTITION BY brand) AS n
        |       FROM v),
        |cuts AS (SELECT brand,
        |    min(CASE WHEN rn = CAST(ceil(n/20.0) AS BIGINT) THEN v_c END) AS p05_c,
        |    min(CASE WHEN rn = CAST(ceil(n*19/20.0) AS BIGINT) THEN v_c END) AS p95_c
        |  FROM rk GROUP BY 1)
        |SELECT v.brand, CAST(count(*) AS BIGINT) AS n, c.p05_c, c.p95_c,
        |  CAST(sum(CASE WHEN v.v_c < c.p05_c THEN c.p05_c
        |                WHEN v.v_c > c.p95_c THEN c.p95_c ELSE v.v_c END) AS BIGINT) AS wins_sum_c
        |FROM v JOIN cuts c ON v.brand = c.brand
        |GROUP BY 1,3,4 ORDER BY 1""".stripMargin),
    query("anomaly_days")((s, d) => {
      // B26: spike/dip detection over the daily event series — each
      // day flagged against 110%/90% of the corpus mean rate. The
      // comparisons are cross-multiplied integers (10*n*n_days vs
      // 11*total) so no float mean ever exists; the 1-row global
      // aggregate broadcasts into the projection.
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val totals = daily.agg(sum(col("n")).as("total"), count(lit(1)).as("n_days"))
      daily
        .crossJoin(broadcast(totals))
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"),
          when(col("n") * col("n_days") * 10 > col("total") * 11, 1L)
            .when(col("n") * col("n_days") * 10 < col("total") * 9, -1L)
            .otherwise(0L)
            .as("anomaly")
        )
        .orderBy("day")
    })(
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_days FROM d)
        |SELECT strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n,
        |       CAST(CASE WHEN n * n_days * 10 > total * 11 THEN 1
        |            WHEN n * n_days * 10 < total * 9 THEN -1 ELSE 0 END AS BIGINT) AS anomaly
        |FROM d, t ORDER BY day""".stripMargin),
    query("anomaly_mad")((s, d) =>
      // B54: robust (median/MAD) anomaly days — B26's mean-band twin
      // with an outlier-immune baseline; all-integer lower medians
      TimeSeries.anomalyMadDays(t(s, d, "events")))(
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM d),
        |r AS (SELECT day, cnt, row_number() OVER (ORDER BY cnt, day) AS rn FROM d),
        |med AS (SELECT cnt AS med FROM r, n WHERE rn = (n + 1) // 2),
        |dv AS (SELECT day, cnt, med, abs(cnt - med) AS dev FROM d, med),
        |r2 AS (SELECT dev, row_number() OVER (ORDER BY dev, day) AS rn FROM dv),
        |mad AS (SELECT dev AS mad FROM r2, n WHERE rn = (n + 1) // 2)
        |SELECT strftime(dv.day, '%Y-%m-%d') AS day, dv.cnt, dv.med, CAST(mad.mad AS BIGINT) AS mad,
        |       CAST(CASE WHEN dv.dev >= 3 * greatest(mad.mad, 1) THEN 1 ELSE 0 END AS BIGINT) AS anomaly
        |FROM dv, mad ORDER BY day""".stripMargin),
    query("changepoint_cusum")((s, d) =>
      // B68: integer-scaled CUSUM mean-shift changepoint over the
      // daily event-count series; the peak-|cusum| day is flagged
      TimeSeries.cusumChangepoint(t(s, d, "events")))(
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day_id, CAST(count(*) AS BIGINT) AS n
        |               FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS d FROM daily),
        |c AS (SELECT day_id, n,
        |        CAST(sum(n * tot.d - tot.t) OVER (ORDER BY day_id) AS BIGINT) AS cusum_scaled
        |      FROM daily, tot),
        |m AS (SELECT max(abs(cusum_scaled)) AS mx FROM c)
        |SELECT CAST(day_id AS BIGINT) AS day_id, n, cusum_scaled,
        |  CAST(CASE WHEN abs(cusum_scaled) = m.mx THEN 1 ELSE 0 END AS BIGINT) AS is_peak
        |FROM c, m ORDER BY day_id""".stripMargin),
    query("events_twap")((s, d) =>
      // B53: per-(user, day) time-weighted average — hold-until-next
      // weighting, milli-unit integer math, (user, day) windows only
      TimeSeries.twap(t(s, d, "events")))(
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS us,
        |                  CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
        |s AS (SELECT user_id, day, vm,
        |             (lead(us) OVER (PARTITION BY user_id, day ORDER BY us, event_id) - us) // 1000 AS dt_ms
        |      FROM e)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |       CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(vm * dt_ms) // sum(dt_ms) AS BIGINT) AS twap_milli
        |FROM s WHERE dt_ms IS NOT NULL
        |GROUP BY user_id, day HAVING sum(dt_ms) > 0 ORDER BY user_id, day""".stripMargin),
    query("events_ewma")((s, d) =>
      // B55: per-user integer EWMA fold in (ts, event_id) order
      TimeSeries.ewma(t(s, d, "events"), alphaPct = 20))(
      // list_reduce seeds the fold with the first list element — the
      // exact twin of the slice+aggregate(init=xs[0]) form engine-side
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |                  CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
        |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |             list_sort(list(struct_pack(us := us, eid := event_id, vm := vm))) AS xs
        |      FROM e GROUP BY 1)
        |SELECT user_id, n_events,
        |       CAST(list_reduce(list_transform(xs, s -> s.vm),
        |                        (acc, x) -> (80 * acc + 20 * x) // 100) AS BIGINT) AS ewma_milli
        |FROM g ORDER BY user_id""".stripMargin),
    query("events_holt")((s, d) =>
      // B58: per-user Holt level+trend fold, bit-packed two-part state
      TimeSeries.holt(t(s, d, "events"), alphaPct = 20, betaPct = 10))(
      // packed Holt state: acc = (l + 2^35)*2^26 + (t + 2^25), strictly
      // positive so % / // unpack identically in both engines; the seed
      // is prepended PACKED, mirroring aggregate(init = pack(x0, 0))
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |                  CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
        |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |             list_sort(list(struct_pack(us := us, eid := event_id, vm := vm))) AS xs
        |      FROM e GROUP BY 1),
        |f AS (SELECT user_id, n_events,
        |        list_reduce(list_prepend((xs[1].vm + 34359738368) * 67108864 + 33554432,
        |                                 list_transform(xs[2:], s -> s.vm)),
        |          (acc, x) -> (((20 * x + 80 * ((acc // 67108864 - 34359738368) + (acc % 67108864 - 33554432))) // 100 + 34359738368) * 67108864)
        |                    + (((10 * (((20 * x + 80 * ((acc // 67108864 - 34359738368) + (acc % 67108864 - 33554432))) // 100) - (acc // 67108864 - 34359738368))
        |                        + 90 * (acc % 67108864 - 33554432)) // 100) + 33554432)) AS acc
        |      FROM g)
        |SELECT user_id, n_events,
        |       CAST(acc // 67108864 - 34359738368 AS BIGINT) AS level_milli,
        |       CAST(acc % 67108864 - 33554432 AS BIGINT) AS trend_milli
        |FROM f ORDER BY user_id""".stripMargin),
    query("recon_counts")((s, d) => {
      // B27: post-sync reconciliation — the validation a migration tool
      // runs after a sync pass (the reference eyeballs row counts;
      // es_to_bytehouse.py:963-1018 compares source/target totals).
      // Full outer join on the key, presence classified per side, one
      // keyed shuffle each side + one count aggregate.
      val src = t(s, d, "orders").select(col("o_orderkey").as("k")).distinct()
      val tgt = t(s, d, "lineitem").select(col("l_orderkey").as("k2")).distinct()
      src
        .join(tgt, col("k") === col("k2"), "full_outer")
        .select(
          when(col("k").isNotNull && col("k2").isNotNull, "both")
            .when(col("k").isNotNull, "source_only")
            .otherwise("target_only")
            .as("presence")
        )
        .groupBy(col("presence"))
        .agg(count(lit(1)).as("n_keys"))
        .orderBy(col("presence"))
    })(
      """WITH s AS (SELECT DISTINCT o_orderkey AS k FROM orders),
        |g AS (SELECT DISTINCT l_orderkey AS k2 FROM lineitem)
        |SELECT CASE WHEN k IS NOT NULL AND k2 IS NOT NULL THEN 'both'
        |            WHEN k IS NOT NULL THEN 'source_only' ELSE 'target_only' END AS presence,
        |       count(*) AS n_keys
        |FROM s FULL OUTER JOIN g ON k = k2
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("retention_cohorts")((s, d) =>
      // B21: weekly signup-cohort retention
      TimeSeries.retentionCohorts(t(s, d, "events"), "signup"))(
      """WITH s AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        |           FROM events WHERE event_type='signup' GROUP BY 1)
        |SELECT epoch_us(cohort_week) AS cohort_week_us,
        |       CAST(date_diff('day', cohort_week, date_trunc('week', e.ts)) // 7 AS BIGINT) AS weeks_since,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN s USING (user_id)
        |WHERE date_trunc('week', e.ts) >= cohort_week
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    query("resample_gapfill")((s, d) =>
      // B22: per-user daily grid over the corpus span, zero-filled
      TimeSeries.gapFillDaily(t(s, d, "events"), "error", maxUserId = 8L))(
      """WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
        |ev AS (SELECT * FROM events WHERE event_type='error' AND user_id < 8),
        |grid AS (SELECT u.user_id, CAST(unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS DATE) AS day
        |         FROM (SELECT DISTINCT user_id FROM ev) u, span s),
        |c AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n FROM ev GROUP BY 1,2)
        |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day, CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
        |FROM grid g LEFT JOIN c ON g.user_id = c.user_id AND g.day = c.day
        |ORDER BY 1, 2""".stripMargin),
    query("moving_7d")((s, d) =>
      // B23: trailing 7-day RANGE-frame revenue window
      TimeSeries.movingRevenue7d(t(s, d, "lineitem")))(
      """WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |                  CAST(sum(round(l_extendedprice*100)) AS BIGINT) AS rev_c
        |           FROM lineitem GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, rev_c,
        |       CAST(sum(rev_c) OVER w AS BIGINT) AS rev_7d_c,
        |       CAST(count(*) OVER w AS BIGINT) AS n_days_7d
        |FROM d
        |WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin),
    query("cumulative_revenue")((s, d) => {
      // B31: running total per day. The unpartitioned UNBOUNDED
      // PRECEDING window is fine at 100 TB because it consumes the
      // day-level AGGREGATE (a few thousand rows), never the fact
      // table — same shape discipline as moving_7d
      val daily = t(s, d, "lineitem")
        .groupBy(date_trunc("day", col("l_shipdate").cast("timestamp")).as("day"))
        .agg(sum(Analytics.cents(col("l_extendedprice"))).as("rev_c"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      daily.select(unix_micros(col("day")).as("day_us"), col("rev_c"),
          sum(col("rev_c")).over(w).as("cum_rev_c"))
        .orderBy(col("day_us"))
    })(
      """WITH daily AS (SELECT date_trunc('day', l_shipdate) AS day,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem GROUP BY 1)
        |SELECT epoch_us(day) AS day_us, rev_c,
        |  CAST(sum(rev_c) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_c
        |FROM daily ORDER BY day_us""".stripMargin),
    query("pivot_daily_events")((s, d) =>
      // B24: daily counts pivoted to one column per event type
      TimeSeries.pivotDailyCounts(t(s, d, "events"),
        Seq("click", "error", "purchase", "signup", "view")))(
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |       count(*) FILTER (WHERE event_type='click') AS n_click,
        |       count(*) FILTER (WHERE event_type='error') AS n_error,
        |       count(*) FILTER (WHERE event_type='purchase') AS n_purchase,
        |       count(*) FILTER (WHERE event_type='signup') AS n_signup,
        |       count(*) FILTER (WHERE event_type='view') AS n_view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    query("grouping_sets_mix")((s, d) => {
      // B59: EXPLICIT grouping sets — the non-hierarchical middle
      // ground rollup/cube can't express: (flag, status), (flag),
      // (status) but NOT the grand total. grouping_id() disambiguates
      // the null-as-ALL rows exactly like the SQL standard
      t(s, d, "lineitem").createOrReplaceTempView("li_gs")
      s.sql("""SELECT l_returnflag, l_linestatus,
               |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
               |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sum_base_c,
               |  count(*) AS n
               |FROM li_gs
               |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
               |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    })(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    query("window_suite")((s, d) => {
      // B60: the remaining rank-family window functions — rank,
      // dense_rank, percent_rank and cume_dist in exact integer basis
      // points (derived from rank/count windows, no engine-edge-case
      // doubles), ntile(4) over a unique ordering. Partitioned by
      // (status, day): thousands of small partitions, never a global
      // sort
      import org.apache.spark.sql.expressions.Window
      val o = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val part = Window.partitionBy(col("o_orderstatus"), col("day"))
      val wv = part.orderBy(col("cents"))
      val wu = part.orderBy(col("cents"), col("o_orderkey"))
      o.select(
          col("o_orderkey"), col("o_orderstatus"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("cents"),
          rank().over(wv).cast("long").as("rnk"),
          dense_rank().over(wv).cast("long").as("drnk"),
          count(lit(1)).over(wv).as("n_le"), // default frame: RANGE → ties included
          count(lit(1)).over(part.orderBy(col("cents"))
            .rangeBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("n"),
          ntile(4).over(wu).cast("long").as("quartile"))
        .select(
          col("o_orderkey"), col("o_orderstatus"), col("day"), col("cents"),
          col("rnk"), col("drnk"),
          expr("((rnk - 1) * 10000) DIV greatest(n - 1, 1)").as("pr_bp"),
          expr("(n_le * 10000) DIV n").as("cume_bp"),
          col("quartile"))
        .orderBy(col("o_orderstatus"), col("day"), col("cents"), col("o_orderkey"))
    })(
      """WITH o AS (SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS day,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT *,
        |  CAST(rank() OVER (PARTITION BY o_orderstatus, day ORDER BY cents) AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER (PARTITION BY o_orderstatus, day ORDER BY cents) AS BIGINT) AS drnk,
        |  CAST(count(*) OVER (PARTITION BY o_orderstatus, day ORDER BY cents) AS BIGINT) AS n_le,
        |  CAST(count(*) OVER (PARTITION BY o_orderstatus, day) AS BIGINT) AS n,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderstatus, day ORDER BY cents, o_orderkey) AS BIGINT) AS quartile
        |FROM o)
        |SELECT o_orderkey, o_orderstatus, strftime(day, '%Y-%m-%d') AS day, cents, rnk, drnk,
        |  CAST(((rnk - 1) * 10000) // greatest(n - 1, 1) AS BIGINT) AS pr_bp,
        |  CAST((n_le * 10000) // n AS BIGINT) AS cume_bp, quartile
        |FROM r ORDER BY o_orderstatus, day, cents, o_orderkey""".stripMargin),
    query("trend_slope")((s, d) =>
      // B56: per-brand OLS daily-revenue trend, integer-exact moments
      Analytics.trendSlope(t(s, d, "lineitem"), t(s, d, "part")))(
      """WITH daily AS (
        |  SELECT p_brand, CAST(l_shipdate AS DATE) AS day,
        |         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) // 100 AS BIGINT) AS yd
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |x AS (SELECT p_brand, CAST(date_diff('day', DATE '1992-01-01', day) AS BIGINT) AS x, yd FROM daily),
        |m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_days, sum(x) AS sx, sum(yd) AS sy,
        |             sum(x * yd) AS sxy, sum(x * x) AS sxx FROM x GROUP BY 1)
        |SELECT p_brand, n_days,
        |  CAST((1000 * (CAST(n_days AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy))
        |       // (CAST(n_days AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS slope_md
        |FROM m ORDER BY p_brand""".stripMargin),
    query("corr_pairs")((s, d) =>
      // B57: quantity-discount Pearson corr per return flag,
      // bit-reproducible IEEE tail over exact integer moments
      Analytics.corrPairs(t(s, d, "lineitem")))(
      """WITH b AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |                  CAST(floor(l_discount * 10000) AS BIGINT) AS y FROM lineitem),
        |m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM b GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |   / sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
        |   / sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)) AS corr_qd
        |FROM m ORDER BY l_returnflag""".stripMargin),
    query("cdc_apply")((s, d) => {
      // A35: I/U/D change stream applied to a base snapshot — deletes
      // round out the upsert sync core. Changes staged from orders:
      // %10>=8 inserts (new keys), %10<=1 deletes, rest updates;
      // o_orderkey is the unique log sequence
      val base = t(s, d, "customer")
        .select(col("c_custkey"), floor(col("c_acctbal") * 100).cast("long").as("bal_c"))
      val ch = t(s, d, "orders").select(
        when(col("o_orderkey") % 10 >= 8, col("o_custkey") + 10000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 10 >= 8, lit("I"))
          .when(col("o_orderkey") % 10 <= 1, lit("D"))
          .otherwise(lit("U")).as("op"),
        floor(col("o_totalprice") * 100).cast("long").as("bal_c"))
      Incremental.cdcApply(base, ch, "c_custkey", "seq", "op", Seq("bal_c"))
    })(
      """WITH base AS (SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer),
        |ch AS (SELECT CASE WHEN o_orderkey % 10 >= 8 THEN o_custkey + 10000000 ELSE o_custkey END AS c_custkey,
        |              o_orderkey AS seq,
        |              CASE WHEN o_orderkey % 10 >= 8 THEN 'I' WHEN o_orderkey % 10 <= 1 THEN 'D' ELSE 'U' END AS op,
        |              CAST(floor(o_totalprice * 100) AS BIGINT) AS bal_c FROM orders),
        |last AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM ch) WHERE rn = 1)
        |SELECT c_custkey,
        |       CASE WHEN l.op IS NOT NULL THEN 'cdc' ELSE 'base' END AS src,
        |       CASE WHEN l.op IS NOT NULL THEN l.bal_c ELSE b.bal_c END AS bal_c
        |FROM base b FULL OUTER JOIN last l USING (c_custkey)
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY c_custkey""".stripMargin),
    query("events_hourly_incr")((s, d) => {
      // B51: incremental aggregate maintenance — persisted hourly
      // partials (the "history" side, 90% of events) absorb the new
      // batch's partials without rescanning history; the merged
      // answer must equal the full recompute (which IS the oracle)
      val ev = t(s, d, "events")
      def partials(df: DataFrame): DataFrame = df
        .groupBy(
          unix_micros(date_trunc("hour", col("ts"))).as("hour_us"),
          col("event_type"))
        .agg(sum(Analytics.cents(col("value"))).as("sum_value_c"),
          count(lit(1)).as("n"))
      val state = partials(ev.filter(col("event_id") % 10 =!= 0))
      val batch = partials(ev.filter(col("event_id") % 10 === 0))
      Incremental.mergeRollup(state, batch, Seq("hour_us", "event_type"), Seq("sum_value_c", "n"))
        .orderBy(col("hour_us"), col("event_type"))
    })(
      // the merged (state + batch partials) rollup must equal the full
      // recompute — so the full recompute IS the oracle
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c, count(*) AS n
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    query("profile_table")((s, d) =>
      // B49: ANALYZE-style per-column profile of lineitem in ONE scan
      // (single multi-distinct aggregate + 1-row unpivot)
      Analytics.profileTable(t(s, d, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus", "l_shipdate")))(
      """SELECT 'l_orderkey' AS col_name, count(*) AS n_rows, count(*) - count(l_orderkey) AS n_nulls,
        |  count(DISTINCT l_orderkey) AS n_distinct, CAST(min(l_orderkey) AS VARCHAR) AS min_str,
        |  CAST(max(l_orderkey) AS VARCHAR) AS max_str FROM lineitem
        |UNION ALL SELECT 'l_partkey', count(*), count(*) - count(l_partkey), count(DISTINCT l_partkey),
        |  CAST(min(l_partkey) AS VARCHAR), CAST(max(l_partkey) AS VARCHAR) FROM lineitem
        |UNION ALL SELECT 'l_suppkey', count(*), count(*) - count(l_suppkey), count(DISTINCT l_suppkey),
        |  CAST(min(l_suppkey) AS VARCHAR), CAST(max(l_suppkey) AS VARCHAR) FROM lineitem
        |UNION ALL SELECT 'l_linenumber', count(*), count(*) - count(l_linenumber), count(DISTINCT l_linenumber),
        |  CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR) FROM lineitem
        |UNION ALL SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag), count(DISTINCT l_returnflag),
        |  CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR) FROM lineitem
        |UNION ALL SELECT 'l_linestatus', count(*), count(*) - count(l_linestatus), count(DISTINCT l_linestatus),
        |  CAST(min(l_linestatus) AS VARCHAR), CAST(max(l_linestatus) AS VARCHAR) FROM lineitem
        |UNION ALL SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate), count(DISTINCT l_shipdate),
        |  strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'), strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') FROM lineitem
        |ORDER BY col_name""".stripMargin),
    query("equidepth_hist")((s, d) =>
      // B63: 16-bucket equi-depth histogram of lineitem price cents —
      // the distribution profile profile_table can't see; exact ntile
      // semantics through the distributed globalRowNumber rank
      Analytics.equidepthHist(t(s, d, "lineitem"),
        Analytics.cents(col("l_extendedprice")),
        Seq(col("l_orderkey"), col("l_linenumber")), buckets = 16))(
      """WITH v AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v_c, l_orderkey, l_linenumber FROM lineitem),
        |r AS (SELECT v_c, ntile(16) OVER (ORDER BY v_c, l_orderkey, l_linenumber) AS bucket FROM v)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(min(v_c) AS BIGINT) AS lo_c, CAST(max(v_c) AS BIGINT) AS hi_c
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
    query("rfm_segments")((s, d) =>
      // B65: recency/frequency/monetary quintile coding, exact ntile
      // semantics through the distributed rank (customers with orders)
      Analytics.rfmSegments(t(s, d, "customer"), t(s, d, "orders")))(
      """WITH base AS (
        |  SELECT c_custkey,
        |    CAST(max(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT) AS last_day,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS spend_c
        |  FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1)
        |SELECT c_custkey, last_day, n_orders, spend_c,
        |  CAST(ntile(5) OVER (ORDER BY last_day, c_custkey) AS BIGINT) AS r_code,
        |  CAST(ntile(5) OVER (ORDER BY n_orders, c_custkey) AS BIGINT) AS f_code,
        |  CAST(ntile(5) OVER (ORDER BY spend_c, c_custkey) AS BIGINT) AS m_code
        |FROM base ORDER BY c_custkey""".stripMargin),
    query("basket_lift")((s, d) =>
      // B66: co-ordered part pairs ranked by integer lift (C62's
      // exact-ratio discipline on baskets)
      Analytics.basketLift(t(s, d, "lineitem"), minCount = 3, topK = 20))(
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
        |ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY 1),
        |p AS (SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS n_ab
        |      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT pa, pb, n_ab, ia.c AS na, ib.c AS nb,
        |  CAST((CAST(n.n_orders AS HUGEINT) * n_ab * 1000000) // (CAST(ia.c AS HUGEINT) * ib.c) AS BIGINT) AS lift_ppm
        |FROM p JOIN ic ia ON p.pa = ia.pk JOIN ic ib ON p.pb = ib.pk, n
        |ORDER BY lift_ppm DESC, pa, pb LIMIT 20""".stripMargin),
    query("dq_violations")((s, d) => {
      // B50: declarative constraint report — row-predicate rules fuse
      // into one scan per table, FK is a broadcast anti join, PK
      // uniqueness one keyed agg
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem")
      val c = t(s, d, "customer")
      DataQuality.report(Seq(
        DataQuality.predicateViolations(l, Seq(
          "lineitem_qty_null" -> col("l_quantity").isNull,
          "lineitem_qty_range" -> !col("l_quantity").between(1, 50),
          "lineitem_discount_range" -> !col("l_discount").between(0, 0.1))),
        DataQuality.predicateViolations(o, Seq(
          "orders_price_positive" -> (col("o_totalprice") <= 0),
          "orders_status_domain" -> !col("o_orderstatus").isin("O", "F", "P"))),
        DataQuality.fkViolations("orders_fk_customer", o, "o_custkey", c, "c_custkey"),
        DataQuality.dupKeyViolations("orders_pk_unique", o, Seq("o_orderkey"))))
    })(
      """SELECT 'lineitem_qty_null' AS rule,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM lineitem
        |UNION ALL SELECT 'lineitem_qty_range',
        |  CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'lineitem_discount_range',
        |  CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0 AND 0.1) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'orders_price_positive',
        |  CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders_status_domain',
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders_fk_customer', CAST(count(*) AS BIGINT)
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL
        |UNION ALL SELECT 'orders_pk_unique', CAST(coalesce(sum(n - 1), 0) AS BIGINT)
        |  FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY 1) g
        |ORDER BY rule""".stripMargin),
    query("drift_report")((s, d) =>
      // B67: old-half vs new-half distribution drift of order totals —
      // 16 equi-width bins, per-bin counts + exact-ppm rate shift
      DataQuality.driftReport(
        t(s, d, "orders"),
        Analytics.cents(col("o_totalprice")),
        unix_micros(col("o_orderdate").cast("timestamp"))))(
      """WITH o AS (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS v_c,
        |                  epoch_us(o_orderdate) AS d_us FROM orders),
        |sp AS (SELECT (min(d_us) + max(d_us)) // 2 AS mid, min(v_c) AS lo, max(v_c) AS hi FROM o),
        |b AS (SELECT CAST(((v_c - sp.lo) * 16) // (sp.hi - sp.lo + 1) AS BIGINT) AS bin,
        |             CASE WHEN d_us <= sp.mid THEN 0 ELSE 1 END AS side
        |      FROM o, sp),
        |c AS (SELECT bin,
        |        CAST(count(*) FILTER (WHERE side=0) AS BIGINT) AS n_ref,
        |        CAST(count(*) FILTER (WHERE side=1) AS BIGINT) AS n_cur
        |      FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr, CAST(sum(n_cur) AS BIGINT) AS tc FROM c)
        |SELECT bin, n_ref, n_cur,
        |  CAST(n_cur * 1000000 // tot.tc - n_ref * 1000000 // tot.tr AS BIGINT) AS rate_diff_ppm
        |FROM c, tot ORDER BY bin""".stripMargin),
    query("skew_report")((s, d) =>
      // B52: hottest-key census for a prospective key — exact counts +
      // share in basis points; top-k via TakeOrdered, never a full sort
      graft.operators.Skew.skewReport(t(s, d, "events"), Seq("user_id"), topK = 10)
        .orderBy(col("rk")))(
      """WITH c AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
        |t AS (SELECT sum(n_rows) AS total FROM c),
        |r AS (SELECT user_id, n_rows, (10000 * n_rows) // total AS share_bp,
        |        CAST(row_number() OVER (ORDER BY n_rows DESC, user_id) AS BIGINT) AS rk
        |      FROM c, t)
        |SELECT user_id, n_rows, CAST(share_bp AS BIGINT) AS share_bp, rk
        |FROM r WHERE rk <= 10 ORDER BY rk""".stripMargin),
    query("asof_last_click")((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts_us")
      val clicks = ev.filter(col("event_type") === "click").select("user_id", "ts_us")
      AsOfJoin
        .lastBefore(purchases, clicks, "user_id", "ts_us", "ts_us", "ts_us")
        .orderBy(col("event_id"))
    })(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us FROM e WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts_us, c.ts_us AS asof_ts_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts_us <= p.ts_us
        |ORDER BY p.event_id""".stripMargin),
    query("asof_within")((s, d) => {
      // B61: bounded as-of — last click within 1 hour of the purchase;
      // stale matches (latest click older than the bound) are NULL
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts_us")
      val clicks = ev.filter(col("event_type") === "click").select("user_id", "ts_us")
      AsOfJoin
        .lastWithin(purchases, clicks, "user_id", "ts_us", "ts_us", "ts_us", tolerance = 3600000000L)
        .orderBy(col("event_id"))
    })(
      // bounded as-of: DuckDB's ASOF picks the latest preceding row;
      // if that one is stale no within-bound row exists, so the CASE
      // post-filter is exact
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us FROM e WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts_us,
        |       CASE WHEN p.ts_us - c.ts_us <= 3600000000 THEN c.ts_us END AS asof_ts_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts_us <= p.ts_us
        |ORDER BY p.event_id""".stripMargin),
    query("asof_nearest")((s, d) => {
      // B71: nearest as-of — the click closest in time to each purchase
      // in EITHER direction within 30 minutes (QuestDB/Polars `nearest`
      // strategy); equal-distance ties take the backward row
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts_us")
      val clicks = ev.filter(col("event_type") === "click").select("user_id", "ts_us")
      AsOfJoin
        .nearestWithin(purchases, clicks, "user_id", "ts_us", "ts_us", "ts_us", tolerance = 1800000000L)
        .orderBy(col("event_id"))
    })(
      // nearest as-of: two DuckDB ASOF passes (backward <=, forward >=)
      // give the exact candidates; the nearest/tolerance/tie decision is
      // the same per-row CASE the engine projects
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us FROM e WHERE event_type = 'click'),
        |b AS (SELECT p.event_id, c.ts_us AS b_ts FROM p ASOF LEFT JOIN c
        |      ON p.user_id = c.user_id AND p.ts_us >= c.ts_us),
        |f AS (SELECT p.event_id, c.ts_us AS f_ts FROM p ASOF LEFT JOIN c
        |      ON p.user_id = c.user_id AND p.ts_us <= c.ts_us),
        |k AS (SELECT p.user_id, p.event_id, p.ts_us, b.b_ts, f.f_ts,
        |        (b.b_ts IS NOT NULL AND p.ts_us - b.b_ts <= 1800000000) AS b_ok,
        |        (f.f_ts IS NOT NULL AND f.f_ts - p.ts_us <= 1800000000) AS f_ok
        |      FROM p LEFT JOIN b ON p.event_id = b.event_id
        |             LEFT JOIN f ON p.event_id = f.event_id)
        |SELECT user_id, event_id, ts_us,
        |  CASE WHEN b_ok AND (NOT f_ok OR ts_us - b_ts <= f_ts - ts_us) THEN b_ts
        |       WHEN f_ok THEN f_ts END AS asof_ts_us,
        |  CASE WHEN b_ok AND (NOT f_ok OR ts_us - b_ts <= f_ts - ts_us) THEN -(ts_us - b_ts)
        |       WHEN f_ok THEN f_ts - ts_us END AS asof_dt
        |FROM k ORDER BY event_id""".stripMargin),
    query("interval_join")((s, d) => {
      // batch interval join: per purchase, clicks by the same user in
      // the preceding hour — equi-join on user + range join filter, so
      // the shuffle is keyed (never a cross join); the streaming twin
      // is the stream-stream interval join in StreamingSpec
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"))
      p.join(c,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("ts_us") - lit(3600000000L) && col("c_ts") < col("ts_us"),
          "left")
        .groupBy(col("event_id"), col("user_id"), col("ts_us"))
        .agg(count(col("c_user")).as("n_clicks_1h"))
        .orderBy("event_id")
    })(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, ts_us AS c_ts FROM e WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts_us, count(c.c_user) AS n_clicks_1h
        |FROM p LEFT JOIN c ON p.user_id = c.c_user
        |  AND c.c_ts >= p.ts_us - 3600000000 AND c.c_ts < p.ts_us
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),
    query("range_join_binned")((s, d) =>
      // B48: errors within ±30min of each purchase, no equi key —
      // binned to an equi join so no nested-loop ever runs
      TimeSeries.rangeJoinBinned(t(s, d, "events"), "purchase", "error", windowMinutes = 30))(
      """WITH l AS (SELECT event_id AS l_id, epoch_us(ts) AS l_us FROM events WHERE event_type='purchase'),
        |r AS (SELECT event_id AS r_id, epoch_us(ts) AS r_us FROM events WHERE event_type='error')
        |SELECT l_id AS event_id, l_us AS ts_us,
        |  CAST((SELECT count(*) FROM r WHERE abs(l_us - r_us) <= 1800000000) AS BIGINT) AS n_nearby
        |FROM l ORDER BY event_id""".stripMargin),
    query("range_count_sweep")((s, d) =>
      // B48b: same answer as range_join_binned via distributed prefix
      // sum — O(n) in rows where pair enumeration is O(density²); the
      // form to use when only counts are needed
      TimeSeries.rangeCountSweep(t(s, d, "events"), "purchase", "error", windowMinutes = 30))(
      """WITH l AS (SELECT event_id AS l_id, epoch_us(ts) AS l_us FROM events WHERE event_type='purchase'),
        |r AS (SELECT event_id AS r_id, epoch_us(ts) AS r_us FROM events WHERE event_type='error')
        |SELECT l_id AS event_id, l_us AS ts_us,
        |  CAST((SELECT count(*) FROM r WHERE abs(l_us - r_us) <= 1800000000) AS BIGINT) AS n_nearby
        |FROM l ORDER BY event_id""".stripMargin),
    query("flatten_json")((s, d) =>
      JsonIngest
        .parseAndFlatten(s, t(s, d, "events").select("event_id", "props"), "props")
        .orderBy("event_id"))(
      "SELECT event_id, json_extract_string(props, '$.k') AS props_k FROM events ORDER BY event_id"),
    query("stringify_all")((s, d) =>
      AllString.stringify(t(s, d, "orders")).orderBy(col("o_orderkey").cast("long")))(
      """SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey, CAST(o_custkey AS VARCHAR) AS o_custkey,
        | o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(38,6)) AS VARCHAR) AS o_totalprice,
        | strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS o_orderdate, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    query("incremental_read")((s, d) =>
      Catalog
        .loadEventsSince(s, d, "2024-01-24 00:00:00")
        .select(
          col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("user_id"),
          col("event_type"),
          Analytics.cents(col("value")).as("value_c"),
          col("props")
        )
        .orderBy("event_id"))(
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        | CAST(round(value*100) AS BIGINT) AS value_c, props
        |FROM events WHERE epoch_us(ts) > epoch_us(TIMESTAMP '2024-01-24 00:00:00')
        |ORDER BY event_id""".stripMargin),
    query("incremental_by_id")((s, d) =>
      // MongoDB-variant incremental sync: monotone `_id` watermark
      // (mongodb_to_bytehouse.py:579-679) — filter + new-state in one agg
      t(s, d, "events")
        .filter(col("event_id") > 500)
        .agg(max(col("event_id")).as("last_id"), count(lit(1)).as("n_rows")))(
      """SELECT max(event_id) AS last_id, count(*) AS n_rows
        |FROM events WHERE event_id > 500""".stripMargin),
    query("incremental_by_oid")((s, d) => {
      // the faithful mongo semantics: the watermark is the 24-hex-char
      // ObjectId STRING (creation seconds in the first 8 chars) —
      // lexicographic compare, state stays a string, and the embedded
      // timestamp is decoded back out of the max id (round-trip is what
      // the oracle checks). Ids are staged deterministically from
      // (ts, event_id) since the test tables have no native ObjectId.
      val ev = t(s, d, "events")
        .select(col("event_id"), col("ts"))
        .withColumn(
          "oid",
          concat(
            lpad(lower(hex(expr("unix_micros(ts) div 1000000"))), 8, "0"),
            lpad(lower(hex(col("event_id"))), 16, "0")
          )
        )
      Incremental
        .newerThanOid(ev, "oid", "65b09d80" + "0" * 16)
        .agg(
          max(col("oid")).as("last_oid"),
          max(Incremental.oidTimestampSec(col("oid"))).as("last_oid_sec"),
          count(lit(1)).as("n_rows")
        )
    })(
      """WITH o AS (SELECT lpad(lower(hex(epoch_us(ts) // 1000000)),8,'0') ||
        |                  lpad(lower(hex(event_id)),16,'0') AS oid,
        |                  epoch_us(ts) // 1000000 AS sec
        |           FROM events)
        |SELECT max(oid) AS last_oid, CAST(max(sec) AS BIGINT) AS last_oid_sec, count(*) AS n_rows
        |FROM o WHERE oid > '65b09d800000000000000000'""".stripMargin),
    query("incremental_or")((s, d) => {
      // insert-or-update incremental batch: created OR updated past its
      // watermark (es_to_bytehouse.py:843-853), plus the two new
      // watermarks the batch advances — both scan predicates push down.
      // o_orderdate models create time, l_shipdate the in-place update.
      val rows = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(
          t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey")
        )
      Incremental
        .newerThanEither(rows,
          "o_orderdate", "1998-07-01 00:00:00",
          "l_shipdate", "1998-10-01 00:00:00")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_orderkey").cast("long")).as("sum_orderkey"),
          max(unix_micros(col("o_orderdate").cast("timestamp"))).as("max_order_us"),
          max(unix_micros(col("l_shipdate").cast("timestamp"))).as("max_ship_us")
        )
    })(
      """SELECT count(*) AS n_rows,
        | CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey,
        | epoch_us(max(o_orderdate)) AS max_order_us,
        | epoch_us(max(l_shipdate)) AS max_ship_us
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o_orderdate > TIMESTAMP '1998-07-01 00:00:00'
        |   OR l_shipdate > TIMESTAMP '1998-10-01 00:00:00'""".stripMargin),
    query("sync_state")((s, d) => {
      val ev = t(s, d, "events")
      val timeField = Incremental.detectTimeField(ev.schema).get
      Incremental.syncState(ev, "events", timeField)
    })(
      """SELECT 'events' AS table_name, 'ts' AS time_field,
        | epoch_us(max(ts)) AS last_sync_us, count(*) AS n_rows FROM events""".stripMargin),
    query("snapshot_diff")((s, d) => {
      // A33: CDC-style snapshot compare. The "old" snapshot is staged
      // deterministically from orders: %17==0 keys held out (-> added),
      // %19==3 prices bumped (-> changed), %23==5 keys cloned to ids
      // outside the live range (-> removed). hashed=true: each side
      // shuffles key + 8-byte fingerprint, never row data
      val cur = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val old = cur.filter(col("o_orderkey") % 17 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 19 === 3, col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
        .unionByName(cur.filter(col("o_orderkey") % 23 === 5)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
      Incremental.snapshotDiff(old, cur, Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus"))
        .filter(col("change") =!= "unchanged")
        .orderBy(col("o_orderkey"))
    })(
      """WITH cur AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |old AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 19 = 3 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM cur WHERE o_orderkey % 17 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus FROM cur WHERE o_orderkey % 23 = 5)
        |SELECT * FROM (
        |  SELECT coalesce(o.o_orderkey, c.o_orderkey) AS o_orderkey,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |         WHEN c.o_orderkey IS NULL THEN 'removed'
        |         WHEN o.o_totalprice IS DISTINCT FROM c.o_totalprice
        |           OR o.o_orderstatus IS DISTINCT FROM c.o_orderstatus THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM old o FULL OUTER JOIN cur c ON o.o_orderkey = c.o_orderkey) j
        |WHERE change <> 'unchanged' ORDER BY o_orderkey""".stripMargin),
    query("scd2_intervals")((s, d) => {
      // A34: SCD2 history from the events change log — each user's
      // event_type runs become validity intervals; one keyed shuffle
      val ev = t(s, d, "events").select(
        col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      Incremental.scd2(ev, Seq("user_id"), Seq("ts_us", "event_id"), Seq("event_type"))
        .orderBy(col("user_id"), col("valid_from_us"))
    })(
      """WITH o AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM o),
        |ch AS (SELECT user_id, ts_us, event_id, event_type FROM c
        |       WHERE prev IS NULL OR prev IS DISTINCT FROM event_type),
        |iv AS (SELECT user_id, event_type, ts_us AS valid_from_us,
        |         lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us
        |       FROM ch)
        |SELECT user_id, event_type, valid_from_us, valid_to_us,
        |  CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM iv ORDER BY user_id, valid_from_us""".stripMargin),
    query("upsert_latest")((s, d) =>
      Incremental
        .latestPerKey(t(s, d, "events"), Seq("user_id"), Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .orderBy("user_id"))(
      """SELECT user_id, event_id, ts_us, event_type
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |      FROM events) x
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),
    query("scan_fields")((s, d) => JsonIngest.scanFields(t(s, d, "events"), "props"))(
      """SELECT k AS field, count(*) AS n
        |FROM (SELECT unnest(json_keys(props)) AS k FROM events) GROUP BY 1 ORDER BY 1""".stripMargin),
    query("multi_table_union")((s, d) => {
      val r = t(s, d, "region").select(
        lit("region").as("src_table"),
        col("r_regionkey").cast("long").as("key"),
        col("r_name").as("name")
      )
      val n = t(s, d, "nation").select(
        lit("nation").as("src_table"),
        col("n_nationkey").cast("long").as("key"),
        col("n_name").as("name")
      )
      r.unionByName(n).orderBy("src_table", "key")
    })(
      """SELECT * FROM (
        |  SELECT 'region' AS src_table, CAST(r_regionkey AS BIGINT) AS key, r_name AS name FROM region
        |  UNION ALL
        |  SELECT 'nation', CAST(n_nationkey AS BIGINT), n_name FROM nation
        |) u ORDER BY src_table, key""".stripMargin),
    query("dedup_exact")((s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text"))(
      """SELECT min(doc_id) AS kept_id, count(*) AS n_dups
        |FROM (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS norm FROM documents) x
        |GROUP BY norm ORDER BY kept_id""".stripMargin),
    query("dedup_containment")((s, d) =>
      // C49: overlap / |smaller| >= 70% — doc-contains-doc pairs that
      // Jaccard misses (no size-ratio filter, by design)
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text", n = 3, tauPct = 70))(
      """WITH n AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w)>=3
        |        THEN list_distinct([array_to_string(w[i:i+2],' ') for i in range(1,len(w)-1)])
        |        ELSE [array_to_string(w,' ')] END AS sh FROM n)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(floor(100.0*len(list_intersect(a.sh,b.sh)) / least(len(a.sh), len(b.sh))) AS BIGINT) AS cont_pct
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE 100*len(list_intersect(a.sh,b.sh)) >= 70*least(len(a.sh), len(b.sh))
        |ORDER BY 1,2""".stripMargin),
    query("dedup_minhash_lsh")((s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text", tauPct = 80))(
      // exact-pairs oracle is valid for the LSH pipeline because banded
      // MinHash loses nothing on this corpus (recall=1 property-tested in
      // PipelineSpec) and candidate verification is the same integer
      // Jaccard threshold; jacc over 64-bit hashed shingles == string
      // shingles w.h.p. (no collisions on this corpus)
      """WITH n AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w)>=3
        |        THEN list_distinct([array_to_string(w[i:i+2],' ') for i in range(1,len(w)-1)])
        |        ELSE [array_to_string(w,' ')] END AS sh FROM n)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(floor(100.0*len(list_intersect(a.sh,b.sh)) /
        |   (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))) AS BIGINT) AS jacc_pct
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE 100*len(list_intersect(a.sh,b.sh)) >= 80*(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))
        |ORDER BY 1,2""".stripMargin),
    query("dedup_incr_exact")((s, d) => {
      // C28: incremental exact dedup — a new batch probed against the
      // persisted corpus hash index, never against corpus text. The
      // batch is the decile-0 docs plus staged exact copies of corpus
      // docs (re-idded +1e6) so both the dup and the new path are
      // exercised on real data
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .unionByName(corpus.filter(col("doc_id") % 17 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.exactAgainstIndex(batch, "doc_id", "text",
        Dedup.buildHashIndex(corpus, "doc_id", "text"))
    })(
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM corpus WHERE doc_id % 17 = 3),
        |idx AS (SELECT trim(regexp_replace(lower(text),'\s+',' ','g')) AS norm, min(doc_id) AS kept_id
        |        FROM corpus GROUP BY 1)
        |SELECT b.doc_id AS doc_id,
        |  CAST(CASE WHEN kept_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
        |  kept_id AS dup_of
        |FROM (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS norm FROM batch) b
        |LEFT JOIN idx USING (norm) ORDER BY doc_id""".stripMargin),
    query("dedup_incr_minhash")((s, d) => {
      // C29: incremental near-dup — decile-0 batch vs the MinHash
      // signature index of the rest; per-batch-doc match count + best
      // match (highest Jaccard, ties to the smallest corpus id)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      // index checkpointed: the probe reads it twice (banded-signature
      // join + verify fetch) — one corpus shingling instead of two;
      // the pairs feed both the best match and the count
      val pairs = Dedup.nearDupsAgainstIndex(batch, "doc_id", "text",
        Dedup.buildMinhashIndex(corpus, "doc_id", "text").localCheckpoint()).localCheckpoint()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id_a")).orderBy(col("jacc_pct").desc, col("id_b").asc)
      val best = pairs.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("id_a").as("doc_id"), col("id_b").as("best_id"), col("jacc_pct").as("best_jacc_pct"))
      val cnt = pairs.groupBy(col("id_a")).agg(count(lit(1)).as("n_near_dups"))
        .withColumnRenamed("id_a", "doc_id")
      batch.select(col("doc_id"))
        .join(cnt, Seq("doc_id"), "left")
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
          col("best_id"), col("best_jacc_pct"))
        .orderBy(col("doc_id"))
    })(
      // exact-pairs batch-vs-corpus oracle is valid for the banded index
      // probe for the same reason as dedup_minhash_lsh (recall=1 on this
      // corpus, verification identical integer Jaccard)
      """WITH n AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w)>=3
        |        THEN list_distinct([array_to_string(w[i:i+2],' ') for i in range(1,len(w)-1)])
        |        ELSE [array_to_string(w,' ')] END AS sh FROM n),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |        CAST(floor(100.0*len(list_intersect(a.sh,b.sh)) /
        |          (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))) AS BIGINT) AS jacc_pct
        |      FROM g a JOIN g b ON a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
        |      WHERE 100*len(list_intersect(a.sh,b.sh)) >= 80*(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))),
        |cnt AS (SELECT id_a, count(*) AS n_near_dups FROM p GROUP BY 1),
        |best AS (SELECT id_a, id_b AS best_id, jacc_pct AS best_jacc_pct
        |         FROM (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY jacc_pct DESC, id_b) AS rk FROM p)
        |         WHERE rk = 1)
        |SELECT d.doc_id AS doc_id, CAST(coalesce(n_near_dups, 0) AS BIGINT) AS n_near_dups,
        |  best_id, best_jacc_pct
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        |LEFT JOIN cnt ON d.doc_id = cnt.id_a
        |LEFT JOIN best ON d.doc_id = best.id_a
        |ORDER BY doc_id""".stripMargin),
    query("dedup_incr_winnow")((s, d) => {
      // C69: incremental winnow-overlap — decile-0 batch probed
      // against the persisted fingerprint index of the rest; pairs
      // sharing >= 2 distinct fingerprints (witnessed copied runs)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      TextAnalysis.winnowAgainstIndex(batch, "doc_id", "text",
        TextAnalysis.buildWinnowIndex(corpus, "doc_id", "text"))
    })(
      // the same winnowing selection, split decile-0 batch vs rest,
      // joined on fingerprint hash — distinct shared hashes per pair
      """WITH wd AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws FROM documents),
        |g AS (SELECT doc_id, len(ws) - 3 AS n_grams, unnest(range(1, len(ws) - 2)) AS pos, ws
        |      FROM wd WHERE len(ws) >= 4),
        |k AS (SELECT doc_id, n_grams, pos,
        |        md5(array_to_string(ws[pos:pos+3], ' ')) || ':' || lpad(CAST(pos AS VARCHAR), 10, '0') AS key FROM g),
        |s AS (SELECT doc_id, n_grams, pos,
        |        min(key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel FROM k),
        |fp AS (SELECT DISTINCT doc_id, substring(sel, 1, 32) AS fp_hash
        |       FROM s WHERE pos >= 4 OR (n_grams < 4 AND pos = n_grams)),
        |b AS (SELECT * FROM fp WHERE doc_id % 10 = 0),
        |c AS (SELECT * FROM fp WHERE doc_id % 10 <> 0)
        |SELECT b.doc_id AS id_a, c.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM b JOIN c USING (fp_hash)
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin),
    query("dedup_simhash")((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 3))(
      // full pipeline oracle: FNV-1a word hashes (fold over UTF-8 bytes
      // via hex pairs, HUGEINT mulmod), +/-1 bit votes, sign signature,
      // all-pairs Hamming <= 3. The engine's pigeonhole banding is exact
      // (not probabilistic) for Hamming <= 3, so results must be equal.
      """WITH d AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w
        |  FROM documents),
        |wh AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |      list_transform(range(1, octet_length(encode(word))+1), i ->
        |        CAST(16*(strpos('0123456789ABCDEF', hx[2*i-1:2*i-1])-1)
        |              + (strpos('0123456789ABCDEF', hx[2*i:2*i])-1) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS h
        |  FROM (SELECT doc_id, word, hex(encode(word)) AS hx
        |        FROM (SELECT doc_id, unnest(w) AS word FROM d) u)),
        |bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (CAST(h AS UBIGINT) >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM wh, range(64) t(j) GROUP BY 1, 2),
        |sigs AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN vote > 0 THEN CAST(CAST(1 AS UBIGINT) << j AS HUGEINT) ELSE 0 END) AS UBIGINT) AS sig
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY 1, 2""".stripMargin),
    query("dedup_embedding")((s, d) =>
      // exact all-pairs is the ORACLE BASELINE, O(N²) by definition —
      // its input is bounded to a fixed sample so the benched plan can
      // never become a corpus-scale cartesian; the corpus-scale path
      // is dedup_embedding_blocked (LSH blocking + exact verify)
      Dedup.embeddingPairs(
        t(s, d, "embeddings").filter(col("vec_id") < 2000), "vec_id", "embedding", tau = 0.4))(
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 2000 AND b.vec_id < 2000
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4 ORDER BY 1,2""".stripMargin),
    query("dedup_embedding_blocked")((s, d) => {
      // LSH-blocked near-dup dedup — the scale path. The corpus has no
      // natural high-cosine pairs (max ~0.51), so near-dups are staged
      // by unioning deterministically perturbed copies (first component
      // +0.05 → cos ~0.999 with the original, far above tau; all other
      // pairs stay below ~0.6, far below tau — no boundary sensitivity)
      val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val pert = e.select(
        (col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding")
      )
      Dedup.embeddingPairsLsh(
        e.unionByName(pert), "vec_id", "embedding",
        tau = 0.99, planes = 8, tables = 8)
    })(
      """WITH u AS (
        |  SELECT vec_id AS id, embedding AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |         list_concat([embedding[1] + 0.05], embedding[2:]) FROM embeddings)
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM u a JOIN u b ON a.id < b.id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.99 ORDER BY 1,2""".stripMargin),
    query("dedup_incr_embedding")((s, d) => {
      // C32: incremental embedding near-dup — a staged batch (near
      // copies of decile-0 vectors at cos~0.999, far copies of
      // decile-5 at cos<<tau) probed against the persisted
      // bucket-precomputed corpus index; margins are ~7 orders above
      // float/double drift so the pair set is engine-exact. Corpus is
      // capped below the staging offsets (mirrored in the oracle) so
      // batch/corpus id spaces stay disjoint at ANY scale factor —
      // the probe's contract
      val e = t(s, d, "embeddings").filter(col("vec_id") < 100000)
        .select(col("vec_id"), col("embedding"))
      def shifted(modVal: Int, idOff: Long, d0: Float) =
        e.filter(col("vec_id") % 10 === modVal).select(
          (col("vec_id") + idOff).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(d0)).otherwise(x)).as("embedding"))
      val batch = shifted(0, 200000L, 0.05f).unionByName(shifted(5, 300000L, 10.0f))
      Dedup.embeddingNearDupsAgainstIndex(batch, "vec_id", "embedding",
        Dedup.buildEmbeddingIndex(e, "vec_id", "embedding"),
        tau = 0.99)
    })(
      // oracle = exact all-pairs over the same staged corpus; the LSH
      // blocking must lose nothing at this tau (misses ~1e-8/pair with
      // 8 planes x 8 tables at cos ~0.999)
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100000),
        |batch AS (
        |  SELECT vec_id + 200000 AS id, list_concat([embedding[1] + 0.05], embedding[2:]) AS v
        |  FROM e WHERE vec_id % 10 = 0
        |  UNION ALL
        |  SELECT vec_id + 300000, list_concat([embedding[1] + 10.0], embedding[2:])
        |  FROM e WHERE vec_id % 10 = 5)
        |SELECT b.id AS id_a, c.vec_id AS id_b
        |FROM batch b JOIN e c ON list_cosine_similarity(b.v, c.embedding) >= 0.99
        |ORDER BY 1, 2""".stripMargin),
    query("dedup_clusters")((s, d) => {
      // near-dup pairs → connected components → survivor per cluster:
      // the step that turns pairwise dedup output into an actual
      // keep/drop decision for the corpus
      val docs = t(s, d, "documents")
      Dedup.clusterAssign(docs, "doc_id",
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tauPct = 80))
    })(
      // transitive closure over the same exact-Jaccard pair set; the
      // engine's label propagation must produce identical components
      """WITH RECURSIVE
        |n AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w)>=3
        |        THEN list_distinct([array_to_string(w[i:i+2],' ') for i in range(1,len(w)-1)])
        |        ELSE [array_to_string(w,' ')] END AS sh FROM n),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id
        |      WHERE 100*len(list_intersect(a.sh,b.sh)) >= 80*(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
        |walk AS (
        |  SELECT src AS id, dst AS reach FROM e
        |  UNION
        |  SELECT w.id, e.dst FROM walk w JOIN e ON w.reach = e.src),
        |comp AS (SELECT id, least(id, min(reach)) AS cluster_id FROM walk GROUP BY id)
        |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
        |  CAST(coalesce(c.cluster_id, d.doc_id) = d.doc_id AS BIGINT) AS is_kept
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |ORDER BY d.doc_id""".stripMargin),
    query("dedup_passages")((s, d) =>
      // C24: corpus-level exact passage dedup (8-word chunks)
      Dedup.passageDupStats(t(s, d, "documents"), "doc_id", "text", window = 8))(
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws FROM documents),
        |p AS (SELECT doc_id, unnest(list_transform(range(0, CAST(len(ws) // 8 AS INT)),
        |        i -> md5(array_to_string(ws[i*8+1 : i*8+8], ' ')))) AS ph FROM w),
        |dup AS (SELECT ph FROM p GROUP BY ph HAVING count(DISTINCT doc_id) >= 2)
        |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_passages,
        |       CAST(sum(CASE WHEN dup.ph IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
        |       CAST(10000 * sum(CASE WHEN dup.ph IS NOT NULL THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS dup_passage_bp
        |FROM p LEFT JOIN dup ON p.ph = dup.ph
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("dedup_semantic")((s, d) => {
      // C44: SemDeDup — cluster-then-prune semantic dedup. Same staged
      // twins as dedup_embedding_blocked (cos ~0.999 vs tau 0.99, no
      // boundary sensitivity); clusters are the deterministic
      // label-mean centroids so the DuckDB oracle can reproduce the
      // assignment bit-for-bit
      val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
      val pert = e.select(
        (col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"),
        col("label"))
      Dedup.semanticDedup(e.unionByName(pert), "vec_id", "embedding", "label",
        tau = 0.99, planes = 8, tables = 8)
    })(
      // exact within-cluster all-pairs oracle; the engine's LSH candidate
      // stage must lose nothing at tau 0.99 (staged twins sit at ~0.999,
      // miss ~2e-8/pair with 8 planes x 8 tables)
      """WITH u AS (
        |  SELECT vec_id AS id, embedding AS v, label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |         list_concat([embedding[1] + 0.05], embedding[2:]), label FROM embeddings),
        |dims AS (SELECT id, label, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM u),
        |cent AS (SELECT label AS clab, pos, sum(CAST(x AS DOUBLE))/count(*) AS cx FROM dims GROUP BY 1,2),
        |dd AS (SELECT m.id, c.clab, sum((CAST(m.x AS DOUBLE)-c.cx)*(CAST(m.x AS DOUBLE)-c.cx)) AS d2
        |       FROM dims m JOIN cent c ON m.pos = c.pos GROUP BY 1,2),
        |asg AS (SELECT id, CAST(clab AS BIGINT) AS cluster FROM (
        |          SELECT id, clab, row_number() OVER (PARTITION BY id ORDER BY d2, clab) AS rk FROM dd) t2
        |        WHERE rk = 1),
        |dropped AS (
        |  SELECT DISTINCT b.id
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id
        |  JOIN u ua ON ua.id = a.id JOIN u ub ON ub.id = b.id
        |  WHERE list_cosine_similarity(ua.v, ub.v) >= 0.99)
        |SELECT asg.id AS vec_id, cluster,
        |  CAST(CASE WHEN dropped.id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_kept
        |FROM asg LEFT JOIN dropped ON asg.id = dropped.id ORDER BY vec_id""".stripMargin),
    query("fuzzy_match_join")((s, d) => {
      // C45: entity resolution — part names with staged typos (%3==0:
      // 4th char dropped, %3==1: last char doubled, else clean)
      // resolved back against the canonical name list
      val part = t(s, d, "part").select(col("p_partkey"), col("p_name"))
      val dirty = part.select(col("p_partkey").as("rec_id"),
        when(col("p_partkey") % 3 === 0,
          concat(substring(col("p_name"), 1, 3), substring(col("p_name"), 5, 1000)))
          .when(col("p_partkey") % 3 === 1,
            concat(col("p_name"), substring(col("p_name"), length(col("p_name")), lit(1))))
          .otherwise(col("p_name")).as("name"))
      Dedup.fuzzyMatch(dirty, "rec_id", "name",
        part.select(col("p_name")).distinct(), "p_name", maxDist = 1, blockPrefix = 3)
    })(
      """WITH dirty AS (SELECT p_partkey AS rec_id,
        |    CASE WHEN p_partkey % 3 = 0 THEN substring(p_name,1,3) || substring(p_name,5)
        |         WHEN p_partkey % 3 = 1 THEN p_name || substring(p_name, length(p_name), 1)
        |         ELSE p_name END AS name FROM part),
        |clean AS (SELECT DISTINCT p_name AS matched FROM part)
        |SELECT rec_id, name, matched, CAST(levenshtein(name, matched) AS BIGINT) AS dist
        |FROM dirty JOIN clean ON substring(name,1,3) = substring(matched,1,3)
        |WHERE abs(length(name) - length(matched)) <= 1 AND levenshtein(name, matched) <= 1
        |ORDER BY rec_id, matched""".stripMargin),
    query("sim_topk_brute")((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    })(
      """SELECT qid, rn AS rank, cid AS neighbor_id FROM (
        | SELECT q.vec_id AS qid, c.vec_id AS cid,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rn
        | FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id) x
        |WHERE rn <= 5 ORDER BY qid, rank""".stripMargin),
    rowsOnly("sim_topk_lsh")((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, planes = 8)
    }),
    rowsOnly("sim_topk_ivf")((s, d) => {
      val e = t(s, d, "embeddings")
      // nProbes=8/16: RECALL_r10 curve point 0.92 recall@5 at sf0.1
      // (4 probes read 0.70) — half the cells for >0.9 recall
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, nClusters = 16, nProbes = 8)
    }),
    rowsOnly("sim_topk_ivf_sq8")((s, d) => {
      // C42: IVF-SQ8 — int8-quantized cell-partitioned index probe
      // with exact re-rank of the int8 shortlist (rows-only:
      // approximate by design, recall property-tested + RECALL_r9)
      val e = t(s, d, "embeddings")
      val dir = s"target/ivf_sq8_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      Similarity.buildIvfIndexSq8IfAbsent(s, e, "vec_id", "embedding", nClusters = 16, indexDir = dir)
      // nProbes=8 + shortlist=100: RECALL_r10 curve 0.92 recall@5 at
      // sf0.1 (4/50 read 0.70); the int8 scan stays cell-pruned
      Similarity.ivfTopKIndexedSq8Refined(s, dir, e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 5, nProbes = 8, shortlist = 100)
    }),
    rowsOnly("sim_topk_pq")((s, d) => {
      // C48: product-quantization ANN — 8-byte packed codes + ADC
      // probe (rows-only: approximate by design, recall
      // property-tested vs brute force in EmbedOpsSpec)
      val e = t(s, d, "embeddings")
      val dir = s"target/pq_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      Similarity.buildPqIndexIfAbsent(s, e, "vec_id", "embedding", dim = 64, indexDir = dir, m = 8, kCodes = 64)
      // shortlist=100: RECALL_r10 curve 0.82 recall@5 at sf0.1 (50
      // read 0.68) — the re-rank is exact over 100 rows, still tiny
      Similarity.pqTopKRefined(s, dir, e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 5, shortlist = 100)
    }),
    rowsOnly("sim_topk_ivfpq")((s, d) => {
      // C68: IVFADC (FAISS IVFx,PQy) — coarse cells + 8-byte RESIDUAL
      // PQ codes, ADC shortlist + exact re-rank (rows-only:
      // approximate by design, recall property-tested in EmbedOpsSpec)
      val e = t(s, d, "embeddings")
      val dir = s"target/ivfpq_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      Similarity.buildIvfPqIndexIfAbsent(s, e, "vec_id", "embedding", dim = 64,
        nClusters = 16, indexDir = dir, m = 8, kCodes = 64)
      // nProbes=8/16 cells + shortlist=100: the RECALL_r10 curve's
      // knee — refined recall@5 0.58→>=0.75 at sf0.1 for ~2× probe
      // cost (still 1/2 the cells and a 100-row exact re-rank)
      Similarity.ivfPqTopKRefined(s, dir, e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 5, nProbes = 8, shortlist = 100)
    }),
    rowsOnly("sim_topk_hnsw")((s, d) => {
      // C104: graph ANN — HNSW-class beam search over a persisted
      // degree-bounded neighbor graph (single-layer NSW on Spark:
      // each hop is ONE keyed join amortized over the query batch;
      // probe cost independent of corpus size). Rows-only:
      // approximate by design, recall measured in RECALL_r12 at
      // these shipped defaults (n_queries=100, four scales)
      val e = t(s, d, "embeddings")
      val dir = s"target/hnsw_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      // nClusters auto-sizes to ~512-vector blocks (build stays
      // LINEAR in corpus size; entry points grow with the corpus);
      // beam/rounds auto-size with log2(corpus) via graphProbeSizing
      // — a fixed beam's recall sagged with scale (0.99 -> 0.87 over
      // three decades), the sized probe holds >= 0.93 at every one
      Similarity.buildGraphIndexIfAbsent(s, e, "vec_id", "embedding", indexDir = dir, m = 16)
      Similarity.graphTopK(s, dir, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5)
    }),
    query("sim_topk_quant")((s, d) => {
      // C38: int8-quantized exact-integer top-k scoring
      val e = t(s, d, "embeddings")
      EmbedOps.quantizedTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    })(
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding, e -> abs(CAST(e AS DOUBLE))), 'max') AS amax
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id,
        |    unnest(list_transform(embedding, x ->
        |      CASE WHEN amax = 0 THEN 0 ELSE CAST(round(CAST(x AS DOUBLE)*127/amax) AS BIGINT) END)) AS qe,
        |    unnest(range(0, len(embedding))) AS i
        |  FROM q),
        |dots AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, CAST(sum(a.qe*b.qe) AS BIGINT) AS dot
        |  FROM (SELECT * FROM qv WHERE vec_id < 10) a
        |  JOIN qv b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  GROUP BY 1,2),
        |rk AS (SELECT qid, cid, dot,
        |         row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rn FROM dots)
        |SELECT qid, CAST(rn AS BIGINT) AS rank, cid AS neighbor_id, dot AS dot_q
        |FROM rk WHERE rn <= 5 ORDER BY qid, rank""".stripMargin),
    query("embed_nearest_centroid")((s, d) =>
      // C27: per-label centroids + nearest-centroid assignment
      Similarity.nearestCentroid(t(s, d, "embeddings"), "vec_id", "embedding", "label"))(
      // per-(label,dim) mean in double precision; the assignment argmin
      // is stable across engines because the smallest best-vs-second
      // centroid gap in this corpus (8e-6) is ~7 orders of magnitude
      // above double summation noise
      """WITH dims AS (SELECT vec_id, label, unnest(embedding) AS x, unnest(range(1, len(embedding)+1)) AS pos FROM embeddings),
        |cent AS (SELECT label AS clab, pos, sum(CAST(x AS DOUBLE))/count(*) AS cx FROM dims GROUP BY 1,2),
        |d AS (SELECT v.vec_id, CAST(v.label AS BIGINT) AS label, c.clab,
        |             sum((CAST(v.x AS DOUBLE)-c.cx)*(CAST(v.x AS DOUBLE)-c.cx)) AS d2
        |      FROM dims v JOIN cent c ON v.pos = c.pos GROUP BY 1,2,3)
        |SELECT vec_id, label, CAST(clab AS BIGINT) AS pred_label FROM (
        |  SELECT vec_id, label, clab, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clab) AS rk FROM d) t
        |WHERE rk = 1 ORDER BY vec_id""".stripMargin),
    query("embed_quantize")((s, d) =>
      // C36: int8 symmetric quantization, long-format output
      EmbedOps.quantizeLong(t(s, d, "embeddings"), "vec_id", "embedding"))(
      """WITH base AS (
        |  SELECT vec_id,
        |    list_aggregate(list_transform(embedding, e -> abs(CAST(e AS DOUBLE))), 'max') AS amax
        |  FROM embeddings),
        |ex AS (
        |  SELECT e.vec_id, unnest(range(0, len(e.embedding))) AS dim,
        |         unnest(list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS x, b.amax
        |  FROM embeddings e JOIN base b ON e.vec_id = b.vec_id)
        |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
        |  CAST(CASE WHEN amax = 0 THEN 0 ELSE round(x*127/amax) END AS BIGINT) AS q
        |FROM ex ORDER BY vec_id, dim""".stripMargin),
    query("embed_project")((s, d) =>
      // C37: fixed-point random projection 64 -> 16 dims
      EmbedOps.projectLong(t(s, d, "embeddings"), "vec_id", "embedding", outDims = 16))(
      """WITH ex AS (
        |  SELECT vec_id,
        |    unnest(list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE)*1000000) AS BIGINT))) AS mv,
        |    unnest(range(0, len(embedding))) AS d
        |  FROM embeddings)
        |SELECT vec_id, CAST(j AS BIGINT) AS dim,
        |  CAST(sum(CASE WHEN ((1103515245*(d*16+j)+12345) % 2147483648) >= 1073741824
        |           THEN mv ELSE -mv END) AS BIGINT) AS proj_fp
        |FROM ex CROSS JOIN range(16) t(j)
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    query("embed_pca_top")((s, d) =>
      // C52: integer power-iteration PC1 projection (engine-exact PCA)
      EmbedOps.pcaTopProjection(t(s, d, "embeddings"), "vec_id", "embedding", dims = 64))(pcaOracleSql(iters = 8)),
    query("embed_kmeans")((s, d) =>
      // C53: integer-exact Lloyd's k-means fit + assignment
      EmbedOps.kmeansFit(t(s, d, "embeddings"), "vec_id", "embedding", dims = 64))(kmeansOracleSql(k = 8, iters = 5)),
    query("embed_outliers")((s, d) =>
      // C56: per-cluster median+3*MAD outlier gate on exact kmeans d2
      EmbedOps.clusterOutliers(t(s, d, "embeddings"), "vec_id", "embedding", dims = 64))(kmeansOutliersOracleSql(k = 8, iters = 5)),
    query("graph_pagerank")((s, d) => {
      // C54: integer fixed-point PageRank over a staged doc-link graph
      // (3 modular out-links per doc — deterministic in both engines)
      val docs = t(s, d, "documents")
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % n,
          (col("doc_id") * 13 + 2) % n,
          (col("doc_id") * 31 + 3) % n)).as("dst"))
      GraphOps.pageRank(edges, iters = 5, dampPct = 85)
    })(pagerankOracleSql(iters = 5, dampPct = 85)),
    query("graph_triangles")((s, d) => {
      // C59: degree-ordered triangle counting over the same staged
      // doc-link graph as pagerank (undirected-ized)
      val docs = t(s, d, "documents")
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % n,
          (col("doc_id") * 13 + 2) % n,
          (col("doc_id") * 31 + 3) % n)).as("dst"))
      GraphOps.trianglesPerNode(edges)
    })(
      // triangle counts are enumeration-order-invariant, so the oracle
      // uses the naive a<b<c id ordering — same answer as the engine's
      // degree ordering, without replicating the rank machinery
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |raw AS (SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
        |  UNION ALL SELECT doc_id, (doc_id * 13 + 2) % nn.n FROM documents, nn
        |  UNION ALL SELECT doc_id, (doc_id * 31 + 3) % nn.n FROM documents, nn),
        |e AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM raw WHERE src <> dst),
        |nd AS (SELECT u AS id FROM e UNION SELECT v FROM e),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |crn AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |cnt AS (SELECT id, count(*) AS n_tri FROM crn GROUP BY 1)
        |SELECT nd.id AS node_id, CAST(coalesce(cnt.n_tri, 0) AS BIGINT) AS n_tri
        |FROM nd LEFT JOIN cnt USING (id) ORDER BY node_id""".stripMargin),
    query("graph_hits")((s, d) => {
      // C63: integer fixed-point HITS over the staged doc-link graph
      val docs = t(s, d, "documents")
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % n,
          (col("doc_id") * 13 + 2) % n,
          (col("doc_id") * 31 + 3) % n)).as("dst"))
      GraphOps.hits(edges, iters = 4)
    })(hitsOracleSql(iters = 4)),
    query("graph_kcore")((s, d) => {
      // C73: 10-round k-core peeling (k=7) on a heterogeneous-degree
      // staged link graph — out-degree 2 + doc_id%7 (the uniform
      // 3-out pagerank graph has a degenerate all-or-nothing core);
      // bounded rounds are engine-exact, convergence spec-asserted
      val docs = t(s, d, "documents")
      val n = docs.count()
      val full = array(
        (col("doc_id") * 7 + 1) % n, (col("doc_id") * 13 + 2) % n,
        (col("doc_id") * 31 + 3) % n, (col("doc_id") * 37 + 4) % n,
        (col("doc_id") * 41 + 5) % n, (col("doc_id") * 43 + 6) % n,
        (col("doc_id") * 47 + 7) % n, (col("doc_id") * 53 + 8) % n)
      val edges = docs.select(col("doc_id").as("src"),
        explode(slice(full, lit(1), lit(2) + col("doc_id") % 7)).as("dst"))
      GraphOps.kcoreRounds(edges, k = 7, rounds = 10)
    })(kcoreOracleSql(k = 7, rounds = 10)),
    query("dedup_incr_bloom")((s, d) => {
      // C39: bloom-pruned incremental exact dedup — same batch
      // composition as dedup_incr_exact, same answer, but only
      // bloom-accepted candidates reach the verification join
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .unionByName(corpus.filter(col("doc_id") % 17 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.exactAgainstIndexBloom(batch, "doc_id", "text",
        Dedup.buildHashIndex(corpus, "doc_id", "text"), expectedKeys = 10000L)
    })(
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM corpus WHERE doc_id % 17 = 3),
        |idx AS (SELECT trim(regexp_replace(lower(text),'\s+',' ','g')) AS norm, min(doc_id) AS kept_id
        |        FROM corpus GROUP BY 1)
        |SELECT b.doc_id AS doc_id,
        |  CAST(CASE WHEN kept_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
        |  kept_id AS dup_of
        |FROM (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS norm FROM batch) b
        |LEFT JOIN idx ON b.norm = idx.norm
        |ORDER BY doc_id""".stripMargin),
    query("domain_cap")((s, d) =>
      // C40: per-source doc cap by length priority, keep decision out
      Curation.domainCap(t(s, d, "documents"), "doc_id", "source", col("n_chars"), cap = 40))(
      """WITH r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS src_rank
        |  FROM documents)
        |SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
        |  CAST(CASE WHEN src_rank <= 40 THEN 1 ELSE 0 END AS BIGINT) AS is_kept
        |FROM r ORDER BY source, src_rank""".stripMargin),
    query("dedup_url")((s, d) => {
      // C50: canonical-URL dedup over staged messy fetch URLs (mixed
      // scheme/host case, default ports, tracking params, unsorted
      // query, fragments, trailing slashes)
      val urls = t(s, d, "documents").select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
          when(col("doc_id") % 3 === 0, concat(lit("WWW."), col("source"), lit(".Example.COM")))
            .otherwise(concat(col("source"), lit(".example.com"))),
          element_at(array(lit(":80"), lit(":443"), lit(":8080"), lit("")),
            (col("doc_id") % 4 + 1).cast("int")),
          lit("/Articles/item-"), (col("doc_id") % 10).cast("string"),
          when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
          element_at(array(
            lit("?utm_source=feed&b=2&a=1"),
            lit("?a=1&b=2&utm_campaign=x&fbclid=zz"),
            lit("?b=2&a=1")), (col("doc_id") % 3 + 1).cast("int")),
          when(col("doc_id") % 7 === 0, lit("#section-2")).otherwise(lit(""))
        ).as("url"))
      Curation.urlDedupGroups(urls, "doc_id", "url")
    })(
      """WITH staged AS (
        |  SELECT doc_id,
        |    concat(
        |      CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END, '://',
        |      CASE WHEN doc_id % 3 = 0 THEN concat('WWW.', source, '.Example.COM')
        |           ELSE concat(source, '.example.com') END,
        |      [':80', ':443', ':8080', ''][CAST(doc_id % 4 + 1 AS INT)],
        |      '/Articles/item-', CAST(doc_id % 10 AS VARCHAR),
        |      CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
        |      ['?utm_source=feed&b=2&a=1',
        |       '?a=1&b=2&utm_campaign=x&fbclid=zz',
        |       '?b=2&a=1'][CAST(doc_id % 3 + 1 AS INT)],
        |      CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    regexp_replace(url, '#.*$', '') AS nofrag,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        |  FROM staged),
        |comps AS (
        |  SELECT doc_id, scheme,
        |    lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
        |    regexp_replace(rest, '^[^/?]*', '') AS afterhost
        |  FROM parts),
        |canon AS (
        |  SELECT doc_id,
        |    concat(scheme, '://',
        |      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |           ELSE hostport END,
        |      CASE WHEN len(CASE WHEN regexp_extract(afterhost, '^([^?]*)', 1) = '' THEN '/'
        |                         ELSE regexp_extract(afterhost, '^([^?]*)', 1) END) > 1
        |           THEN regexp_replace(CASE WHEN regexp_extract(afterhost, '^([^?]*)', 1) = '' THEN '/'
        |                                    ELSE regexp_extract(afterhost, '^([^?]*)', 1) END, '/$', '')
        |           ELSE CASE WHEN regexp_extract(afterhost, '^([^?]*)', 1) = '' THEN '/'
        |                     ELSE regexp_extract(afterhost, '^([^?]*)', 1) END END,
        |      CASE WHEN array_to_string(list_sort(list_filter(string_split(regexp_extract(afterhost, '\?(.*)$', 1), '&'),
        |             p -> NOT (regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|ref)=') OR p = ''))), '&') = ''
        |           THEN ''
        |           ELSE concat('?', array_to_string(list_sort(list_filter(string_split(regexp_extract(afterhost, '\?(.*)$', 1), '&'),
        |             p -> NOT (regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|ref)=') OR p = ''))), '&')) END
        |    ) AS url_canon
        |  FROM comps)
        |SELECT url_canon, count(*) AS n_fetches, min(doc_id) AS keep_id
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin),
    query("text_langid")((s, d) =>
      t(s, d, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang"))(
      """WITH w AS (SELECT lang,
        |  list_distinct(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS ws
        | FROM documents),
        |s AS (SELECT lang,
        |  len(list_intersect(ws, ['the','a','and','of','to','in','is','that','it','for'])) AS s_en,
        |  len(list_intersect(ws, ['der','die','das','und','ist','nicht','ein','mit','auf','zu'])) AS s_de,
        |  len(list_intersect(ws, ['el','la','de','que','y','en','un','es','no','por'])) AS s_es,
        |  len(list_intersect(ws, ['le','la','et','les','des','est','un','une','dans','que'])) AS s_fr,
        |  len(list_intersect(ws, ['的','是','了','在','我','有','和','不','人','这'])) AS s_zh
        | FROM w)
        |SELECT lang,
        | CASE WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und' ELSE
        |  list_sort([{'s': -s_de, 'l': 'de'},{'s': -s_en, 'l': 'en'},{'s': -s_es, 'l': 'es'},
        |             {'s': -s_fr, 'l': 'fr'},{'s': -s_zh, 'l': 'zh'}])[1].l END AS pred_lang,
        | count(*) AS n
        |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    query("text_langid_ngram")((s, d) =>
      // C71: character-trigram profile language ID (Cavnar-Trenkle
      // shape) — works on text the stopword heuristic can't
      TextAnalysis.langIdNgram(t(s, d, "documents"), "text")
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang"))(langidNgramOracleSql),
    query("text_quality")((s, d) => TextAnalysis.quality(t(s, d, "documents"), "doc_id", "text").orderBy("doc_id"))(
      """WITH q AS (SELECT doc_id, text,
        |  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(len(w) AS BIGINT) AS n_words,
        | CAST(len(list_filter(w, x -> list_contains(['the','a','and','of','to','in','is','that','it','for'], x))) AS BIGINT) AS n_stop,
        | CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
        | CASE WHEN len(w) > 0 THEN CAST(floor(100.0*len(list_filter(w, x -> list_contains(['the','a','and','of','to','in','is','that','it','for'], x)))/len(w)) AS BIGINT) ELSE 0 END AS stop_score
        |FROM q ORDER BY doc_id""".stripMargin),
    query("text_stats")((s, d) => TextAnalysis.textStats(t(s, d, "documents"), "doc_id", "text").orderBy("doc_id"))(
      """WITH q AS (SELECT doc_id,
        |  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w,
        |  replace(trim(regexp_replace(lower(text),'\s+',' ','g')),' ','') AS joined
        | FROM documents)
        |SELECT doc_id,
        | CAST(floor(10.0*length(joined)/len(w)) AS BIGINT) AS avg_word_len_x10,
        | CAST(list_max(list_transform(list_distinct(w), x -> len(list_filter(w, y -> y = x)))) AS BIGINT) AS max_word_rep,
        | CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words
        |FROM q ORDER BY doc_id""".stripMargin),
    query("text_tokens")((s, d) => TextAnalysis.tokenCounts(t(s, d, "documents"), "doc_id", "text").orderBy("doc_id"))(
      """SELECT doc_id, CAST(len(regexp_extract_all(text,'[^ ]+')) AS BIGINT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text,'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    query("text_fingerprint")((s, d) =>
      t(s, d, "documents").select(col("doc_id"), fingerprint64(col("text")).as("fp")).orderBy("doc_id"))(
      // folds over UTF-8 BYTES (hex-pair decode), not codepoints, so the
      // oracle agrees with the engine on non-ASCII text too
      """SELECT doc_id,
        | CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
        |   THEN h - CAST(18446744073709551616 AS HUGEINT) ELSE h END AS BIGINT) AS fp
        |FROM (SELECT doc_id, list_reduce(
        |  list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |    list_transform(range(1, octet_length(encode(text))+1), i ->
        |      CAST(16*(strpos('0123456789ABCDEF', hx[2*i-1:2*i-1])-1)
        |            + (strpos('0123456789ABCDEF', hx[2*i:2*i])-1) AS HUGEINT))),
        |  (acc, b) -> (xor(acc, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS h
        | FROM (SELECT doc_id, text, hex(encode(text)) AS hx FROM documents) src) x
        |ORDER BY doc_id""".stripMargin),
    query("text_topterms")((s, d) =>
      // corpus term frequency top-k: explode → one keyed agg shuffle →
      // total-order top-k (count desc, word asc — deterministic ties)
      t(s, d, "documents")
        .select(explode(split(Dedup.normalize(col("text")), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20))(
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS word
        |      FROM documents) x
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin),
    query("text_rep_stats")((s, d) =>
      // C23: Gopher-style repetition filters (basis-point fractions)
      TextAnalysis.repetitionStats(t(s, d, "documents"), "doc_id", "text").orderBy("doc_id"))(
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws)+1)) AS i FROM w),
        |wstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |                 CAST(max(c) AS BIGINT) AS top_word_rep,
        |                 CAST(sum(c) - count(*) AS BIGINT) AS n_dup
        |          FROM (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1,2) GROUP BY 1),
        |big AS (SELECT doc_id, word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY i) AS bg FROM tok),
        |bstat AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_rep, CAST(sum(c) AS BIGINT) AS n_bigrams
        |          FROM (SELECT doc_id, bg, count(*) AS c FROM big WHERE bg IS NOT NULL GROUP BY 1,2) GROUP BY 1)
        |SELECT w.doc_id, w.n_words, w.top_word_rep,
        |       CAST(coalesce(b.top_bigram_rep, 0) AS BIGINT) AS top_bigram_rep,
        |       CASE WHEN w.n_words > 0 THEN CAST(10000 * w.top_word_rep // w.n_words AS BIGINT) ELSE 0 END AS top_word_bp,
        |       CASE WHEN coalesce(b.n_bigrams,0) > 0 THEN CAST(10000 * b.top_bigram_rep // b.n_bigrams AS BIGINT) ELSE 0 END AS top_bigram_bp,
        |       CASE WHEN w.n_words > 0 THEN CAST(10000 * w.n_dup // w.n_words AS BIGINT) ELSE 0 END AS dup_word_bp
        |FROM wstat w LEFT JOIN bstat b USING (doc_id) ORDER BY w.doc_id""".stripMargin),
    query("text_tfidf_top")((s, d) =>
      // C26: integer-exact tf-idf top-3 terms per document
      TextAnalysis.tfidfTop(t(s, d, "documents"), "doc_id", "text", topK = 3))(
      """WITH tok AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1,2),
        |d AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM tf),
        |s AS (SELECT *, CAST(tf * 1000000 // df AS BIGINT) AS score,
        |             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf * 1000000 // df DESC, term) AS BIGINT) AS rk FROM d)
        |SELECT doc_id, rk, term, tf, df, score FROM s WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),
    query("text_unigram_score")((s, d) =>
      // C51: CCNet-style unigram-LM quality signal (integer ppm/bp)
      TextAnalysis.unigramScore(t(s, d, "documents"), "doc_id", "text"))(
      """WITH tok AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |v AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS total FROM v)
        |SELECT doc_id,
        |       CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       CAST(sum(tf * (ctf * 1000000 // total)) // sum(tf) AS BIGINT) AS mean_tok_ppm,
        |       CAST(10000 * sum(CASE WHEN ctf <= 2 THEN tf ELSE 0 END) // sum(tf) AS BIGINT) AS rare_bp
        |FROM tf JOIN v USING (term) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    query("text_model_score")((s, d) =>
      // C30: hashed-linear model scoring (fastText-filter shape),
      // integer-exact end to end
      TextAnalysis.modelScore(t(s, d, "documents"), "doc_id", "text"))(
      // same HUGEINT FNV-1a fold as the simhash oracle; buckets=4096
      // divides 2^64 so unsigned-mod here == signed-pmod in the engine
      """WITH d AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w
        |  FROM documents),
        |wh AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |      list_transform(range(1, octet_length(encode(word))+1), i ->
        |        CAST(16*(strpos('0123456789ABCDEF', hx[2*i-1:2*i-1])-1)
        |              + (strpos('0123456789ABCDEF', hx[2*i:2*i])-1) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS h
        |  FROM (SELECT doc_id, word, hex(encode(word)) AS hx
        |        FROM (SELECT doc_id, unnest(w) AS word FROM d) u))
        |SELECT doc_id, CAST(sum(CAST(h % 4096 AS BIGINT) % 2001 - 1000) AS BIGINT) AS score,
        |  CAST(CASE WHEN sum(CAST(h % 4096 AS BIGINT) % 2001 - 1000) > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM wh GROUP BY 1 ORDER BY 1""".stripMargin),
    query("corpus_stats")((s, d) => {
      // C31: corpus composition card per (source, lang) — the report a
      // curation run starts and ends with; one keyed agg shuffle
      val docs = t(s, d, "documents")
      docs.select(col("source"), col("lang"), col("n_chars"),
          size(split(Dedup.normalize(col("text")), " ")).cast("long").as("n_words"))
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_words")).as("sum_words"),
          min(col("n_words")).as("min_words"),
          max(col("n_words")).as("max_words"))
        .orderBy(col("source"), col("lang"))
    })(
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' '))) AS BIGINT) AS sum_words,
        |  CAST(min(len(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' '))) AS BIGINT) AS min_words,
        |  CAST(max(len(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' '))) AS BIGINT) AS max_words
        |FROM documents GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    query("text_scrub_pii")((s, d) =>
      // the corpus has no natural PII, so it is staged deterministically
      // per doc (email/phone/IP derived from doc_id) — the oracle runs
      // the identical staging + the identical RE2-safe regex chain
      t(s, d, "documents")
        .select(
          col("doc_id"),
          Curation.scrubPii(concat(
            col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +1 555-867-5309 at 10.0."),
            pmod(col("doc_id"), lit(256L)).cast("string"), lit(".7")
          )).as("scrubbed")
        )
        .orderBy("doc_id"))(
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |  text || ' contact user' || doc_id || '@example.com or +1 555-867-5309 at 10.0.' || (doc_id % 256) || '.7',
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |  '\+?\d[\d\s()-]{6,}\d', '<PHONE>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin),
    query("text_strip_html")((s, d) =>
      t(s, d, "documents")
        .select(
          col("doc_id"),
          Curation.stripMarkup(concat(
            lit("<html><body><p class=\"x\">"), col("text"),
            lit("</p><a href=\"y\">link</a></body></html>")
          )).as("clean")
        )
        .orderBy("doc_id"))(
      """SELECT doc_id, trim(regexp_replace(regexp_replace(
        |  '<html><body><p class="x">' || text || '</p><a href="y">link</a></body></html>',
        |  '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin),
    query("sample_split")((s, d) =>
      // deterministic md5-bucket train/val/test assignment — stable
      // across runs/partitions (never rand()), verified per-split
      Curation.hashSplit(t(s, d, "documents"), "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("split")))(
      """WITH b AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1,9), i -> CAST(strpos('0123456789abcdef',
        |      substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
        |    (a,x) -> a*16+x) % 100 AS bucket FROM documents)
        |SELECT CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
    query("sample_stratified")((s, d) =>
      // C25: per-language deterministic downsampling (en 50%, zh 25%)
      Curation
        .stratifiedSample(t(s, d, "documents"), "doc_id", "lang", Map("en" -> 5000, "zh" -> 2500))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"))(
      """WITH b AS (SELECT doc_id, lang, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1,9), i -> CAST(strpos('0123456789abcdef',
        |      substring(md5(lang || ':' || CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
        |    (a,x) -> a*16+x) % 10000 AS bucket FROM documents)
        |SELECT doc_id, lang FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2500 ELSE 10000 END
        |ORDER BY doc_id""".stripMargin),
    query("decontam_overlap")((s, d) => {
      // benchmark decontamination: corpus docs sharing any word trigram
      // with the (broadcast) eval set doc_id < 5
      val docs = t(s, d, "documents")
      Curation.contaminationHits(
        docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5), "doc_id", "text", n = 3)
    })(
      // string-trigram intersect == hashed-shingle intersect w.h.p (the
      // same equivalence every dedup oracle relies on)
      """WITH n AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w)>=3
        |        THEN list_distinct([array_to_string(w[i:i+2],' ') for i in range(1,len(w)-1)])
        |        ELSE [array_to_string(w,' ')] END AS sh FROM n),
        |bench AS (SELECT list_distinct(flatten(list(sh))) AS bs FROM g WHERE doc_id < 5)
        |SELECT g.doc_id, CAST(len(list_intersect(g.sh, bench.bs)) AS BIGINT) AS n_shared
        |FROM g, bench WHERE g.doc_id >= 5 AND len(list_intersect(g.sh, bench.bs)) >= 1
        |ORDER BY g.doc_id""".stripMargin),
    query("decontam_fuzzy")((s, d) => {
      // C72: fuzzy decontamination — top-50 (corpus doc, eval doc)
      // pairs by exact shingle-set Jaccard (ppm); eval = doc_id%97==0
      val docs = t(s, d, "documents")
      Curation.fuzzyContamination(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3, topK = 50)
    })(
      """WITH nrm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w)>=3
        |        THEN list_distinct([array_to_string(w[i:i+2],' ') for i in range(1,len(w)-1)])
        |        ELSE [array_to_string(w,' ')] END AS sh FROM nrm),
        |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS s FROM g),
        |ex AS (SELECT doc_id, unnest(sh) AS h FROM g),
        |co AS (SELECT a.doc_id, b.doc_id AS eval_id, CAST(count(*) AS BIGINT) AS shared
        |       FROM ex a JOIN ex b ON a.h = b.h AND b.doc_id % 97 = 0 AND a.doc_id % 97 <> 0
        |       GROUP BY 1,2)
        |SELECT co.doc_id, co.eval_id, co.shared,
        |  CAST((co.shared * 1000000) // (sa.s + sb.s - co.shared) AS BIGINT) AS jaccard_ppm
        |FROM co JOIN sz sa ON co.doc_id = sa.doc_id JOIN sz sb ON co.eval_id = sb.doc_id
        |ORDER BY jaccard_ppm DESC, co.doc_id, co.eval_id LIMIT 50""".stripMargin),
    query("heavy_hitters")((s, d) =>
      // C41: exact term counts >= threshold via Count-Min prefilter
      TextAnalysis.heavyHitters(t(s, d, "documents"), "text", minCount = 30L))(
      """WITH t AS (SELECT unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS term
        |          FROM documents)
        |SELECT term, count(*) AS n FROM t WHERE term <> ''
        |GROUP BY 1 HAVING count(*) >= 30 ORDER BY n DESC, term""".stripMargin),
    query("mix_allocate")((s, d) =>
      // C55: sqrt-temperature mixture allocation, exact budget apportionment
      Curation.temperatureAllocate(t(s, d, "documents"), "source", budget = 100000L))(
      """WITH c AS (SELECT source AS stratum, count(*) AS docs,
        |  CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM c),
        |b AS (SELECT stratum, docs, w, CAST((100000 * w) // tw AS BIGINT) AS base,
        |             CAST((100000 * w) % tw AS BIGINT) AS rem FROM c, t),
        |l AS (SELECT CAST(100000 - sum(base) AS BIGINT) AS r FROM b),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum) AS rn FROM b)
        |SELECT stratum, docs, w, CAST(base + CASE WHEN rn <= l.r THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM rk, l ORDER BY stratum""".stripMargin),
    query("sample_weighted")((s, d) =>
      // C57: sequential-Poisson weighted sample, weight = doc length
      Curation.weightedSample(t(s, d, "documents"), "doc_id", "n_chars", k = 200))(
      """WITH b AS (SELECT doc_id, n_chars AS weight, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1,9), i -> CAST(strpos('0123456789abcdef',
        |      substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
        |    (a,x) -> a*16+x) AS h FROM documents),
        |p AS (SELECT doc_id, weight, CAST(h // greatest(weight, 1) AS BIGINT) AS priority FROM b)
        |SELECT doc_id, weight, priority FROM p ORDER BY priority, doc_id LIMIT 200""".stripMargin),
    query("shuffle_shards")((s, d) =>
      // C60: deterministic training-shard assignment + intra-shard
      // shuffle order, proven via per-shard order-sensitive checksums
      Curation.shuffleShards(t(s, d, "documents"), "doc_id", "n_chars", nShards = 16))(
      """WITH h AS (SELECT doc_id, n_chars,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1,9), i -> CAST(strpos('0123456789abcdef',
        |    substring(md5(CAST(doc_id AS VARCHAR) || ':s'), i, 1)) - 1 AS BIGINT))), (a,x) -> a*16+x) % 16 AS shard,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1,9), i -> CAST(strpos('0123456789abcdef',
        |    substring(md5(CAST(doc_id AS VARCHAR) || ':p'), i, 1)) - 1 AS BIGINT))), (a,x) -> a*16+x) AS pos
        |  FROM documents),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY shard ORDER BY pos, doc_id) AS BIGINT) AS rn,
        |             count(*) OVER (PARTITION BY shard) AS cnt FROM h)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_size,
        |       min(CASE WHEN rn = 1 THEN doc_id END) AS first_id,
        |       min(CASE WHEN rn = cnt THEN doc_id END) AS last_id,
        |       CAST(sum(rn * (doc_id % 1000003)) AS BIGINT) AS order_checksum
        |FROM r GROUP BY shard ORDER BY shard""".stripMargin),
    query("dup_span_stats")((s, d) =>
      // C58: positional duplicated-span stats (longest clip-out run)
      Curation.dupSpanStats(t(s, d, "documents"), "doc_id", "text", n = 8))(
      // w = floor(sqrt(count)) is cross-engine exact: IEEE sqrt is
      // correctly rounded in both engines; the rest is integer math
      // string n-grams positionally; engine hashes them to 8 bytes in
      // the kernel (hash-equivalent w.h.p. — the dup_ngram_mass discipline)
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |x AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 8 + 1, 0))) AS pos FROM w),
        |g AS (SELECT doc_id, pos, array_to_string(ws[pos + 1 : pos + 8], ' ') AS ng FROM x),
        |f AS (SELECT ng, min(doc_id) AS first_id FROM g GROUP BY 1),
        |s AS (SELECT g.doc_id, g.pos, (f.first_id < g.doc_id) AS shared FROM g JOIN f USING (ng)),
        |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |             CAST(sum(CASE WHEN shared THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows FROM s GROUP BY 1),
        |runs AS (SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM s WHERE shared),
        |mr AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_dup_run FROM
        |  (SELECT doc_id, grp, count(*) AS c FROM runs GROUP BY 1, 2) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_windows, 0) AS n_windows, coalesce(dup_windows, 0) AS dup_windows,
        |       coalesce(max_dup_run, 0) AS max_dup_run
        |FROM documents d LEFT JOIN a USING (doc_id) LEFT JOIN mr USING (doc_id) ORDER BY doc_id""".stripMargin),
    query("text_bigram_pmi")((s, d) =>
      // C62: top collocations by integer lift (the PMI ratio) — count
      // separates frequency, lift separates association
      TextAnalysis.pmiCollocations(t(s, d, "documents"), "text", minCount = 5, topK = 20))(
      """WITH w AS (SELECT string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws FROM documents),
        |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (SELECT unnest(ws) AS tok FROM w) GROUP BY 1),
        |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uc),
        |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cxy
        |       FROM (SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS bigram FROM w)
        |       GROUP BY 1 HAVING count(*) >= 5),
        |j AS (SELECT bigram, cxy, string_split(bigram, ' ')[1] AS x, string_split(bigram, ' ')[2] AS y FROM bc)
        |SELECT bigram, cxy, ux.c AS cx, uy.c AS cy,
        |  CAST((CAST(nt.n AS HUGEINT) * cxy * 1000000) // (CAST(ux.c AS HUGEINT) * uy.c) AS BIGINT) AS lift_ppm
        |FROM j JOIN uc ux ON j.x = ux.tok JOIN uc uy ON j.y = uy.tok, nt
        |ORDER BY lift_ppm DESC, bigram LIMIT 20""".stripMargin),
    query("pack_sequences")((s, d) => {
      val toks = size(split(Dedup.normalize(col("text")), " ")).cast("long")
      Curation.packSequences(t(s, d, "documents"), "doc_id", toks, budget = 512L, shards = 8)
        .groupBy(col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("shard"), col("pack_id"))
    })(
      """WITH t AS (SELECT doc_id, len(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS n_tokens,
        |                  doc_id % 8 AS shard FROM documents),
        |c AS (SELECT shard, doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev FROM t)
        |SELECT shard, CAST(floor(prev/512) AS BIGINT) AS pack_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    query("curate_corpus")((s, d) => {
      // the end-to-end curation decision, composed from the pipeline's
      // own operators: keep only near-dup-cluster survivors that also
      // clear the quality floor, then report the surviving corpus per
      // language — what a training-data run actually materializes
      val docs = t(s, d, "documents")
      val kept = Dedup
        .clusterAssign(docs, "doc_id", Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tauPct = 80))
        .filter(col("is_kept") === 1L)
        .select("doc_id")
      docs
        .join(kept, "doc_id")
        .filter(length(col("text")) >= 50 && size(split(Dedup.normalize(col("text")), " ")) >= 10)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))
    })(
      """WITH RECURSIVE
        |n AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w)>=3
        |        THEN list_distinct([array_to_string(w[i:i+2],' ') for i in range(1,len(w)-1)])
        |        ELSE [array_to_string(w,' ')] END AS sh FROM n),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id
        |      WHERE 100*len(list_intersect(a.sh,b.sh)) >= 80*(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
        |walk AS (
        |  SELECT src AS id, dst AS reach FROM e
        |  UNION
        |  SELECT w.id, e.dst FROM walk w JOIN e ON w.reach = e.src),
        |comp AS (SELECT id, least(id, min(reach)) AS cluster_id FROM walk GROUP BY id)
        |SELECT d.lang, count(*) AS n_docs, CAST(sum(d.doc_id) AS BIGINT) AS sum_ids
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |WHERE coalesce(c.cluster_id, d.doc_id) = d.doc_id
        |  AND length(d.text) >= 50
        |  AND len(string_split(trim(regexp_replace(lower(d.text),'\s+',' ','g')),' ')) >= 10
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("curate_corpus_v2")((s, d) =>
      // C76: the END-TO-END curation pipeline as ONE plan — clip-out
      // dedup (C70) → fuzzy decontam vs eval docs (C72) → per-source
      // quality gate on cleaned length (C33) → sqrt-temperature
      // allocation (C55) → deterministic down-select → shard manifest
      // (C60); the card's order-sensitive checksums witness every
      // stage's membership. The doc-level signal frame localCheckpoints
      // — the final plan re-reads no fact table (plan-locked)
      Curation.curatePipeline(t(s, d, "documents"), "doc_id", "text", "source",
        evalCol = col("doc_id") % 97 === 0))(
      // C76: the five pipeline stages as one CTE chain — clip first-seen
      // (string n-grams, hash-equivalent to the engine's 8-byte shingle
      // hashes w.h.p.), fuzzy-Jaccard decontam, percentile gate on
      // cleaned length, largest-remainder sqrt allocation, md5-ranked
      // down-select, and the order-sensitive shard card
      """WITH w AS (SELECT doc_id, source, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws FROM documents),
        |x AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 7, 0))) AS pos FROM w WHERE doc_id % 97 <> 0),
        |g8 AS (SELECT doc_id, pos, array_to_string(ws[pos + 1 : pos + 8], ' ') AS ng FROM x),
        |f8 AS (SELECT ng, min(doc_id) AS first_id FROM g8 GROUP BY 1),
        |shm AS (SELECT g8.doc_id, g8.pos FROM g8 JOIN f8 USING (ng) WHERE f8.first_id < g8.doc_id),
        |rm AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS tpos FROM shm),
        |clip AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM rm GROUP BY 1),
        |g3 AS (SELECT doc_id, CASE WHEN len(ws) >= 3
        |        THEN list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)])
        |        ELSE [array_to_string(ws,' ')] END AS sh FROM w),
        |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS s FROM g3),
        |ex AS (SELECT doc_id, unnest(sh) AS h FROM g3),
        |co AS (SELECT a.doc_id, b.doc_id AS eval_id, CAST(count(*) AS BIGINT) AS shared
        |       FROM ex a JOIN ex b ON a.h = b.h AND b.doc_id % 97 = 0 AND a.doc_id % 97 <> 0 GROUP BY 1,2),
        |bad AS (SELECT DISTINCT co.doc_id FROM co JOIN sz sa ON co.doc_id = sa.doc_id JOIN sz sb ON co.eval_id = sb.doc_id
        |        WHERE co.shared * 1000000 >= 150000 * (sa.s + sb.s - co.shared)),
        |sig AS (SELECT w.doc_id, w.source, CAST(len(ws) AS BIGINT) - coalesce(clip.n_removed, 0) AS kept_tokens
        |        FROM w LEFT JOIN clip USING (doc_id)
        |        WHERE w.doc_id % 97 <> 0 AND w.doc_id NOT IN (SELECT doc_id FROM bad)),
        |gate AS (SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY kept_tokens, doc_id) AS BIGINT) AS rnk,
        |               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns FROM sig),
        |kept AS (SELECT doc_id, source, kept_tokens FROM gate WHERE 10000 * (rnk - 1) >= 2000 * (ns - 1)),
        |c AS (SELECT source AS stratum, count(*) AS docs, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w2 FROM kept GROUP BY 1),
        |t2 AS (SELECT CAST(sum(w2) AS BIGINT) AS tw FROM c),
        |b AS (SELECT stratum, CAST((200 * w2) // tw AS BIGINT) AS base, CAST((200 * w2) % tw AS BIGINT) AS rem FROM c, t2),
        |l AS (SELECT CAST(200 - sum(base) AS BIGINT) AS r FROM b),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum) AS rn FROM b),
        |alloc AS (SELECT stratum, CAST(base + CASE WHEN rn <= l.r THEN 1 ELSE 0 END AS BIGINT) AS alloc FROM rk, l),
        |selr AS (SELECT k.doc_id, k.kept_tokens, k.source,
        |           row_number() OVER (PARTITION BY k.source ORDER BY
        |             list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1,9), i -> CAST(strpos('0123456789abcdef',
        |               substring(md5(CAST(k.doc_id AS VARCHAR) || ':m'), i, 1)) - 1 AS BIGINT))), (a,x) -> a*16+x), k.doc_id) AS srn
        |         FROM kept k),
        |sel AS (SELECT selr.doc_id, selr.kept_tokens FROM selr JOIN alloc ON selr.source = alloc.stratum WHERE srn <= alloc.alloc),
        |h AS (SELECT doc_id, kept_tokens,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1,9), i -> CAST(strpos('0123456789abcdef',
        |          substring(md5(CAST(doc_id AS VARCHAR) || ':s'), i, 1)) - 1 AS BIGINT))), (a,x) -> a*16+x) % 8 AS shard,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1,9), i -> CAST(strpos('0123456789abcdef',
        |          substring(md5(CAST(doc_id AS VARCHAR) || ':p'), i, 1)) - 1 AS BIGINT))), (a,x) -> a*16+x) AS pos
        |      FROM sel),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY shard ORDER BY pos, doc_id) AS BIGINT) AS rn,
        |             count(*) OVER (PARTITION BY shard) AS cnt FROM h)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(kept_tokens) AS BIGINT) AS total_size,
        |       min(CASE WHEN rn = 1 THEN doc_id END) AS first_id,
        |       min(CASE WHEN rn = cnt THEN doc_id END) AS last_id,
        |       CAST(sum(rn * (doc_id % 1000003)) AS BIGINT) AS order_checksum
        |FROM r GROUP BY shard ORDER BY shard""".stripMargin),
    query("dup_ngram_mass")((s, d) =>
      // C47: per-doc duplicated 5-gram fraction vs earlier docs — the
      // corpus duplication signal (Lee et al. 2022)
      Curation.dupNgramMass(t(s, d, "documents"), "doc_id", "text", n = 5))(
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws FROM documents),
        |e AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS sh
        |      FROM w, unnest(range(1, len(ws) - 3)) AS t(i)
        |      WHERE len(ws) >= 5),
        |f AS (SELECT sh, min(doc_id) AS first_id FROM e GROUP BY 1),
        |p AS (SELECT e.doc_id, count(*) AS n_ngrams,
        |        CAST(sum(CASE WHEN f.first_id < e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |      FROM e JOIN f USING (sh) GROUP BY 1)
        |SELECT d.doc_id, coalesce(p.n_ngrams, 0) AS n_ngrams, coalesce(p.n_dup, 0) AS n_dup,
        |  CASE WHEN coalesce(p.n_ngrams, 0) > 0
        |    THEN CAST((10000 * p.n_dup) // p.n_ngrams AS BIGINT) ELSE 0 END AS dup_bp
        |FROM documents d LEFT JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin),
    query("text_clip_dedup")((s, d) =>
      // C70: Lee-et-al exact-substring clip-out — remove every token
      // covered by an 8-token window an earlier doc already contains
      Curation.clipDedup(t(s, d, "documents"), "doc_id", "text", n = 8))(
      // clip-out replayed on string n-grams (hash-equivalent w.h.p. to
      // the engine's 8-byte shingle kernel — the dup_span_stats trade)
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |x AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 8 + 1, 0))) AS pos FROM w),
        |g AS (SELECT doc_id, pos, array_to_string(ws[pos + 1 : pos + 8], ' ') AS ng FROM x),
        |f AS (SELECT ng, min(doc_id) AS first_id FROM g GROUP BY 1),
        |sh AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (ng) WHERE f.first_id < g.doc_id),
        |rm AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS tpos FROM sh),
        |rml AS (SELECT doc_id, list(tpos) AS rm, CAST(count(*) AS BIGINT) AS n_removed FROM rm GROUP BY 1)
        |SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |       coalesce(n_removed, 0) AS n_removed,
        |       md5(coalesce(array_to_string([ws[i + 1] for i in range(0, len(ws))
        |         if NOT list_contains(coalesce(rm, []), i)], ' '), '')) AS clean_hash
        |FROM w LEFT JOIN rml USING (doc_id) ORDER BY doc_id""".stripMargin),
    query("text_novelty")((s, d) =>
      // C74: per-doc shingle novelty vs everything earlier in corpus
      // order — first-witness assignment via one hash-keyed min
      Curation.ngramNovelty(t(s, d, "documents"), "doc_id", "text", n = 5))(
      """WITH nrm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w)>=5
        |        THEN list_distinct([array_to_string(w[i:i+4],' ') for i in range(1,len(w)-3)])
        |        ELSE [array_to_string(w,' ')] END AS sh FROM nrm),
        |ex AS (SELECT doc_id, unnest(sh) AS h FROM g),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM ex GROUP BY 1),
        |nv AS (SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
        |       FROM (SELECT h, min(doc_id) AS first_doc FROM ex GROUP BY 1) GROUP BY 1)
        |SELECT pd.doc_id, pd.n_shingles, CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel,
        |  CAST(COALESCE(nv.n_novel, 0) * 1000000 // pd.n_shingles AS BIGINT) AS novelty_ppm
        |FROM pd LEFT JOIN nv ON pd.doc_id = nv.doc_id ORDER BY pd.doc_id""".stripMargin),
    query("text_winnow_fp")((s, d) =>
      // C65: winnowing positional fingerprints (MOSS, SIGMOD 2003) —
      // window-min selection over k=4-word shingle hashes, w=4
      TextAnalysis.winnowFingerprints(t(s, d, "documents"), "doc_id", "text", k = 4, w = 4))(
      // winnowing replayed exactly: same md5-of-shingle selection key
      // (hash || ':' || zero-padded pos), same w-row window min, same
      // short-document single-global-min rule
      """WITH wd AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws FROM documents),
        |g AS (SELECT doc_id, len(ws) - 3 AS n_grams, unnest(range(1, len(ws) - 2)) AS pos, ws
        |      FROM wd WHERE len(ws) >= 4),
        |k AS (SELECT doc_id, n_grams, pos,
        |        md5(array_to_string(ws[pos:pos+3], ' ')) || ':' || lpad(CAST(pos AS VARCHAR), 10, '0') AS key FROM g),
        |s AS (SELECT doc_id, n_grams, pos,
        |        min(key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel FROM k)
        |SELECT DISTINCT doc_id, substring(sel, 1, 32) AS fp_hash, CAST(substring(sel, 34, 10) AS BIGINT) AS fp_pos
        |FROM s WHERE pos >= 4 OR (n_grams < 4 AND pos = n_grams)
        |ORDER BY doc_id, fp_pos, fp_hash""".stripMargin),
    query("sparse_cosine_join")((s, d) =>
      // C66: inverted-index tf-idf cosine θ-join — integer weights,
      // squared-threshold compare, no floats anywhere
      Dedup.sparseCosineJoin(t(s, d, "documents"), "doc_id", "text", tauBp = 8000, maxDf = 1000L))(
      // integer tf-idf weights (tf*1000 // df, df-capped vector space),
      // HUGEINT squared-cosine threshold — replays the engine bit-for-bit
      """WITH tok AS (SELECT doc_id AS id, unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS term FROM documents),
        |tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1,2),
        |d AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM tf),
        |w AS (SELECT id, term, CAST(tf * 1000 // df AS BIGINT) AS w FROM d
        |      WHERE df <= 1000 AND tf * 1000 // df > 0),
        |n AS (SELECT id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY 1),
        |p AS (SELECT a.id AS id_a, b.id AS id_b, CAST(sum(a.w * b.w) AS BIGINT) AS dot
        |      FROM w a JOIN w b ON a.term = b.term AND a.id < b.id GROUP BY 1,2)
        |SELECT id_a, id_b, dot,
        |  CAST((CAST(dot AS HUGEINT) * dot * 100000000) // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT) AS cos2_x1e8
        |FROM p JOIN n na ON p.id_a = na.id JOIN n nb ON p.id_b = nb.id
        |WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 100000000 >= CAST(8000 AS HUGEINT) * 8000 * na.n2 * nb.n2
        |ORDER BY id_a, id_b""".stripMargin),
    query("chunk_overlap")((s, d) =>
      // C67: overlapping 64-token chunks at stride 48 (16-token
      // overlap), identified by content hash — zero-shuffle projection
      Curation.chunkOverlap(t(s, d, "documents"), "doc_id", "text", chunkTokens = 64, stride = 48))(
      """WITH wd AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws FROM documents),
        |c AS (SELECT doc_id, ws, unnest(range(0, (len(ws) - 1) // 48 + 1)) AS chunk_id FROM wd)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 + 1 AS BIGINT) AS start_pos,
        |  CAST(len(ws[chunk_id*48+1 : chunk_id*48+64]) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(ws[chunk_id*48+1 : chunk_id*48+64], ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),
    query("moving_distinct_7d")((s, d) =>
      // B62: EXACT trailing 7-day distinct users (weekly-active-users)
      // via the coverage-explosion plan — distinct doesn't compose
      // over B23's RANGE frame
      TimeSeries.movingDistinct7d(t(s, d, "events")))(
      """WITH ud AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_id, user_id FROM events),
        |days AS (SELECT DISTINCT day_id FROM ud)
        |SELECT CAST(d.day_id AS BIGINT) AS day_id,
        |       CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_users_7d
        |FROM days d JOIN ud u ON u.day_id BETWEEN d.day_id - 6 AND d.day_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("cumulative_distinct")((s, d) =>
      // B64: exact users-ever-seen by day via first-seen-day counts +
      // a prefix sum — no coverage explosion, no expanding distinct
      TimeSeries.cumulativeDistinctUsers(t(s, d, "events")))(
      // the oracle runs the naive O(days*users) expanding distinct the
      // engine's first-seen-day plan avoids — same answer
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day_id, user_id FROM events),
        |d AS (SELECT DISTINCT day_id FROM e)
        |SELECT CAST(d.day_id AS BIGINT) AS day_id,
        |  CAST(count(DISTINCT CASE WHEN f.first_day = d.day_id THEN f.user_id END) AS BIGINT) AS n_new,
        |  CAST(count(DISTINCT CASE WHEN f.first_day <= d.day_id THEN f.user_id END) AS BIGINT) AS n_users_cum
        |FROM d CROSS JOIN (SELECT user_id, min(day_id) AS first_day FROM e GROUP BY 1) f
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("mm_binary_meta")((s, d) =>
      Multimodal.binaryMeta(
        t(s, d, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id",
        "payload"
      ))(
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        | lower(hex(CAST(substring(text,1,8) AS BLOB))) AS header_hex,
        | md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
    query("mm_frame_sample")((s, d) => {
      // C13, de-stubbed: REAL PNGs staged per doc (JDK encoder), then
      // REAL javax.imageio decode — frame f = pixel row f*4, exact
      // Long channel sums the oracle integrates in closed form from
      // the staged pattern (r=(id%200)+y, g=(id%100)+x, b=x+y).
      // Payloads parquet-staged once per scale dir, same discipline as
      // mm_jpeg/gif/tiff: the benched query measures the DECODE, not
      // the per-row zlib PNG encode that stages it.
      val docs = t(s, d, "documents")
      val staged = Multimodal.stageBytesIfAbsent(s, docs,
        s"target/mm_frame_png_${d.replaceAll("[^A-Za-z0-9]", "_")}", "v1") {
        Multimodal.encodeStagedPng(
          s,
          docs.select(col("doc_id"),
            (lit(8) + col("doc_id") % 9).as("w"), (lit(8) + col("doc_id") % 5).as("h")),
          "doc_id", "w", "h").select(col("doc_id"), col("png"))
      }
      Multimodal.decodeFrameSample(s, staged, "doc_id", "png", rowStride = 4, maxFrames = 4)
    })(
      // the engine side ENCODES real PNGs and DECODES them with
      // javax.imageio; the oracle integrates the staged pixel pattern
      // (r=(id%200)+y, g=(id%100)+x, b=x+y over a w x h image) in closed
      // form — any decode defect (wrong defilter, wrong dims, wrong
      // channel order) breaks the hash match
      """SELECT d.doc_id,
        |  t.f AS frame_idx,
        |  (8 + d.doc_id % 9) AS width,
        |  (8 + d.doc_id % 9) * ((d.doc_id % 200) + t.f * 4) AS sum_r,
        |  (8 + d.doc_id % 9) * (d.doc_id % 100)
        |    + (8 + d.doc_id % 9) * (8 + d.doc_id % 9 - 1) // 2 AS sum_g,
        |  (8 + d.doc_id % 9) * (t.f * 4)
        |    + (8 + d.doc_id % 9) * (8 + d.doc_id % 9 - 1) // 2 AS sum_b
        |FROM documents d, (SELECT unnest(generate_series(0, 3)) AS f) t
        |WHERE t.f * 4 < (8 + d.doc_id % 5)
        |ORDER BY d.doc_id, t.f""".stripMargin),
    query("mm_frame_bytes")((s, d) =>
      Multimodal.frameSample(
        t(s, d, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id",
        "payload",
        frameLen = 16,
        stride = 64,
        maxFrames = 4
      ))(
      """SELECT doc_id, f AS frame_idx, lower(hex(CAST(substring(text, CAST(1+f*64 AS INT), 16) AS BLOB))) AS frame_hex
        |FROM documents, (SELECT unnest(range(4)) AS f) t
        |WHERE octet_length(CAST(text AS BLOB)) >= f*64+16
        |ORDER BY doc_id, frame_idx""".stripMargin),
    query("mm_pixel_resize")((s, d) => {
      // C22 pixel form: real decode + exact box-filter downsample to a
      // 2x2 grid (block channel sums — the integer-exact numerators of
      // the box average). Payloads parquet-staged once per scale dir
      // (see mm_frame_sample).
      val docs = t(s, d, "documents")
      val staged = Multimodal.stageBytesIfAbsent(s, docs,
        s"target/mm_resize_png_${d.replaceAll("[^A-Za-z0-9]", "_")}", "v1") {
        Multimodal.encodeStagedPng(
          s,
          docs.select(col("doc_id"),
            (lit(8) + (col("doc_id") % 5) * 2).as("w"), (lit(8) + (col("doc_id") % 3) * 4).as("h")),
          "doc_id", "w", "h").select(col("doc_id"), col("png"))
      }
      Multimodal.decodePixelResize(s, staged, "doc_id", "png", outW = 2, outH = 2)
    })(
      """WITH blocks AS (
        |  SELECT doc_id,
        |         (8 + (doc_id % 5) * 2) // 2 AS bw,
        |         (8 + (doc_id % 3) * 4) // 2 AS bh,
        |         bxt.bx AS bx, byt.by AS by
        |  FROM documents,
        |       (SELECT unnest(generate_series(0, 1)) AS bx) bxt,
        |       (SELECT unnest(generate_series(0, 1)) AS by) byt)
        |SELECT doc_id, bx, by,
        |  bw * bh * (doc_id % 200) + bw * (bh * (by * bh) + bh * (bh - 1) // 2) AS sum_r,
        |  bw * bh * (doc_id % 100) + bh * (bw * (bx * bw) + bw * (bw - 1) // 2) AS sum_g,
        |  bh * (bw * (bx * bw) + bw * (bw - 1) // 2)
        |    + bw * (bh * (by * bh) + bh * (bh - 1) // 2) AS sum_b
        |FROM blocks ORDER BY doc_id, by, bx""".stripMargin),
    query("mm_byte_resize")((s, d) =>
      Multimodal.byteResize(
        t(s, d, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", stride = 4, maxBytes = 16))(
      """SELECT doc_id, CAST(octlen AS BIGINT) AS byte_len, array_to_string(
        |  [substring(hx, i*8+1, 2) for i in range(0, 16) if i*4 < octlen], '') AS resized_hex
        |FROM (SELECT doc_id, lower(hex(CAST(text AS BLOB))) AS hx,
        |             octet_length(CAST(text AS BLOB)) AS octlen FROM documents)
        |ORDER BY doc_id""".stripMargin),
    query("mm_png_meta")((s, d) => {
      // C43: REAL PNG signature + IHDR parsing (byte-faithful headers
      // staged for 2/3 of docs; the rest are non-PNG text bytes)
      val payloads = t(s, d, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 3 =!= 0,
          Multimodal.pngHeaderBytes(lit(16L) + col("doc_id") % 1920L, lit(16L) + col("doc_id") % 1080L))
          .otherwise(col("text").cast("binary")).as("payload"))
      Multimodal.parsePngMeta(payloads, "doc_id", "payload")
    })(
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 <> 0 THEN
        |      concat('89504E470D0A1A0A', '0000000D', '49484452',
        |             lpad(hex(16 + doc_id % 1920), 8, '0'),
        |             lpad(hex(16 + doc_id % 1080), 8, '0'),
        |             '08', '06', '000000')
        |    ELSE hex(CAST(text AS BLOB)) END AS hx
        |  FROM documents),
        |f AS (SELECT doc_id, hx,
        |        (substring(hx,1,16) = '89504E470D0A1A0A' AND substring(hx,25,8) = '49484452') AS ok
        |      FROM p)
        |SELECT doc_id,
        |  CAST(CASE WHEN ok THEN 1 ELSE 0 END AS BIGINT) AS is_png,
        |  CASE WHEN ok THEN CAST(concat('0x', substring(hx,33,8)) AS BIGINT) END AS width,
        |  CASE WHEN ok THEN CAST(concat('0x', substring(hx,41,8)) AS BIGINT) END AS height,
        |  CASE WHEN ok THEN CAST(concat('0x', substring(hx,49,2)) AS BIGINT) END AS bit_depth,
        |  CASE WHEN ok THEN CAST(concat('0x', substring(hx,51,2)) AS BIGINT) END AS color_type
        |FROM f ORDER BY doc_id""".stripMargin),
    query("mm_wav_meta")((s, d) => {
      // C46: REAL WAV/RIFF header parsing (byte-faithful canonical PCM
      // headers staged for 2/3 of docs; the rest are non-WAV text
      // bytes). Rates span >65536 so the 3rd little-endian byte is
      // exercised
      val payloads = t(s, d, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 3 =!= 0,
          Multimodal.wavHeaderBytes(
            lit(1L) + col("doc_id") % 2,
            lit(8000L) + (col("doc_id") % 6) * 16000L,
            lit(8L) * (lit(1L) + col("doc_id") % 3)))
          .otherwise(col("text").cast("binary")).as("payload"))
      Multimodal.parseWavMeta(payloads, "doc_id", "payload")
    })(
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 <> 0 THEN
        |      concat('52494646', '00000000', '57415645', '666D7420', '10000000', '0100',
        |        lpad(hex((1 + doc_id % 2) % 256), 2, '0'), lpad(hex((1 + doc_id % 2) // 256), 2, '0'),
        |        lpad(hex((8000 + (doc_id % 6) * 16000) % 256), 2, '0'),
        |        lpad(hex(((8000 + (doc_id % 6) * 16000) // 256) % 256), 2, '0'),
        |        lpad(hex(((8000 + (doc_id % 6) * 16000) // 65536) % 256), 2, '0'),
        |        lpad(hex(((8000 + (doc_id % 6) * 16000) // 16777216) % 256), 2, '0'),
        |        '00000000', '0000',
        |        lpad(hex((8 * (1 + doc_id % 3)) % 256), 2, '0'), lpad(hex((8 * (1 + doc_id % 3)) // 256), 2, '0'))
        |    ELSE hex(CAST(text AS BLOB)) END AS hx
        |  FROM documents),
        |f AS (SELECT doc_id, hx,
        |        (substring(hx,1,8) = '52494646' AND substring(hx,17,8) = '57415645'
        |          AND substring(hx,25,8) = '666D7420') AS ok
        |      FROM p)
        |SELECT doc_id,
        |  CAST(CASE WHEN ok THEN 1 ELSE 0 END AS BIGINT) AS is_wav,
        |  CASE WHEN ok THEN CAST(concat('0x', substring(hx,47,2), substring(hx,45,2)) AS BIGINT) END AS n_channels,
        |  CASE WHEN ok THEN CAST(concat('0x', substring(hx,55,2), substring(hx,53,2),
        |    substring(hx,51,2), substring(hx,49,2)) AS BIGINT) END AS sample_rate,
        |  CASE WHEN ok THEN CAST(concat('0x', substring(hx,71,2), substring(hx,69,2)) AS BIGINT) END AS bits_per_sample
        |FROM f ORDER BY doc_id""".stripMargin),
    query("mm_jpeg_meta")((s, d) => {
      // C61: REAL JPEG SOF parsing via the bounded marker walk — 2/3
      // of docs carry genuine JDK-encoded JPEGs (variable-length
      // APP0/DQT chain ahead of SOF0), the rest non-JPEG text bytes;
      // the oracle knows the staged dims in closed form
      // payloads are staged to parquet ONCE per scale dir (fingerprint
      // guard) so the repeated runs measure the marker-walk parse, not
      // the per-row JDK ImageIO encode
      val docs = t(s, d, "documents")
      val jp = Multimodal.stageBytesIfAbsent(s, docs,
        s"target/mm_jpeg_${d.replaceAll("[^A-Za-z0-9]", "_")}", "v1") {
        Multimodal.encodeStagedJpeg(s,
          docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"),
            (lit(8) + col("doc_id") % 32).as("w"), (lit(8) + col("doc_id") % 24).as("h")),
          "doc_id", "w", "h").select(col("doc_id"), col("jpeg").as("payload"))
      }
      val tx = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.parseJpegMeta(jp.unionByName(tx), "doc_id", "payload")
    })(
      // the engine walks REAL JDK-encoded JPEG bytes to SOF0; the oracle
      // states the staged ground truth in closed form (same discipline
      // as mm_frame_sample: decode is engine-side, truth is derivable)
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT) AS is_jpeg,
        |  CASE WHEN doc_id % 3 <> 0 THEN CAST(8 + doc_id % 32 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 3 <> 0 THEN CAST(8 + doc_id % 24 AS BIGINT) END AS height,
        |  CASE WHEN doc_id % 3 <> 0 THEN CAST(3 AS BIGINT) END AS n_components
        |FROM documents ORDER BY doc_id""".stripMargin),
    query("mm_gif_meta")((s, d) => {
      // C64: REAL GIF header parsing — 2/3 of docs carry genuine
      // JDK-encoded GIF89a payloads (logical screen descriptor +
      // LZW image data), the rest non-GIF text bytes; the oracle
      // states the staged dims in closed form (mm_jpeg discipline)
      // staged once per scale dir; repeated runs measure the parse
      val docs = t(s, d, "documents")
      val gf = Multimodal.stageBytesIfAbsent(s, docs,
        s"target/mm_gif_${d.replaceAll("[^A-Za-z0-9]", "_")}", "v1") {
        Multimodal.encodeStagedGif(s,
          docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"),
            (lit(8) + col("doc_id") % 64).as("w"), (lit(8) + col("doc_id") % 48).as("h")),
          "doc_id", "w", "h").select(col("doc_id"), col("gif").as("payload"))
      }
      val tx = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.parseGifMeta(gf.unionByName(tx), "doc_id", "payload")
    })(
      // the engine parses REAL JDK-encoded GIF89a bytes; the oracle
      // states the staged ground truth in closed form (mm_jpeg discipline)
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT) AS is_gif,
        |  CASE WHEN doc_id % 3 <> 0 THEN CAST(8 + doc_id % 64 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 3 <> 0 THEN CAST(8 + doc_id % 48 AS BIGINT) END AS height
        |FROM documents ORDER BY doc_id""".stripMargin),
    query("mm_tiff_meta")((s, d) => {
      // C75: REAL TIFF IFD parsing — 2/3 of docs carry genuine
      // JDK-encoded TIFFs (big-endian header + tag directory +
      // uncompressed strips), the rest non-TIFF text bytes; dims are
      // SMALL (uncompressed format) and the oracle states them in
      // closed form (mm_jpeg/mm_gif discipline)
      // staged once per scale dir; repeated runs measure the IFD walk
      val docs = t(s, d, "documents")
      val tf = Multimodal.stageBytesIfAbsent(s, docs,
        s"target/mm_tiff_${d.replaceAll("[^A-Za-z0-9]", "_")}", "v1") {
        Multimodal.encodeStagedTiff(s,
          docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"),
            (lit(8) + col("doc_id") % 32).as("w"), (lit(8) + col("doc_id") % 24).as("h")),
          "doc_id", "w", "h").select(col("doc_id"), col("tiff").as("payload"))
      }
      val tx = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.parseTiffMeta(tf.unionByName(tx), "doc_id", "payload")
    })(
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT) AS is_tiff,
        |  CASE WHEN doc_id % 3 <> 0 THEN 'MM' END AS byte_order,
        |  CASE WHEN doc_id % 3 <> 0 THEN CAST(8 + doc_id % 32 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 3 <> 0 THEN CAST(8 + doc_id % 24 AS BIGINT) END AS height
        |FROM documents ORDER BY doc_id""".stripMargin),
    query("events_props_agg")((s, d) =>
      // B34: semi-structured payload analytics — extract a typed field
      // from the JSON props column at scan time (one codegen'd
      // get_json_object projection, no UDF, no full from_json parse of
      // a schema we don't need), then aggregate by value decade. The
      // shape of every "group by a field buried in the payload" query
      // a log warehouse runs
      t(s, d, "events")
        .select(
          floor(get_json_object(col("props"), "$.k").cast("long") / lit(10L)).as("k_decade"),
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k")
        )
        .groupBy(col("k_decade"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("k_decade"), col("event_type")))(
      """WITH k AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, event_type FROM events)
        |SELECT k // 10 AS k_decade, event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM k GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    query("length_histogram")((s, d) =>
      // C34: (lang, 200-char bin) corpus length profile
      Curation
        .lengthHistogram(t(s, d, "documents"), "lang", "n_chars", binWidth = 200L)
        .orderBy("lang", "bin"))(
      """SELECT lang, n_chars // 200 AS bin, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_value
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    query("quality_gate_pctl")((s, d) =>
      // C33: per-source 20th-percentile length gate, integer rank math
      Curation
        .percentileGate(t(s, d, "documents"), "doc_id", "source", "n_chars", keepBp = 2000)
        .orderBy("doc_id"))(
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rnk,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_stratum
        |  FROM documents)
        |SELECT doc_id, source, n_chars, rnk, n_stratum,
        |  CAST(CASE WHEN 10000 * (rnk - 1) >= 2000 * (n_stratum - 1) THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM r ORDER BY doc_id""".stripMargin),
    query("text_bigrams_top")((s, d) =>
      // C35: corpus top-20 bigram collocations (TakeOrdered top-k)
      TextAnalysis.topBigrams(t(s, d, "documents"), "text", topK = 20))(
      """WITH w AS (SELECT string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws FROM documents)
        |SELECT bigram, count(*) AS n
        |FROM (SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS bigram FROM w)
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin),
    query("src_discovery")((s, d) => {
      import s.implicits._
      Catalog.selectTables(s, d, "*tion,c*").toDF("table_name").orderBy("table_name")
    })(
      "SELECT * FROM (VALUES ('customer'),('nation')) AS t(table_name) ORDER BY 1"),
    query("src_format_orc")((s, d) => {
      // A36: lake-format matrix through the gate — documents round-trip
      // through an ORC copy (lossless columnar like parquet), read back
      // via the format-matrix loader, aggregated; the oracle computes
      // the same aggregate from the parquet original, so any ORC
      // write/read defect breaks the hash match
      val orcDir = s"target/orc_docs_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      t(s, d, "documents").write.mode("overwrite").orc(orcDir)
      Catalog.loadFormat(s, orcDir, "orc")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_text_len"))
        .orderBy(col("lang"))
    })(
      // the oracle aggregates the parquet ORIGINAL — the engine's ORC
      // round-trip must be byte-lossless for the hash to match
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    query("json_path_census")((s, d) => {
      // A37: recursive path+type census at DEPTH over staged nested
      // JSON — depth-3 objects, arrays-of-objects with varying length
      // (mod-4 docs carry two elements), optional fields (mod-2 tags,
      // mod-3 src); the oracle states every (path, type, count) in
      // closed form from the same modular classes
      val staged = t(s, d, "documents").select(
        col("doc_id"),
        to_json(struct(
          col("doc_id").as("id"),
          struct(col("lang").as("lang"), col("n_chars").as("chars")).as("meta"),
          when(col("doc_id") % 2 === 0,
            when(col("doc_id") % 4 === 0,
              array(
                struct(col("source").as("s"), (col("doc_id") % 7).as("rank")),
                struct(col("source").as("s"), (col("doc_id") % 5).as("rank"))))
              .otherwise(array(struct(col("source").as("s"), (col("doc_id") % 7).as("rank")))))
            .as("tags"),
          when(col("doc_id") % 3 === 0, col("source")).as("src")
        )).as("doc"))
      JsonIngest.pathCensus(staged, "doc_id", "doc")
    })(
      // A37: the staged nesting makes every (path, type, count) a
      // closed-form function of the modular classes — no JSON functions
      // needed oracle-side
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        |  FROM documents)
        |SELECT path, jtype, n_values, n_docs FROM (
        |  SELECT '$' AS path, 'object' AS jtype, n_all AS n_values, n_all AS n_docs FROM n
        |  UNION ALL SELECT '$.id', 'number', n_all, n_all FROM n
        |  UNION ALL SELECT '$.meta', 'object', n_all, n_all FROM n
        |  UNION ALL SELECT '$.meta.chars', 'number', n_all, n_all FROM n
        |  UNION ALL SELECT '$.meta.lang', 'string', n_all, n_all FROM n
        |  UNION ALL SELECT '$.src', 'string', n3, n3 FROM n
        |  UNION ALL SELECT '$.tags', 'array', n2, n2 FROM n
        |  UNION ALL SELECT '$.tags[]', 'object', n2 + n4, n2 FROM n
        |  UNION ALL SELECT '$.tags[].rank', 'number', n2 + n4, n2 FROM n
        |  UNION ALL SELECT '$.tags[].s', 'string', n2 + n4, n2 FROM n
        |) ORDER BY path, jtype""".stripMargin),
    query("ddl_generate")((s, d) => {
      import s.implicits._
      Seq("region", "nation", "supplier")
        .map(n => (n, ClickHouseDdl.createTableSql("graft", n, t(s, d, n).schema)))
        .toDF("table_name", "ddl")
        .orderBy("table_name")
    })(
      ("SELECT * FROM (VALUES " +
        "('region','CREATE TABLE IF NOT EXISTS `graft`.`region` (`r_regionkey` Nullable(Int32), `r_name` Nullable(String)) ENGINE = MergeTree() ORDER BY tuple()')," +
        "('nation','CREATE TABLE IF NOT EXISTS `graft`.`nation` (`n_nationkey` Nullable(Int32), `n_name` Nullable(String), `n_regionkey` Nullable(Int32)) ENGINE = MergeTree() ORDER BY tuple()')," +
        "('supplier','CREATE TABLE IF NOT EXISTS `graft`.`supplier` (`s_suppkey` Nullable(Int64), `s_name` Nullable(String), `s_nationkey` Nullable(Int32), `s_acctbal` Nullable(Float64)) ENGINE = MergeTree() ORDER BY tuple()')" +
        ") AS t(table_name, ddl) ORDER BY table_name")),
    query("ddl_allstring")((s, d) => {
      // reference-fidelity DDL: _id/_timestamp meta columns + every
      // data column Nullable(String) (the all-String data model,
      // es_to_bytehouse.py:166-188, 300-336)
      import s.implicits._
      Seq("documents", "events")
        .map(n => (n, ClickHouseDdl.createTableSqlAllString("es_migration", n, t(s, d, n).schema.fieldNames.toIndexedSeq)))
        .toDF("table_name", "ddl")
        .orderBy("table_name")
    })(
      ("SELECT * FROM (VALUES " +
        "('documents','CREATE TABLE IF NOT EXISTS `es_migration`.`documents` (`_id` String, `_timestamp` DateTime64(3) DEFAULT now64(3), `doc_id` Nullable(String), `text` Nullable(String), `lang` Nullable(String), `source` Nullable(String), `n_chars` Nullable(String)) ENGINE = CnchMergeTree() ORDER BY tuple() UNIQUE KEY _id')," +
        "('events','CREATE TABLE IF NOT EXISTS `es_migration`.`events` (`_id` String, `_timestamp` DateTime64(3) DEFAULT now64(3), `event_id` Nullable(String), `ts` Nullable(String), `user_id` Nullable(String), `event_type` Nullable(String), `value` Nullable(String), `props` Nullable(String)) ENGINE = CnchMergeTree() ORDER BY tuple() UNIQUE KEY _id')" +
        ") AS t(table_name, ddl) ORDER BY table_name")),
    query("schema_evolution")((s, d) => {
      import s.implicits._
      val target = t(s, d, "events").schema
      val incoming = JsonIngest.parseAndFlatten(s, t(s, d, "events").select("event_id", "props"), "props").schema
      Incremental.newFields(target, incoming).toDF("new_column", "ch_type").orderBy("new_column")
    })(
      "SELECT 'props_k' AS new_column, 'String' AS ch_type"),
    query("type_mapping")((s, d) => {
      import s.implicits._
      allTables
        .flatMap { name =>
          t(s, d, name).schema.fields.map(f => (name, f.name, TypeMapper.clickhouseType(f.dataType)))
        }
        .toDF("table_name", "column_name", "ch_type")
        .orderBy("table_name", "column_name")
    })(
      ("SELECT * FROM (VALUES " +
        "('customer','c_custkey','Int64'),('customer','c_name','String'),('customer','c_nationkey','Int32')," +
        "('customer','c_acctbal','Float64'),('customer','c_mktsegment','String')," +
        "('documents','doc_id','Int64'),('documents','text','String'),('documents','lang','String')," +
        "('documents','source','String'),('documents','n_chars','Int64')," +
        "('embeddings','vec_id','Int64'),('embeddings','embedding','Array(Float32)'),('embeddings','label','Int32')," +
        "('events','event_id','Int64'),('events','ts','DateTime64(6)'),('events','user_id','Int64')," +
        "('events','event_type','String'),('events','value','Float64'),('events','props','String')," +
        "('lineitem','l_orderkey','Int64'),('lineitem','l_partkey','Int64'),('lineitem','l_suppkey','Int64')," +
        "('lineitem','l_linenumber','Int32'),('lineitem','l_quantity','Float64'),('lineitem','l_extendedprice','Float64')," +
        "('lineitem','l_discount','Float64'),('lineitem','l_tax','Float64'),('lineitem','l_returnflag','String')," +
        "('lineitem','l_linestatus','String'),('lineitem','l_shipdate','DateTime64(6)')," +
        "('nation','n_nationkey','Int32'),('nation','n_name','String'),('nation','n_regionkey','Int32')," +
        "('orders','o_orderkey','Int64'),('orders','o_custkey','Int64'),('orders','o_orderstatus','String')," +
        "('orders','o_totalprice','Float64'),('orders','o_orderdate','DateTime64(6)'),('orders','o_orderpriority','String')," +
        "('part','p_partkey','Int64'),('part','p_name','String'),('part','p_brand','String')," +
        "('part','p_type','String'),('part','p_size','Int32'),('part','p_retailprice','Float64')," +
        "('region','r_regionkey','Int32'),('region','r_name','String')," +
        "('supplier','s_suppkey','Int64'),('supplier','s_name','String'),('supplier','s_nationkey','Int32')," +
        "('supplier','s_acctbal','Float64')" +
        ") AS t(table_name, column_name, ch_type) ORDER BY table_name, column_name")),
    query("acf_lags")((s, d) =>
      // B72: daily-revenue autocorrelation at lags 1..7 (seasonality
      // diagnostic; Yule-Walker AR slope per lag in exact integer
      // basis points — Pearson r would not be cross-engine-stable)
      Analytics.acfDaily(t(s, d, "lineitem"), maxLag = 7))(
      // Yule-Walker lag-k AR slope in milli-units over exact HUGEINT
      // moments (trend_slope pattern) — Pearson r is NOT used because
      // DuckDB's >2^53 HUGEINT->DOUBLE cast is one ulp off correctly
      // rounded (measured), so r's sqrt tail can't bit-match; lag pairs
      // on DAY arithmetic so gaps drop pairs
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |p AS (SELECT l.lag AS lag, a.x AS x, b.x AS y
        |      FROM (SELECT unnest(range(1, 8)) AS lag) l
        |      CROSS JOIN daily a JOIN daily b ON b.day = a.day - l.lag),
        |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(CAST(x AS HUGEINT) * y) AS sxy,
        |             sum(CAST(y AS HUGEINT) * y) AS syy FROM p GROUP BY 1)
        |SELECT lag, n,
        |  CAST((1000 * (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy))
        |       // (CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy) AS BIGINT) AS ar_slope_md
        |FROM m ORDER BY lag""".stripMargin),
    query("dow_seasonality")((s, d) =>
      // B73: day-of-week seasonal index in exact basis points,
      // engine-neutral epoch-day-mod-7 weekday key
      Analytics.dowSeasonality(t(s, d, "lineitem")))(
      """WITH b AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS day,
        |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_c FROM lineitem),
        |p AS (SELECT day % 7 AS dow, CAST(count(DISTINCT day) AS BIGINT) AS n_days,
        |             CAST(sum(rev_c) AS BIGINT) AS rev_c FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_days) AS BIGINT) AS ndt, CAST(sum(rev_c) AS BIGINT) AS rct FROM p)
        |SELECT dow, n_days, rev_c,
        |  CAST((10000 * CAST(rev_c AS HUGEINT) * ndt) // (CAST(n_days AS HUGEINT) * rct) AS BIGINT) AS index_bp
        |FROM p CROSS JOIN t ORDER BY dow""".stripMargin),
    query("state_durations")((s, d) =>
      // B74: per-event-type dwell times until the user's next event
      // (right-censored last events excluded)
      TimeSeries.stateDurations(t(s, d, "events")))(
      """WITH s AS (
        |  SELECT event_type,
        |         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           - epoch_us(ts) AS d_us
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_spells,
        |       CAST(sum(d_us // 1000000) AS BIGINT) AS total_dwell_s,
        |       CAST(max(d_us // 1000000) AS BIGINT) AS max_dwell_s
        |FROM s WHERE d_us IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin),
    query("seasonal_decompose")((s, d) =>
      // B75: 7-day centered-MA trend, per-weekday mean residual —
      // exact integer cents, complete windows only
      Analytics.seasonalDecompose(t(s, d, "lineitem")))(
      // centered 7-day RANGE window over day VALUES (gaps shrink the
      // window below 7 and the completeness filter drops it); trunc-
      // toward-zero residual means match Spark DIV
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT day, x, count(*) OVER w AS cnt, sum(x) OVER w AS s7
        |      FROM daily WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING))
        |SELECT day % 7 AS dow, CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(x - s7 // 7) // count(*) AS BIGINT) AS seasonal_c
        |FROM t WHERE cnt = 7 GROUP BY 1 ORDER BY 1""".stripMargin),
    query("funnel_latency")((s, d) =>
      // B76: exact p50/p90 hop durations over the strict-order funnel
      // (B19's completion times), selected via the binned rank pass
      Analytics.funnelLatency(
        t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase")))(
      // same strict-order funnel CTEs as funnel_counts; the quantile is
      // value-at-rank (p50 lower median, p90 ceil(0.9n)) — duplicate
      // durations make the selected value tie-order-free
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s0 AS (SELECT user_id, min(us) AS t0 FROM e WHERE event_type='view' GROUP BY 1),
        |s1 AS (SELECT s0.user_id, s0.t0, min(CASE WHEN e.us > s0.t0 THEN e.us END) AS t1
        |       FROM s0 LEFT JOIN e ON e.user_id = s0.user_id AND e.event_type='click' GROUP BY 1,2),
        |s2 AS (SELECT s1.user_id, s1.t0, s1.t1, min(CASE WHEN e.us > s1.t1 THEN e.us END) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.event_type='purchase' GROUP BY 1,2,3),
        |durs AS (
        |  SELECT '1:view->click' AS step, (t1 - t0) // 1000000 AS dur_s FROM s1 WHERE t1 IS NOT NULL
        |  UNION ALL
        |  SELECT '2:click->purchase', (t2 - t1) // 1000000 FROM s2 WHERE t2 IS NOT NULL),
        |r AS (SELECT step, dur_s, row_number() OVER (PARTITION BY step ORDER BY dur_s) AS rk,
        |             count(*) OVER (PARTITION BY step) AS n FROM durs)
        |SELECT step, rank_name, dur_s, n_users FROM (
        |  SELECT step, 'p50' AS rank_name, dur_s, CAST(n AS BIGINT) AS n_users, rk, (n + 1) // 2 AS k FROM r
        |  UNION ALL
        |  SELECT step, 'p90', dur_s, CAST(n AS BIGINT), rk, CAST(ceil(n * 9 / 10.0) AS BIGINT) FROM r) q
        |WHERE rk = k ORDER BY step, rank_name""".stripMargin),
    query("session_stats")((s, d) =>
      // B77: corpus-level engagement card over B6's sessions — bounce
      // share in exact bp, mean duration by integer division
      Analytics.sessionStats(t(s, d, "events")))(
      // same 30-min-gap session rule as `sessionize` (B6), folded to the
      // one-row engagement card
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |l AS (SELECT user_id, ts_us,
        |             lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
        |      FROM e),
        |b AS (SELECT user_id, ts_us,
        |             CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS brk
        |      FROM l),
        |sid AS (SELECT user_id, ts_us,
        |              sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |       FROM b),
        |s AS (SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |             min(ts_us) AS start_us, max(ts_us) AS end_us
        |      FROM sid GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        |       CAST(10000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS bounce_bp,
        |       CAST(sum(n_events) AS BIGINT) AS total_events,
        |       CAST((sum(end_us - start_us) // count(*)) // 1000000 AS BIGINT) AS mean_dur_s
        |FROM s""".stripMargin),
    query("text_bigram_lm")((s, d) =>
      // C77: bigram-LM conditional-probability quality scoring — the
      // integer CCNet-perplexity stand-in (unigramScore's sibling)
      TextAnalysis.bigramLmScore(t(s, d, "documents"), "doc_id", "text"))(
      """WITH ws AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram FROM ws),
        |tf AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2),
        |cbt AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS cb FROM tf GROUP BY 1),
        |cht AS (SELECT string_split(bigram, ' ')[1] AS head, CAST(sum(cb) AS BIGINT) AS ch FROM cbt GROUP BY 1)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |       CAST(sum(tf * (cb * 1000000 // ch)) // sum(tf) AS BIGINT) AS mean_cond_ppm,
        |       CAST(10000 * sum(CASE WHEN cb <= 2 THEN tf ELSE 0 END) // sum(tf) AS BIGINT) AS rare_bp
        |FROM tf JOIN cbt USING (bigram) JOIN cht ON string_split(bigram, ' ')[1] = cht.head
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    query("domain_quality")((s, d) =>
      // C78: per-domain curation report: size, short-doc share, and
      // corpus-global duplicate share attributed per domain
      Curation.domainQualityReport(t(s, d, "documents"), "doc_id", "source", "text"))(
      // duplicate identity = whitespace-normalized text, first witness =
      // min(doc_id) — the dedup_exact convention, attributed per domain
      """WITH b AS (SELECT doc_id AS id, source AS domain, CAST(length(text) AS BIGINT) AS n_chars,
        |                  md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS h FROM documents),
        |f AS (SELECT h, min(id) AS first_id FROM b GROUP BY 1)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars,
        |       CAST(10000 * sum(CASE WHEN n_chars <= 200 THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS short_bp,
        |       CAST(10000 * sum(CASE WHEN id != first_id THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS dup_bp
        |FROM b JOIN f USING (h) GROUP BY 1 ORDER BY 1""".stripMargin),
    query("mm_mp4_meta")((s, d) => {
      // C79: REAL MP4/ISO-BMFF box-walk parsing — 2/3 of docs carry
      // byte-faithful ftyp+moov[mvhd+trak...] containers built per
      // ISO/IEC 14496-12 (closed-form fields, so no staging step is
      // needed — the builder is a pure hex-concat projection), the
      // rest non-MP4 text bytes; the oracle states the fields in
      // closed form (mm_png/mm_wav discipline)
      val payloads = t(s, d, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 3 =!= 0,
          Multimodal.mp4Bytes(
            lit(600L) + (col("doc_id") % 5) * 600L,
            (col("doc_id") % 100000L) * 100L + 1000L,
            lit(1L) + col("doc_id") % 3))
          .otherwise(col("text").cast("binary")).as("payload"))
      Multimodal.parseMp4Meta(payloads, "doc_id", "payload")
    })(
      // staged containers are deterministic functions of doc_id, so the
      // oracle states every parsed field in closed form (mm_png/mm_wav
      // discipline); %3==0 docs carry text bytes -> is_mp4 = 0, NULLs
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 != 0 THEN 1 ELSE 0 END AS BIGINT) AS is_mp4,
        |  CASE WHEN doc_id % 3 != 0 THEN 'isom' END AS major_brand,
        |  CAST(CASE WHEN doc_id % 3 != 0 THEN 600 + (doc_id % 5) * 600 END AS BIGINT) AS timescale,
        |  CAST(CASE WHEN doc_id % 3 != 0 THEN (doc_id % 100000) * 100 + 1000 END AS BIGINT) AS duration,
        |  CAST(CASE WHEN doc_id % 3 != 0 THEN 1 + doc_id % 3 END AS BIGINT) AS n_tracks
        |FROM documents ORDER BY doc_id""".stripMargin),
    query("mm_exif_meta")((s, d) => {
      // C82: EXIF orientation + dims via the APP1 marker walk + the
      // embedded-TIFF IFD walk — 2/3 of docs carry spec-built EXIF
      // JPEGs (closed-form fields, pure hex-concat builder — no
      // staging step needed), the rest non-JPEG text bytes
      val payloads = t(s, d, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 3 =!= 0,
          Multimodal.exifJpegBytes(
            lit(1L) + col("doc_id") % 8,
            lit(16L) + col("doc_id") % 4000,
            lit(16L) + col("doc_id") % 3000))
          .otherwise(col("text").cast("binary")).as("payload"))
      Multimodal.parseExifMeta(payloads, "doc_id", "payload")
    })(
      // spec-built EXIF fields are a closed form of doc_id (builder
      // writes big-endian TIFF); %3==0 docs carry text -> has_exif 0
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 != 0 THEN 1 ELSE 0 END AS BIGINT) AS has_exif,
        |  CASE WHEN doc_id % 3 != 0 THEN 'MM' END AS byte_order,
        |  CAST(CASE WHEN doc_id % 3 != 0 THEN 1 + doc_id % 8 END AS BIGINT) AS orientation,
        |  CAST(CASE WHEN doc_id % 3 != 0 THEN 16 + doc_id % 4000 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 3 != 0 THEN 16 + doc_id % 3000 END AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin),
    query("mm_wav_rms")((s, d) => {
      // C81: REAL PCM sample decode — signal moments over staged
      // 16-bit ramp-pattern WAVs (closed-form oracle); payloads
      // parquet-staged once per scale dir so repeated runs measure
      // the sample-decode kernel, not the per-sample hex staging
      val docs = t(s, d, "documents")
      val staged = Multimodal.stageBytesIfAbsent(s, docs,
        s"target/mm_wavpcm_${d.replaceAll("[^A-Za-z0-9]", "_")}", "v1") {
        docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"),
          Multimodal.wavPcmBytes(col("doc_id"), lit(200L) + col("doc_id") % 57).as("payload"))
      }
      val tx = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.parseWavPcmStats(staged.unionByName(tx), "doc_id", "payload")
    })(
      // staged ramp samples are a closed-form function of (doc_id, i):
      // stored u16 = (doc_id*31 + i*7) mod 2^16, signed interpretation
      """WITH base AS (SELECT doc_id, 200 + doc_id % 57 AS n FROM documents WHERE doc_id % 3 != 0),
        |s AS (SELECT doc_id, n, unnest(range(0, CAST(n AS BIGINT))) AS i FROM base),
        |v AS (SELECT doc_id, n, CASE WHEN m >= 32768 THEN m - 65536 ELSE m END AS smp
        |      FROM (SELECT doc_id, n, (doc_id * 31 + i * 7) % 65536 AS m FROM s) q)
        |SELECT doc_id, CAST(1 AS BIGINT) AS is_pcm16, CAST(n AS BIGINT) AS n_samples,
        |       CAST(sum(smp) AS BIGINT) AS sum_s, CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
        |       CAST(max(abs(smp)) AS BIGINT) AS max_abs
        |FROM v GROUP BY doc_id, n
        |UNION ALL
        |SELECT doc_id, 0, NULL, NULL, NULL, NULL FROM documents WHERE doc_id % 3 = 0
        |ORDER BY doc_id""".stripMargin),
    query("mm_phash_dedup")((s, d) => {
      // C83: perceptual-hash (aHash) image dedup over REAL decoded
      // pixels — 40 distinct staged patterns shared across the corpus;
      // docs with the same pattern are visual duplicates. Encoding is
      // O(patterns) and staged once per scale dir; decode is the
      // per-doc cost, exactly as a real image corpus pays it
      val docs = t(s, d, "documents")
      val staged = Multimodal.stageBytesIfAbsent(s, docs,
        s"target/mm_phash_${d.replaceAll("[^A-Za-z0-9]", "_")}", "v2") {
        val pats = docs.select((col("doc_id") % 40).as("pk")).distinct()
        Multimodal.encodeStagedPngStripes(s,
          pats.select(col("pk"), (lit(8) + (col("pk") % 2) * 8).as("w"), lit(8).as("h")),
          "pk", "w", "h").select(col("pk"), col("png"))
      }
      val payloads = docs.select(col("doc_id"), (col("doc_id") % 40).as("pk"))
        .join(staged, "pk")
      Multimodal.imageAHash(s, payloads, "doc_id", "png")
        .groupBy(col("phash"))
        .agg(min(col("doc_id")).as("kept_id"), count(lit(1)).as("n_dups"))
        .select(col("kept_id"), col("n_dups"), col("phash"))
        .orderBy(col("kept_id"))
    })(
      // the oracle reproduces the aHash bits from the staged stripe
      // pattern at PIXEL level (the pattern is a closed form of the
      // pattern key): gray(x,y) = stripe(200|20) + 3x + 5y, blocks of
      // equal size bw x 1, bit = blockSum·64 > total (the mean compare
      // as an exact integer cross-multiplication)
      """WITH pks AS (SELECT DISTINCT doc_id % 40 AS pk FROM documents),
        |geo AS (SELECT pk, 8 * (1 + pk % 2) AS w FROM pks),
        |px AS (SELECT pk, w, xs.x AS x, ys.y AS y
        |       FROM geo, (SELECT unnest(range(0, 16)) AS x) xs, (SELECT unnest(range(0, 8)) AS y) ys
        |       WHERE xs.x < w),
        |gr AS (SELECT pk, x // (w // 8) AS bx, y AS by,
        |              (CASE WHEN (x * (1 + pk % 5) + y * (1 + pk % 3)) % 4 < 2 THEN 200 ELSE 20 END)
        |                + x * 3 + y * 5 AS v
        |       FROM px),
        |blocks AS (SELECT pk, bx, by, sum(v) AS v FROM gr GROUP BY 1, 2, 3),
        |tot AS (SELECT pk, sum(v) AS tv FROM blocks GROUP BY 1),
        |bits AS (SELECT blocks.pk AS pk, by, CAST(sum(CASE WHEN v * 64 > tv THEN 1 << bx ELSE 0 END) AS BIGINT) AS rb
        |         FROM blocks JOIN tot ON blocks.pk = tot.pk GROUP BY 1, 2),
        |ph AS (SELECT pk, lower(string_agg(lpad(to_hex(rb), 2, '0'), '' ORDER BY by)) AS phash FROM bits GROUP BY 1),
        |assign AS (SELECT d.doc_id, ph.phash FROM documents d JOIN ph ON d.doc_id % 40 = ph.pk)
        |SELECT min(doc_id) AS kept_id, CAST(count(*) AS BIGINT) AS n_dups, phash
        |FROM assign GROUP BY phash ORDER BY kept_id""".stripMargin),
    query("sim_range_search")((s, d) => {
      // C80: exact cosine range search (FAISS range_search) — every
      // corpus vector within tau of each query; queries broadcast, one
      // corpus scan, cost Θ(N·|Q|·dim) — never all-pairs
      val e = t(s, d, "embeddings")
      Similarity.rangeSearch(e, e.filter(col("vec_id") < 16), "vec_id", "embedding", tau = 0.4)
    })(
      // exact range search: the oracle is the same threshold scan; tau
      // sits far from this corpus's cosine mass (dedup_embedding's
      // boundary argument applies unchanged)
      """SELECT q.vec_id AS qid, c.vec_id AS vec_id
        |FROM embeddings q JOIN embeddings c ON q.vec_id < 16 AND c.vec_id != q.vec_id
        |WHERE list_cosine_similarity(q.embedding, c.embedding) >= 0.4
        |ORDER BY 1, 2""".stripMargin),
    query("sim_dim_truncate")((s, d) =>
      // C84: Matryoshka-style truncation evaluation — overlap@10
      // between full-dim and 16-dim-prefix cosine rankings, exact bp
      Similarity.dimTruncateRecall(
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 10, dims = 16))(
      // both rankings are the sim_topk_brute deterministic order; the
      // truncated side slices the embedding list to its 16-dim prefix
      """WITH f AS (SELECT qid, cid FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id) x WHERE rn <= 10),
        |t AS (SELECT qid, cid FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding[1:16], c.embedding[1:16]) DESC, c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id) y WHERE rn <= 10),
        |o AS (SELECT f.qid, CAST(count(*) AS BIGINT) AS n_common
        |      FROM f JOIN t ON f.qid = t.qid AND f.cid = t.cid GROUP BY 1)
        |SELECT q.vec_id AS qid, CAST(coalesce(o.n_common, 0) AS BIGINT) AS n_common,
        |       CAST(coalesce(o.n_common, 0) * 1000 AS BIGINT) AS recall_bp
        |FROM embeddings q LEFT JOIN o ON q.vec_id = o.qid
        |WHERE q.vec_id < 10 ORDER BY qid""".stripMargin),
    query("funnel_attrib")((s, d) =>
      // B78: first-touch conversion attribution over the strict-order
      // funnel — channel = props.k % 4 of the user's earliest view
      Analytics.funnelAttribution(t(s, d, "events"), "user_id", "event_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        (get_json_object(col("props"), "$.k").cast("long") % 4).as("ch")))(
      // same reached CTEs as funnel_counts; first touch via a
      // (ts, event_id)-ordered row_number over head-stage events
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |                  CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS ch FROM events),
        |s0 AS (SELECT user_id, min(us) AS t0 FROM e WHERE event_type='view' GROUP BY 1),
        |s1 AS (SELECT s0.user_id, s0.t0, min(CASE WHEN e.us > s0.t0 THEN e.us END) AS t1
        |       FROM s0 LEFT JOIN e ON e.user_id = s0.user_id AND e.event_type='click' GROUP BY 1,2),
        |s2 AS (SELECT s1.user_id, s1.t0, s1.t1, min(CASE WHEN e.us > s1.t1 THEN e.us END) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.event_type='purchase' GROUP BY 1,2,3),
        |ft AS (SELECT user_id, ch FROM (
        |         SELECT user_id, ch, row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
        |         FROM e WHERE event_type='view') x WHERE rn = 1)
        |SELECT ft.ch AS channel, CAST(count(*) AS BIGINT) AS n_entered,
        |       CAST(count(t2) AS BIGINT) AS n_converted,
        |       CAST(10000 * count(t2) // count(*) AS BIGINT) AS conv_bp
        |FROM s2 JOIN ft ON s2.user_id = ft.user_id GROUP BY 1 ORDER BY 1""".stripMargin),
    query("dedup_embedding_simhash")((s, d) => {
      // C86: the C5b fixture through the SimHash-sketch-prefiltered
      // path — candidates are Hamming-screened on 8-byte sign codes
      // before any vector fetch; exact cosine verifies survivors, so
      // the oracle is the same exact pair set as the blocked path
      val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val pert = e.select(
        (col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding")
      )
      Dedup.embeddingPairsLshSketch(
        e.unionByName(pert), "vec_id", "embedding",
        tau = 0.99, planes = 8, tables = 8)
    })(
      // IDENTICAL oracle to dedup_embedding_blocked: the sketch pass
      // only prunes candidates; exact cosine decides membership
      """WITH u AS (
        |  SELECT vec_id AS id, embedding AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |         list_concat([embedding[1] + 0.05], embedding[2:]) FROM embeddings)
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM u a JOIN u b ON a.id < b.id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.99 ORDER BY 1,2""".stripMargin),
    query("mm_phash_incr")((s, d) => {
      // C85: incremental perceptual dedup — the decile-0 image batch
      // probed against the persisted phash index of the pattern<20
      // corpus (C28 discipline on the visual signal). Batch pattern 30
      // is a genuine cross-key perceptual dup (stripe geometry repeats
      // mod 30, so pk 30 renders pixel-identical to pk 0); pattern 20
      // is visually new. Probe cost is batch decode + a hash join —
      // the corpus images are never re-decoded
      val docs = t(s, d, "documents")
      val staged = Multimodal.stageBytesIfAbsent(s, docs,
        s"target/mm_phash_${d.replaceAll("[^A-Za-z0-9]", "_")}", "v2") {
        val pats = docs.select((col("doc_id") % 40).as("pk")).distinct()
        Multimodal.encodeStagedPngStripes(s,
          pats.select(col("pk"), (lit(8) + (col("pk") % 2) * 8).as("w"), lit(8).as("h")),
          "pk", "w", "h").select(col("pk"), col("png"))
      }
      val withPk = docs.select(col("doc_id"), (col("doc_id") % 40).as("pk"))
      val corpus = withPk.filter(col("doc_id") % 10 =!= 0 && col("pk") < 20).join(staged, "pk")
      val batch = withPk.filter(col("doc_id") % 10 === 0).join(staged, "pk")
      Multimodal.phashAgainstIndex(s, batch, "doc_id", "png",
        Multimodal.buildPhashIndex(s, corpus, "doc_id", "png"))
    })(
      // same aHash CTE as mm_phash_dedup; index = min corpus id per
      // hash, probe = left join of the decile-0 batch on the hash
      """WITH pks AS (SELECT DISTINCT doc_id % 40 AS pk FROM documents),
        |geo AS (SELECT pk, 8 * (1 + pk % 2) AS w FROM pks),
        |px AS (SELECT pk, w, xs.x AS x, ys.y AS y
        |       FROM geo, (SELECT unnest(range(0, 16)) AS x) xs, (SELECT unnest(range(0, 8)) AS y) ys
        |       WHERE xs.x < w),
        |gr AS (SELECT pk, x // (w // 8) AS bx, y AS by,
        |              (CASE WHEN (x * (1 + pk % 5) + y * (1 + pk % 3)) % 4 < 2 THEN 200 ELSE 20 END)
        |                + x * 3 + y * 5 AS v
        |       FROM px),
        |blocks AS (SELECT pk, bx, by, sum(v) AS v FROM gr GROUP BY 1, 2, 3),
        |tot AS (SELECT pk, sum(v) AS tv FROM blocks GROUP BY 1),
        |bits AS (SELECT blocks.pk AS pk, by, CAST(sum(CASE WHEN v * 64 > tv THEN 1 << bx ELSE 0 END) AS BIGINT) AS rb
        |         FROM blocks JOIN tot ON blocks.pk = tot.pk GROUP BY 1, 2),
        |ph AS (SELECT pk, lower(string_agg(lpad(to_hex(rb), 2, '0'), '' ORDER BY by)) AS phash FROM bits GROUP BY 1),
        |corpus AS (SELECT d.doc_id, ph.phash FROM documents d JOIN ph ON d.doc_id % 40 = ph.pk
        |           WHERE d.doc_id % 10 != 0 AND d.doc_id % 40 < 20),
        |idx AS (SELECT phash, min(doc_id) AS kept_id FROM corpus GROUP BY 1),
        |batch AS (SELECT d.doc_id, ph.phash FROM documents d JOIN ph ON d.doc_id % 40 = ph.pk
        |          WHERE d.doc_id % 10 = 0)
        |SELECT b.doc_id,
        |       CAST(CASE WHEN idx.kept_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
        |       idx.kept_id AS dup_of
        |FROM batch b LEFT JOIN idx ON b.phash = idx.phash ORDER BY doc_id""".stripMargin),
    query("sim_range_ivf")((s, d) => {
      // C80b: IVF-bounded range search — cells pruned by the angular
      // triangle inequality, still EXACT (same oracle as the brute
      // scan): probe cost is surviving (cell, query) pairs, not one
      // full corpus scan per query batch
      val e = t(s, d, "embeddings")
      Similarity.rangeSearchIvf(e, e.filter(col("vec_id") < 16), "vec_id", "embedding",
        tau = 0.4, nClusters = 16)
    })(
      // IDENTICAL oracle to sim_range_search: the IVF cell prune is
      // exact by the triangle-inequality bound, so the hash must match
      // the brute-force scan bit-for-bit
      """SELECT q.vec_id AS qid, c.vec_id AS vec_id
        |FROM embeddings q JOIN embeddings c ON q.vec_id < 16 AND c.vec_id != q.vec_id
        |WHERE list_cosine_similarity(q.embedding, c.embedding) >= 0.4
        |ORDER BY 1, 2""".stripMargin),
    query("dedup_soft")((s, d) =>
      // C88: SoftDeDup reweighting — every duplicate kept at weight
      // 1e6 DIV cluster_size ppm; hard dedup recoverable via is_canonical
      Dedup.softDedup(t(s, d, "documents"), "doc_id", "text"))(
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS norm FROM documents),
        |c AS (SELECT norm, count(*) AS cluster_size, min(doc_id) AS keep FROM n GROUP BY 1)
        |SELECT n.doc_id, c.cluster_size,
        |       CAST(1000000 // c.cluster_size AS BIGINT) AS weight_ppm,
        |       CAST(CASE WHEN n.doc_id = c.keep THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
        |FROM n JOIN c ON n.norm = c.norm ORDER BY n.doc_id""".stripMargin),
    query("attribution_linear")((s, d) =>
      // B79: linear multi-touch attribution — converted users' credit
      // split equally over all pre-conversion head-stage touches,
      // remainder to the earliest touch (sums exact per user)
      Analytics.funnelAttributionLinear(t(s, d, "events"), "user_id", "event_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        (get_json_object(col("props"), "$.k").cast("long") % 4).as("ch")))(
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |                  CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS ch FROM events),
        |s0 AS (SELECT user_id, min(us) AS t0 FROM e WHERE event_type='view' GROUP BY 1),
        |s1 AS (SELECT s0.user_id, s0.t0, min(CASE WHEN e.us > s0.t0 THEN e.us END) AS t1
        |       FROM s0 LEFT JOIN e ON e.user_id = s0.user_id AND e.event_type='click' GROUP BY 1,2),
        |s2 AS (SELECT s1.user_id, s1.t0, s1.t1, min(CASE WHEN e.us > s1.t1 THEN e.us END) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.event_type='purchase' GROUP BY 1,2,3),
        |tch AS (SELECT e.user_id, e.us, e.event_id, e.ch FROM e
        |        JOIN s2 ON e.user_id = s2.user_id AND s2.t2 IS NOT NULL
        |        WHERE e.event_type='view' AND e.us <= s2.t2),
        |pu AS (SELECT user_id, count(*) AS n, min(row(us, event_id)) AS fk FROM tch GROUP BY 1)
        |SELECT tch.ch AS channel, CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(sum(1000000 // pu.n +
        |                CASE WHEN row(tch.us, tch.event_id) = pu.fk THEN 1000000 % pu.n ELSE 0 END) AS BIGINT) AS credit_ppm
        |FROM tch JOIN pu ON tch.user_id = pu.user_id GROUP BY 1 ORDER BY 1""".stripMargin),
    query("cohort_ltv")((s, d) =>
      // B80: first-order-month cohort x calendar month-age revenue
      // matrix in exact cents — the LTV curve card
      TimeSeries.cohortLtv(t(s, d, "orders")))(
      """WITH c AS (SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort_m
        |           FROM orders GROUP BY 1)
        |SELECT epoch_us(cohort_m) AS cohort_month_us,
        |       CAST((year(date_trunc('month', o.o_orderdate)) - year(cohort_m)) * 12 +
        |            (month(date_trunc('month', o.o_orderdate)) - month(cohort_m)) AS BIGINT) AS age_months,
        |       count(DISTINCT o.o_custkey) AS n_buyers,
        |       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders o JOIN c USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    query("sim_rrf_fusion")((s, d) => {
      // C89: hybrid retrieval — reciprocal-rank fusion of the
      // inverted-index lexical arm and the cosine vector arm over the
      // jointly-keyed documents/embeddings corpus (doc_id = vec_id)
      val docs = t(s, d, "documents")
      val embs = t(s, d, "embeddings")
      Similarity.rrfFusionTopK(
        docs, docs.filter(col("doc_id") < 10), "doc_id", "text",
        embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
        kEach = 20, k = 10, rrfK = 60)
    })(
      // RRF fusion: both arms' rankings are reproduced rank-for-rank
      // (lexical integer scores exactly; vector cosine order is stable
      // on this corpus — the sim_topk_brute precedent), fused integer
      // contributions are exact in both engines
      """WITH n AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |tf AS (SELECT doc_id AS cid, term, count(*) AS tf FROM (SELECT doc_id, unnest(w) AS term FROM n) GROUP BY 1,2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |qt AS (SELECT doc_id AS qid, unnest(list_distinct(w)) AS term FROM n WHERE doc_id < 10),
        |ls AS (SELECT qt.qid, tf.cid, sum(tf.tf * (1000000 // dfq.df)) AS s
        |       FROM tf JOIN dfq USING (term) JOIN qt USING (term)
        |       WHERE tf.cid != qt.qid GROUP BY 1,2),
        |lrk AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid) AS r FROM ls),
        |vrk AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |        row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS r
        |        FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
        |l AS (SELECT qid, cid, 1000000 // (60 + r) AS c FROM lrk WHERE r <= 20),
        |v AS (SELECT qid, cid, 1000000 // (60 + r) AS c FROM vrk WHERE r <= 20),
        |f AS (SELECT coalesce(l.qid, v.qid) AS qid, coalesce(l.cid, v.cid) AS cid,
        |             coalesce(l.c, 0) + coalesce(v.c, 0) AS rrf_ppm
        |      FROM l FULL OUTER JOIN v ON l.qid = v.qid AND l.cid = v.cid)
        |SELECT qid, CAST(rn AS BIGINT) AS rank, cid AS neighbor_id, CAST(rrf_ppm AS BIGINT) AS rrf_ppm
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf_ppm DESC, cid) AS rn FROM f) x
        |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin),
    query("mm_webp_meta")((s, d) => {
      // C90: REAL WebP container parsing — docs cycle through the
      // three bitstream variants (VP8 lossy / VP8L lossless / VP8X
      // extended, doc_id % 4 == 3 carries non-WebP text bytes); the
      // builder is a pure hex-concat projection (mp4Bytes discipline)
      // and the oracle states the fields in closed form
      val payloads = t(s, d, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 4 =!= 3,
          Multimodal.webpBytes(
            col("doc_id") % 4,
            lit(16L) + col("doc_id") % 1024L,
            lit(16L) + col("doc_id") % 512L))
          .otherwise(col("text").cast("binary")).as("payload"))
      Multimodal.parseWebpMeta(payloads, "doc_id", "payload")
    })(
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 4 != 3 THEN 1 ELSE 0 END AS BIGINT) AS is_webp,
        |  CASE doc_id % 4 WHEN 0 THEN 'VP8' WHEN 1 THEN 'VP8L' WHEN 2 THEN 'VP8X' END AS variant,
        |  CAST(CASE WHEN doc_id % 4 != 3 THEN 16 + doc_id % 1024 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 4 != 3 THEN 16 + doc_id % 512 END AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin),
    query("graph_label_prop")((s, d) => {
      // C91: budgeted min-label propagation over the pagerank edge
      // fixture — 4 rounds, labels = smallest id within 4 hops
      val docs = t(s, d, "documents")
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % n,
          (col("doc_id") * 13 + 2) % n,
          (col("doc_id") * 31 + 3) % n)).as("dst"))
      GraphOps.labelPropRounds(edges, rounds = 4)
    })(labelPropOracleSql(rounds = 4)),
    query("text_ccnet_bucket")((s, d) =>
      // C92: CCNet head/middle/tail split — per-source exact-rank
      // thresholds on the bigram-LM score, value-based cuts
      TextAnalysis.ccnetBuckets(t(s, d, "documents"), "doc_id", "text", "source"))(
      // same LM CTEs as text_bigram_lm; thresholds = values at exact
      // ascending ranks ceil(n/3) / ceil(2n/3) per source (value at a
      // rank is tie-order-free), buckets compare by value
      """WITH ws AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram FROM ws),
        |tf AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2),
        |cbt AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS cb FROM tf GROUP BY 1),
        |cht AS (SELECT string_split(bigram, ' ')[1] AS head, CAST(sum(cb) AS BIGINT) AS ch FROM cbt GROUP BY 1),
        |sc AS (SELECT doc_id, CAST(sum(tf * (cb * 1000000 // ch)) // sum(tf) AS BIGINT) AS score_ppm
        |       FROM tf JOIN cbt USING (bigram) JOIN cht ON string_split(bigram, ' ')[1] = cht.head
        |       GROUP BY doc_id),
        |sd AS (SELECT sc.doc_id, d.source, sc.score_ppm FROM sc JOIN documents d USING (doc_id)),
        |th AS (SELECT source,
        |         max(CASE WHEN rn = (n + 2) // 3 THEN score_ppm END) AS t33,
        |         max(CASE WHEN rn = (2 * n + 2) // 3 THEN score_ppm END) AS t67
        |       FROM (SELECT source, score_ppm,
        |               row_number() OVER (PARTITION BY source ORDER BY score_ppm, doc_id) AS rn,
        |               count(*) OVER (PARTITION BY source) AS n FROM sd) x GROUP BY 1)
        |SELECT sd.doc_id, sd.source, sd.score_ppm,
        |       CASE WHEN sd.score_ppm > th.t67 THEN 'head'
        |            WHEN sd.score_ppm > th.t33 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM sd JOIN th USING (source) ORDER BY sd.doc_id""".stripMargin),
    query("decontam_embedding")((s, d) => {
      // C93: semantic decontamination — corpus vectors within cosine
      // >= 0.3 of any eval vector (vec_id < 8 plays the benchmark)
      val e = t(s, d, "embeddings")
      Curation.semanticContamination(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", tau = 0.3)
    })(
      // same threshold-scan oracle family as sim_range_search, folded
      // to per-corpus-doc hit counts
      """SELECT c.vec_id, count(*) AS n_eval_hits
        |FROM embeddings c JOIN embeddings q ON c.vec_id >= 8 AND q.vec_id < 8
        |WHERE list_cosine_similarity(q.embedding, c.embedding) >= 0.3
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("forecast_snaive")((s, d) =>
      // B81: seasonal-naive (lag-7) revenue backtest scored per weekday
      TimeSeries.snaiveBacktest(t(s, d, "lineitem")))(
      // DuckDB dayofweek is 0=Sunday, Spark's is 1=Sunday -> +1 aligns
      """WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |                  CAST(sum(round(l_extendedprice*100)) AS BIGINT) AS rev_c
        |           FROM lineitem GROUP BY 1),
        |p AS (SELECT day, rev_c, lag(rev_c, 7) OVER (ORDER BY day) AS pred FROM d)
        |SELECT CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
        |       count(*) AS n_days,
        |       CAST(sum(abs(rev_c - pred)) // count(*) AS BIGINT) AS mae_cents,
        |       CAST(sum(rev_c - pred) // count(*) AS BIGINT) AS bias_cents,
        |       CAST(sum(10000 * abs(rev_c - pred) // rev_c) // count(*) AS BIGINT) AS mape_bp
        |FROM p WHERE pred IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin),
    query("new_vs_returning")((s, d) =>
      // B82: daily actives split into first-ever-seen vs comeback users
      TimeSeries.newVsReturning(t(s, d, "events")))(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |fd AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
        |SELECT strftime(ud.day, '%Y-%m-%d') AS day,
        |       CAST(sum(CASE WHEN ud.day = fd.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |       CAST(sum(CASE WHEN ud.day != fd.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
        |FROM ud JOIN fd USING (user_id) GROUP BY ud.day ORDER BY day""".stripMargin),
    query("funnel_window")((s, d) =>
      // B83: ClickHouse-windowFunnel pendant — per-user stage depth
      // with every hop inside 6h of the first view, users per level
      Analytics.funnelWindowLevels(t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowSec = 21600L))(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s0 AS (SELECT user_id, min(us) AS t0 FROM e WHERE event_type='view' GROUP BY 1),
        |s1 AS (SELECT s0.user_id, s0.t0,
        |         min(CASE WHEN e.us > s0.t0 AND e.us <= s0.t0 + 21600000000 THEN e.us END) AS t1
        |       FROM s0 LEFT JOIN e ON e.user_id = s0.user_id AND e.event_type='click' GROUP BY 1,2),
        |s2 AS (SELECT s1.user_id, s1.t0, s1.t1,
        |         min(CASE WHEN e.us > s1.t1 AND e.us <= s1.t0 + 21600000000 THEN e.us END) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.event_type='purchase' GROUP BY 1,2,3)
        |SELECT CAST(1 + (t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT AS BIGINT) AS level,
        |       count(*) AS n_users
        |FROM s2 GROUP BY 1 ORDER BY 1""".stripMargin),
    query("dedup_incr_containment")((s, d) => {
      // C94: incremental containment — decile-0 batch probed against
      // the persisted shingle-set index of the rest; same |∩|/|smaller|
      // >= 70% predicate as dedup_containment, corpus text never
      // re-read at probe time
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      // the index frame is CHECKPOINTED: the probe reads it FOUR times
      // (both candidate arms + the KMV screen + the exact verify fetch)
      // and without it the corpus re-shingled per read (the
      // winsorize_stats r12 lesson; in production this frame IS the
      // persisted on-disk index, so one materialization is the honest
      // cost model too)
      Dedup.containmentAgainstIndex(batch, "doc_id", "text",
        Dedup.buildContainmentIndex(corpus, "doc_id", "text").localCheckpoint(),
        n = 3, tauPct = 70)
    })(
      // cross-restricted twin of the dedup_containment oracle: batch =
      // decile-0 docs, corpus = the rest, pair emitted as (batch, corpus)
      """WITH n AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w)>=3
        |        THEN list_distinct([array_to_string(w[i:i+2],' ') for i in range(1,len(w)-1)])
        |        ELSE [array_to_string(w,' ')] END AS sh FROM n)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(floor(100.0*len(list_intersect(a.sh,b.sh)) / least(len(a.sh), len(b.sh))) AS BIGINT) AS cont_pct
        |FROM g a JOIN g b ON a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
        |WHERE 100*len(list_intersect(a.sh,b.sh)) >= 70*least(len(a.sh), len(b.sh))
        |ORDER BY 1,2""".stripMargin),
    query("funnel_window_strict")((s, d) =>
      // B84: windowFunnel strict_order — any interleaving stage event
      // freezes the chain (CH's no-events-between-steps mode)
      Analytics.funnelWindowLevelsMode(t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowSec = 21600L, mode = "strict_order"))(
      // B84/B85 twins: the strictness modes are sequence-dependent, so
      // the oracle replays each user's time-ordered stage events through
      // the SAME state machine with a recursive CTE (state: level,
      // anchor, last-matched time, frozen); only the freeze clause
      // differs between the two modes
      funnelModeOracleSql(
      "WHEN w.lvl > 0 AND x.us > w.lastt THEN true")),
    query("funnel_window_dedup")((s, d) =>
      // B85: windowFunnel strict_deduplication — a repeat of an
      // already-matched stage freezes the chain
      Analytics.funnelWindowLevelsMode(t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowSec = 21600L, mode = "strict_dedup"))(
      funnelModeOracleSql(
      "WHEN w.lvl > 0 AND x.s < w.lvl AND x.us > w.lastt THEN true")),
    query("text_gopher_gate")((s, d) =>
      // C95: the published Gopher heuristic rules as an integer-exact
      // per-doc gate (word/mwl/symbol/bullet/alpha/stopword rules)
      TextAnalysis.gopherGate(t(s, d, "documents"), "doc_id", "text").orderBy("doc_id"))(
      // every ratio tested by integer cross-multiplication — the gate is
      // bit-exact, no float thresholds on either side
      """WITH d AS (SELECT doc_id, text,
        |  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w,
        |  string_split(text, chr(10)) AS lines FROM documents),
        |m AS (SELECT doc_id,
        |  len(w) AS n_words,
        |  list_sum(list_transform(w, x -> len(x))) AS sum_len,
        |  len(text) - len(replace(text,'#','')) AS n_hash,
        |  (len(text) - len(replace(text,'...','')))//3 + (len(text) - len(replace(text,'…',''))) AS n_ell,
        |  len(lines) AS n_lines,
        |  len(list_filter(lines, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) AS n_bullet,
        |  len(list_filter(lines, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS n_ell_line,
        |  len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
        |  list_contains(w,'the')::INT + list_contains(w,'be')::INT + list_contains(w,'to')::INT +
        |  list_contains(w,'of')::INT + list_contains(w,'and')::INT + list_contains(w,'that')::INT +
        |  list_contains(w,'have')::INT + list_contains(w,'with')::INT AS n_gstop
        |FROM d),
        |f AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_words,
        |  CAST(CASE WHEN sum_len >= n_words*3 AND sum_len <= n_words*10 THEN 1 ELSE 0 END AS BIGINT) AS r_mwl,
        |  CAST(CASE WHEN n_hash*10 <= n_words THEN 1 ELSE 0 END AS BIGINT) AS r_hash,
        |  CAST(CASE WHEN n_ell*10 <= n_words THEN 1 ELSE 0 END AS BIGINT) AS r_ellipsis,
        |  CAST(CASE WHEN n_bullet*10 <= n_lines*9 THEN 1 ELSE 0 END AS BIGINT) AS r_bullet,
        |  CAST(CASE WHEN n_ell_line*10 <= n_lines*3 THEN 1 ELSE 0 END AS BIGINT) AS r_ell_line,
        |  CAST(CASE WHEN n_alpha*10 >= n_words*8 THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
        |  CAST(CASE WHEN n_gstop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop
        |FROM m)
        |SELECT *, r_words*r_mwl*r_hash*r_ellipsis*r_bullet*r_ell_line*r_alpha*r_stop AS keep
        |FROM f ORDER BY doc_id""".stripMargin),
    query("dedup_keep_best")((s, d) => {
      // C96: quality-aware canonical selection — same clusters as
      // dedup_clusters, but keep the member with the MOST words
      // (ties to the smallest id), the keep-the-longest heuristic
      val docs = t(s, d, "documents")
      Dedup.clusterKeepBest(docs, "doc_id", "text",
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tauPct = 80))
    })(
      // same transitive closure, then keep-the-longest per cluster
      // (n_words desc, doc_id asc) instead of min-id
      """WITH RECURSIVE
        |n AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w)>=3
        |        THEN list_distinct([array_to_string(w[i:i+2],' ') for i in range(1,len(w)-1)])
        |        ELSE [array_to_string(w,' ')] END AS sh FROM n),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id
        |      WHERE 100*len(list_intersect(a.sh,b.sh)) >= 80*(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
        |walk AS (
        |  SELECT src AS id, dst AS reach FROM e
        |  UNION
        |  SELECT w.id, e.dst FROM walk w JOIN e ON w.reach = e.src),
        |comp AS (SELECT id, least(id, min(reach)) AS cluster_id FROM walk GROUP BY id),
        |a AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, len(n.w) AS n_words
        |      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id JOIN n ON n.doc_id = d.doc_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY n_words DESC, doc_id) AS rk FROM a)
        |SELECT doc_id, cluster_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_kept
        |FROM r ORDER BY doc_id""".stripMargin),
    query("sequence_match")((s, d) =>
      // B86: CH sequenceMatch pendant — ANY view→click→purchase chain
      // with each hop inside 24h (re-anchoring allowed), depth histogram
      Analytics.sequenceMatchDepth(t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), gapSec = 86400L))(
      // B86: the semantics are set-theoretic (see sequenceMatchDepth
      // Scaladoc), so the oracle is plain EXISTS-join SQL — feasible
      // clicks need a view within the hop bound, feasible purchases a
      // feasible click; no state machine, no recursive CTE
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |v AS (SELECT user_id, us FROM e WHERE event_type = 'view'),
        |c AS (SELECT DISTINCT x.user_id, x.us FROM e x WHERE event_type = 'click'
        |      AND EXISTS (SELECT 1 FROM v WHERE v.user_id = x.user_id
        |                  AND v.us < x.us AND x.us <= v.us + 86400000000)),
        |p AS (SELECT DISTINCT x.user_id, x.us FROM e x WHERE event_type = 'purchase'
        |      AND EXISTS (SELECT 1 FROM c WHERE c.user_id = x.user_id
        |                  AND c.us < x.us AND x.us <= c.us + 86400000000)),
        |u AS (SELECT DISTINCT user_id FROM v)
        |SELECT CAST(1 + (EXISTS(SELECT 1 FROM c WHERE c.user_id = u.user_id))::INT
        |              + (EXISTS(SELECT 1 FROM p WHERE p.user_id = u.user_id))::INT AS BIGINT) AS depth,
        |       count(*) AS n_users
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin),
    query("sequence_count")((s, d) =>
      // B87: CH sequenceCount pendant — greedy non-overlapping chain
      // completions per user, 24h hop bound, match-count histogram
      Analytics.sequenceCountNonOverlap(t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), gapSec = 86400L))(
      // B87: greedy non-overlapping count IS fold-order dependent — the
      // oracle replays the engine's feasibility-DP machine (f0, f1,
      // cnt; clear on completion) over the same (us asc, stage desc)
      // order with a recursive CTE
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS s
        |  FROM events WHERE event_type IN ('view','click','purchase')),
        |se AS (SELECT user_id, us, s,
        |       row_number() OVER (PARTITION BY user_id ORDER BY us, s DESC) AS rn FROM e),
        |nu AS (SELECT user_id, count(*) AS ne FROM se GROUP BY 1),
        |walk AS (
        |  SELECT user_id, 0 AS rn, CAST(0 AS BIGINT) AS f0,
        |         CAST(0 AS BIGINT) AS f1, CAST(0 AS BIGINT) AS cnt
        |  FROM nu
        |  UNION ALL
        |  -- state stores t+1 (the engine's zero-safe sentinel — an event
        |  -- at exactly epoch 0 must not read as "unset"), so the raw hop
        |  -- bound t' < t <= t'+gap becomes t >= f AND t <= f + gap - 1
        |  SELECT w.user_id, w.rn + 1,
        |    CASE WHEN x.s = 2 AND w.f1 != 0 AND x.us >= w.f1 AND x.us <= w.f1 + 86399999999 THEN 0
        |         WHEN x.s = 0 THEN x.us + 1 ELSE w.f0 END,
        |    CASE WHEN x.s = 2 AND w.f1 != 0 AND x.us >= w.f1 AND x.us <= w.f1 + 86399999999 THEN 0
        |         WHEN x.s = 1 AND w.f0 != 0 AND x.us >= w.f0 AND x.us <= w.f0 + 86399999999 THEN x.us + 1
        |         ELSE w.f1 END,
        |    w.cnt + CASE WHEN x.s = 2 AND w.f1 != 0 AND x.us >= w.f1 AND x.us <= w.f1 + 86399999999
        |                 THEN 1 ELSE 0 END
        |  FROM walk w JOIN se x ON x.user_id = w.user_id AND x.rn = w.rn + 1
        |),
        |fin AS (SELECT w.user_id, w.cnt FROM walk w JOIN nu ON w.user_id = nu.user_id AND w.rn = nu.ne)
        |SELECT cnt AS n_matches, count(*) AS n_users FROM fin WHERE cnt > 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("text_kn_bigram")((s, d) =>
      // C97: interpolated Kneser-Ney bigram score — discounted MLE +
      // continuation-count back-off, exact integer ppm (D = 3/4)
      TextAnalysis.knBigramScore(t(s, d, "documents"), "doc_id", "text"))(
      // C97: same tokenization + tf/cb/ch CTEs as text_bigram_lm, plus
      // head-fertility (n1h), continuation (n1c), and distinct-bigram
      // counts; the ppm arithmetic mirrors knBigramScore term for term
      """WITH ws AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram FROM ws),
        |tf AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2),
        |cbt AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS cb FROM tf GROUP BY 1),
        |cht AS (SELECT string_split(bigram,' ')[1] AS head, CAST(sum(cb) AS BIGINT) AS ch,
        |               CAST(count(*) AS BIGINT) AS n1h FROM cbt GROUP BY 1),
        |nct AS (SELECT string_split(bigram,' ')[2] AS tail, CAST(count(*) AS BIGINT) AS n1c FROM cbt GROUP BY 1),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM cbt)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  CAST(sum(tf * (((4*cb - 3) * 1000000 // (4*ch))
        |                 + (((3*n1h*1000000 // (4*ch)) * (n1c*1000000 // b)) // 1000000))) // sum(tf) AS BIGINT) AS kn_ppm,
        |  CAST(sum(tf * (3*n1h*1000000 // (4*ch))) // sum(tf) AS BIGINT) AS lambda_ppm
        |FROM tf JOIN cbt USING (bigram)
        |  JOIN cht ON string_split(bigram,' ')[1] = cht.head
        |  JOIN nct ON string_split(bigram,' ')[2] = nct.tail
        |  CROSS JOIN nb
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    query("holt_winters")((s, d) =>
      // B88: additive Holt-Winters (level+trend+weekly seasonal) over
      // daily revenue — integer-cent triple smoothing, full forecast state
      TimeSeries.holtWinters(t(s, d, "lineitem")))(
      // B88: the recursive CTE replays the Holt-Winters fold with LIST
      // seasonal state (DuckDB list_transform index j is 1-based, the
      // engine's transform index is 0-based — hence j - 1); the level
      // expression repeats inside trend/seasonal updates because SQL
      // lambdas have no let-binding
      holtWintersOracleSql(alphaPct = 30, betaPct = 10, gammaPct = 20, season = 7)),
    query("segment_overlap")((s, d) =>
      // B89: audience-overlap matrix — high-value (value >= 150)
      // actives per event type, |A| |B| |A∩B| + Jaccard ppm per pair,
      // zero-overlap pairs included
      Analytics.segmentOverlap(t(s, d, "events"), "user_id", "event_type", "value", minValue = 150.0))(
      """WITH ud AS (SELECT DISTINCT user_id, event_type FROM events WHERE value >= 150),
        |c AS (SELECT event_type AS seg, CAST(count(*) AS BIGINT) AS n FROM ud GROUP BY 1),
        |p AS (SELECT a.event_type AS seg_a, b.event_type AS seg_b, CAST(count(*) AS BIGINT) AS n_ov
        |      FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT ca.seg AS seg_a, cb.seg AS seg_b, ca.n AS n_a, cb.n AS n_b,
        |  CAST(coalesce(p.n_ov, 0) AS BIGINT) AS n_overlap,
        |  CAST(coalesce(p.n_ov, 0) * 1000000 // (ca.n + cb.n - coalesce(p.n_ov, 0)) AS BIGINT) AS jaccard_ppm
        |FROM c ca JOIN c cb ON ca.seg < cb.seg
        |  LEFT JOIN p ON p.seg_a = ca.seg AND p.seg_b = cb.seg
        |ORDER BY seg_a, seg_b""".stripMargin),
    query("mm_color_hist")((s, d) => {
      // C98: sparse RGB color histogram (4x4x4 cube) over REAL decoded
      // pixels — same staged PNGs as mm_pixel_resize, 2 bits/channel
      val docs = t(s, d, "documents")
      val staged = Multimodal.stageBytesIfAbsent(s, docs,
        s"target/mm_resize_png_${d.replaceAll("[^A-Za-z0-9]", "_")}", "v1") {
        Multimodal.encodeStagedPng(
          s,
          docs.select(col("doc_id"),
            (lit(8) + (col("doc_id") % 5) * 2).as("w"), (lit(8) + (col("doc_id") % 3) * 4).as("h")),
          "doc_id", "w", "h").select(col("doc_id"), col("png"))
      }
      Multimodal.decodeColorHist(s, staged, "doc_id", "png", bits = 2)
    })(
      // C98: the oracle integrates the staged closed-form pixel field
      // (r=(id%200)+y, g=(id%100)+x, b=x+y — mm_pixel_resize's staging)
      // over the image grid; cell = ((r>>6)*4 + (g>>6))*4 + (b>>6)
      """WITH px AS (SELECT doc_id, 8 + (doc_id % 5) * 2 AS w, 8 + (doc_id % 3) * 4 AS h FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM px),
        |g AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM xs),
        |c AS (SELECT doc_id,
        |        ((((doc_id % 200) + y) // 64) * 4 + (((doc_id % 100) + x) // 64)) * 4 + ((x + y) // 64) AS cell
        |      FROM g)
        |SELECT doc_id, CAST(cell AS BIGINT) AS cell, count(*) AS n_px
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    query("text_lm_incr")((s, d) => {
      // C99: incremental LM quality scoring — decile-7 batch scored
      // against the persisted bigram-count index of the rest; the
      // corpus text is never re-read at probe time
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      // index checkpointed: the scorer reads it twice (head-count
      // rollup + the per-doc join) — one corpus bigram pass instead of two
      TextAnalysis.scoreAgainstLmIndex(
        TextAnalysis.buildLmIndex(docs.filter(col("doc_id") % 10 =!= 7), "text").localCheckpoint(),
        docs.filter(col("doc_id") % 10 === 7), "doc_id", "text")
    })(
      // the index probe must answer exactly like a text-level left join:
      // md5-of-normalized-text equality == normalized-text equality
      // (collision-free on any real corpus)
      // C99: the oracle rebuilds the corpus-only bigram model in SQL
      // (text_bigram_lm's tokenization) and scores the decile-7 batch
      // with index-covered share + covered-only mean conditional
      """WITH ws AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram FROM ws),
        |tf AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2),
        |cbt AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS cb FROM tf WHERE doc_id % 10 != 7 GROUP BY 1),
        |cht AS (SELECT string_split(bigram,' ')[1] AS head, CAST(sum(cb) AS BIGINT) AS ch FROM cbt GROUP BY 1),
        |bt AS (SELECT * FROM tf WHERE doc_id % 10 = 7)
        |SELECT bt.doc_id AS doc_id, CAST(sum(bt.tf) AS BIGINT) AS n_bigrams,
        |  CAST(10000 * sum(CASE WHEN cbt.cb IS NOT NULL THEN bt.tf ELSE 0 END) // sum(bt.tf) AS BIGINT) AS covered_bp,
        |  CAST(CASE WHEN sum(CASE WHEN cbt.cb IS NOT NULL THEN bt.tf ELSE 0 END) = 0 THEN 0
        |       ELSE sum(CASE WHEN cbt.cb IS NOT NULL THEN bt.tf * (cbt.cb * 1000000 // cht.ch) ELSE 0 END)
        |            // sum(CASE WHEN cbt.cb IS NOT NULL THEN bt.tf ELSE 0 END) END AS BIGINT) AS mean_cond_ppm
        |FROM bt LEFT JOIN cbt USING (bigram)
        |  LEFT JOIN cht ON string_split(bt.bigram,' ')[1] = cht.head
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("token_drift")((s, d) =>
      // C100: token-share drift between the even/odd doc-id snapshots —
      // top movers by absolute ppm delta, one corpus scan
      TextAnalysis.tokenDrift(t(s, d, "documents"), "doc_id", "text",
        col("doc_id") % 2, topK = 30))(
      // C100: deterministic top-k — terms are distinct, so ordering by
      // (abs delta, term) is total; the delta expression repeats in the
      // ORDER BY because SQL has no let
      """WITH tok AS (SELECT doc_id % 2 AS side,
        |               unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS term
        |             FROM documents),
        |c AS (SELECT term,
        |        CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |        CAST(sum(CASE WHEN side != 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
        |      FROM tok GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a, CAST(sum(cnt_b) AS BIGINT) AS tot_b FROM c)
        |SELECT term, cnt_a, cnt_b,
        |  CAST(cnt_a * 1000000 // tot_a AS BIGINT) AS share_a_ppm,
        |  CAST(cnt_b * 1000000 // tot_b AS BIGINT) AS share_b_ppm,
        |  CAST(cnt_b * 1000000 // tot_b - cnt_a * 1000000 // tot_a AS BIGINT) AS delta_ppm
        |FROM c, t
        |ORDER BY abs(cnt_b * 1000000 // tot_b - cnt_a * 1000000 // tot_a) DESC, term
        |LIMIT 30""".stripMargin),
    query("text_watermark")((s, d) =>
      // C101: green-list watermark detector — binomial test on the
      // PRF-partitioned bigram stream, integer cross-multiplied z>4 flag
      TextAnalysis.watermarkScore(t(s, d, "documents"), "doc_id", "text"))(
      // C101: same tokenization; the keyed FNV-1a PRF over
      // 'graft' || 0x01 || prev || 0x01 || cur (text_fingerprint's
      // byte-fold, applied per bigram) and the integer z>4 rule mirror
      // watermarkScore term for term
      """WITH ws AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i ->
        |         'graft' || chr(1) || w[i] || chr(1) || w[i+1])) AS s FROM ws),
        |h AS (SELECT doc_id, list_reduce(
        |        list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |          list_transform(range(1, octet_length(encode(s))+1), i ->
        |            CAST(16*(strpos('0123456789ABCDEF', hx[2*i-1:2*i-1])-1)
        |                  + (strpos('0123456789ABCDEF', hx[2*i:2*i])-1) AS HUGEINT))),
        |        (acc, b) -> (xor(acc, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS hv
        |      FROM (SELECT doc_id, s, hex(encode(s)) AS hx FROM bg) src),
        |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |        CAST(sum(CASE WHEN hv % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_green
        |      FROM h GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, n_green,
        |  CAST(10000 * n_green // n_bigrams AS BIGINT) AS green_bp,
        |  CAST(10000 * n_green // n_bigrams - 2500 AS BIGINT) AS excess_bp,
        |  CAST(CASE WHEN 4 * n_green > n_bigrams
        |              AND (4 * n_green - n_bigrams) * (4 * n_green - n_bigrams) > 48 * n_bigrams
        |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM g WHERE n_bigrams > 0 ORDER BY doc_id""".stripMargin),
    query("sequence_next_node")((s, d) =>
      // B90: CH sequenceNextNode pendant — the event right after each
      // user's earliest view→click chain, users per next type
      Analytics.sequenceNextNode(t(s, d, "events"), "user_id", "event_type", "ts", "event_id",
        Seq("view", "click")))(
      // B90: the chain CTEs are the funnel shape; the next event is the
      // min (time, event_id, type) struct after t1 — struct min gives
      // the deterministic lexicographic tiebreak in both engines
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events),
        |s0 AS (SELECT user_id, min(us) AS t0 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT s0.user_id, min(CASE WHEN e.us > s0.t0 THEN e.us END) AS t1
        |       FROM s0 JOIN e ON e.user_id = s0.user_id AND e.event_type = 'click' GROUP BY 1),
        |nx AS (SELECT e.user_id, min(struct_pack(us := e.us, eid := e.event_id, et := e.event_type)) AS m
        |       FROM e JOIN s1 ON e.user_id = s1.user_id AND e.us > s1.t1
        |       GROUP BY 1)
        |SELECT m.et AS next_type, count(*) AS n_users FROM nx GROUP BY 1 ORDER BY 1""".stripMargin),
    query("text_bpe_tokens")((s, d) =>
      // C102: REAL tokenizer counts — greedy longest-match over the
      // embedded merge table, one trie-walk kernel per row, no shuffle
      TextAnalysis.bpeTokenStats(t(s, d, "documents"), "doc_id", "text"))(
      // C102: the greedy longest-match walk replayed as a recursive CTE —
      // per (distinct word, position) the longest vocab match length is
      // precomputed (codepoint substr = the kernel's codepoint cursor),
      // then each word walks pos -> pos + match (else +1 fallback); the
      // vocabulary is interpolated from TextAnalysis.BpeVocab so engine
      // and oracle share one merge table by construction
      s"""WITH RECURSIVE v AS (SELECT unnest([${graft.operators.TextAnalysis.BpeVocab.map(t => s"'$t'").mkString(",")}]) AS tok),
        |ws AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')),' ') AS w FROM documents),
        |wd AS (SELECT doc_id, unnest(w) AS word FROM ws),
        |uw AS (SELECT DISTINCT word FROM wd),
        |pp AS (SELECT word, unnest(range(1, length(word)+1)) AS pos FROM uw),
        |ml AS (SELECT p.word, p.pos, CAST(max(length(v.tok)) AS BIGINT) AS l
        |       FROM pp p JOIN v ON substr(p.word, CAST(p.pos AS INT), length(v.tok)) = v.tok
        |       GROUP BY 1, 2),
        |walk AS (
        |  SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS fb FROM uw
        |  UNION ALL
        |  SELECT w.word, w.pos + coalesce(m.l, 1), w.n + 1,
        |         w.fb + CASE WHEN m.l IS NULL THEN 1 ELSE 0 END
        |  FROM walk w LEFT JOIN ml m ON m.word = w.word AND m.pos = w.pos
        |  WHERE w.pos <= length(w.word)),
        |fin AS (SELECT word, n, fb FROM walk WHERE pos > length(word))
        |SELECT wd.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(sum(f.n) AS BIGINT) AS n_tokens,
        |       CAST(sum(f.fb) AS BIGINT) AS fallback_cp
        |FROM wd JOIN fin f USING (word)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    query("pack_sequences_bpe")((s, d) => {
      // C103: sequence packing priced by the REAL tokenizer count
      // (C102's trie kernel) instead of the whitespace proxy — the
      // budget that actually fills a training context window; same
      // one-window plan as pack_sequences, the count rides the scan
      val st = graft.functions.VecOps.greedy_token_stats(
        graft.operators.Dedup.normalize(col("text")), TextAnalysis.BpeVocab)
      Curation.packSequences(t(s, d, "documents"), "doc_id", st.getItem(1), budget = 512L, shards = 8)
        .groupBy(col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("shard"), col("pack_id"))
    })(
      // C103: text_bpe_tokens' recursive walk supplies n_tokens, then
      // the identical packing CTEs as pack_sequences
      s"""WITH RECURSIVE v AS (SELECT unnest([${graft.operators.TextAnalysis.BpeVocab.map(t => s"'$t'").mkString(",")}]) AS tok),
        |ws AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')),' ') AS w FROM documents),
        |wd AS (SELECT doc_id, unnest(w) AS word FROM ws),
        |uw AS (SELECT DISTINCT word FROM wd),
        |pp AS (SELECT word, unnest(range(1, length(word)+1)) AS pos FROM uw),
        |ml AS (SELECT p.word, p.pos, CAST(max(length(v.tok)) AS BIGINT) AS l
        |       FROM pp p JOIN v ON substr(p.word, CAST(p.pos AS INT), length(v.tok)) = v.tok
        |       GROUP BY 1, 2),
        |walk AS (
        |  SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n FROM uw
        |  UNION ALL
        |  SELECT w.word, w.pos + coalesce(m.l, 1), w.n + 1
        |  FROM walk w LEFT JOIN ml m ON m.word = w.word AND m.pos = w.pos
        |  WHERE w.pos <= length(w.word)),
        |fin AS (SELECT word, n FROM walk WHERE pos > length(word)),
        |t AS (SELECT wd.doc_id, CAST(sum(f.n) AS BIGINT) AS n_tokens, wd.doc_id % 8 AS shard
        |      FROM wd JOIN fin f USING (word) GROUP BY wd.doc_id),
        |c AS (SELECT shard, doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev FROM t)
        |SELECT shard, CAST(floor(prev/512) AS BIGINT) AS pack_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    query("corpus_diff")((s, d) => {
      // C105: cross-snapshot corpus diff card. The two snapshots are
      // staged deterministically from the one documents table so every
      // category is populated: v1 drops id%5==4, v2 drops id%7==6 and
      // edits id%11==0 (" v2edit" suffix), and the length gate
      // tightens 200 -> 300 between snapshots (the policy change that
      // makes `regated` a real bucket, not an empty column)
      val docs = t(s, d, "documents")
      val v1 = docs.filter(col("doc_id") % 5 =!= 4)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
          (length(col("text")) >= 200).cast("long").as("gate"))
      val t2 = when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2edit")))
        .otherwise(col("text"))
      val v2 = docs.filter(col("doc_id") % 7 =!= 6)
        .select(col("doc_id"), col("source"), md5(t2).as("h"),
          (length(t2) >= 300).cast("long").as("gate"))
      Curation.corpusDiff(v1, v2, "doc_id", "h", "gate", "source")
    })(
      """WITH v1 AS (SELECT doc_id, source, md5(text) AS h,
        |    CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END AS gate
        |  FROM documents WHERE doc_id % 5 <> 4),
        |v2 AS (SELECT doc_id, source,
        |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2edit' ELSE text END) AS h,
        |    CASE WHEN length(CASE WHEN doc_id % 11 = 0 THEN text || ' v2edit' ELSE text END) >= 300
        |         THEN 1 ELSE 0 END AS gate
        |  FROM documents WHERE doc_id % 7 <> 6),
        |j AS (SELECT coalesce(v2.source, v1.source) AS source,
        |    coalesce(v1.doc_id, v2.doc_id) AS id,
        |    CASE WHEN v1.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN v1.h <> v2.h THEN 'edited'
        |         WHEN v1.gate <> v2.gate THEN 'regated'
        |         ELSE 'unchanged' END AS cat
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT source,
        |  CAST(sum(CASE WHEN cat = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN cat = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN cat = 'edited' THEN 1 ELSE 0 END) AS BIGINT) AS n_edited,
        |  CAST(sum(CASE WHEN cat = 'regated' THEN 1 ELSE 0 END) AS BIGINT) AS n_regated,
        |  CAST(sum(CASE WHEN cat = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  CAST(sum(CASE WHEN cat <> 'unchanged' THEN id ELSE 0 END) AS BIGINT) AS chk_changed_ids
        |FROM j GROUP BY source ORDER BY source""".stripMargin),
    query("sample_weighted_strat")((s, d) =>
      // C106: per-stratum weighted top-k (C57's draw WITHIN each lang)
      Curation.weightedSampleStratified(t(s, d, "documents"),
        "doc_id", "lang", "n_chars", kPerStratum = 50))(
      """WITH b AS (SELECT doc_id, lang AS stratum, n_chars AS weight, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1,9), i -> CAST(strpos('0123456789abcdef',
        |      substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
        |    (a,x) -> a*16+x) AS h FROM documents),
        |p AS (SELECT doc_id, stratum, weight, CAST(h // greatest(weight, 1) AS BIGINT) AS priority FROM b),
        |r AS (SELECT stratum, doc_id, weight, priority,
        |        row_number() OVER (PARTITION BY stratum ORDER BY priority, doc_id) AS rn FROM p)
        |SELECT stratum, doc_id, weight, priority, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 50 ORDER BY stratum, rn""".stripMargin)
  ))

  /** DuckDB twin of [[TextAnalysis.langIdNgram]], generated from the
    * SAME TrigramProfiles constants so the two sides cannot drift:
    * identical positional trigram counts (every offset, overlaps
    * included), identical alphabetical-first argmax.
    */
  private def langidNgramOracleSql: String = {
    val t = """' ' || trim(regexp_replace(lower(text), '\s+', ' ', 'g')) || ' '"""
    val langs = TextAnalysis.TrigramProfiles.toSeq.sortBy(_._1)
    val scoreCols = langs.map { case (lang, tris) =>
      val set = tris.map(p => s"'$p'").mkString("[", ", ", "]")
      s"len([x FOR x IN tris IF list_contains($set, x)]) AS s_$lang"
    }.mkString(", ")
    val names = langs.map("s_" + _._1)
    val maxExpr = "greatest(" + names.mkString(", ") + ")"
    val firstMax = langs.map { case (lang, _) => s"WHEN s_$lang = m THEN '$lang'" }.mkString(" ")
    s"""WITH w AS (SELECT lang, $t AS t FROM documents),
       |g AS (SELECT lang, CASE WHEN length(t) >= 3
       |        THEN [substring(t, CAST(i AS INT), 3) FOR i IN range(1, length(t) - 1)]
       |        ELSE [] END AS tris FROM w),
       |s AS (SELECT lang, $scoreCols FROM g),
       |x AS (SELECT lang, $maxExpr AS m, ${names.mkString(", ")} FROM s)
       |SELECT lang, CASE WHEN m = 0 THEN 'und' $firstMax END AS pred_lang, count(*) AS n
       |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.EmbedOps.pcaTopProjection]]:
    * the same integer power iteration unrolled into chained CTEs (one
    * s/w/renormalize block per step — exact Long/HUGEINT arithmetic,
    * so the engines agree bit-for-bit; `//` and `DIV` both truncate
    * toward zero, verified on negatives).
    */
  private def pcaOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    // AS MATERIALIZED: DuckDB inlines CTEs by default, which would
    // re-expand the parquet scan once per iteration reference (dozens
    // of scans → fd exhaustion); materializing xc makes it one scan.
    sb ++= "WITH xl AS MATERIALIZED (SELECT vec_id AS id, CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,\n"
    sb ++= "  unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS xq FROM embeddings),\n"
    sb ++= "mu AS MATERIALIZED (SELECT dim, CAST(sum(xq) // count(*) AS BIGINT) AS mu FROM xl GROUP BY dim),\n"
    sb ++= "xc AS MATERIALIZED (SELECT id, dim, xq - mu AS xc FROM xl JOIN mu USING (dim)),\n"
    sb ++= "v0 AS (SELECT dim, CAST(1000000 AS BIGINT) AS v FROM mu),\n"
    for (k <- 0 until iters) {
      sb ++= s"s$k AS MATERIALIZED (SELECT id, CAST(sum(xc * v) // 1000000 AS BIGINT) AS s FROM xc JOIN v$k USING (dim) GROUP BY id),\n"
      sb ++= s"w$k AS MATERIALIZED (SELECT dim, CAST(sum(s * xc) AS BIGINT) AS w FROM xc JOIN s$k USING (id) GROUP BY dim),\n"
      sb ++= s"sc$k AS (SELECT greatest(1, max(abs(w)) // 1000000) AS sc FROM w$k),\n"
      sb ++= s"wr$k AS MATERIALIZED (SELECT dim, CAST(w // sc AS BIGINT) AS wr FROM w$k, sc$k),\n"
      sb ++= s"m$k AS (SELECT greatest(1, max(abs(wr))) AS m FROM wr$k),\n"
      sb ++= s"v${k + 1} AS MATERIALIZED (SELECT dim, CAST(wr * 1000000 // m AS BIGINT) AS v FROM wr$k, m$k),\n"
    }
    sb ++= s"sf AS (SELECT id, CAST(sum(xc * v) // 1000000 AS BIGINT) AS s FROM xc JOIN v$iters USING (dim) GROUP BY id)\n"
    sb ++= "SELECT id AS vec_id, s AS pc1_proj FROM sf ORDER BY vec_id"
    sb.toString
  }

  /** DuckDB twin of [[graft.operators.EmbedOps.kmeansFit]]: the same
    * integer Lloyd iterations unrolled as MATERIALIZED CTEs in long
    * format — assignment = min (d2, j) per id, centroid update =
    * integer-mean LEFT-JOINed over the previous round so empty
    * clusters keep their centroid, exactly the engine's semantics.
    */
  private def kmeansOracleSql(k: Int, iters: Int): String =
    kmeansOracleCtes(k, iters) +
      "\nSELECT id AS vec_id, CAST(j AS BIGINT) AS cluster, d2 FROM af ORDER BY vec_id"

  /** C56 oracle: per-cluster lower-median/MAD outlier gate stacked on
    * the same unrolled k-means CTEs (exact rank medians, id tiebreak).
    */
  private def kmeansOutliersOracleSql(k: Int, iters: Int): String =
    kmeansOracleCtes(k, iters) + """,
      |m AS (SELECT j, d2 AS med FROM (SELECT j, d2, row_number() OVER (PARTITION BY j ORDER BY d2, id) AS rk,
      |  count(*) OVER (PARTITION BY j) AS n FROM af) WHERE rk = (n + 1) // 2),
      |dv AS (SELECT af.id, af.j, af.d2, abs(af.d2 - m.med) AS dev, m.med FROM af JOIN m USING (j)),
      |md AS (SELECT j, dev AS mad FROM (SELECT j, dev, row_number() OVER (PARTITION BY j ORDER BY dev, id) AS rk,
      |  count(*) OVER (PARTITION BY j) AS n FROM dv) WHERE rk = (n + 1) // 2)
      |SELECT dv.id AS vec_id, CAST(dv.j AS BIGINT) AS cluster, dv.d2,
      |       CAST(CASE WHEN dv.d2 > dv.med + 3 * greatest(md.mad, 1) THEN 1 ELSE 0 END AS BIGINT) AS outlier
      |FROM dv JOIN md USING (j) ORDER BY vec_id""".stripMargin

  private def kmeansOracleCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH xl AS MATERIALIZED (SELECT vec_id AS id, CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,\n"
    sb ++= "  unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS xq FROM embeddings),\n"
    sb ++= s"c0 AS MATERIALIZED (SELECT id % $k AS j, dim, CAST(sum(xq) // count(*) AS BIGINT) AS c FROM xl GROUP BY 1, 2),\n"
    for (t <- 0 until iters) {
      sb ++= s"a$t AS MATERIALIZED (SELECT id, j FROM (SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY d2, j) AS rk\n"
      sb ++= s"  FROM (SELECT xl.id, c.j, CAST(sum((xq - c) * (xq - c)) AS BIGINT) AS d2 FROM xl JOIN c$t c USING (dim) GROUP BY 1, 2)) WHERE rk = 1),\n"
      sb ++= s"c${t + 1} AS MATERIALIZED (SELECT pc.j, pc.dim, coalesce(nc.c, pc.c) AS c FROM c$t pc LEFT JOIN\n"
      sb ++= s"  (SELECT j, dim, CAST(sum(xq) // count(*) AS BIGINT) AS c FROM xl JOIN a$t USING (id) GROUP BY 1, 2) nc\n"
      sb ++= s"  ON pc.j = nc.j AND pc.dim = nc.dim),\n"
    }
    sb ++= s"af AS MATERIALIZED (SELECT id, j, d2 FROM (SELECT id, j, d2, row_number() OVER (PARTITION BY id ORDER BY d2, j) AS rk\n"
    sb ++= s"  FROM (SELECT xl.id, c.j, CAST(sum((xq - c) * (xq - c)) AS BIGINT) AS d2 FROM xl JOIN c$iters c USING (dim) GROUP BY 1, 2)) WHERE rk = 1)"
    sb.toString
  }

  /** DuckDB twin of [[graft.operators.GraphOps.labelPropRounds]] over
    * the pagerank edge fixture: the same symmetrize + per-round
    * min-join unrolled as MATERIALIZED CTEs — min arithmetic on node
    * ids, bit-exact.
    */
  private def labelPropOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH nn AS (SELECT count(*) AS n FROM documents),\n"
    sb ++= "e0 AS (SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn\n"
    sb ++= "  UNION ALL SELECT doc_id, (doc_id * 13 + 2) % nn.n FROM documents, nn\n"
    sb ++= "  UNION ALL SELECT doc_id, (doc_id * 31 + 3) % nn.n FROM documents, nn),\n"
    sb ++= "sym AS MATERIALIZED (SELECT DISTINCT u, v FROM (\n"
    sb ++= "  SELECT src AS u, dst AS v FROM e0 UNION ALL SELECT dst, src FROM e0) x WHERE u != v),\n"
    sb ++= "l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS label FROM sym),\n"
    for (t <- 0 until rounds) {
      sb ++= s"m$t AS (SELECT sym.u AS id, min(lt.label) AS nl FROM sym JOIN l$t lt ON lt.id = sym.v GROUP BY 1),\n"
      sb ++= s"l${t + 1} AS MATERIALIZED (SELECT l.id, least(l.label, coalesce(m.nl, l.label)) AS label FROM l$t l LEFT JOIN m$t m USING (id)),\n"
    }
    sb.setLength(sb.length - 2)
    sb ++= s"\nSELECT id AS node_id, CAST(label AS BIGINT) AS label FROM l$rounds ORDER BY node_id"
    sb.toString
  }

  /** DuckDB twin of [[graft.operators.GraphOps.pageRank]] on the
    * staged doc-link graph: same integer fixed-point rounds unrolled
    * as CTEs; no-in-edge nodes get exactly base via LEFT JOIN +
    * coalesce, matching the engine.
    */
  private def pagerankOracleSql(iters: Int, dampPct: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH nn AS (SELECT count(*) AS n FROM documents),\n"
    sb ++= "e AS MATERIALIZED (SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn\n"
    sb ++= "  UNION ALL SELECT doc_id, (doc_id * 13 + 2) % nn.n FROM documents, nn\n"
    sb ++= "  UNION ALL SELECT doc_id, (doc_id * 31 + 3) % nn.n FROM documents, nn),\n"
    sb ++= "nd AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),\n"
    sb ++= "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),\n"
    // r0/base divide by the NODE count (src ∪ dst), not the document
    // count: with non-contiguous ids the modular dsts add nodes, and
    // the engine sizes the initial mass by graph nodes
    sb ++= s"cons AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS r0v,\n"
    sb ++= s"  CAST(((100 - $dampPct) * (1000000000000 // count(*))) // 100 AS BIGINT) AS base FROM nd),\n"
    sb ++= "r0 AS MATERIALIZED (SELECT id, (SELECT r0v FROM cons) AS r FROM nd),\n"
    for (t <- 0 until iters) {
      sb ++= s"s$t AS (SELECT e.dst AS id, CAST(sum(r // deg) AS BIGINT) AS s FROM e JOIN deg USING (src) JOIN r$t ON r$t.id = e.src GROUP BY 1),\n"
      sb ++= s"r${t + 1} AS MATERIALIZED (SELECT nd.id, CAST((SELECT base FROM cons) + ($dampPct * coalesce(s.s, 0)) // 100 AS BIGINT) AS r FROM nd LEFT JOIN s$t s USING (id)),\n"
    }
    sb.setLength(sb.length - 2) // drop trailing ",\n"
    sb ++= s"\nSELECT id AS node_id, r AS rank_fp FROM r$iters ORDER BY node_id"
    sb.toString
  }

  /** DuckDB twin of [[graft.operators.GraphOps.kcoreRounds]]: the same
    * bounded peel rounds unrolled into chained materialized CTEs.
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH nn AS (SELECT count(*) AS n FROM documents),\n"
    sb ++= "fl AS (SELECT doc_id, [(doc_id*7+1)%nn.n,(doc_id*13+2)%nn.n,(doc_id*31+3)%nn.n,(doc_id*37+4)%nn.n," +
      "(doc_id*41+5)%nn.n,(doc_id*43+6)%nn.n,(doc_id*47+7)%nn.n,(doc_id*53+8)%nn.n] AS l FROM documents, nn),\n"
    sb ++= "raw AS (SELECT doc_id AS src, unnest(l[1:2+doc_id%7]) AS dst FROM fl),\n"
    sb ++= "e0 AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b FROM raw WHERE src <> dst),\n"
    for (r <- 1 to rounds) {
      sb ++= s"al$r AS (SELECT id FROM (SELECT id, count(*) AS c FROM " +
        s"(SELECT a AS id FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1}) GROUP BY 1) WHERE c >= $k),\n"
      sb ++= s"e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e JOIN al$r x ON e.a = x.id JOIN al$r y ON e.b = y.id),\n"
    }
    sb.setLength(sb.length - 2)
    sb ++= s"\nSELECT CAST(id AS BIGINT) AS node_id, CAST(count(*) AS BIGINT) AS deg_core " +
      s"FROM (SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds) GROUP BY 1 ORDER BY 1"
    sb.toString
  }

  /** DuckDB twin of [[graft.operators.GraphOps.hits]]: rounds
    * unrolled as MATERIALIZED CTEs, same integer renormalize — exact
    * Long arithmetic on both sides, bit-for-bit.
    */
  private def hitsOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH nn AS (SELECT count(*) AS n FROM documents),\n"
    sb ++= "e AS MATERIALIZED (SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn\n"
    sb ++= "  UNION ALL SELECT doc_id, (doc_id * 13 + 2) % nn.n FROM documents, nn\n"
    sb ++= "  UNION ALL SELECT doc_id, (doc_id * 31 + 3) % nn.n FROM documents, nn),\n"
    sb ++= "nd AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),\n"
    sb ++= "h0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nd),\n"
    for (k <- 0 until iters) {
      sb ++= s"ar$k AS MATERIALIZED (SELECT nd.id, CAST(coalesce(t.s, 0) AS BIGINT) AS ar FROM nd" +
        s" LEFT JOIN (SELECT e.dst AS id, sum(h) AS s FROM e JOIN h$k ON h$k.id = e.src GROUP BY 1) t USING (id)),\n"
      sb ++= s"a$k AS MATERIALIZED (SELECT id, CAST((ar * 1000000) // (SELECT greatest(max(ar), 1) FROM ar$k) AS BIGINT) AS a FROM ar$k),\n"
      sb ++= s"hr$k AS MATERIALIZED (SELECT nd.id, CAST(coalesce(t.s, 0) AS BIGINT) AS hr FROM nd" +
        s" LEFT JOIN (SELECT e.src AS id, sum(a) AS s FROM e JOIN a$k ON a$k.id = e.dst GROUP BY 1) t USING (id)),\n"
      sb ++= s"h${k + 1} AS MATERIALIZED (SELECT id, CAST((hr * 1000000) // (SELECT greatest(max(hr), 1) FROM hr$k) AS BIGINT) AS h FROM hr$k),\n"
    }
    sb.setLength(sb.length - 2)
    sb ++= s"\nSELECT nd.id AS node_id, a AS auth_fp, h AS hub_fp FROM nd" +
      s" JOIN a${iters - 1} USING (id) JOIN h$iters USING (id) ORDER BY node_id"
    sb.toString
  }

  /** B84/B85 oracle: replay each user's time-ordered stage events
    * through the windowFunnel state machine (level, anchor, last,
    * frozen) with a recursive CTE; `freezeClause` is the one CASE arm
    * that differs between strict_order and strict_dedup. Tie order
    * matches the engine's pack sort: (us, stage index).
    */
  private def funnelModeOracleSql(freezeClause: String): String =
    s"""WITH RECURSIVE e AS (
       |  SELECT user_id, epoch_us(ts) AS us,
       |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS s
       |  FROM events WHERE event_type IN ('view','click','purchase')),
       |se AS (SELECT user_id, us, s,
       |       row_number() OVER (PARTITION BY user_id ORDER BY us, s) AS rn FROM e),
       |nu AS (SELECT user_id, count(*) AS ne FROM se GROUP BY 1),
       |walk AS (
       |  SELECT user_id, 0 AS rn, CAST(0 AS BIGINT) AS lvl, CAST(0 AS BIGINT) AS anchor,
       |         CAST(0 AS BIGINT) AS lastt, false AS frozen
       |  FROM nu
       |  UNION ALL
       |  SELECT w.user_id, w.rn + 1,
       |    CASE WHEN NOT w.frozen AND x.s = w.lvl
       |              AND (w.lvl = 0 OR (x.us > w.lastt AND x.us <= w.anchor + 21600000000))
       |         THEN w.lvl + 1 ELSE w.lvl END,
       |    CASE WHEN NOT w.frozen AND w.lvl = 0 AND x.s = 0 THEN x.us ELSE w.anchor END,
       |    CASE WHEN NOT w.frozen AND x.s = w.lvl
       |              AND (w.lvl = 0 OR (x.us > w.lastt AND x.us <= w.anchor + 21600000000))
       |         THEN x.us ELSE w.lastt END,
       |    CASE WHEN w.frozen THEN true
       |         WHEN x.s = w.lvl AND (w.lvl = 0 OR (x.us > w.lastt AND x.us <= w.anchor + 21600000000))
       |         THEN false
       |         $freezeClause
       |         ELSE false END
       |  FROM walk w JOIN se x ON x.user_id = w.user_id AND x.rn = w.rn + 1
       |),
       |fin AS (SELECT w.user_id, w.lvl FROM walk w JOIN nu ON w.user_id = nu.user_id AND w.rn = nu.ne)
       |SELECT lvl AS level, count(*) AS n_users FROM fin WHERE lvl > 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** B88 oracle: replay [[graft.operators.TimeSeries.holtWinters]]'s
    * fold — state (l, b, seasonal LIST, step i) over the day-ordered
    * revenue series — with a recursive CTE.
    */
  private def holtWintersOracleSql(alphaPct: Int, betaPct: Int, gammaPct: Int, season: Int): String = {
    val (ka, kb, kg) = (100 - alphaPct, 100 - betaPct, 100 - gammaPct)
    val lNew = s"CASE WHEN w.i = 0 THEN x.x ELSE ($alphaPct*(x.x - w.s[CAST(w.i % $season AS INT) + 1])" +
      s" + $ka*(w.l + w.b)) // 100 END"
    val bNew = s"CASE WHEN w.i = 0 THEN 0 ELSE ($betaPct*(($lNew) - w.l) + $kb*w.b) // 100 END"
    val sNew = s"CASE WHEN w.i = 0 THEN w.s ELSE list_transform(w.s, (v, j) -> " +
      s"CASE WHEN j - 1 = w.i % $season THEN ($gammaPct*(x.x - ($lNew)) + $kg*v) // 100 ELSE v END) END"
    val zeroList = (1 until season).map(_ => "0").mkString("[CAST(0 AS BIGINT), ", ", ", "]")
    s"""WITH RECURSIVE d AS (SELECT CAST(l_shipdate AS DATE) AS day,
       |        CAST(sum(round(l_extendedprice*100)) AS BIGINT) AS x FROM lineitem GROUP BY 1),
       |sd AS (SELECT x, row_number() OVER (ORDER BY day) - 1 AS i FROM d),
       |n AS (SELECT count(*) AS nd FROM sd),
       |w AS (
       |  SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS l, CAST(0 AS BIGINT) AS b,
       |         $zeroList AS s
       |  UNION ALL
       |  SELECT w.i + 1, $lNew, $bNew, $sNew
       |  FROM w JOIN sd x ON x.i = w.i
       |),
       |fin AS (SELECT w.* FROM w JOIN n ON w.i = n.nd)
       |SELECT CAST(p.j - 1 AS BIGINT) AS slot, p.v AS s_cents,
       |       fin.l AS level_cents, fin.b AS trend_cents, CAST(fin.i AS BIGINT) AS n_days
       |FROM fin, (SELECT unnest(list_transform(fin2.s, (v, j) -> struct_pack(v := v, j := j)), recursive := true)
       |           FROM fin fin2) p
       |ORDER BY slot""".stripMargin
  }
}
