package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables
import graft.ops.{EventOps, StringOps}
import graft.functions.PromHistogram

/** One entry per implemented operator (SURVEY.md §2 inventory plus the
  * scale extensions). Each entry pairs the Spark implementation with
  * the DuckDB oracle SQL the driver replays at sf0.01.
  *
  * Engine-portability conventions (so value hashes match DuckDB):
  *  - double sums go through exact DECIMAL(18,2) accumulation, then a
  *    final cast to double — order-independent, so Spark's parallel
  *    partial aggregation and DuckDB's sequential sum agree bitwise;
  *  - derived seconds/latency values come from integer microsecond
  *    arithmetic divided by 1e6 (exact same IEEE op in both engines);
  *  - exact quantiles of integer inputs interpolate in integers (the
  *    order statistic ×20 for p95, [[EventOps.p95LatencySeconds]])
  *    and round once through [[graft.functions.ExactRound]]; a
  *    `round(…, 6)` over an interpolated double rounds ties
  *    differently per engine;
  *  - output columns are string/bigint/double/boolean only (no raw
  *    timestamps: the source parquet is nanos, engines differ in
  *    precision).
  */
object Catalog {

  /** Exact-decimal view of a 2-dp money/quantity double. */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Long-cents view of the same 2-dp double: `round(x*100)` as bigint.
    * Exact for any 2-dp value, and the per-row arithmetic stays in
    * primitive long space (vectorized, codegen'd) instead of the
    * non-vectorized BigDecimal path that decimal(38,x) products force
    * through the aggregate. Per-group sums in 1e-6-dollar units stay
    * exact to 2^63 ≈ $9.2e12 per group; beyond that, wrap the product
    * in `.cast("decimal(28,0)")` before the sum (decimal accumulation
    * of an integral value — still cheaper than per-row decimal
    * multiplication chains).
    */
  private def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** Exact bigint-units → double: one decimal division at output
    * (per GROUP, not per row), single correctly-rounded cast — bit
    * identical to the oracle's CAST(SUM(DECIMAL...) AS DOUBLE). */
  private def unitsToDouble(sumUnits: Column, scale: Int): Column =
    (sumUnits.cast(s"decimal(38,$scale)") /
      math.pow(10, scale).toLong).cast("double")

  private val Now = EventOps.NowEpochMicros // 2024-02-01T00:00:00Z in micros

  // ---------------------------------------------------------------
  // Relational core (SURVEY.md §2.7: joins/windows/sorts/set-ops the
  // reference lacks but the engine provides)
  // ---------------------------------------------------------------

  private val q1PricingSummary = QueryDef(
    "q1_pricing_summary",
    (s, d) => {
      // Exact-sum fast path: 2-dp doubles → long cents map-side, so
      // the whole scan+aggregate is primitive long arithmetic; the
      // (1-disc)/(1+tax) factors become integer (100-disc_c)/(100+tax_c)
      // in 1e-4 / 1e-6 units. One decimal division per output group
      // converts back — same values (and oracle hash) as full decimal
      // accumulation at ~10x less CPU.
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          cents(col("l_quantity")).as("qty_c"),
          cents(col("l_extendedprice")).as("price_c"),
          (lit(100L) - cents(col("l_discount"))).as("disc_f"),
          (lit(100L) + cents(col("l_tax"))).as("tax_f"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          unitsToDouble(sum(col("qty_c")), 2).as("sum_qty"),
          unitsToDouble(sum(col("price_c")), 2).as("sum_base_price"),
          unitsToDouble(sum(col("price_c") * col("disc_f")), 4)
            .as("sum_disc_price"),
          unitsToDouble(sum(col("price_c") * col("disc_f") * col("tax_f")), 6)
            .as("sum_charge"),
          count(lit(1)).as("count_order"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus"""))

  private val q3TopOrders = QueryDef(
    "q3_top_orders",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""SELECT l_orderkey, o_orderpriority,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, o_orderpriority
      ORDER BY revenue DESC, l_orderkey LIMIT 10"""))

  private val q5RegionVolume = QueryDef(
    "q5_region_volume",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val su = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey")
          && c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },
    Some("""SELECT n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY n_name"""))

  private val qWindowTopk = QueryDef(
    "q_window_topk",
    (s, d) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      Tables.part(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
          col("rn").cast("bigint").as("rn"))
    },
    Some("""SELECT p_brand, p_partkey, p_retailprice, CAST(rn AS BIGINT) AS rn
      FROM (SELECT p_brand, p_partkey, p_retailprice,
              row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
            FROM part) t WHERE rn <= 3"""))

  private val qRunningSum = QueryDef(
    "q_running_sum",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_total"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      FROM orders"""))

  private val qRollupOrders = QueryDef(
    "q_rollup_orders",
    (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("order_status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("order_priority"),
          col("n_orders"), col("total_price")),
    Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS order_status,
      COALESCE(o_orderpriority, 'ALL') AS order_priority,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"""))

  private val qCubeOrders = QueryDef(
    "q_cube_orders",
    (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("order_status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("order_priority"),
          col("n_orders")),
    Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS order_status,
      COALESCE(o_orderpriority, 'ALL') AS order_priority,
      COUNT(*) AS n_orders
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"""))

  /** Pivot with an explicit value list — the Spark form that avoids
    * the extra distinct-values job AND keeps the output schema stable
    * as data drifts (an unlisted new event type cannot silently add a
    * column downstream consumers never agreed to). */
  private val qPivotEvents = QueryDef(
    "q_pivot_events",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(EventOps.secondsBucket(col("ts"), 86400).as("day_ts"))
        .pivot(col("event_type"),
          Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .select(col("day_ts"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("error"), lit(0L)).as("n_error")),
    Some("""SELECT (epoch_us(ts) // 86400000000) * 86400 AS day_ts,
      COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
      COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
      COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
      COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
      COUNT(*) FILTER (WHERE event_type = 'error') AS n_error
      FROM events GROUP BY 1"""))

  private val qSemiJoin = QueryDef(
    "q_semi_join",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers")),
    Some("""SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      GROUP BY c_mktsegment"""))

  private val qAntiJoin = QueryDef(
    "q_anti_join",
    (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders")),
    Some("""SELECT o_orderstatus, COUNT(*) AS n_orders FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
      GROUP BY o_orderstatus"""))

  private val qSetOps = QueryDef(
    "q_set_ops",
    (s, d) => {
      val ev = Tables.events(s, d)
      def users(t: String) =
        ev.filter(col("event_type") === t).select(col("user_id")).distinct()
      val bigErrors = ev.filter(col("event_type") === "error" && col("value") > 300)
        .select(col("user_id")).distinct()
      users("click").intersect(users("purchase")).except(bigErrors)
    },
    Some("""SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase'
      EXCEPT SELECT user_id FROM events WHERE event_type = 'error' AND value > 300"""))

  private val qDistinctAgg = QueryDef(
    "q_distinct_agg",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_items")),
    Some("""SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders,
      COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_items
      FROM lineitem GROUP BY l_returnflag"""))

  // ---------------------------------------------------------------
  // Pipeline per-record transforms (SURVEY.md §2.3) on the events
  // stream table
  // ---------------------------------------------------------------

  private val p1ParseRoute = QueryDef(
    "p1_parse_route",
    (s, d) =>
      EventOps.parseAndRoute(Tables.events(s, d), "props", "event_type",
          Seq("click", "view", "purchase", "signup"))
        .select(col("event_id"), col("event_type"), col("k")),
    Some("""SELECT event_id, event_type,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events WHERE event_type IN ('click','view','purchase','signup')"""))

  private val p2DefaultFill = QueryDef(
    "p2_default_fill",
    (s, d) =>
      EventOps.defaultFill(Tables.events(s, d))
        .select(col("event_id"), col("event_type"), col("value")),
    Some("""SELECT event_id,
      COALESCE(NULLIF(event_type, ''), 'unknown') AS event_type,
      COALESCE(value, 0.0) AS value FROM events"""))

  /** P1+P3+P4 over the reference's real WS frame JSON: events are
    * serialized into `{"type","data":[{c,p,s,t,v}]}` frames (every
    * 50th a ping), then parsed back through the typed from_json
    * pipeline — the oracle computes the expected trades directly, so
    * a defect anywhere in build/parse/route/explode/rename mismatches.
    */
  private val p1WsFrames = QueryDef(
    "p1_ws_frames",
    (s, d) => {
      EventOps.parseWsFrames(WsFrames.frames(s, d), "raw")
        .select(element_at(col("Trade_Condition"), 1).as("trade_condition"),
          col("Price"), col("Symbol"), col("Event_Timestamp"), col("Volume"))
    },
    Some("""SELECT
      CASE WHEN event_type IS NULL OR event_type = '' THEN NULL
           ELSE event_type END AS trade_condition,
      value AS Price,
      'SYM' || (user_id % 7) AS Symbol,
      epoch_us(ts) // 1000 AS Event_Timestamp,
      CAST(json_extract_string(props, '$.k') AS DOUBLE) AS Volume
      FROM events WHERE event_id % 50 <> 0"""))

  /** P3 over synthetic frames: events are packed into one frame per
    * user (sorted trade array) and unbatched back — the round trip
    * proves explode emits every element exactly once with its
    * position, which the oracle reproduces as a row_number.
    */
  private val p3Unbatch = QueryDef(
    "p3_unbatch",
    (s, d) => {
      val frames = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(
          struct(col("event_id"), col("value")))).as("data"))
      EventOps.unbatch(frames, "data")
        .select(col("user_id"), col("pos").cast("bigint").as("pos"),
          col("trade.event_id").as("event_id"),
          col("trade.value").as("value"))
    },
    Some("""SELECT user_id,
      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS pos,
      event_id, value FROM events"""))

  /** P4 over short-key raw trades (the Finnhub c/p/s/t/v wire form
    * rebuilt from events), renamed to the long names through the
    * declared map. */
  private val p4RenameMap = QueryDef(
    "p4_rename_map",
    (s, d) => {
      val raw = Tables.events(s, d).select(
        col("event_id"),
        col("event_type").as("c"),
        col("value").as("p"),
        concat(lit("SYM"), col("user_id") % 7).as("s"),
        expr("unix_micros(ts) DIV 1000").as("t"),
        get_json_object(col("props"), "$.k").cast("double").as("v"))
      EventOps.renameShortKeys(raw)
    },
    Some("""SELECT event_id,
      event_type AS Trade_Condition,
      value AS Price,
      'SYM' || (user_id % 7) AS Symbol,
      epoch_us(ts) // 1000 AS Event_Timestamp,
      CAST(json_extract_string(props, '$.k') AS DOUBLE) AS Volume
      FROM events"""))

  private val p10Latency = QueryDef(
    "p10_latency_derive",
    (s, d) =>
      Tables.events(s, d).select(col("event_id"),
        EventOps.latencySeconds(col("ts")).as("e2e_latency_s")),
    Some(s"""SELECT event_id,
      round(($Now - epoch_us(ts)) / 1000000.0, 6) AS e2e_latency_s
      FROM events"""))

  private val p11MsgSize = QueryDef(
    "p11_msg_size",
    (s, d) =>
      Tables.events(s, d).select(col("event_id"),
        EventOps.payloadBytes(col("props")).as("payload_bytes")),
    Some("""SELECT event_id, CAST(octet_length(encode(props)) AS BIGINT) AS payload_bytes
      FROM events"""))

  private val p12DidWeb = QueryDef(
    "p12_did_string",
    (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        StringOps.didWeb(col("source"), lit("graft"),
          concat(lit("doc-"), col("doc_id"))).as("did")),
    Some("""SELECT doc_id, 'did:web:' ||
      lower(regexp_replace(regexp_replace(source, '[^a-zA-Z0-9._-]', '', 'g'), '-+', '-', 'g')) ||
      ':graft:doc-' || CAST(doc_id AS VARCHAR) AS did FROM documents"""))

  // ---------------------------------------------------------------
  // Joins / lookups (SURVEY.md §2.4)
  // ---------------------------------------------------------------

  private val j1BroadcastLookup = QueryDef(
    "j1_broadcast_lookup",
    (s, d) =>
      Tables.events(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("user_id") === col("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("total_value")),
    Some("""SELECT c_mktsegment, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment"""))

  /** Join-miss error channel: the reference errors a trade whose
    * symbol is absent from the credential dim (trade_handler.go:72-77);
    * here the "active credential" dim is customers in good standing.
    */
  private val j1JoinMiss = QueryDef(
    "j1_join_miss",
    (s, d) =>
      graft.ops.Observe.missMetrics(
        Tables.events(s, d)
          .join(broadcast(Tables.customer(s, d).filter(col("c_acctbal") >= 0)),
            col("user_id") === col("c_custkey"), "left_anti"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_missing")),
    Some("""SELECT event_type, COUNT(*) AS n_missing FROM events e
      WHERE NOT EXISTS (SELECT 1 FROM customer c
        WHERE c.c_custkey = e.user_id AND c.c_acctbal >= 0)
      GROUP BY event_type"""))

  // ---------------------------------------------------------------
  // Streaming-style aggregations (SURVEY.md §2.6), batch twins
  // ---------------------------------------------------------------

  private val a1GroupedCounters = QueryDef(
    "a1_grouped_counters",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users")),
    Some("""SELECT event_type, COUNT(*) AS n,
      COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type"""))

  private val a3TumblingThroughput = QueryDef(
    "a3_tumbling_throughput",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(EventOps.secondsBucket(col("ts"), 10).as("bucket_ts"))
        .agg(count(lit(1)).as("n"))
        .withColumn("msgs_per_sec", col("n") / lit(10.0)),
    Some("""SELECT (epoch_us(ts) // 10000000) * 10 AS bucket_ts,
      COUNT(*) AS n, COUNT(*) / 10.0 AS msgs_per_sec
      FROM events GROUP BY 1"""))

  private val a4LagGauge = QueryDef(
    "a4_lag_gauge",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(max(unix_micros(col("ts"))).as("max_us"))
        .select(col("event_type"),
          expr("max_us DIV 1000").as("last_event_ms"),
          ((lit(Now) - col("max_us")) / lit(1000000.0)).as("lag_seconds")),
    Some(s"""SELECT event_type, max(epoch_us(ts)) // 1000 AS last_event_ms,
      ($Now - max(epoch_us(ts))) / 1000000.0 AS lag_seconds
      FROM events GROUP BY event_type"""))

  // ---------------------------------------------------------------
  // Dashboard analytics (SURVEY.md §2.8, PromQL → Spark SQL)
  // ---------------------------------------------------------------

  /** Session windows (native session_window, 30 min gap): the oracle
    * derives the identical sessions independently via lag-gap breaks
    * + a running sum — so Spark's dynamic-gap window semantics are
    * checked against first principles, not against themselves.
    */
  private val qSessionize = QueryDef(
    "q_sessionize",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          col("n_events")),
    Some("""WITH g AS (SELECT user_id, ts,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sess AS (SELECT user_id, ts,
        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g)
      SELECT user_id, min(epoch_us(ts)) AS session_start_us,
        COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid"""))

  /** Z-order layout key over (user_id, value) — the multi-column
    * file-skipping sort key ([[graft.datapipe.Layout]]). The oracle
    * replays min/max linear binning (the identical IEEE chain) and
    * the bit interleave as exact integer arithmetic, so a hash match
    * certifies the Morton contract bit for bit.
    */
  private val qLayoutZorder = QueryDef(
    "layout_zorder",
    (s, d) => graft.datapipe.Layout.zOrderKey(
        Tables.events(s, d).select(col("event_id"), col("user_id"),
          col("value")),
        Seq(col("user_id") -> "user", col("value") -> "value"), bits = 8)
      .select(col("event_id"), col("user_bucket"), col("value_bucket"),
        col("zkey")),
    Some("""WITH s AS (SELECT
        MIN(CAST(user_id AS DOUBLE)) AS mnu, MAX(CAST(user_id AS DOUBLE)) AS mxu,
        MIN(value) AS mnv, MAX(value) AS mxv FROM events),
      u AS (SELECT event_id,
          CASE WHEN mxu = mnu THEN 0 ELSE LEAST(255, GREATEST(0,
            CAST(floor((CAST(user_id AS DOUBLE) - mnu) / (mxu - mnu) * 255.0)
              AS BIGINT))) END AS user_bucket,
          CASE WHEN mxv = mnv THEN 0 ELSE LEAST(255, GREATEST(0,
            CAST(floor((value - mnv) / (mxv - mnv) * 255.0)
              AS BIGINT))) END AS value_bucket
        FROM events, s)
      SELECT event_id, CAST(user_bucket AS BIGINT) AS user_bucket,
        CAST(value_bucket AS BIGINT) AS value_bucket,
        CAST(list_sum([CAST((user_bucket // (1 << b)) % 2 AS BIGINT)
              * (CAST(1 AS BIGINT) << (2 * b))
            + CAST((value_bucket // (1 << b)) % 2 AS BIGINT)
              * (CAST(1 AS BIGINT) << (2 * b + 1))
          FOR b IN generate_series(0, 7)]) AS BIGINT) AS zkey
      FROM u"""))

  /** Cohort retention over the event stream: users grouped by their
    * first-activity hour (the cohort), counted again in each later
    * hour they return. Two user-bounded aggregations (first-seen
    * election, then distinct user-hours joined back to cohorts) — no
    * raw-stream window, integer-hour arithmetic end to end.
    * Output: (cohort_hour, offset_hours, n_users).
    */
  private val qRetention = QueryDef(
    "q_retention",
    (s, d) => {
      import org.apache.spark.sql.functions._
      import graft.datapipe.Staging.Staged
      val ev = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(ts) DIV 3600000000").as("hr"))
      // the cohort election reads the DISTINCT user-hours (min over
      // distinct == min over all), and that table is staged: it feeds
      // both the election and the join-back, and it is user×hour
      // bounded — unstaged, each branch re-scanned the raw stream
      val uh = ev.distinct().stage()
      val cohort = uh.groupBy(col("user_id")).agg(min(col("hr")).as("c0"))
      uh.join(cohort, Seq("user_id"))
        .groupBy(col("c0").as("cohort_hour"),
          (col("hr") - col("c0")).as("offset_hours"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
    Some("""WITH e AS (SELECT DISTINCT user_id,
        CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr FROM events),
      c AS (SELECT user_id, MIN(hr) AS c0 FROM e GROUP BY user_id)
      SELECT c0 AS cohort_hour, hr - c0 AS offset_hours,
        CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
      FROM e JOIN c USING (user_id) GROUP BY 1, 2"""))

  /** Table statistics (the ANALYZE TABLE shape every engine runs
    * before planning): per column, min/max/nulls/exact NDV over
    * lineitem. The fused 1-row aggregate is projected per column and
    * unioned, which Catalyst column-prunes into FOUR single-column
    * scans — deliberately: parquet is columnar, so four pruned scans
    * read the SAME bytes as one four-column scan, while the fused
    * multi-distinct alternative pays a 5× Expand on every row before
    * its shuffle (measured 2× slower at sf0.1 when this query briefly
    * used `stack` in r10). RoundTenPlanSpec pins the honest contract:
    * every scan reads exactly one column. Typed aggregates
    * canonicalize for the readout: numerics via DECIMAL(18,2)
    * strings, timestamps via integer micros — the catalog's
    * portability conventions.
    *
    * Scale note: exact NDV is the certificate; the production path at
    * 100 TB swaps [[graft.datapipe.Sketches.hllRegisters]] per column
    * into one register-bounded pass (`q_table_stats_hll`).
    */
  private val qTableStats = QueryDef(
    "q_table_stats",
    (s, d) => {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(s, d)
      // one fused aggregation — every column's stats in a single
      // scan (a per-column agg would re-read the table 4 times)
      val one = li.agg(
        min(col("l_orderkey")).cast("string").as("ok_mn"),
        max(col("l_orderkey")).cast("string").as("ok_mx"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("ok_nl"),
        countDistinct(col("l_orderkey")).as("ok_nd"),
        min(col("l_quantity")).cast("decimal(18,2)").cast("string").as("qt_mn"),
        max(col("l_quantity")).cast("decimal(18,2)").cast("string").as("qt_mx"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("qt_nl"),
        countDistinct(col("l_quantity")).as("qt_nd"),
        min(col("l_returnflag")).as("rf_mn"),
        max(col("l_returnflag")).as("rf_mx"),
        sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("rf_nl"),
        countDistinct(col("l_returnflag")).as("rf_nd"),
        // l_shipdate is TIMESTAMP_NTZ; cast to TIMESTAMP under the
        // UTC session TZ is micros-identity (same rule as events.ts)
        min(unix_micros(col("l_shipdate").cast("timestamp")))
          .cast("string").as("sd_mn"),
        max(unix_micros(col("l_shipdate").cast("timestamp")))
          .cast("string").as("sd_mx"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("sd_nl"),
        countDistinct(col("l_shipdate")).as("sd_nd"))
      Seq(("l_orderkey", "ok"), ("l_quantity", "qt"),
          ("l_returnflag", "rf"), ("l_shipdate", "sd"))
        .map { case (nm, p) =>
          one.select(lit(nm).as("column"),
            col(s"${p}_mn").as("min_value"), col(s"${p}_mx").as("max_value"),
            col(s"${p}_nl").as("n_nulls"), col(s"${p}_nd").as("ndv"))
        }.reduce(_ unionByName _)
    },
    Some("""WITH one AS (SELECT
        CAST(MIN(l_orderkey) AS VARCHAR) AS ok_mn,
        CAST(MAX(l_orderkey) AS VARCHAR) AS ok_mx,
        COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS ok_nl,
        COUNT(DISTINCT l_orderkey) AS ok_nd,
        CAST(CAST(MIN(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS qt_mn,
        CAST(CAST(MAX(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS qt_mx,
        COUNT(*) FILTER (WHERE l_quantity IS NULL) AS qt_nl,
        COUNT(DISTINCT l_quantity) AS qt_nd,
        MIN(l_returnflag) AS rf_mn, MAX(l_returnflag) AS rf_mx,
        COUNT(*) FILTER (WHERE l_returnflag IS NULL) AS rf_nl,
        COUNT(DISTINCT l_returnflag) AS rf_nd,
        CAST(MIN(epoch_us(l_shipdate)) AS VARCHAR) AS sd_mn,
        CAST(MAX(epoch_us(l_shipdate)) AS VARCHAR) AS sd_mx,
        COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS sd_nl,
        COUNT(DISTINCT l_shipdate) AS sd_nd
      FROM lineitem)
      SELECT 'l_orderkey' AS "column", ok_mn AS min_value,
        ok_mx AS max_value, CAST(ok_nl AS BIGINT) AS n_nulls,
        CAST(ok_nd AS BIGINT) AS ndv FROM one
      UNION ALL SELECT 'l_quantity', qt_mn, qt_mx,
        CAST(qt_nl AS BIGINT), CAST(qt_nd AS BIGINT) FROM one
      UNION ALL SELECT 'l_returnflag', rf_mn, rf_mx,
        CAST(rf_nl AS BIGINT), CAST(rf_nd AS BIGINT) FROM one
      UNION ALL SELECT 'l_shipdate', sd_mn, sd_mx,
        CAST(sd_nl AS BIGINT), CAST(sd_nd AS BIGINT) FROM one"""))

  /** [[qTableStats]]' 100 TB swap-in, shipped: per-column NDV via
    * [[graft.datapipe.Sketches.hllRegisters]] with m=128 registers of
    * state per column instead of a distinct-set per aggregation
    * buffer. Item rows come from a union of per-column projections —
    * column-pruned single-column scans (columnar bytes == one wide
    * scan; a `stack` fan-out measured 2× slower from its
    * row-expanding Generate). Items canonicalize to the catalog's
    * portable strings (DECIMAL(18,2) for numerics, integer micros
    * for timestamps) BEFORE hashing, so the NDV contract is over
    * canonical values and the oracle rebuilds every register
    * bit-for-bit from the md5/bin contract, replaying the
    * exact-integer estimate including the linear-counting switch.
    */
  private val qTableStatsHll = QueryDef(
    "q_table_stats_hll",
    (s, d) => {
      import graft.datapipe.Sketches
      val li = Tables.lineitem(s, d)
      // union of per-column canonical-item projections: like
      // q_table_stats, each branch column-prunes to a single-column
      // scan (columnar bytes == one wide scan) and avoids a 4×
      // row-expanding Generate before the register aggregation
      val items = Seq(
        "l_orderkey" -> expr("CAST(l_orderkey AS STRING)"),
        "l_quantity" -> expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) AS STRING)"),
        "l_returnflag" -> col("l_returnflag"),
        "l_shipdate" ->
          expr("CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP)) AS STRING)"))
        .map { case (nm, c) =>
          li.select(lit(nm).as("column"), c.as("item")) }
        .reduce(_ unionByName _)
        .filter(col("item").isNotNull)
      val regs = Sketches.hllRegisters(items, "item", m = 128,
        groupCols = Seq("column"))
      Sketches.hllEstimate(regs, m = 128, groupCols = Seq("column"))
        .select(col("column"), col("n_registers_hit"), col("max_rho"),
          col("hll_est"))
    },
    Some("""WITH items AS (
        SELECT 'l_orderkey' AS "column", CAST(l_orderkey AS VARCHAR) AS item
          FROM lineitem WHERE l_orderkey IS NOT NULL
        UNION ALL SELECT 'l_quantity',
          CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)
          FROM lineitem WHERE l_quantity IS NOT NULL
        UNION ALL SELECT 'l_returnflag', l_returnflag
          FROM lineitem WHERE l_returnflag IS NOT NULL
        UNION ALL SELECT 'l_shipdate', CAST(epoch_us(l_shipdate) AS VARCHAR)
          FROM lineitem WHERE l_shipdate IS NOT NULL),
      hash AS (SELECT "column",
          ('0x' || substr(md5('hll:' || item), 1, 15))::BIGINT AS h FROM items),
      reg AS (SELECT "column", h % 128 AS j,
          CASE WHEN (h // 128) = 0 THEN 54
               ELSE 54 - length(bin(h // 128)) END AS rho
        FROM hash),
      regs AS (SELECT "column", j, MAX(rho) AS rho_max FROM reg GROUP BY 1, 2),
      heads AS (SELECT "column", CAST(COUNT(*) AS BIGINT) AS hits,
          MAX(rho_max) AS mmax FROM regs GROUP BY 1),
      s AS (SELECT regs."column",
          SUM((CAST(1 AS BIGINT) << CAST(heads.mmax - regs.rho_max AS INT)))
            AS s_touched
        FROM regs JOIN heads USING ("column") GROUP BY 1),
      est AS (SELECT heads."column", heads.hits, heads.mmax,
          s.s_touched + (128 - heads.hits) *
            (CAST(1 AS BIGINT) << CAST(heads.mmax AS INT)) AS big_s
        FROM heads JOIN s USING ("column")),
      fin AS (SELECT "column", hits, mmax,
          0.7213 / (1.0 + 1.079 / 128.0) * 128.0 * 128.0 *
            pow(2.0, CAST(mmax AS DOUBLE)) / CAST(big_s AS DOUBLE) AS raw
        FROM est)
      SELECT "column", hits AS n_registers_hit,
        CAST(mmax AS BIGINT) AS max_rho,
        round(CASE WHEN raw <= 320.0 AND (128 - hits) > 0
          THEN 128.0 * ln(128.0 / CAST(128 - hits AS DOUBLE))
          ELSE raw END, 4) AS hll_est
      FROM fin"""))

  /** Ordered funnel over the event stream (view → click → purchase):
    * a user reaches stage i at the EARLIEST event of that type that
    * strictly follows their stage-(i−1) reach time. Each stage is one
    * filtered min-aggregation plus one equi-join on user_id — never a
    * window over the raw stream — so the plan is three bounded
    * (user-cardinality) shuffles at any event volume. Integer
    * microsecond comparisons end to end (the catalog's latency
    * convention).
    */
  private val qFunnel = QueryDef(
    "q_funnel",
    (s, d) => {
      import org.apache.spark.sql.functions._
      import graft.datapipe.Staging.Staged
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      def stage(prev: DataFrame, typ: String): DataFrame =
        ev.filter(col("event_type") === typ)
          .join(prev.select(col("user_id"), col("reach_us").as("prev_us")),
            Seq("user_id"))
          .filter(col("us") > col("prev_us"))
          .groupBy(col("user_id")).agg(min(col("us")).as("reach_us"))
      // stage(): each reach table feeds BOTH the next stage's join and
      // its own count row — unstaged, the s3 branch recomputed the
      // whole s1→s2 chain (SIX event scans for a 3-stage funnel);
      // staged, the stream is scanned once per stage, each scan
      // type-filter-pruned at the parquet reader, and the cached
      // tables are user-bounded
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("reach_us"))
        .stage()
      val s2 = stage(s1, "click").stage()
      val s3 = stage(s2, "purchase")
      def row(i: Int, nm: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i.toLong).as("stage"), lit(nm).as("stage_name"),
            col("n_users"))
      row(1, "view", s1).unionByName(row(2, "click", s2))
        .unionByName(row(3, "purchase", s3))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        FROM events),
      s1 AS (SELECT user_id, MIN(us) AS reach_us FROM e
        WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(e.us) AS reach_us
        FROM e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.us > s1.reach_us
        GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, MIN(e.us) AS reach_us
        FROM e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.us > s2.reach_us
        GROUP BY e.user_id)
      SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
          COUNT(*) AS n_users FROM s1
      UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
      UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3"""))

  /** Q1 exact-certificate variant. Carries the experiment label
    * matrix (`ssi_validation`/`cache_did`/`processing_mode`,
    * [[graft.model.ExperimentConfig.Default]]) as literal groupBy
    * columns, exactly like the reference attaches `_common_labels`
    * to every latency histogram (metrics.py:28-38) — the dashboard's
    * Q1 panels all filter on them (thesis_dashboard.json:135,247).
    */
  private val q1P95Latency = QueryDef(
    "q1_p95_latency",
    (s, d) => {
      val labels = graft.model.ExperimentConfig.Default.labelCols
      Tables.events(s, d)
        .select(Seq(col("event_type"),
          EventOps.secondsBucket(col("ts"), 86400).as("bucket_ts"),
          (lit(Now) - unix_micros(col("ts"))).as("lat_us"))
          ++ labels: _*)
        .groupBy(col("bucket_ts"), col("event_type"),
          col("ssi_validation"), col("cache_did"), col("processing_mode"))
        .agg(EventOps.p95LatencySeconds(col("lat_us")).as("p95_latency_s"))
    },
    Some(s"""WITH g AS (SELECT (epoch_us(ts) // 86400000000) * 86400 AS bucket_ts,
          event_type, list_sort(list($Now - epoch_us(ts))) AS xs
        FROM events GROUP BY 1, 2),
      o AS (SELECT bucket_ts, event_type, xs, (len(xs) - 1) * 19 AS k FROM g)
      SELECT bucket_ts, event_type,
      'true' AS ssi_validation, 'true' AS cache_did, 'sync' AS processing_mode,
      ((2 * (20 * CAST(xs[k // 20 + 1] AS HUGEINT) + (k % 20) *
          CASE WHEN k % 20 = 0 THEN 0 ELSE xs[k // 20 + 2] - xs[k // 20 + 1] END)
        * 1000000 + 20000000) // 40000000) / 1000000::DOUBLE AS p95_latency_s
      FROM o"""))

  /** Q1 scale path: the exact `percentile` above buffers every value
    * per group — OOM-bait at 100×. This variant is the
    * histogram_quantile shape the reference's dashboard actually
    * computes (A2 buckets + linear interpolation within the crossing
    * bucket): state per group is ONE COUNT PER BUCKET, aggregation is
    * map-side combinable, and the interpolation is deterministic
    * integer/double arithmetic — so unlike percentile_approx's sketch
    * it is exactly reproducible in the DuckDB oracle.
    */
  private val q1P95LatencyBucketed = QueryDef(
    "q1_p95_latency_bucketed",
    (s, d) => {
      val bucketW = 3600.0 // 1 h latency buckets
      val byBucket = Tables.events(s, d)
        .select(col("event_type"),
          EventOps.secondsBucket(col("ts"), 86400).as("bucket_ts"),
          ((lit(Now) - unix_micros(col("ts"))) / lit(1000000.0)).as("lat"))
        .groupBy(col("bucket_ts"), col("event_type"),
          floor(col("lat") / bucketW).as("b"))
        .agg(count(lit(1)).as("cnt"))
      val grp = Window.partitionBy(col("bucket_ts"), col("event_type"))
      val cum = byBucket
        .withColumn("cum", sum(col("cnt")).over(grp.orderBy(col("b"))))
        .withColumn("target", lit(0.95) * sum(col("cnt")).over(grp))
      cum.filter(col("cum") >= col("target") &&
          (col("cum") - col("cnt")) < col("target"))
        .select(col("bucket_ts"), col("event_type"),
          round((col("b") * bucketW +
            (col("target") - (col("cum") - col("cnt"))) / col("cnt") * bucketW), 6)
            .as("p95_latency_s"))
    },
    Some(s"""WITH lat AS (
        SELECT event_type, (epoch_us(ts) // 86400000000) * 86400 AS bucket_ts,
               ($Now - epoch_us(ts)) / 1000000.0 AS lat FROM events),
      byb AS (
        SELECT bucket_ts, event_type, floor(lat / 3600.0) AS b, COUNT(*) AS cnt
        FROM lat GROUP BY 1, 2, 3),
      cum AS (
        SELECT bucket_ts, event_type, b, cnt,
          SUM(cnt) OVER (PARTITION BY bucket_ts, event_type ORDER BY b) AS cum,
          0.95 * SUM(cnt) OVER (PARTITION BY bucket_ts, event_type) AS target
        FROM byb)
      SELECT bucket_ts, event_type,
        round(b * 3600.0 + (target - (cum - cnt)) / cnt * 3600.0, 6)
          AS p95_latency_s
      FROM cum WHERE cum >= target AND (cum - cnt) < target"""))

  /** The dashboard-LITERAL Q1 (round-4 verdict item 5):
    * `histogram_quantile(0.95, message_end_to_end_latency_seconds)`
    * over the reference's exact cumulative bucket edges 0.1…300 s
    * (metrics.py:59), composed from the A2 [[PromHistogram]]
    * aggregator. Latencies follow the injected-clock convention
    * (deterministic per-event seconds spanning every bucket incl.
    * +Inf). Prometheus semantics reproduced exactly: rank = q·total;
    * crossing bucket = first le with cum ≥ rank; +Inf crossing
    * returns the highest finite edge; first-bucket crossing
    * interpolates from 0; otherwise linear interpolation inside
    * [lower, upper]. All interpolation inputs are exact longs, so
    * the one double formula is bit-identical in the oracle.
    *
    * Scale shape: per-group state is the 11-slot count vector (A2's
    * map-side-combinable aggregator), the interpolation runs on
    * 11 rows per group — the plan the dashboard needs at 100 TB,
    * unlike exact `percentile`'s per-group value buffer.
    */
  private val q1P95Prometheus = QueryDef(
    "q1_p95_prometheus",
    (s, d) => {
      val edges = PromHistogram.LatencyBuckets
      val labels = edges.map(e =>
        if (e == math.floor(e)) e.toLong.toString else e.toString) :+ "+Inf"
      val lat = (col("event_id") % 4000) / lit(10.0) // 0.0 … 399.9 s
      val hist = Tables.events(s, d)
        .select(col("event_type"),
          EventOps.secondsBucket(col("ts"), 86400).as("bucket_ts"),
          lat.as("lat"))
        .groupBy(col("bucket_ts"), col("event_type"))
        .agg(PromHistogram.column(edges, labels, col("lat")).as("hist"))
      val grp = Window.partitionBy(col("bucket_ts"), col("event_type"))
      val edgesLit = typedLit(edges.toSeq)
      val lower = when(col("i") === 0, lit(0.0))
        .otherwise(element_at(edgesLit, col("i")))
      val upper = element_at(edgesLit, col("i") + 1)
      hist.select(col("bucket_ts"), col("event_type"),
          posexplode(col("hist")).as(Seq("i", "h")))
        .select(col("bucket_ts"), col("event_type"), col("i"),
          col("h._2").as("cum"))
        .withColumn("prev",
          coalesce(lag(col("cum"), 1).over(grp.orderBy(col("i"))), lit(0L)))
        .withColumn("rank", lit(0.95) * max(col("cum")).over(grp))
        .filter(col("cum") >= col("rank") && col("prev") < col("rank"))
        .select(col("bucket_ts"), col("event_type"),
          round(
            when(col("i") === edges.length, lit(edges.last))
              .otherwise(lower + (upper - lower) *
                (col("rank") - col("prev")) / (col("cum") - col("prev"))),
            6).as("p95_latency_s"))
    },
    Some("""WITH lat AS (
        SELECT event_type, (epoch_us(ts) // 86400000000) * 86400 AS bucket_ts,
          (event_id % 4000) / CAST(10.0 AS DOUBLE) AS lat FROM events),
      b AS (SELECT bucket_ts, event_type,
          CASE WHEN lat <= 0.1 THEN 0 WHEN lat <= 0.5 THEN 1
               WHEN lat <= 1.0 THEN 2 WHEN lat <= 2.0 THEN 3
               WHEN lat <= 5.0 THEN 4 WHEN lat <= 10.0 THEN 5
               WHEN lat <= 30.0 THEN 6 WHEN lat <= 60.0 THEN 7
               WHEN lat <= 120.0 THEN 8 WHEN lat <= 300.0 THEN 9
               ELSE 10 END AS i
        FROM lat),
      cnt AS (SELECT bucket_ts, event_type, i, COUNT(*) AS c
        FROM b GROUP BY 1, 2, 3),
      cum AS (SELECT bucket_ts, event_type, i,
          CAST(SUM(c) OVER (PARTITION BY bucket_ts, event_type ORDER BY i)
            AS BIGINT) AS cum,
          CAST(SUM(c) OVER (PARTITION BY bucket_ts, event_type ORDER BY i)
            - c AS BIGINT) AS prev,
          CAST(0.95 AS DOUBLE)
            * CAST(SUM(c) OVER (PARTITION BY bucket_ts, event_type) AS DOUBLE)
            AS rank
        FROM cnt),
      e(i, lower, upper) AS (VALUES
        (0, 0.0, 0.1), (1, 0.1, 0.5), (2, 0.5, 1.0), (3, 1.0, 2.0),
        (4, 2.0, 5.0), (5, 5.0, 10.0), (6, 10.0, 30.0), (7, 30.0, 60.0),
        (8, 60.0, 120.0), (9, 120.0, 300.0), (10, 300.0, NULL))
      SELECT bucket_ts, event_type,
        round(CASE WHEN i = 10 THEN 300.0
          ELSE CAST(e.lower AS DOUBLE) +
            (CAST(e.upper AS DOUBLE) - CAST(e.lower AS DOUBLE))
            * (rank - prev) / (cum - prev) END, 6) AS p95_latency_s
      FROM cum JOIN e USING (i)
      WHERE cum >= rank AND prev < rank"""))

  /** The six-configuration experiment matrix as a queryable dimension
    * (README.md:95-145 options 1-6 in order): one row per config with
    * the exact label strings every metric series carries — including
    * the derived rules (boolean stringification metrics.py:35;
    * did:ethr forces cache_did=true metrics.py:24-25; sync forced
    * when validation is off, settings.py:35). The oracle is the
    * hand-written VALUES table, so any drift in
    * [[graft.model.ExperimentConfig]]'s derivation is a hash red.
    */
  private val qConfigMatrix = QueryDef(
    "config_matrix",
    (s, d) => {
      import s.implicits._
      graft.model.ExperimentConfig.Options.zipWithIndex.map {
        case (c, i) =>
          ((i + 1).toLong, c.didProvider, c.ssiValidationLabel,
            c.cacheDidLabel, c.processingMode)
      }.toDF("option", "did_provider", "ssi_validation", "cache_did",
        "processing_mode")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'did:web', 'true', 'false', 'async'),
      (2, 'did:web', 'true', 'true', 'sync'),
      (3, 'did:key', 'true', 'false', 'sync'),
      (4, 'did:key', 'true', 'true', 'sync'),
      (5, 'did:key', 'false', 'false', 'sync'),
      (6, 'did:ethr:sepolia', 'true', 'true', 'sync'))
      t(option, did_provider, ssi_validation, cache_did, processing_mode)"""))

  /** Q4 throughput, with the experiment label matrix as literal
    * groupBy columns (see [[q1P95Latency]] — the reference's
    * throughput counters carry the same `_common_labels`,
    * metrics.py:41-45).
    */
  private val q4Throughput = QueryDef(
    "q4_throughput",
    (s, d) => {
      val labels = graft.model.ExperimentConfig.Default.labelCols
      Tables.events(s, d)
        .select(Seq(EventOps.secondsBucket(col("ts"), 3600).as("bucket_ts"))
          ++ labels: _*)
        .groupBy(col("bucket_ts"),
          col("ssi_validation"), col("cache_did"), col("processing_mode"))
        .agg(count(lit(1)).as("n"))
        .withColumn("msgs_per_sec", col("n") / lit(3600.0))
    },
    Some("""SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_ts,
      'true' AS ssi_validation, 'true' AS cache_did, 'sync' AS processing_mode,
      COUNT(*) AS n, COUNT(*) / 3600.0 AS msgs_per_sec
      FROM events GROUP BY 1"""))

  private val q5MaxLag = QueryDef(
    "q5_max_lag",
    (s, d) =>
      Tables.events(s, d)
        .agg(max(unix_micros(col("ts"))).as("max_us"))
        .select(((lit(Now) - col("max_us")) / lit(1000000.0)).as("max_lag_seconds")),
    Some(s"""SELECT ($Now - max(epoch_us(ts))) / 1000000.0 AS max_lag_seconds
      FROM events"""))

  // ---------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(
    q1PricingSummary, q3TopOrders, q5RegionVolume,
    qWindowTopk, qRunningSum, qRollupOrders, qCubeOrders, qPivotEvents,
    qSemiJoin, qAntiJoin, qSetOps, qDistinctAgg,
    p1ParseRoute, p1WsFrames, p2DefaultFill, p3Unbatch, p4RenameMap,
    p10Latency, p11MsgSize, p12DidWeb,
    j1BroadcastLookup, j1JoinMiss,
    a1GroupedCounters, a3TumblingThroughput, a4LagGauge,
    qSessionize, qLayoutZorder, qFunnel, qTableStats, qTableStatsHll,
    qRetention,
    q1P95Latency, q1P95LatencyBucketed, q1P95Prometheus,
    q4Throughput, q5MaxLag, qConfigMatrix) ++
    JoinQueries.defs ++
    EnvelopeQueries.defs ++
    HealthQueries.defs ++
    DataPipeQueries.defs ++
    IdentityQueries.defs ++
    SimilarityQueries.defs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(o => q.name -> o.linesIterator
      .map(_.trim).mkString(" "))).toMap
}
