package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Ops
import graft.sinks.Sinks
import graft.streaming.Streams
import Tables.t

/** Extension harness queries:
  *  - the streaming windowed-agg plan run in batch mode over `events`
  *    (same code path as the streaming version, oracle-checkable)
  *  - X4/X5 write→read roundtrips: the single-file CSV/TSV renderers
  *    write real files whose parse-back must reproduce the source —
  *    DuckDB recomputes the expected content from the table directly,
  *    so any escaping bug breaks the hash compare.
  */
object ExtQueries {

  /** The batch-mode sessions oracle (Streams.sessionAgg / sessionize,
    * 30-minute gap), tie-safe gaps-and-islands: boundaries come from
    * the DISTINCT (event_type, ts) grid — a ROWS running sum over
    * duplicate timestamps is order-UNDERDETERMINED (ties split
    * arbitrarily around a boundary row, and the scaled corpora
    * duplicate ts by construction) — then every event row joins back
    * to its timestamp's session. Identical result on tie-free data;
    * the engines' gap semantics (equal ts ⇒ same session) made exact.
    * The key column is emitted as `keyAlias`. */
  private def duckSessionsSql(keyAlias: String, orderKey: String): String =
    s"""WITH d AS (SELECT DISTINCT event_type, ts FROM events),
       |o AS (
       |  SELECT event_type, ts,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |              OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
       |              THEN 1 ELSE 0 END AS new_sess
       |  FROM d
       |  WINDOW w AS (PARTITION BY event_type ORDER BY ts)
       |),
       |s AS (
       |  SELECT event_type, ts,
       |         sum(new_sess) OVER (PARTITION BY event_type ORDER BY ts
       |                             ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM o
       |)
       |SELECT e.event_type AS $keyAlias, min(e.ts) AS session_start,
       |       CAST(count(*) AS BIGINT) AS n_events
       |FROM events e
       |JOIN s ON s.event_type = e.event_type AND s.ts = e.ts
       |GROUP BY e.event_type, s.sid
       |ORDER BY $orderKey, session_start""".stripMargin

  /** `daily(event_type, day_ts, day_value_c)`: per-type daily sums of
    * `value` in integer cents, over the events passing `filter`. */
  private def duckDailyCents(filter: Option[String] = None): String = {
    val from = filter.fold("FROM events GROUP BY 1, 2")(f =>
      s"FROM events WHERE $f\n  GROUP BY 1, 2")
    s"""daily AS (
       |  SELECT event_type,
       |         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
       |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
       |           AS day_value_c
       |  $from
       |)""".stripMargin
  }

  /** The interval-join oracle: each error event `l` against the same
    * user's purchases `r` whose hour-long window holds it, joined by
    * `join` (JOIN / LEFT JOIN / FULL JOIN); `sel` and `orderBy` finish
    * the query. The purchase WHERE line is padded to sit under its
    * SELECT whatever the join keyword's length. */
  private def duckErrorPurchaseSql(sel: String, join: String,
      orderBy: String): String =
    s"""SELECT $sel
       |FROM (SELECT event_id, user_id, ts FROM events
       |      WHERE event_type = 'error') l
       |$join (SELECT event_id, user_id, ts FROM events
       |${" " * (join.length + 2)}WHERE event_type = 'purchase') r
       |  ON l.user_id = r.user_id
       | AND l.ts >= r.ts AND l.ts < r.ts + INTERVAL 1 HOUR
       |ORDER BY $orderBy""".stripMargin

  val defs: Seq[QDef] = Seq(

    // ----- Streams.windowedAgg in batch mode over events ---------------
    // Order-independent aggregates only (count / min / max): float
    // summation order differs between engines, exact extrema do not.
    QDef.sql(
      "ext_window_agg",
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(min(value), 6) AS min_value,
        |       round(max(value), 6) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Streams.windowedAgg(
        t(s, dir, "events"),
        tsCol = "ts", watermarkDelay = "10 minutes",
        windowDuration = "1 hour", keys = Seq("event_type"),
        aggs = Seq(
          count(lit(1)).as("n_events"),
          round(min("value"), 6).as("min_value"),
          round(max("value"), 6).as("max_value")))
        .select("window_start", "event_type", "n_events", "min_value", "max_value")
        .orderBy("window_start", "event_type")
    },

    // ----- Streams.sessionAgg in batch mode over events ----------------
    // DuckDB has no session_window; the oracle derives identical
    // sessions via gaps-and-islands (a new session starts where the gap
    // from the previous event exceeds the threshold, sessions then
    // aggregate by island id). Order-independent aggs only.
    QDef.sql(
      "ext_session_agg",
      duckSessionsSql("event_type", "1")) { (s, dir) =>
      Streams.sessionAgg(
        t(s, dir, "events"),
        tsCol = "ts", watermarkDelay = "10 minutes", gap = "30 minutes",
        keys = Seq("event_type"),
        aggs = Seq(count(lit(1)).as("n_events")))
        .select(col("event_type"), col("session_start"), col("n_events"))
        .orderBy("event_type", "session_start")
    },

    // ----- Streams.sessionize (flatMapGroupsWithState) in batch mode ---
    // The imperative session state machine must agree with the same
    // gaps-and-islands oracle as the declarative session_window — two
    // independent implementations, one answer.
    QDef.sql(
      "ext_sessionize",
      duckSessionsSql("key", "key")) { (s, dir) =>
      val sp = s
      import sp.implicits._
      val typed = t(s, dir, "events")
        .select(col("event_type").as("key"), col("ts"), col("value"))
        .as[graft.streaming.KeyedEvent]
      Streams.sessionize(typed, "10 minutes", gapMs = 30L * 60 * 1000).toDF()
        .orderBy("key", "session_start")
    },

    // ----- Streams.runningTotals in batch mode over events -------------
    // The mapGroupsWithState operator run as a single batch group pass —
    // per-key totals equal a plain aggregate, which IS the oracle. The
    // double sum is order-dependent across engines; round(6) absorbs it.
    QDef.sql(
      "ext_running_totals",
      """SELECT event_type AS key, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 6) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val sp = s
      import sp.implicits._
      val typed = t(s, dir, "events")
        .select(col("event_type").as("key"), col("ts"), col("value"))
        .as[graft.streaming.KeyedEvent]
      Streams.runningTotals(typed).toDF()
        .select(col("key"), col("n"), round(col("total"), 6).as("total"))
        .orderBy("key")
    },

    // ----- Analytical aggregates over the star schema ------------------
    // TPC-H-shaped queries proving the engine handles classic OLAP
    // plans, not just ETL row-shaping. Money arithmetic is EXACT
    // INTEGER in smallest units (cents; discounted revenue in 1e-4
    // dollars): prices/discounts have 2-decimal granularity, so
    // round(x*100) recovers the exact integer on both engines, and the
    // BIGINT outputs survive any reader — pandas coerces DECIMAL to
    // float64 on one side but Decimal objects on the other (verified:
    // duckdb .df() vs pyarrow .to_pandas()), which is why two rounds of
    // decimal-type pinning could never satisfy the driver's hash.
    // Internal sums ride DECIMAL(38,0) (exact to 1e38, no overflow);
    // the BIGINT output unit holds to ~$9.2e14 of revenue per group —
    // beyond world-GDP scale; flip the unit to cents if a synthetic
    // corpus ever exceeds it.
    QDef.sql(
      "q1_pricing",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_price_c,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |            AS BIGINT) AS sum_disc_price_e4
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val priceC  = round(col("l_extendedprice") * 100, 0).cast("long")
      val discPct = round(col("l_discount") * 100, 0).cast("long")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          // round-then-cast both sides: DuckDB CAST rounds to nearest,
          // Spark cast('long') truncates — identical only because the
          // column is integer-valued today; round() keeps them aligned
          // if quantities ever become fractional
          sum(round(col("l_quantity"), 0).cast("long")).as("sum_qty"),
          sum(priceC.cast("decimal(38,0)")).cast("long").as("sum_price_c"),
          sum((priceC * (lit(100L) - discPct)).cast("decimal(38,0)"))
            .cast("long").as("sum_disc_price_e4"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Three-table join + agg + top-k: Catalyst/AQE picks broadcast for
    // the filtered customer side from stats; revenue is exact integer
    // 1e-4-dollar units (same convention as q1_pricing — positive
    // scaling, so the DESC ordering is unchanged).
    QDef.sql(
      "q3_topk",
      """SELECT l_orderkey,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |            AS BIGINT) AS revenue_e4,
        |       o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val cut = lit("1998-03-15 00:00:00").cast("timestamp")
      val revE4 = round(col("l_extendedprice") * 100, 0).cast("long") *
        (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders").filter(col("o_orderdate") < cut),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_shipdate") > cut),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(revE4.cast("decimal(38,0)")).cast("long").as("revenue_e4"))
        .select("l_orderkey", "revenue_e4", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue_e4").desc, col("l_orderkey"))
        .limit(10)
    },

    // ----- Window functions: top-N per group ---------------------------
    // rank() over (partition by customer) — the canonical analytic
    // window. One shuffle on the partition key, sort within partitions;
    // deterministic via the (price DESC, orderkey) tiebreak.
    QDef.sql(
      "ext_window_rank",
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(rank() OVER (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice, rnk
        |FROM r WHERE rnk <= 3
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          rank().over(w).cast("long").as("rnk"))
        .filter(col("rnk") <= 3)
        .orderBy("o_custkey", "rnk", "o_orderkey")
    },

    // ----- Grouping sets: ROLLUP subtotals -----------------------------
    // rollup(flag, status) = (flag,status) + (flag) + () in ONE pass —
    // Spark plans an Expand over the grouping sets, not three scans.
    // NULLS FIRST pinned on both sides (Spark asc = nulls first,
    // DuckDB default = nulls last).
    QDef.sql(
      "ext_rollup",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          // round-then-cast, matching q1_pricing's sum_qty convention
          sum(round(col("l_quantity"), 0).cast("long")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // ----- Grouping sets: full CUBE + grouping_id -----------------------
    // cube(event_type, day) = all four grouping sets in ONE Expand pass
    // (plan-asserted in PlanSpec) — never four scans. grouping_id()
    // disambiguates subtotal rows from genuine NULL keys; Spark and
    // DuckDB/Postgres share the bit convention (first listed column =
    // most-significant bit). Value sums ride the exact integer-cents
    // convention (q1_pricing note); count/sum are order-independent.
    QDef.sql(
      "ext_cube",
      """SELECT event_type, day_ts,
        |       CAST(grouping(event_type, day_ts) AS BIGINT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
        |FROM (SELECT event_type,
        |             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
        |             value
        |      FROM events)
        |GROUP BY CUBE (event_type, day_ts)
        |ORDER BY gid, event_type NULLS FIRST, day_ts NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .withColumn("day_ts", date_trunc("day", col("ts")))
        .cube("event_type", "day_ts")
        .agg(
          grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_events"),
          sum(round(col("value") * 100, 0).cast("long")).as("sum_value_c"))
        .select("event_type", "day_ts", "gid", "n_events", "sum_value_c")
        .orderBy(col("gid"),
          asc_nulls_first("event_type"), asc_nulls_first("day_ts"))
    },

    // ----- Time-series gap-fill + forward-fill --------------------------
    // Daily high-value (value > 200) sums per event_type are sparse at
    // sf0.01 (real missing days); gapFill densifies each type's own
    // [min, max] day span and carries the last observed sum forward into
    // the inserted rows. Money rides the integer-cents convention; the
    // fill runs on the aggregated grain, never the raw events.
    QDef.sql(
      "ext_gapfill",
      s"""WITH ${duckDailyCents(Some("value > 200"))},
        |span AS (
        |  SELECT event_type, min(day_ts) AS d0, max(day_ts) AS d1
        |  FROM daily GROUP BY 1
        |),
        |cal AS (
        |  SELECT event_type,
        |         unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day_ts
        |  FROM span
        |)
        |SELECT c.event_type, c.day_ts,
        |       (d.day_value_c IS NULL) AS is_gap,
        |       last_value(d.day_value_c IGNORE NULLS) OVER (
        |         PARTITION BY c.event_type ORDER BY c.day_ts
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS filled_day_value_c
        |FROM cal c LEFT JOIN daily d USING (event_type, day_ts)
        |ORDER BY event_type, day_ts""".stripMargin) { (s, dir) =>
      val daily = t(s, dir, "events")
        .filter(col("value") > 200)
        .withColumn("day_ts", date_trunc("day", col("ts")))
        .groupBy("event_type", "day_ts")
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("day_value_c"))
      Ops.gapFill(daily, "event_type", "day_ts", "day_value_c")
        .select("event_type", "day_ts", "is_gap", "filled_day_value_c")
        .orderBy("event_type", "day_ts")
    },

    // ----- Exact interpolated percentiles ------------------------------
    // Median and p90 of value per event type. Both engines use the
    // percentile_cont definition (linear interpolation at rank p*(n-1)
    // over the sorted values) — Spark's exact `percentile`, DuckDB's
    // `quantile_cont`. Sort-based, so deterministic; round(6) guards the
    // final interpolation arithmetic.
    QDef.sql(
      "ext_median",
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS median_value,
        |       round(quantile_cont(value, 0.9), 6) AS p90_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "events").groupBy("event_type").agg(
        round(expr("percentile(value, 0.5d)"), 6).as("median_value"),
        round(expr("percentile(value, 0.9d)"), 6).as("p90_value"))
        .orderBy("event_type")
    },

    // ----- Day-over-day deltas (lag window) ----------------------------
    // Daily integer-cents sums per event type with the delta against the
    // previous OBSERVED day (no densify — that is ext_gapfill's job);
    // first day per type has a null delta. One shuffle for the agg, one
    // keyed window.
    QDef.sql(
      "ext_lag_delta",
      s"""WITH ${duckDailyCents()}
        |SELECT event_type, day_ts, day_value_c,
        |       day_value_c - lag(day_value_c) OVER (
        |         PARTITION BY event_type ORDER BY day_ts) AS delta_c
        |FROM daily ORDER BY event_type, day_ts""".stripMargin) { (s, dir) =>
      val daily = t(s, dir, "events")
        .withColumn("day_ts", date_trunc("day", col("ts")))
        .groupBy("event_type", "day_ts")
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("day_value_c"))
      val w = Window.partitionBy("event_type").orderBy("day_ts")
      daily
        .withColumn("delta_c",
          col("day_value_c") - lag(col("day_value_c"), 1).over(w))
        .orderBy("event_type", "day_ts")
    },

    // ----- 7-day rolling window sums (RANGE frame) -----------------------
    // Rolling sums over a RANGE frame keyed on integer epoch-days — the
    // frame covers calendar time, not rows, so missing days shrink the
    // window honestly (ROWS BETWEEN 6 PRECEDING would silently span
    // gaps). Money rides integer cents; both engines frame on the same
    // integer day number. One agg shuffle + one keyed window.
    QDef.sql(
      "ext_rolling",
      s"""WITH ${duckDailyCents()},
        |d2 AS (
        |  SELECT *, datediff('day', TIMESTAMP '1970-01-01', day_ts) AS day_num
        |  FROM daily
        |)
        |SELECT event_type, day_ts, day_value_c,
        |  CAST(sum(day_value_c) OVER w AS BIGINT) AS roll7_value_c,
        |  CAST(count(*) OVER w AS BIGINT) AS roll7_days
        |FROM d2
        |WINDOW w AS (PARTITION BY event_type ORDER BY day_num
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day_ts""".stripMargin) { (s, dir) =>
      val daily = t(s, dir, "events")
        .withColumn("day_ts", date_trunc("day", col("ts")))
        .groupBy("event_type", "day_ts")
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("day_value_c"))
        .withColumn("day_num",
          datediff(col("day_ts"), to_date(lit("1970-01-01"))).cast("long"))
      val w = Window.partitionBy("event_type").orderBy(col("day_num"))
        .rangeBetween(-6, Window.currentRow)
      daily.select(
        col("event_type"), col("day_ts"), col("day_value_c"),
        sum("day_value_c").over(w).as("roll7_value_c"),
        count(lit(1)).over(w).as("roll7_days"))
        .orderBy("event_type", "day_ts")
    },

    // ----- Key-skew profile (pre-shuffle diagnostic) ---------------------
    // Top-10 heaviest user_ids with row share — the check run before a
    // 100 TB join decides between plain shuffle / salting / AQE skew
    // handling. Ties break on the key.
    QDef.sql(
      "ext_skew_profile",
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY 1
        |),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows FROM c),
        |top AS (
        |  SELECT user_id, n_rows FROM c
        |  ORDER BY n_rows DESC, user_id LIMIT 10
        |)
        |SELECT top.user_id, top.n_rows, t.total_rows,
        |       round(CAST(n_rows AS DOUBLE) / CAST(total_rows AS DOUBLE) * 100,
        |             6) AS pct
        |FROM top CROSS JOIN t
        |ORDER BY n_rows DESC, user_id""".stripMargin) { (s, dir) =>
      Ops.keySkewProfile(t(s, dir, "events"), Seq(col("user_id")), k = 10)
        .orderBy(col("n_rows").desc, col("user_id"))
    },

    // ----- SCD type-2 history (state-run collapse) ---------------------
    // Per-user event_type state history: one row per state run with
    // [valid_from, valid_to) bounds and an is_current flag on the open
    // run. Ties on ts break by event_id on both sides.
    QDef.sql(
      "ext_scd2",
      """WITH o AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events
        |),
        |s AS (
        |  SELECT user_id, event_type, event_id, ts,
        |         lag(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM o
        |),
        |ch AS (
        |  SELECT user_id, event_type, event_id, ts AS valid_from FROM s
        |  WHERE prev IS NULL OR prev <> event_type
        |)
        |SELECT user_id, event_type, event_id, valid_from,
        |       lead(valid_from) OVER (
        |         PARTITION BY user_id ORDER BY valid_from, event_id)
        |         AS valid_to,
        |       (lead(valid_from) OVER (
        |         PARTITION BY user_id ORDER BY valid_from, event_id) IS NULL)
        |         AS is_current
        |FROM ch ORDER BY user_id, valid_from, event_id""".stripMargin) { (s, dir) =>
      Ops.scd2(t(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
        .orderBy("user_id", "valid_from", "event_id")
    },

    // ----- Five-way star join (TPC-H Q5 shape) -------------------------
    // Revenue by nation for one region, local-supplier semantics
    // (customer and supplier share the nation). The dims (nation,
    // region, filtered supplier link) broadcast under AQE; the one real
    // shuffle is lineitem⋈orders on orderkey. Money is exact integer
    // 1e-4-dollar units (the q1_pricing convention).
    QDef.sql(
      "q5_revenue",
      """SELECT n_name,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |            AS BIGINT) AS revenue_e4
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue_e4 DESC, n_name""".stripMargin) { (s, dir) =>
      val revE4 = round(col("l_extendedprice") * 100, 0).cast("long") *
        (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(sum(revE4.cast("decimal(38,0)")).cast("long").as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("n_name"))
    },

    // ----- Correlated scalar subquery, decorrelated --------------------
    // "Orders above 1.5x their customer's average": the oracle keeps
    // the CORRELATED subquery form (DuckDB decorrelates it); the Spark
    // side is the window decorrelation — two formulations, one answer.
    // The condition cross-multiplies (price*2n > 3*total) in DECIMAL so
    // no float average sits on the comparison boundary.
    QDef.sql(
      "ext_above_avg",
      """SELECT o_orderkey, o_custkey
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |      * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |      > 3 * (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |             FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
      t(s, dir, "orders")
        .withColumn("__p", col("o_totalprice").cast("decimal(18,2)"))
        .withColumn("__n", count(lit(1)).over(w))
        .withColumn("__t", sum(col("__p")).over(w))
        .filter(col("__p") * 2 * col("__n") > col("__t") * 3)
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    },

    // ----- EXISTS → left-semi join -------------------------------------
    // Orders with at least one returned line item, counted by priority.
    // The semi join never replicates rows (a multi-match order counts
    // once) — the shape EXISTS decorrelates to.
    QDef.sql(
      "ext_exists_semi",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val returned = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R").select("l_orderkey")
      t(s, dir, "orders")
        .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },

    // ----- NOT EXISTS → left-anti join ---------------------------------
    // Customers who never hit an error event: the anti join is the
    // scale shape of NOT EXISTS / NOT IN (null-safe, unlike a naive
    // NOT IN). ~27% of customers qualify at sf0.01, so the check
    // exercises real rows.
    QDef.sql(
      "ext_anti_join",
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM events e
        |                  WHERE e.user_id = c.c_custkey
        |                    AND e.event_type = 'error')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val errUsers = t(s, dir, "events")
        .filter(col("event_type") === "error").select("user_id")
      t(s, dir, "customer")
        .join(errUsers, col("c_custkey") === col("user_id"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ----- Pivot (long → wide) -----------------------------------------
    // Per-user event counts pivoted into one column per event type —
    // Spark's groupBy().pivot() with EXPLICIT values (no value-discovery
    // pass, the scale form); the oracle is conditional aggregation.
    // Absent combinations coalesce to 0 so both engines agree.
    QDef.sql(
      "ext_pivot",
      """SELECT user_id,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val types = Seq("click", "view", "purchase", "signup", "error")
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +:
          types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy("user_id")
    },

    // ----- Stream-static enrichment join, batch twin -------------------
    // Streams.enrich run on the batch frame — the identical plan the
    // streaming path executes per micro-batch (StreamingSpec drives the
    // MemoryStream version of the same call).
    QDef.sql(
      "ext_stream_static",
      """SELECT event_id, user_id, event_type, c_name
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      Streams.enrich(
        t(s, dir, "events"),
        t(s, dir, "customer").select("c_custkey", "c_name"),
        streamKey = "user_id", dimKey = "c_custkey")
        .select("event_id", "user_id", "event_type", "c_name")
        .orderBy("event_id")
    },

    // ----- As-of join (point-in-time lookup) ---------------------------
    // For every error event, the user's most recent purchase at or
    // before it. The oracle is DuckDB's NATIVE ASOF LEFT JOIN — the
    // Spark side is the union + single-keyed-shuffle + running-last
    // composition (Ops.asofJoin), so two independent implementations
    // must agree row-for-row.
    QDef.sql(
      "x_asof_join",
      """WITH l AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
        |),
        |r AS (
        |  SELECT user_id, ts, event_id AS p_event, value AS p_value
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT l.event_id, l.user_id,
        |       r.p_event AS asof_p_event,
        |       round(r.p_value, 6) AS asof_p_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event"), col("value").as("p_value"))
      graft.operators.Ops.asofJoin(
        l, r, key = "user_id", leftTs = "ts", rightTs = "ts",
        payloadCols = Seq("p_event", "p_value"))
        .select(col("event_id"), col("user_id"),
          col("asof_p_event"), round(col("asof_p_value"), 6).as("asof_p_value"))
        .orderBy("event_id")
    },

    // ----- Range (interval-containment) join ---------------------------
    // Every (error, purchase) pair of the same user where the error
    // falls inside the purchase's 1-hour window. The oracle is the
    // plain inequality join; the Spark side is the binned equi join
    // (Ops.rangeJoin) — the shape that scales where an inequality join
    // degenerates to a cartesian.
    QDef.sql(
      "x_range_join",
      duckErrorPurchaseSql("l.event_id, l.user_id, r.event_id AS p_event",
        "JOIN", "l.event_id, p_event")) { (s, dir) =>
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("p_end"),
          col("event_id").as("p_event"))
      graft.operators.Ops.rangeJoin(
        l, r, leftTs = "ts", startCol = "p_start", endCol = "p_end",
        binWidth = 3600L, key = Some("user_id"))
        .select(col("event_id"), col("user_id"), col("p_event"))
        .orderBy("event_id", "p_event")
    },

    // ----- Stream-stream interval join, batch twin ---------------------
    // The SAME Streams.intervalJoin call the streaming path runs
    // (watermark-bounded state on both sides there; StreamingSpec drives
    // the MemoryStream version incl. late-data eviction). Semantics are
    // identical to x_range_join's binned batch shape — three independent
    // implementations (stream-stream join, binned equi join, plain
    // inequality SQL) must produce one answer.
    QDef.sql(
      "ext_stream_stream",
      duckErrorPurchaseSql("l.event_id, l.user_id, r.event_id AS p_event",
        "JOIN", "l.event_id, p_event")) { (s, dir) =>
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      Streams.intervalJoin(
        l, r, leftKey = "user_id", rightKey = "p_user",
        leftTs = "ts", rightTs = "p_ts",
        watermarkDelay = "10 minutes", window = "1 hour")
        .select(col("event_id"), col("user_id"), col("p_event"))
        .orderBy("event_id", "p_event")
    },

    // ----- Stream-stream interval join, LEFT OUTER batch twin ----------
    // Same shape with outer semantics: every error appears once (or
    // more), purchase columns null when no same-user purchase preceded
    // it within the hour. In streaming the nulls emit only after the
    // watermark closes the window — the batch twin is the end-state
    // those deferred emissions converge to.
    QDef.sql(
      "ext_stream_stream_outer",
      duckErrorPurchaseSql("l.event_id, l.user_id, r.event_id AS p_event",
        "LEFT JOIN", "l.event_id, p_event NULLS FIRST")) { (s, dir) =>
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      Streams.intervalJoin(
        l, r, leftKey = "user_id", rightKey = "p_user",
        leftTs = "ts", rightTs = "p_ts",
        watermarkDelay = "10 minutes", window = "1 hour",
        joinType = "left_outer")
        .select(col("event_id"), col("user_id"), col("p_event"))
        .orderBy(col("event_id"), asc_nulls_first("p_event"))
    },

    // ----- Stream-stream interval join, FULL OUTER batch twin ----------
    // Completes the interval-join matrix: unmatched errors emit with
    // null purchase columns AND unmatched purchases emit with null
    // error columns (in streaming, each side's unmatched rows emit once
    // its watermark-bounded window closes). Both sides' ids ride the
    // output so the null pattern is fully checkable.
    QDef.sql(
      "ext_stream_full_outer",
      duckErrorPurchaseSql("l.event_id, l.user_id, r.event_id AS p_event, r.user_id AS p_user",
        "FULL JOIN", "l.event_id NULLS FIRST, p_event NULLS FIRST")) { (s, dir) =>
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      Streams.intervalJoin(
        l, r, leftKey = "user_id", rightKey = "p_user",
        leftTs = "ts", rightTs = "p_ts",
        watermarkDelay = "10 minutes", window = "1 hour",
        joinType = "full_outer")
        .select(col("event_id"), col("user_id"), col("p_event"), col("p_user"))
        .orderBy(asc_nulls_first("event_id"), asc_nulls_first("p_event"))
    },

    // ----- Stream-stream interval join, LEFT SEMI batch twin -----------
    // The existence-test shape: each error emits AT MOST ONCE iff any
    // same-user purchase preceded it within the hour — no fan-out on
    // multi-match, left columns only. At scale this is the cheapest of
    // the three interval-join variants (matched left state drops at
    // first match instead of buffering for every future right row).
    QDef.sql(
      "ext_stream_semi",
      """SELECT l.event_id, l.user_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'error') l
        |WHERE EXISTS (
        |  SELECT 1 FROM events r
        |  WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
        |    AND l.ts >= r.ts AND l.ts < r.ts + INTERVAL 1 HOUR)
        |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      Streams.intervalJoin(
        l, r, leftKey = "user_id", rightKey = "p_user",
        leftTs = "ts", rightTs = "p_ts",
        watermarkDelay = "10 minutes", window = "1 hour",
        joinType = "left_semi")
        .select(col("event_id"), col("user_id"))
        .orderBy("event_id")
    },

    // ----- Approximate aggregates (sketches) ---------------------------
    // HLL++ distinct counts and quantile sketches are THE 100 TB
    // aggregation tools (bounded memory per group vs exact distinct's
    // full shuffle). Sketch internals differ across engines, so the
    // OUTPUT carries only engine-portable values: the exact aggregates
    // plus booleans asserting each engine's own sketch lands within the
    // error bound. DuckDB recomputes the same bounds with its own
    // approx_count_distinct / approx_quantile — both engines must answer
    // "my sketch is within tolerance of the exact value" with true.
    //
    // Plan shape: the distinct aggregate runs ALONE (two-stage hash agg,
    // no Expand), and the object-hash aggregates (percentile sketches +
    // HLL) run in a second single-row pass — mixing them in one agg
    // forces an Expand + sort-aggregate fallback over a doubled row
    // stream, which benched 17 s at sf0.1. Two 1-row frames cross-joined
    // is the cheap shape.
    QDef.sql(
      "ext_approx_agg",
      """WITH a AS (
        |  SELECT count(DISTINCT l_orderkey) AS exact_orders,
        |         approx_count_distinct(l_orderkey) AS approx_orders,
        |         median(l_extendedprice) AS exact_median,
        |         approx_quantile(l_extendedprice, 0.5) AS approx_median
        |  FROM lineitem)
        |SELECT CAST(exact_orders AS BIGINT) AS exact_orders,
        |       round(exact_median, 6) AS exact_median,
        |       abs(approx_orders - exact_orders) <= exact_orders * 0.06
        |         AS orders_in_bounds,
        |       abs(approx_median - exact_median) <= exact_median * 0.05
        |         AS median_in_bounds
        |FROM a""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val exact = li.agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      val sketch = li.agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_median"),
        expr("percentile(l_extendedprice, 0.5)").as("exact_median"))
      exact.crossJoin(sketch).select(
        col("exact_orders"),
        round(col("exact_median"), 6).as("exact_median"),
        (abs(col("approx_orders") - col("exact_orders"))
          <= col("exact_orders") * 0.06).as("orders_in_bounds"),
        (abs(col("approx_median") - col("exact_median"))
          <= col("exact_median") * 0.05).as("median_in_bounds"))
    },

    // ----- Mergeable HLL re-aggregation ---------------------------------
    // THE 100 TB rollup pattern: distinct-count sketches built once at a
    // fine grain (per supplier), then UNIONED to the coarse grain
    // without rescanning the data — hll_sketch_agg partials are
    // mergeable, so daily/per-partition sketches roll up to any
    // ancestor grain for free, which exact countDistinct can never do
    // (it must re-shuffle raw keys). Orderkeys overlap across modes, so
    // the union genuinely deduplicates across partials. Sketch bytes
    // differ across engines, so the output carries the engine-portable
    // values only (ext_approx_agg's documented convention): the exact
    // count, the number of partials merged, and each engine asserting
    // its own coarse estimate lands within the error bound (lgK=12 →
    // ~1.6% rsd; 5% is > 3 sigma).
    QDef.sql(
      "ext_hll_merge",
      """WITH a AS (
        |  SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_partials,
        |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |         approx_count_distinct(l_orderkey) AS est
        |  FROM lineitem)
        |SELECT n_partials, exact_orders,
        |       abs(est - exact_orders) <= exact_orders * 0.05
        |         AS merged_in_bounds
        |FROM a""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val partials = li.groupBy("l_suppkey")
        .agg(hll_sketch_agg(col("l_orderkey"), lit(12)).as("sk"))
      val merged = partials.agg(
        count(lit(1)).as("n_partials"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = li.agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      merged.crossJoin(exact).select(
        col("n_partials"),
        col("exact_orders"),
        (abs(col("est") - col("exact_orders"))
          <= col("exact_orders") * 0.05).as("merged_in_bounds"))
    },

    // ----- Snapshot diff (incremental table comparison) -----------------
    // "What moved since yesterday": two versions of orders derived
    // deterministically from the base table (drops, inserts, and a
    // price restatement on every 5th key), classified added / removed /
    // changed by Ops.snapshotDiff — one co-partitioned full-outer join,
    // null-safe struct compare, unchanged keys never leave the join.
    // The oracle states the same diff as a FULL JOIN with IS DISTINCT
    // FROM — two formulations, one answer.
    QDef.sql(
      "ext_snapshot_diff",
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp
        |  FROM orders WHERE o_orderkey % 4 <> 0),
        |n AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
        |              ELSE o_totalprice END AS tp
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |d AS (
        |  SELECT COALESCE(o.k, n.k) AS o_orderkey,
        |         CASE WHEN o.k IS NULL THEN 'added'
        |              WHEN n.k IS NULL THEN 'removed'
        |              WHEN o.st IS DISTINCT FROM n.st
        |                OR o.tp IS DISTINCT FROM n.tp THEN 'changed'
        |         END AS change
        |  FROM o FULL JOIN n ON o.k = n.k)
        |SELECT o_orderkey, change FROM d
        |WHERE change IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val ord = t(s, dir, "orders")
      val old = ord.filter(col("o_orderkey") % 4 =!= 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val neu = ord.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.operators.Ops.snapshotDiff(
        old, neu, keys = Seq("o_orderkey"),
        compareCols = Seq("o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    },

    // ----- Upsert sink roundtrip (foreachBatch merge) -------------------
    // The x4 pattern applied to the upsert sink: two REAL upsertBatch
    // calls build a partitioned parquet table (initial load, then a
    // batch that updates every 4th key and inserts the rest of its
    // rows), and the query reads the table back. The oracle states the
    // same final state declaratively: a later batch wins over the
    // initial row, untouched initial rows survive. Any merge bug —
    // anti-join dropping too much, dynamic overwrite clobbering an
    // untouched partition, latest-wins picking the wrong version —
    // breaks the hash.
    QDef.sql(
      "ext_upsert",
      """WITH f AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 1000
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 3 = 0 OR o_orderkey % 4 = 0)
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM f ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val ord = t(s, dir, "orders")
      val table = java.nio.file.Files
        .createTempDirectory("graft_ext_upsert").toString + "/t"
      val init = ord.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").as("ts"))
      val upd = ord.filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") + 1000).as("o_totalprice"),
          (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("ts"))
      Streams.upsertBatch(init, table,
        keys = Seq("o_orderkey"), tsCol = "ts", partitionCol = "o_orderstatus")
      Streams.upsertBatch(upd, table,
        keys = Seq("o_orderkey"), tsCol = "ts", partitionCol = "o_orderstatus")
      s.read.parquet(table)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ----- Compaction roundtrip -----------------------------------------
    // Content-preservation gate for the small-files maintenance pass: a
    // deliberately fragmented partitioned table (8 writer tasks per
    // partition) is compacted through the real staging-swap path, and
    // the read-back must hash-match the source selection. File-count
    // reduction and scoped-partition isolation are pinned in SinksSpec;
    // this row pins that the swap never loses or duplicates a row.
    QDef.sql(
      "ext_compact",
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 0
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val table = java.nio.file.Files
        .createTempDirectory("graft_ext_compact").toString + "/t"
      t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .repartition(8)
        .write.partitionBy("o_orderstatus").parquet(table)
      Sinks.compactPartitions(s, table, "o_orderstatus",
        maxRecordsPerFile = 1000000L, parallelism = 2)
      s.read.parquet(table)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ----- X4: CSV escaping roundtrip ----------------------------------
    // Payload embeds separators, quotes and newlines; Spark writes it
    // through the X4 single-file renderer and parses it back — the
    // oracle recomputes the payload from the source table.
    QDef.sql(
      "x4_csv_roundtrip",
      """SELECT doc_id, 'pre,"' || text || '"' || chr(10) || 'post' AS payload
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val df = t(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("pre,\""), col("text"), lit("\"\npost")).as("payload"))
      val out = java.nio.file.Files.createTempDirectory("graft_x4").toString
      Sinks.writeBytes(s, s"$out/rt.csv", Sinks.renderSingle(df, "csv"))
      s.read
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .schema("doc_id LONG, payload STRING")
        .csv(s"$out/rt.csv")
        .orderBy("doc_id")
    },

    // ----- Ordered funnel (signup → click → purchase) -------------------
    // Greedy-earliest stage times per user under the total order
    // (ts, event_id): stage i+1 is the first matching event STRICTLY
    // after stage i's event. Spark computes it in ONE shuffle as a
    // per-user sorted fold; the oracle derives the same times by
    // iterated earliest-after-tuple joins — two independent
    // formulations, one answer.
    QDef.sql(
      "ext_funnel",
      """WITH s1 AS (
        |  SELECT user_id, ts AS s1_ts, event_id AS s1_id FROM events
        |  WHERE event_type = 'signup'
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |                             ORDER BY ts, event_id) = 1
        |),
        |s2 AS (
        |  SELECT e.user_id, e.ts AS s2_ts, e.event_id AS s2_id
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click'
        |    AND (e.ts, e.event_id) > (s1.s1_ts, s1.s1_id)
        |  QUALIFY row_number() OVER (PARTITION BY e.user_id
        |                             ORDER BY e.ts, e.event_id) = 1
        |),
        |s3 AS (
        |  SELECT e.user_id, e.ts AS s3_ts
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |    AND (e.ts, e.event_id) > (s2.s2_ts, s2.s2_id)
        |  QUALIFY row_number() OVER (PARTITION BY e.user_id
        |                             ORDER BY e.ts, e.event_id) = 1
        |),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id, s1.s1_ts, s2.s2_ts, s3.s3_ts,
        |  CAST(CASE WHEN s3.s3_ts IS NOT NULL THEN 3
        |            WHEN s2.s2_ts IS NOT NULL THEN 2
        |            WHEN s1.s1_ts IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS depth
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |       LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      Ops.funnel(t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type", Seq("signup", "click", "purchase"))
        .orderBy("user_id")
    },

    // ----- Cohort retention matrix --------------------------------------
    // Users cohorted by first-activity day; distinct active users per
    // (cohort day, day offset). Day grain is a truncated timestamp
    // (house convention, ext_gapfill/ext_lag_delta).
    QDef.sql(
      "ext_retention",
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts
        |  FROM events
        |),
        |coh AS (
        |  SELECT user_id, min(day_ts) AS cohort_day FROM act GROUP BY 1
        |)
        |SELECT coh.cohort_day,
        |       CAST(datediff('day', coh.cohort_day, act.day_ts) AS BIGINT)
        |         AS day_offset,
        |       CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_users
        |FROM act JOIN coh USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Ops.cohortRetention(t(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_day", "day_offset")
    },

    // ----- Fixed-width histogram over lineitem prices --------------------
    // floor(x / 5000) buckets with per-bucket count and observed
    // [min, max]. Bucket arithmetic is one IEEE divide + floor —
    // bit-identical across engines.
    QDef.sql(
      "ext_histogram",
      """SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(min(l_extendedprice), 6) AS lo_val,
        |       round(max(l_extendedprice), 6) AS hi_val
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Ops.histogram(t(s, dir, "lineitem"), col("l_extendedprice"), 5000.0)
        .orderBy("bucket")
    },

    // ----- X5: TSV sanitization roundtrip ------------------------------
    // Tabs/newlines inside values are deterministically replaced with
    // spaces (the reference's lossy-but-defined X5 semantics); the
    // oracle applies the same replacement to the source text.
    QDef.sql(
      "x5_tsv_roundtrip",
      """SELECT doc_id, text || ' c1 c2' AS payload
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val df = t(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"), lit("\tc1\nc2")).as("payload"))
      val out = java.nio.file.Files.createTempDirectory("graft_x5").toString
      Sinks.writeBytes(s, s"$out/rt.tsv", Sinks.renderSingle(df, "tsv"))
      s.read
        .option("header", "true").option("sep", "\t").option("quote", "\u0000")
        .schema("doc_id LONG, payload STRING")
        .csv(s"$out/rt.tsv")
        .orderBy("doc_id")
    })
}
