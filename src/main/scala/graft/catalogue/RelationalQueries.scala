package graft.catalogue

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.NorthStar._
import graft.operators.{Relational, WeatherOps}

/**
 * The relational tier: scans, projections, joins, windows, set operations
 * and the other SQL operators of SURVEY.md §2 on the TPC-H-shaped harness
 * tables (q), and the join strategies (j).
 */
object RelationalQueries {

  // op 18 — full-table scan
  val q01 = Query("q01_fullscan", (s, dir) => t(s, dir, "region"),
    "SELECT * FROM region")

  // op 7 — projection + rename
  val q02 = Query("q02_project", (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price")),
    "SELECT l_orderkey, l_linenumber, l_quantity AS qty, l_extendedprice AS price FROM lineitem")

  // op 5 — scalar math fn surface (K→F unit conversion + - * / round)
  val q03 = Query("q03_scalar_math", (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        WeatherOps.kelvinToFahrenheit(col("l_quantity") + lit(273.15)).as("qty_f"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price")),
    """SELECT l_orderkey, l_linenumber,
         round(((l_quantity + 273.15) - 273.15) * 9.0 / 5.0 + 32.0, 3) AS qty_f,
         l_extendedprice * (1.0 - l_discount) AS disc_price
         FROM lineitem""")

  // op 6 — epoch+offset → naive local timestamp
  val q04 = Query("q04_epoch_ts", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        WeatherOps.localTimestamp(
          unix_timestamp(col("o_orderdate")), lit(-18000L)).as("local_ts")),
    """SELECT o_orderkey,
         CAST(to_timestamp(CAST(epoch(o_orderdate) AS BIGINT) + (-18000)) AS TIMESTAMP) AS local_ts
         FROM orders""")

  // timestamp function surface (extract/trunc)
  val q05 = Query("q05_ts_extract", (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        year(col("l_shipdate")).as("y"),
        month(col("l_shipdate")).as("m"),
        dayofmonth(col("l_shipdate")).as("d"),
        date_trunc("month", col("l_shipdate")).as("month_start")),
    """SELECT l_orderkey, l_linenumber,
         CAST(year(l_shipdate) AS INT) AS y, CAST(month(l_shipdate) AS INT) AS m,
         CAST(day(l_shipdate) AS INT) AS d,
         date_trunc('month', l_shipdate) AS month_start
         FROM lineitem""")

  // op 15 — string→timestamp with null-on-failure coercion.
  // Spark 4 is ANSI-mode by default, so plain to_timestamp THROWS on a
  // malformed string; try_to_timestamp is the exact analogue of the
  // reference's pd.to_datetime(errors="coerce") and DuckDB's TRY_CAST.
  val q06 = Query("q06_ts_coerce", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        try_to_timestamp(
          when(col("o_orderstatus") === "F",
            date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
            .otherwise(concat(lit("bad-"), col("o_orderstatus")))).as("coerced")),
    """SELECT o_orderkey,
         TRY_CAST(CASE WHEN o_orderstatus = 'F'
                       THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                       ELSE 'bad-' || o_orderstatus END AS TIMESTAMP) AS coerced
         FROM orders""")

  // op 11 — inner equi-join fact ⋈ broadcast dimension + projection
  val q07 = Query("q07_join_lookup", (s, dir) =>
      Relational.lookupJoin(t(s, dir, "orders"), t(s, dir, "customer")
          .withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"), col("c_name"), col("c_mktsegment"), col("c_acctbal")),
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
                c_name, c_mktsegment, c_acctbal
         FROM orders INNER JOIN customer ON o_custkey = c_custkey""")

  // join chain across the star schema (lineitem⋈orders⋈customer⋈nation⋈region)
  val q08 = Query("q08_join_chain", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          col("o_orderdate"), col("c_name"), col("n_name"), col("r_name"))
    },
    """SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1.0 - l_discount) AS revenue,
                o_orderdate, c_name, n_name, r_name
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey""")

  // aggregation (§2.1 extension) — TPC-H Q1-style pricing summary;
  // DECIMAL sums for exact, order-independent results
  val q09 = Query("q09_agg_pricing", (s, dir) => {
      val d = (c: Column) => c.cast(DecimalType(18, 2))
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(d(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(d(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
          sum(d(col("l_extendedprice")) * (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - d(col("l_discount"))))
            .cast(DoubleType).as("sum_disc_price"),
          (sum(d(col("l_quantity"))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
                COUNT(*) AS count_order
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")

  // sort + top-k (TakeOrderedAndProject — no global sort shuffle)
  val q10 = Query("q10_topk", (s, dir) =>
      Relational.topK(t(s, dir, "orders"), 100,
        col("o_totalprice").desc, col("o_orderkey").asc),
    "SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100")

  // distinct
  val q11 = Query("q11_distinct", (s, dir) =>
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct(),
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")

  // set ops: union (distinct)
  val q12 = Query("q12_union", (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").cast(IntegerType).as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").cast(IntegerType).as("nationkey")))
        .distinct(),
    """SELECT c_nationkey AS nationkey FROM customer
         UNION
         SELECT s_nationkey AS nationkey FROM supplier""")

  // set ops: intersect + except
  val q13 = Query("q13_intersect", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast(IntegerType).as("nationkey")).distinct()
      val sup = t(s, dir, "supplier").select(col("s_nationkey").cast(IntegerType).as("nationkey")).distinct()
      c.intersect(sup).withColumn("which", lit("both"))
        .union(c.except(sup).withColumn("which", lit("customer_only")))
    },
    """SELECT nationkey, 'both' AS which FROM
           (SELECT DISTINCT c_nationkey AS nationkey FROM customer
            INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
         UNION ALL
         SELECT nationkey, 'customer_only' AS which FROM
           (SELECT DISTINCT c_nationkey AS nationkey FROM customer
            EXCEPT SELECT DISTINCT s_nationkey FROM supplier)""")

  // window: SERIAL-id semantics (row_number per partition, §7.3#1)
  val q14 = Query("q14_window_serial", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        row_number().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))).as("rn")),
    """SELECT o_orderkey, o_custkey,
                CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
         FROM orders""")

  // window: running frame aggregate (decimal-exact)
  val q15 = Query("q15_window_running", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType).as("running_total")),
    """SELECT o_orderkey, o_custkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
         FROM orders""")

  // op 20 — limited scan (deterministic via total order)
  val q16 = Query("q16_limit", (s, dir) =>
      t(s, dir, "nation").orderBy(col("n_nationkey")).limit(10),
    "SELECT * FROM nation ORDER BY n_nationkey LIMIT 10")

  // op 3/4-analog on harness data: JSON field extraction from events.props
  val q17 = Query("q17_json_extract", (s, dir) =>
      eventsTable(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k")),
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events")

  // op 6 on the event stream: second-truncated local timestamps
  val q18 = Query("q18_events_ts", (s, dir) =>
      eventsTable(s, dir).select(
        col("event_id"),
        date_trunc("second", col("ts")).as("ts_sec"),
        col("event_type"), col("value")),
    """SELECT event_id, date_trunc('second', ts) AS ts_sec, event_type, value
         FROM events""")

  // events aggregation: per-type decimal-exact rollup (stream-table agg)
  val q19 = Query("q19_events_agg", (s, dir) =>
      eventsTable(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type")),
    """SELECT event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
                COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""")

  // op 21 — catalog query (no SQL oracle: engine-specific surface)
  val q20 = Query("q20_catalog", (s, dir) => {
      for (n <- Seq("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "documents", "embeddings"))
        t(s, dir, n).createOrReplaceTempView(n)
      eventsTable(s, dir).createOrReplaceTempView("events")
      s.sql("SHOW TABLES").select(col("tableName")).orderBy(col("tableName"))
    },
    // op 21 catalog: the registered table set is a static constant, so the
    // oracle is a VALUES list — hash-checkable instead of rows-only
    """SELECT * FROM (VALUES ('customer'),('documents'),('embeddings'),('events'),
                               ('lineitem'),('nation'),('orders'),('part'),
                               ('region'),('supplier')) AS t("tableName")
         ORDER BY "tableName"""")

  // op 4 — array element access (GetArrayItem + GetStructField), the
  // reference's `data["weather"][0]["description"]` idiom
  // (weather_etl_pipeline.py:62) instantiated on the harness tables: an
  // array-of-structs column, element [0]/[1], then a struct field
  val q21 = Query("q21_array_access", (s, dir) => {
      val arr = array(
        struct(col("l_quantity").as("v"), lit("qty").as("tag")),
        struct(col("l_extendedprice").as("v"), lit("price").as("tag")))
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        arr.getItem(0).getField("v").as("first_v"),
        arr.getItem(1).getField("tag").as("second_tag"))
    },
    """SELECT l_orderkey, l_linenumber,
                ([{'v': l_quantity, 'tag': 'qty'}, {'v': l_extendedprice, 'tag': 'price'}])[1].v AS first_v,
                ([{'v': l_quantity, 'tag': 'qty'}, {'v': l_extendedprice, 'tag': 'price'}])[2].tag AS second_tag
         FROM lineitem""")

  // §2.1 extension — hierarchical aggregate (rollup: subtotals + grand
  // total in one pass; Spark expands grouping sets inside the same
  // hash-agg, no extra scan)
  val q22 = Query("q22_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty")),
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")

  // §2.1 extension — left outer join (dimension restricted so the
  // null-extension path is actually exercised)
  val q23 = Query("q23_left_join", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_name"))
      t(s, dir, "orders")
        .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
    },
    """SELECT o_orderkey, o_custkey, c_name
         FROM orders LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000) c
           ON o_custkey = c_custkey""")

  // §2.1 extension — semi + anti join (existence tests; neither side
  // materializes the join product)
  val q24 = Query("q24_semi_anti", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey"))
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .withColumn("which", lit("has_orders"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .withColumn("which", lit("no_orders"))
      semi.union(anti).select(col("c_custkey"), col("c_name"), col("which"))
    },
    """SELECT c_custkey, c_name, 'has_orders' AS which FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT c_custkey, c_name, 'no_orders' AS which FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")

  // §2.1 extension — window lag/lead over a partitioned total order
  val q25 = Query("q25_window_lag", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
    },
    """SELECT o_orderkey, o_custkey,
                lag(o_totalprice, 1) OVER w AS prev_price,
                lead(o_totalprice, 1) OVER w AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")

  // §2.1 extension — gap-based sessionization of the event stream
  // (session breaks at >30 min silence per user): lag + running sum of
  // break flags, the standard two-window formulation
  val q26 = Query("q26_sessionize", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      eventsTable(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("brk",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"),
          sum(col("brk")).over(run).as("session_id"))
    },
    // the SUM is CAST to BIGINT because DuckDB's SUM yields HUGEINT, which
    // pandas materializes as float64 — a dtype-only hash divergence from
    // Spark's int64 on identical values
    """SELECT event_id, user_id,
                CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
                              THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM (SELECT event_id, user_id, ts,
                      lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
               FROM events)""")

  // custom-plan tier — per-key top-k via the TopKPerKey operator
  // (bounded heaps, no partition sort; see graft.plans.TopKPerKey)
  val q27 = Query("q27_topk_per_key", (s, dir) =>
      Relational.topKPerKey(t(s, dir, "orders"), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""")

  // the distributed SERIAL-id operator surfaced as a harness query:
  // dense 1..n ids in a global total order WITHOUT the single-task
  // window — range partition + sortWithinPartitions + zipWithIndex.
  // (o_orderdate, o_orderkey) is a total order, so ids are
  // deterministic and the window-based SQL oracle reproduces them.
  val q28 = Query("q28_serial_distributed", (s, dir) =>
      Relational.withSerialIdDistributed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        Seq(col("o_orderdate"), col("o_orderkey")), "id"),
    """SELECT o_orderkey, o_orderdate,
                CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS id
         FROM orders""")

  // the streaming windowed aggregation's batch twin: the same
  // window(ts, 1h) + per-type rollup StreamingIngest.windowedEventAgg
  // computes incrementally, run over the full events table — so the
  // streaming module's semantics are oracle-checkable, not just
  // unit-tested
  val q29 = Query("q29_time_window", (s, dir) =>
      eventsTable(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value")),
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""")

  // as-of join: every event picks up the customer's most recent order
  // at-or-before the event timestamp. The right side is pre-aggregated
  // to unique (key, ts) — max orderkey per (custkey, orderdate) — the
  // operator's determinism contract. One shuffle, no row amplification
  // (see Relational.asofJoin); the oracle is DuckDB's native ASOF JOIN.
  val q30 = Query("q30_asof_join", (s, dir) => {
      val ev = eventsTable(s, dir).select(col("event_id"), col("ts"), col("user_id"))
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      Relational.asofJoin(ev, ord, "user_id", "ts", "o_orderdate")
    },
    """WITH o AS (SELECT o_custkey AS user_id, o_orderdate,
                           max(o_orderkey) AS o_orderkey
                    FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.ts, e.user_id, o.o_orderdate, o.o_orderkey
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.user_id AND e.ts >= o.o_orderdate""")

  // point-in-interval join via bucketing: lineitems shipped within
  // [o_orderdate, +30 days) of their order, as a keyed interval join —
  // the equi-join runs on (orderkey, day-bucket) and only containment
  // candidates reach the exact predicate (see Relational.intervalJoin).
  // Aggregated per order with order-insensitive stats (count/min/max)
  // so the hash compare is join-order independent.
  val q31 = Query("q31_interval_join", (s, dir) => {
      val pts = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_shipdate"), col("l_linenumber"))
      val ivs = t(s, dir, "orders")
        .select(col("o_orderkey").as("ok"), col("o_orderdate").as("w_start"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("w_end"))
      Relational.intervalJoin(pts, ivs, "l_shipdate", "w_start", "w_end",
          Seq("ok"), 86400L * 30)
        .groupBy(col("ok").as("o_orderkey"))
        .agg(count(lit(1)).as("n_shipped"),
          min(col("l_linenumber")).as("first_line"),
          max(col("l_linenumber")).as("last_line"))
    },
    """SELECT o_orderkey, count(*) AS n_shipped,
                min(l_linenumber) AS first_line, max(l_linenumber) AS last_line
         FROM lineitem l JOIN orders o
           ON l.l_orderkey = o.o_orderkey
          AND l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
         GROUP BY 1""")

  // pivot: event_type rotated into per-type count columns. The value
  // list is EXPLICIT — an unlisted-values pivot runs a whole extra
  // distinct pass over the fact table just to discover column names,
  // which is a silent full scan at 100 TB. Missing (user, type) combos
  // coalesce to 0 so the output matches SQL's FILTER formulation.
  val q32 = Query("q32_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      eventsTable(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +:
          types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
    },
    """SELECT user_id,
                count(*) FILTER (event_type = 'click') AS n_click,
                count(*) FILTER (event_type = 'error') AS n_error,
                count(*) FILTER (event_type = 'purchase') AS n_purchase,
                count(*) FILTER (event_type = 'signup') AS n_signup,
                count(*) FILTER (event_type = 'view') AS n_view
         FROM events GROUP BY 1""")

  // RANGE-frame window (value-based frame, vs q15's ROWS frame): per
  // user, how many events landed in the trailing hour — frame bounds
  // are epoch-second VALUES, so peers with equal timestamps are always
  // in-frame together and the result is order-independent (no tie
  // hazard). One shuffle on user_id, sorted within partitions.
  val q33 = Query("q33_window_range", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3600L, 0L)
      eventsTable(s, dir)
        .withColumn("sec", unix_timestamp(col("ts")))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_trailing_1h"))
    },
    """SELECT event_id, user_id,
                count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_trailing_1h
         FROM events""")

  // §2.1 extension — full cube (all 2^k grouping sets in one hash-agg
  // pass, complementing q22's rollup): Spark expands the grouping sets
  // inside a single aggregate, so the fact table is scanned ONCE —
  // no per-grouping-set re-scan at 100 TB
  val q34 = Query("q34_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price")),
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")

  // §2.1 extension — scalar + IN subqueries through the SQL front-end
  // (SparkSqlParser → analyzer subquery rewrite): the scalar subqueries
  // become one-row broadcast joins and the IN becomes a left-semi join;
  // the avg comparison is cross-multiplied (price·n > Σprice) so both
  // sides stay in exact DECIMAL arithmetic — no engine-specific double
  // rounding in the threshold
  val q35 = Query("q35_scalar_subquery", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM orders)
              > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      """)
    },
    """SELECT o_orderkey, o_totalprice
         FROM orders
         WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM orders)
               > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
           AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)""")

  // §2.1 extension — unpivot/melt (wide → long): each row fans out to
  // one row per measure column. Pure per-row Generate, no shuffle;
  // the measures are cast to a common type up front (unpivot's contract)
  val q36 = Query("q36_unpivot", (s, dir) =>
      t(s, dir, "part").unpivot(
        Array(col("p_partkey")),
        Array(col("p_size").cast(DoubleType).as("p_size"), col("p_retailprice")),
        "metric", "value"),
    """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
         UNION ALL
         SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part""")

  // §2.1 extension — statistical aggregates (mean/stddev/corr/median)
  // computed from DECIMAL-exact single-pass moments: Σx, Σx², Σxy are
  // order-independent exact decimals (map-side combined), and the
  // variance/correlation algebra then runs in double with the same
  // operation order in both engines — so the results hash-match without
  // tolerating float drift. This is the 100 TB shape for moments: one
  // scan, one narrow shuffle of (flag, 6 decimals); the builtin
  // stddev/corr would stream doubles in partition order and be
  // run-to-run nondeterministic in the low bits.
  val q37 = Query("q37_stats_agg", (s, dir) => {
      val d2 = (c: Column) => c.cast(DecimalType(18, 2))
      val q = d2(col("l_quantity")); val p = d2(col("l_extendedprice"))
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(q).cast(DoubleType).as("sq"),
          sum(q * q).cast(DoubleType).as("sqq"),
          sum(p).cast(DoubleType).as("sp"),
          sum(p * p).cast(DoubleType).as("spp"),
          sum(q * p).cast(DoubleType).as("sqp"),
          median(col("l_quantity")).as("median_qty"))
        .select(col("l_returnflag"), col("n"),
          (col("sq") / col("n")).as("mean_qty"),
          sqrt((col("sqq") - col("sq") * col("sq") / col("n")) / (col("n") - 1))
            .as("stddev_qty"),
          ((col("sqp") - col("sq") * col("sp") / col("n")) /
            sqrt((col("sqq") - col("sq") * col("sq") / col("n")) *
                 (col("spp") - col("sp") * col("sp") / col("n"))))
            .as("corr_qty_price"),
          col("median_qty"))
    },
    """WITH g AS (
           SELECT l_returnflag, COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sqq,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sqp,
                  median(l_quantity) AS median_qty
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
                sq / n AS mean_qty,
                sqrt((sqq - sq * sq / n) / (n - 1)) AS stddev_qty,
                (sqp - sq * sp / n) / sqrt((sqq - sq * sq / n) * (spp - sp * sp / n)) AS corr_qty_price,
                median_qty
         FROM g""")

  // the optimizer-rule tier driven from SQL text: RowNumberLimitToTopK
  // (Rule[LogicalPlan], injected via GraftExtensions / armOptimizer)
  // rewrites the row_number-limit idiom into the TopKPerKey bounded-heap
  // operator — the user writes the standard SQL pattern, the engine
  // plans O(n log k) heaps with no partition sort. Same result set as
  // q27's DSL form; the rewrite firing is plan-asserted in PlansSpec.
  val q38 = Query("q38_topk_sql_rewrite", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      graft.plans.GraftFunctions.armOptimizer(s)
      s.sql("""
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3
      """)
    },
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""")

  // set ops with BAG semantics (complementing q12/q13's distinct
  // variants): INTERSECT ALL / EXCEPT ALL keep multiplicities —
  // Spark plans them as an aggregated count-compare, not a distinct —
  // over each order's (custkey, priority) pairs vs the high-value
  // subset, so duplicates genuinely occur on both sides
  val q39 = Query("q39_setops_all", (s, dir) => {
      val all = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderpriority"))
      val high = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
        .select(col("o_custkey"), col("o_orderpriority"))
      all.intersectAll(high).withColumn("which", lit("both"))
        .union(all.exceptAll(high).withColumn("which", lit("low_only")))
    },
    """WITH a AS (SELECT o_custkey, o_orderpriority FROM orders),
            h AS (SELECT o_custkey, o_orderpriority FROM orders
                  WHERE o_totalprice > 100000)
         SELECT *, 'both' AS which FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM h)
         UNION ALL
         SELECT *, 'low_only' AS which FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM h)""")

  // window-function surface: ntile quartiles + first/last/nth over the
  // full partition frame (all one WindowExec pass per spec: one shuffle
  // on o_custkey, one within-partition sort shared by both frames)
  val q40 = Query("q40_window_funcs", (s, dir) => {
      val wr = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = wr.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        ntile(4).over(wr).as("quartile"),
        first(col("o_totalprice")).over(wf).as("first_price"),
        last(col("o_totalprice")).over(wf).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(wf).as("second_price"))
    },
    """SELECT o_orderkey, o_custkey,
                CAST(ntile(4) OVER wr AS INT) AS quartile,
                first_value(o_totalprice) OVER wf AS first_price,
                last_value(o_totalprice) OVER wf AS last_price,
                nth_value(o_totalprice, 2) OVER wf AS second_price
         FROM orders
         WINDOW wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")

  // running DISTINCT count over a window — Spark has no DISTINCT window
  // aggregates, so this is the set-valued-state formulation:
  // size(collect_set() over running frame). Sound here because the
  // window state is the distinct TYPE set (a bounded domain, like
  // q32's explicit pivot values); for unbounded domains use the
  // first-occurrence-flag + running-sum rewrite the oracle itself
  // demonstrates (the two are equivalent; the flag form shuffles twice
  // but carries O(1) window state).
  val q41 = Query("q41_window_distinct", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      eventsTable(s, dir).select(col("event_id"), col("user_id"),
        size(collect_set(col("event_type")).over(w)).as("n_distinct_types"))
    },
    // running distinct count via the first-occurrence-flag rewrite —
    // provably equal to the collect_set formulation under the same total
    // order (a type's flag is 1 exactly once per user, at its first row)
    """SELECT event_id, user_id,
                CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
                  AS n_distinct_types
         FROM (SELECT event_id, user_id, ts,
                      CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                                   ORDER BY ts, event_id) = 1
                           THEN 1 ELSE 0 END AS flag
               FROM events)""")

  // multi-dimension data layout: the z-order (Morton) key over
  // (custkey, orderkey). Range-partition + sort by this key at write
  // time and parquet min/max stats prune scans filtered on EITHER
  // column — the clustering primitive behind lakehouse OPTIMIZE
  // ZORDER BY, here as a deterministic codegen'd expression (the
  // layout effect itself is plan-asserted in PlansSpec; this query
  // oracle-checks the key's bit algebra)
  val q42 = Query("q42_zorder_layout", (s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        graft.functions.ZOrder.zorder(col("o_custkey"), col("o_orderkey"), 21).as("z")),
    s"""SELECT o_orderkey, o_custkey,
                 ${graft.functions.ZOrder.zorderSql("o_custkey", "o_orderkey", 21)} AS z
          FROM orders""")

  // exact distributed quantiles (nearest-rank p50/p90/p99 per group):
  // value at rank ⌈p·n⌉ in the within-group value order. Integer rank
  // selection — no interpolation — so the result is a value the data
  // actually contains and both engines agree bit-exactly. Exact
  // quantiles need the within-group sort; groups here are the bounded
  // returnflag domain, so each is one window partition — for
  // high-cardinality grouping this same shape shards by (group) with
  // per-group parallel sort, and the approximate path is the KMV/
  // sketch tier (a01).
  val q43 = Query("q43_percentiles", (s, dir) => {
      val byFlag = Window.partitionBy(col("l_returnflag"))
      val ranked = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
        .withColumn("rn", row_number().over(byFlag.orderBy(col("l_extendedprice"))))
        .withColumn("n", count(lit(1)).over(byFlag))
      ranked.groupBy(col("l_returnflag")).agg(
        max(when(col("rn") === ceil(col("n") * 0.5), col("l_extendedprice"))).as("p50"),
        max(when(col("rn") === ceil(col("n") * 0.9), col("l_extendedprice"))).as("p90"),
        max(when(col("rn") === ceil(col("n") * 0.99), col("l_extendedprice"))).as("p99"))
    },
    """WITH r AS (
           SELECT l_returnflag, l_extendedprice,
                  row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY l_extendedprice) AS rn,
                  count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         SELECT l_returnflag,
                max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS p50,
                max(CASE WHEN rn = ceil(n * 0.9) THEN l_extendedprice END) AS p90,
                max(CASE WHEN rn = ceil(n * 0.99) THEN l_extendedprice END) AS p99
         FROM r GROUP BY 1""")

  // SCD type-2 history build: change-point detection (keep rows where
  // the tracked attribute differs from its predecessor) then validity
  // intervals via lead — the warehouse dimension-history primitive.
  // Both windows share the (user_id) partitioning and (ts, event_id)
  // order, so the plan is ONE shuffle with two window passes over the
  // same sort — no re-exchange between them.
  val q44 = Query("q44_scd2_history", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      eventsTable(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
    },
    """WITH c AS (
           SELECT user_id, event_type, ts, event_id,
                  lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev
           FROM events),
         ch AS (SELECT user_id, event_type, ts, event_id FROM c
                WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type, ts AS valid_from,
                lead(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS valid_to,
                lead(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL AS is_current
         FROM ch""")

  // sequential funnel analysis (view → click → purchase): the
  // event-analytics primitive. Each stage is the MIN event time
  // strictly after the previous stage's time, so every aggregation and
  // join is keyed by user_id — one shuffle establishes the
  // partitioning and the chained stage joins reuse it (co-partitioned,
  // AQE-local). Timestamps are exact micros; no float anywhere.
  val q45 = Query("q45_funnel", (s, dir) => {
      val ev = eventsTable(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val users = ev.select(col("user_id")).distinct()
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id")).filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id")).filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      users
        .join(s1, Seq("user_id"), "left")
        .join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          (when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_view").isNotNull, 1)
            .otherwise(0)).as("stage"))
    },
    """WITH u AS (SELECT DISTINCT user_id FROM events),
         s1 AS (SELECT user_id, min(ts) AS t_view FROM events
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
                JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s1.t_view GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
                JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t_click GROUP BY 1)
         SELECT u.user_id, t_view, t_click, t_purchase,
                CASE WHEN t_purchase IS NOT NULL THEN 3
                     WHEN t_click IS NOT NULL THEN 2
                     WHEN t_view IS NOT NULL THEN 1
                     ELSE 0 END AS stage
         FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
                LEFT JOIN s3 USING (user_id)""")

  // weekly cohort retention: users grouped by first-seen week, counted
  // per (cohort week, week offset) — two aggregations whose keys both
  // start with user_id (first-seen + distinct active weeks), then one
  // count per cohort cell. Week offsets are exact integer epoch math.
  val q46 = Query("q46_retention", (s, dir) => {
      val ev = eventsTable(s, dir)
      val cohort = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val active = ev
        .select(col("user_id"), date_trunc("week", col("ts")).as("active_week"))
        .distinct()
      active.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"),
          expr("(unix_timestamp(active_week) - unix_timestamp(cohort_week)) div 604800")
            .as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
    """WITH c AS (SELECT user_id,
                           CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
                    FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week
               FROM events)
         SELECT cohort_week,
                CAST((epoch(active_week) - epoch(cohort_week)) // 604800 AS BIGINT)
                  AS week_offset,
                count(DISTINCT user_id) AS n_users
         FROM a JOIN c USING (user_id) GROUP BY 1, 2""")

  // per-group z-score outlier detection (data-cleaning tier): group
  // moments from exact DECIMAL sums (q37's determinism contract), the
  // z computation a fixed single-op sequence, flag |z| > 1.7 (the
  // harness prices are uniform, so |z| is bounded by √3 ≈ 1.73 —
  // 1.7 selects the genuine distribution tail; heavy-tailed real data
  // uses the conventional 3). The stats
  // row per group broadcasts; the scan stays pipelined — no shuffle of
  // the fact table at all.
  val q47 = Query("q47_outliers", (s, dir) => {
      val p = col("l_extendedprice").cast(DecimalType(18, 2))
      val stats = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(p).cast(DoubleType).as("sp"),
          sum(p * p).cast(DoubleType).as("spp"))
        .select(col("l_returnflag"),
          (col("sp") / col("n")).as("mean_p"),
          sqrt((col("spp") - col("sp") * col("sp") / col("n")) / (col("n") - 1))
            .as("sd_p"))
      t(s, dir, "lineitem")
        .join(broadcast(stats), Seq("l_returnflag"))
        .withColumn("z", (col("l_extendedprice") - col("mean_p")) / col("sd_p"))
        .filter(abs(col("z")) > 1.7)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"), col("z"))
    },
    """WITH s AS (SELECT l_returnflag, count(*) AS n,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp
            FROM lineitem GROUP BY 1),
         st AS (SELECT l_returnflag, sp / n AS mean_p,
                  sqrt((spp - sp * sp / n) / (n - 1)) AS sd_p FROM s)
         SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
                (l_extendedprice - mean_p) / sd_p AS z
         FROM lineitem JOIN st USING (l_returnflag)
         WHERE abs((l_extendedprice - mean_p) / sd_p) > 1.7""")

  // explicit GROUPING SETS with grouping_id — the general form behind
  // q22 rollup / q34 cube: user-chosen marginals in ONE Expand +
  // hash-agg pass (not one scan per set), with grouping_id
  // disambiguating "aggregated away" from "genuinely NULL". DECIMAL
  // sums for exactness, via the SQL front-end (the surface a BI layer
  // would drive).
  val q48 = Query("q48_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               count(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      """)
    },
    """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                count(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")

  // recursive CTE (Spark 4's WITH RECURSIVE / UnionLoop): generate the
  // month spine of the order date range and gap-fill monthly totals —
  // the calendar-dimension primitive warehouses derive rather than
  // store. The two range bounds are scalar driver lookups (bounded
  // collect, like s01's query vector); the recursion itself runs in
  // the engine, one month per level (~80 levels, under the default
  // recursion limit — a DAY spine would need the limit raised).
  val q49 = Query("q49_month_spine", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      val row = s.sql(
        """SELECT CAST(date_trunc('MONTH', min(o_orderdate)) AS STRING),
                  CAST(date_trunc('MONTH', max(o_orderdate)) AS STRING)
           FROM orders""").head()
      val (lo, hi) = (row.getString(0), row.getString(1))
      s.sql(s"""
        WITH RECURSIVE spine AS (
          SELECT TIMESTAMP '$lo' AS month_start
          UNION ALL
          SELECT month_start + INTERVAL '1' MONTH FROM spine
          WHERE month_start < TIMESTAMP '$hi'
        ),
        agg AS (
          SELECT date_trunc('MONTH', o_orderdate) AS month_start,
                 count(*) AS n,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
          FROM orders GROUP BY 1
        )
        SELECT month_start,
               COALESCE(n, 0L) AS n_orders,
               COALESCE(tot, 0.0D) AS total_price
        FROM spine LEFT JOIN agg USING (month_start)
      """)
    },
    """WITH RECURSIVE spine AS (
           SELECT date_trunc('month', (SELECT min(o_orderdate) FROM orders)) AS month_start
           UNION ALL
           SELECT month_start + INTERVAL 1 MONTH FROM spine
           WHERE month_start < date_trunc('month', (SELECT max(o_orderdate) FROM orders))
         ),
         agg AS (
           SELECT date_trunc('month', o_orderdate) AS month_start,
                  count(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
           FROM orders GROUP BY 1
         )
         SELECT month_start,
                COALESCE(n, CAST(0 AS BIGINT)) AS n_orders,
                COALESCE(tot, 0.0) AS total_price
         FROM spine LEFT JOIN agg USING (month_start)""")

  // correlated EXISTS / NOT EXISTS through the SQL front-end —
  // Catalyst decorrelates both into semi/anti joins (no per-row
  // subquery execution, the property that keeps correlated predicates
  // viable at scale)
  val q50 = Query("q50_exists", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
          AND NOT EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = o.o_orderkey
                            AND l2.l_discount > 0.09)
      """)
    },
    """SELECT o_orderkey, o_totalprice FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
           AND NOT EXISTS (SELECT 1 FROM lineitem l2
                           WHERE l2.l_orderkey = o.o_orderkey
                             AND l2.l_discount > 0.09)""")

  // equi-width histogram (data-profiling tier): 20 buckets over the
  // price range per return flag. Bounds come from one broadcast stats
  // row; the bucket index is a fixed single-op sequence on doubles
  // (identical both engines), the max value clamped into the last
  // bucket. One partial/final agg pass — the scan never reshuffles.
  val q51 = Query("q51_histogram", (s, dir) => {
      val nb = 20
      val bounds = t(s, dir, "lineitem").agg(
        min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
      t(s, dir, "lineitem")
        .crossJoin(broadcast(bounds))
        .select(col("l_returnflag"),
          bucketIdx(col("l_extendedprice"), col("lo"), col("hi"), nb).as("bucket"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(count(lit(1)).as("n"))
    },
    """WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
                    FROM lineitem)
         SELECT l_returnflag,
                least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / 20)) AS BIGINT),
                      19) AS bucket,
                count(*) AS n
         FROM lineitem, b
         GROUP BY 1, 2""")

  // column profiling ("ANALYZE TABLE" surface): per-column row count,
  // null count, exact distinct, min/max — the statistics a cost-based
  // optimizer and a data-quality dashboard both consume. One pass for
  // the scalar stats; exact distincts expand per column (Spark plans
  // multi-distinct via Expand, still one scan).
  val q52 = Query("q52_profile", (s, dir) =>
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("null_status"),
        countDistinct(col("o_orderstatus")).as("distinct_status"),
        countDistinct(col("o_custkey")).as("distinct_custkey"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date")),
    """SELECT count(*) AS n_rows,
                CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS null_status,
                count(DISTINCT o_orderstatus) AS distinct_status,
                count(DISTINCT o_custkey) AS distinct_custkey,
                min(o_totalprice) AS min_price,
                max(o_totalprice) AS max_price,
                min(o_orderdate) AS min_date,
                max(o_orderdate) AS max_date
         FROM orders""")

  // the TPC-H Q5 shape: a 6-table star join (lineitem ⋈ orders ⋈
  // customer ⋈ supplier ⋈ nation ⋈ region) with an alignment predicate
  // (customer and supplier in the SAME nation), selective dimension
  // filter, date range, and exact DECIMAL revenue rollup. The
  // dimension chain broadcasts end-to-end; the only real exchange is
  // lineitem ⋈ orders — the plan join reordering must find.
  val q53 = Query("q53_regional_revenue", (s, dir) => {
      val dec = (c: Column) => c.cast(DecimalType(18, 2))
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
                col("o_orderdate") < lit("1998-01-01"))
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(BigDecimal(1)) - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    },
    """SELECT n_name,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                     AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1""")

  // NULL-semantics surface: a nullable key (NULLIF), a NULL-SAFE
  // equi-join (`<=>` / IS NOT DISTINCT FROM — the form that still
  // plans as a hash join, unlike an OR-of-IS-NULLs), NULLs forming
  // their own GROUP BY group, and count(col) vs count(*) divergence.
  // These are the semantics data pipelines silently get wrong; one
  // query pins them all cross-engine.
  val q54 = Query("q54_null_semantics", (s, dir) => {
      import s.implicits._
      val a = t(s, dir, "orders")
        .select(col("o_orderkey"), expr("nullif(o_orderstatus, 'O')").as("st"))
      val dim = Seq(("F", "final"), ("P", "pending"),
        (null.asInstanceOf[String], "unknown")).toDF("k", "label")
      a.join(broadcast(dim), col("st") <=> col("k"), "left")
        .groupBy(col("st"), col("label"))
        .agg(count(lit(1)).as("n_rows"), count(col("st")).as("n_nonnull"))
    },
    """WITH a AS (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st FROM orders),
         dim(k, label) AS (VALUES ('F', 'final'), ('P', 'pending'), (NULL, 'unknown'))
         SELECT st, label, count(*) AS n_rows, count(st) AS n_nonnull
         FROM a LEFT JOIN dim ON st IS NOT DISTINCT FROM k
         GROUP BY 1, 2""")

  // ordered string aggregation (LISTAGG/string_agg surface): the
  // deterministic form — collect the distinct set, sort, join — since
  // an unordered string_agg is partition-order-dependent and therefore
  // not reproducible. Distinct sets here are bounded domains (status ×
  // priority), so the collected state is small by contract.
  val q55 = Query("q55_string_agg", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
            .as("priorities"),
          countDistinct(col("o_orderpriority")).as("n_priorities"),
          count(lit(1)).as("n_orders")),
    """SELECT o_orderstatus,
                array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',')
                  AS priorities,
                count(DISTINCT o_orderpriority) AS n_priorities,
                count(*) AS n_orders
         FROM orders GROUP BY 1""")

  // referential-integrity audit (the dbt-test / data-contract surface):
  // orphan counts for every FK edge of the star schema in ONE lazy
  // result, ONE scan per fact table — a fact with several FK edges
  // takes all its broadcast membership probes (left joins against
  // marker key sets) in the same pass, and the per-edge orphan counts
  // are conditional sums over the missing markers. Lazy throughout:
  // Explain shows the real audit plan and the action runs once.
  val q56 = Query("q56_fk_audit", (s, dir) => {
      def keys(df: DataFrame, k: String, marker: String) =
        broadcast(df.select(col(k)).distinct().withColumn(marker, lit(1)))
      def edges(fact: DataFrame, probes: Seq[(String, String, DataFrame, String)]) =
        probes.foldLeft(fact) { case (f, (factKey, dimKey, dim, marker)) =>
          f.join(keys(dim, dimKey, marker).withColumnRenamed(dimKey, factKey),
            Seq(factKey), "left")
        }.agg(probes.map { case (_, _, _, m) =>
            sum(when(col(m).isNull, 1L).otherwise(0L)).as(m) }.head,
          probes.map { case (_, _, _, m) =>
            sum(when(col(m).isNull, 1L).otherwise(0L)).as(m) }.tail: _*)
      val liAudit = edges(t(s, dir, "lineitem"), Seq(
        ("l_orderkey", "o_orderkey", t(s, dir, "orders"), "m_ord"),
        ("l_partkey", "p_partkey", t(s, dir, "part"), "m_part"),
        ("l_suppkey", "s_suppkey", t(s, dir, "supplier"), "m_supp")))
      val ordAudit = edges(t(s, dir, "orders"), Seq(
        ("o_custkey", "c_custkey", t(s, dir, "customer"), "m_cust")))
      val custAudit = edges(t(s, dir, "customer"), Seq(
        ("c_nationkey", "n_nationkey", t(s, dir, "nation"), "m_nat")))
      // unpivot each one-row audit via explode so the fact scan executes
      // once per table (a union of selects would re-run it per edge)
      def unpivot(audit: DataFrame, names: Seq[(String, String)]) =
        audit.select(explode(array(names.map { case (m, label) =>
            struct(lit(label).as("fk_edge"), col(m).as("n_orphans")) }: _*)).as("e"))
          .select(col("e.fk_edge"), col("e.n_orphans"))
      unpivot(liAudit, Seq(
          ("m_ord", "lineitem.orderkey->orders"),
          ("m_part", "lineitem.partkey->part"),
          ("m_supp", "lineitem.suppkey->supplier")))
        .unionByName(unpivot(ordAudit, Seq(("m_cust", "orders.custkey->customer"))))
        .unionByName(unpivot(custAudit, Seq(("m_nat", "customer.nationkey->nation"))))
    },
    // NOT EXISTS, not NOT IN: left_anti counts a NULL-keyed fact row as
    // an orphan while NOT IN's NULL semantics would silently suppress
    // whole edges — NOT EXISTS matches anti-join semantics exactly
    """SELECT 'lineitem.orderkey->orders' AS fk_edge,
                (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
         UNION ALL SELECT 'lineitem.partkey->part',
                (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
         UNION ALL SELECT 'lineitem.suppkey->supplier',
                (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                  (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
         UNION ALL SELECT 'orders.custkey->customer',
                (SELECT count(*) FROM orders o WHERE NOT EXISTS
                  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         UNION ALL SELECT 'customer.nationkey->nation',
                (SELECT count(*) FROM customer c WHERE NOT EXISTS
                  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))""")

  // q43's scale path: exact nearest-rank percentiles WITHOUT ranking
  // raw rows — aggregate to per-(group, value) counts first (map-side
  // combined; the window then runs over distinct values, not rows),
  // cumulate, and take the smallest value whose cumulative count
  // reaches ⌈p·n⌉ — identical results to q43 (same oracle), but the
  // sort touches |distinct values| per group instead of |rows|.
  val q57 = Query("q57_percentiles_agg", (s, dir) => {
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).as("c"))
      val byFlag = Window.partitionBy(col("l_returnflag"))
      val cum = counts
        .withColumn("cum", sum(col("c")).over(
          byFlag.orderBy(col("l_extendedprice"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c")).over(byFlag))
      cum.groupBy(col("l_returnflag")).agg(
        min(when(col("cum") >= ceil(col("n") * 0.5), col("l_extendedprice"))).as("p50"),
        min(when(col("cum") >= ceil(col("n") * 0.9), col("l_extendedprice"))).as("p90"),
        min(when(col("cum") >= ceil(col("n") * 0.99), col("l_extendedprice"))).as("p99"))
    },
    """WITH r AS (
           SELECT l_returnflag, l_extendedprice,
                  row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY l_extendedprice) AS rn,
                  count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         SELECT l_returnflag,
                max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS p50,
                max(CASE WHEN rn = ceil(n * 0.9) THEN l_extendedprice END) AS p90,
                max(CASE WHEN rn = ceil(n * 0.99) THEN l_extendedprice END) AS p99
         FROM r GROUP BY 1""")

  // FULL OUTER join — the one join type the surface lacked (inner /
  // left / semi / anti / as-of / interval are covered elsewhere):
  // per-nation customer vs supplier presence, where each side
  // genuinely contributes unmatched rows (q13 shows the key sets
  // differ). Aggregate-then-join so the outer join runs on the small
  // per-key frames, and the nullable sides surface as explicit zeros.
  val q58 = Query("q58_full_outer", (s, dir) => {
      val c = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_supp"))
      c.join(su, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    },
    """WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
                    FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
               FROM supplier GROUP BY 1)
         SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
                COALESCE(n_cust, 0) AS n_cust,
                COALESCE(n_supp, 0) AS n_supp
         FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey""")

  // the ranking window-function family q14 (row_number) and q40
  // (ntile/first/last/nth) leave open: rank / dense_rank with their
  // tie semantics (quantities tie heavily, so gaps vs no-gaps
  // genuinely differ) and the distribution functions percent_rank =
  // (rank−1)/(N−1), cume_dist = peers≤/N — exact integer ratios, so
  // the doubles hash-match. One shuffle + one sort serves all four.
  val q59 = Query("q59_rank_funcs", (s, dir) => {
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cd"))
    },
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                CAST(rank() OVER w AS INT) AS rnk,
                CAST(dense_rank() OVER w AS INT) AS drnk,
                percent_rank() OVER w AS prnk,
                cume_dist() OVER w AS cd
         FROM lineitem
         WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)""")

  // corpus snapshot DIFF — the data-versioning primitive (what changed
  // between yesterday's corpus build and today's): two deterministic
  // versions of the documents table (A drops every doc_id ≡ 3 mod 11,
  // B drops ≡ 5 mod 13 and patches ≡ 0 mod 17) are compared by content
  // HASH, not content — md5 is taken inside each side's projection so
  // the full-outer shuffle moves (doc_id, 32-hex) rows, never text.
  // That is the 100 TB contract: diffing two corpus snapshots costs
  // two scans plus one id-keyed join of fixed-width digests. Statuses:
  // added (absent in A), removed (absent in B), changed (both present,
  // hash differs), unchanged.
  val q60 = Query("q60_corpus_diff", (s, dir) => {
      val d = t(s, dir, "documents")
      val va = d.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"), md5(col("text")).as("old_hash"))
      val vb = d.filter(col("doc_id") % 13 =!= 5)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 17 === 0, upper(col("text")))
            .otherwise(col("text"))).as("new_hash"))
      va.join(vb, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("old_hash").isNull, "added")
            .when(col("new_hash").isNull, "removed")
            .when(col("old_hash") =!= col("new_hash"), "changed")
            .otherwise("unchanged").as("status"),
          col("old_hash"), col("new_hash"))
    },
    """WITH a AS (SELECT doc_id, md5(text) AS old_hash
                    FROM documents WHERE doc_id % 11 <> 3),
         b AS (SELECT doc_id,
                 md5(CASE WHEN doc_id % 17 = 0 THEN upper(text)
                          ELSE text END) AS new_hash
               FROM documents WHERE doc_id % 13 <> 5)
         SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                CASE WHEN a.doc_id IS NULL THEN 'added'
                     WHEN b.doc_id IS NULL THEN 'removed'
                     WHEN a.old_hash <> b.new_hash THEN 'changed'
                     ELSE 'unchanged' END AS status,
                a.old_hash, b.new_hash
         FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""")

  // correlated LATERAL subquery with ORDER BY + LIMIT — the "top-N per
  // outer row" SQL surface (Spark 3.2+'s LATERAL keyword; DuckDB has
  // the same). The analyzer decorrelates the limit-under-correlation
  // into a DomainJoin + per-domain window, so the declarative form
  // plans as one join + one bounded window — NOT a nested loop
  // re-running the inner query per outer row. The outer side (nation)
  // is bounded metadata; the inner scan is shared across all outer
  // rows after decorrelation, which is exactly the 100 TB contract.
  val q61 = Query("q61_lateral", (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_name, c_acctbal FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      """)
    },
    """SELECT n.n_name, t.c_name, t.c_acctbal
         FROM nation n,
         LATERAL (SELECT c_name, c_acctbal FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_name LIMIT 2) t""")

  // higher-order array functions — the nested-collection compute
  // surface (transform / filter / aggregate-fold / zip_with /
  // array_distinct / reverse / slice) over per-order quantity arrays.
  // The collect_list is ordered deterministically by sorting
  // (linenumber, qty) structs — collect_list order is
  // partition-dependent, array_sort restores a canonical order — and
  // every lambda is a codegen'd expression evaluated per element with
  // NO row explosion: the whole query is one hash aggregate plus a
  // per-row projection, the reason higher-order functions beat
  // explode→groupBy rewrites at scale (no shuffle amplification by
  // array length). Folds are pinned left-to-right in both engines
  // (Spark `aggregate` ≡ DuckDB `list_reduce`), so double sums are
  // bit-identical.
  val q62 = Query("q62_higher_order", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(transform(
          array_sort(collect_list(struct(col("l_linenumber"), col("l_quantity")))),
          x => x.getField("l_quantity")).as("qtys"))
        .select(
          col("l_orderkey"),
          size(col("qtys")).as("n_items"),
          size(filter(col("qtys"), x => x > 25)).as("n_heavy"),
          aggregate(col("qtys"), lit(0.0), (a, x) => a + x).as("total_qty"),
          aggregate(
            zip_with(col("qtys"),
              sequence(lit(1L), size(col("qtys")).cast(LongType)),
              (q, i) => q * i.cast(DoubleType)),
            lit(0.0), (a, x) => a + x).as("pos_weighted"),
          size(array_distinct(col("qtys"))).as("n_distinct"),
          array_join(transform(slice(reverse(col("qtys")), 1, 3),
            x => x.cast(IntegerType).cast(StringType)), ",").as("last3")),
    // list_reduce folds left-to-right like Spark's aggregate; the
    // list_prepend supplies the 0.0 seed. list() with ORDER BY
    // (l_linenumber, l_quantity) pins the same canonical element order
    // as the array_sort'd struct collect — linenumber alone is NOT a
    // total order in this corpus (duplicate (orderkey, linenumber)
    // pairs exist), so the qty tiebreak is load-bearing.
    """WITH arr AS (
           SELECT l_orderkey,
                  list(l_quantity ORDER BY l_linenumber, l_quantity) AS qtys
           FROM lineitem GROUP BY 1)
         SELECT l_orderkey,
                CAST(len(qtys) AS INT) AS n_items,
                CAST(len(list_filter(qtys, x -> x > 25)) AS INT) AS n_heavy,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE), qtys),
                            (a, x) -> a + x) AS total_qty,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(range(1, len(qtys) + 1),
                                   i -> qtys[CAST(i AS INT)] * i)),
                            (a, x) -> a + x) AS pos_weighted,
                CAST(len(list_distinct(qtys)) AS INT) AS n_distinct,
                array_to_string(list_transform(
                    list_slice(list_reverse(qtys), 1, 3),
                    x -> CAST(CAST(x AS INT) AS VARCHAR)), ',') AS last3
         FROM arr""")

  // correlated-subquery min — TPC-H Q2's essential shape (lineitem
  // rows whose price IS the corpus-wide minimum for their part):
  // Catalyst de-correlates the per-part MIN subquery into an
  // aggregate + self-join, the rewrite every warehouse migration
  // exercises. Keys land on (partkey = min's partkey AND price =
  // min price); ties (several suppliers at the min) are all kept —
  // Q2's semantics.
  val q63 = Query("q63_correlated_min", (s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT p.p_partkey, l.l_suppkey, l.l_extendedprice
        FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_size >= 40
          AND l.l_extendedprice = (
            SELECT min(l2.l_extendedprice) FROM lineitem l2
            WHERE l2.l_partkey = p.p_partkey)""")
    },
    """SELECT p.p_partkey, l.l_suppkey, l.l_extendedprice
         FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
         WHERE p.p_size >= 40
           AND l.l_extendedprice = (
             SELECT min(l2.l_extendedprice) FROM lineitem l2
             WHERE l2.l_partkey = p.p_partkey)""")

  // relational DIVISION — "customers who ordered in EVERY priority
  // class", the classic ∀-quantified join (Codd's ÷). Two equivalent
  // formulations exist; the scalable one is counting: group the
  // distinct (custkey, priority) pairs and keep customers whose
  // distinct-priority count equals the universe size (a broadcast
  // one-row subquery) — one shuffle on custkey, no double NOT EXISTS
  // nested-loop anywhere.
  val q64 = Query("q64_rel_division", (s, dir) => {
      val o = t(s, dir, "orders")
      val universe = o.select(col("o_orderpriority")).distinct()
        .agg(count(lit(1)).as("n_all"))
      o.select(col("o_custkey"), col("o_orderpriority")).distinct()
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_prio"))
        .crossJoin(broadcast(universe))
        .filter(col("n_prio") === col("n_all"))
        .select(col("o_custkey"), col("n_prio"))
    },
    """WITH u AS (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_all
                    FROM orders),
           cp AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
         SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_prio
         FROM cp, u
         GROUP BY o_custkey, u.n_all
         HAVING count(*) = u.n_all""")

  // sequential pattern detection — the MATCH_RECOGNIZE shape Spark
  // lacks as SQL surface, expressed as running state over an ordered
  // per-user stream: a PURCHASE "converts cleanly" iff the most
  // recent preceding VIEW is within 30 minutes AND no ERROR landed
  // between them. Two conditional running-max windows (last view ts,
  // last error ts) turn the regex-ish "V (not E)* P within t" into
  // three per-row comparisons — one partition-local sort per user,
  // no self-join, no explosion; the 100 TB shape is billions of
  // users × bounded sessions, never one giant ordered partition.
  val q65 = Query("q65_pattern_match", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      eventsTable(s, dir)
        .withColumn("last_view",
          max(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("last_error",
          max(when(col("event_type") === "error", col("ts"))).over(w))
        .filter(col("event_type") === "purchase" &&
          col("last_view").isNotNull &&
          unix_timestamp(col("ts")) - unix_timestamp(col("last_view")) <= 1800 &&
          (col("last_error").isNull || col("last_error") < col("last_view")))
        .select(col("user_id"), col("event_id"),
          col("last_view").as("view_ts"), col("ts").as("purchase_ts"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("last_view")))
            .as("secs_to_convert"))
    },
    // same two conditional running-max windows; second-truncated epochs
    // (epoch_us // 1e6) replicate Spark's unix_timestamp floor
    """WITH st AS (SELECT user_id, event_id, ts, event_type,
               max(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_view,
               max(CASE WHEN event_type = 'error' THEN ts END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_error
             FROM events)
         SELECT user_id, event_id, last_view AS view_ts, ts AS purchase_ts,
                CAST(epoch_us(ts) // 1000000
                     - epoch_us(last_view) // 1000000 AS BIGINT)
                  AS secs_to_convert
         FROM st
         WHERE event_type = 'purchase' AND last_view IS NOT NULL
           AND epoch_us(ts) // 1000000 - epoch_us(last_view) // 1000000 <= 1800
           AND (last_error IS NULL OR last_error < last_view)""")

  // key-skew diagnostics for a prospective join/shuffle key — the
  // measurement that decides j01's salt factor (and whether to salt at
  // all) before the join ever runs. Operator is
  // [[graft.operators.Relational.skewProfile]]: per-key counts, then
  // one scalar roll-up of exact integer moments — no global window, no
  // sort; every ratio is a fixed-shape double expression so the
  // profile is bit-identical cross-engine. Key here is l_suppkey, the
  // key j01 salts.
  val q66 = Query("q66_skew_profile", (s, dir) =>
      graft.operators.Relational.skewProfile(t(s, dir, "lineitem"), "l_suppkey"),
    // same integer moments (n, Σc, Σc², max) then the same fixed-shape
    // double expressions — one correctly-rounded sqrt, bit-identical
    """WITH c AS (SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS cnt
                    FROM lineitem GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_keys,
                CAST(sum(cnt) AS BIGINT) AS n_rows,
                CAST(max(cnt) AS BIGINT) AS max_cnt,
                CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_cnt,
                sqrt(greatest(CAST(0 AS DOUBLE),
                       CAST(sum(cnt * cnt) AS DOUBLE)
                       - CAST(sum(cnt) AS DOUBLE) * CAST(sum(cnt) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE))
                     / CAST(count(*) AS DOUBLE))
                  / (CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS cv,
                CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
                  AS top1_share,
                CAST(max(cnt) AS DOUBLE) * CAST(count(*) AS DOUBLE)
                  / CAST(sum(cnt) AS DOUBLE) AS skew_ratio,
                CAST(ceil(CAST(max(cnt) AS DOUBLE) * CAST(count(*) AS DOUBLE)
                  / CAST(sum(cnt) AS DOUBLE)) AS INT) AS recommended_salt
         FROM c""")

  // NEAREST as-of join (q30's directional completion — pandas
  // merge_asof's third direction, which neither Spark nor most SQL
  // engines ship natively): each event matches whichever adjacent
  // order is closer in time, backward on ties. Same single-shuffle
  // union frame as q30; the backward and forward candidates are two
  // RANGE-framed window carries sharing ONE partitioning and sort,
  // and the pick is an integer microsecond-delta compare — see
  // [[graft.operators.Relational.asofJoinDirected]]. The oracle
  // replays it as two engine ASOF joins (>= and <=) + the same CASE.
  val q67 = Query("q67_asof_nearest", (s, dir) => {
      val ev = eventsTable(s, dir).select(col("event_id"), col("ts"), col("user_id"))
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      Relational.asofJoinDirected(ev, ord, "user_id", "ts", "o_orderdate",
        direction = "nearest")
    },
    // two engine ASOF joins (backward >=, forward <=) + the same
    // strict-< integer microsecond-delta CASE, ties to backward
    """WITH o AS (SELECT o_custkey AS user_id, o_orderdate,
                           max(o_orderkey) AS o_orderkey
                    FROM orders GROUP BY 1, 2),
           b AS (SELECT e.event_id, e.ts, e.user_id,
                        o.o_orderdate AS bd, o.o_orderkey AS bk
                 FROM events e ASOF LEFT JOIN o
                   ON e.user_id = o.user_id AND e.ts >= o.o_orderdate),
           f AS (SELECT e.event_id,
                        o.o_orderdate AS fd, o.o_orderkey AS fk
                 FROM events e ASOF LEFT JOIN o
                   ON e.user_id = o.user_id AND e.ts <= o.o_orderdate)
         SELECT b.event_id, b.ts, b.user_id,
                CASE WHEN bd IS NULL THEN fd WHEN fd IS NULL THEN bd
                     WHEN epoch_us(CAST(fd AS TIMESTAMP)) - epoch_us(b.ts)
                        < epoch_us(b.ts) - epoch_us(CAST(bd AS TIMESTAMP))
                     THEN fd ELSE bd END AS o_orderdate,
                CASE WHEN bd IS NULL THEN fk WHEN fd IS NULL THEN bk
                     WHEN epoch_us(CAST(fd AS TIMESTAMP)) - epoch_us(b.ts)
                        < epoch_us(b.ts) - epoch_us(CAST(bd AS TIMESTAMP))
                     THEN fk ELSE bk END AS o_orderkey
         FROM b JOIN f USING (event_id)""")

  // the skew-salted join surfaced as a harness query: the salt only
  // respreads a hot key's rows across `factor` reducers, so the result
  // SET is identical to the plain inner join and the oracle is ordinary
  // SQL (the skew-resistance itself is plan-shape, asserted in
  // RelationalSpec)
  val j01 = Query("j01_salted_join", (s, dir) =>
      Relational.saltedJoin(
        t(s, dir, "orders"),
        t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment")),
        "o_custkey", 8)
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("c_mktsegment")),
    """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
         FROM orders INNER JOIN customer ON o_custkey = c_custkey""")

  // runtime bloom-prefilter join: the dimension (a selective customer
  // subset, which the operator's join merge-hints so it genuinely
  // doesn't broadcast) is reduced to a bloom filter; the fact side
  // drops non-candidate rows BEFORE its shuffle. Result identical to
  // the plain join — the bloom only moves work ahead of the exchange
  // (see Relational.bloomPrefilterJoin)
  val j02 = Query("j02_bloom_join", (s, dir) => {
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      Relational.bloomPrefilterJoin(
          t(s, dir, "orders"), dim, "o_custkey",
          expectedItems = 1L << 16, fpp = 0.01)
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
    },
    """SELECT o_orderkey, o_custkey, c_name
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'""")

  // MERGE / upsert: a change batch (updated totals for keys ≡ 0 mod 97,
  // brand-new orders for keys ≡ 0 mod 997) applied onto orders — the
  // lakehouse MERGE INTO reduced to anti-join + unionByName (see
  // Relational.mergeUpsert). The price bump is plain double
  // multiplication, an identical single IEEE op in both engines.
  val j03 = Query("j03_merge_upsert", (s, dir) => {
      val target = t(s, dir, "orders")
      val upd = target.filter(pmod(col("o_orderkey"), lit(97L)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .withColumn("o_orderstatus", lit("U"))
      val ins = target.filter(pmod(col("o_orderkey"), lit(997L)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      Relational.mergeUpsert(target, upd.unionByName(ins), Seq("o_orderkey"))
    },
    """WITH src AS (
           SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                  o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 97 = 0
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
                  o_totalprice, o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 997 = 0)
         SELECT t.* FROM orders t
         WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey)
         UNION ALL
         SELECT * FROM src""")

  // incremental materialized-view maintenance: yesterday's aggregate
  // (base partials) merged with today's batch (delta partials) WITHOUT
  // rescanning base rows — the ⊕-merge of partial aggregates that makes
  // a 100 TB rollup maintainable. count merges by sum; DECIMAL sums
  // merge exactly (order-independent), so the merged view is
  // bit-identical to the full recompute the oracle performs.
  val j04 = Query("j04_incremental_agg", (s, dir) => {
      def partials(df: DataFrame) = df.groupBy(col("o_custkey")).agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("tot"))
      val orders = t(s, dir, "orders")
      val base = partials(orders.filter(pmod(col("o_orderkey"), lit(5L)) =!= 0))
      val delta = partials(orders.filter(pmod(col("o_orderkey"), lit(5L)) === 0))
      base.unionByName(delta)
        .groupBy(col("o_custkey"))
        .agg(sum(col("n_orders")).as("n_orders"), sum(col("tot")).as("tot"))
        .select(col("o_custkey"), col("n_orders"),
          col("tot").cast(DoubleType).as("total_price"))
    },
    """SELECT o_custkey, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY 1""")

  // interval-OVERLAP join with NO equality key — the proximity-join
  // shape ("every purchase within 10 min of an error"): each event
  // carries a half-open 10-minute window and a pair qualifies iff the
  // windows overlap, i.e. |t_p − t_e| < 10 min. Declaratively that is
  // a keyless inequality theta-join — a BroadcastNestedLoopJoin, the
  // canonical scale-killer. [[graft.operators.Relational
  // .intervalOverlapJoin]] grid-buckets BOTH sides (time buckets are
  // the join key; ≤2× replication at width = window) and emits each
  // pair only in the bucket of max(start, start) — duplicate-free with
  // no post-join distinct. All math in integer micros; the overlap
  // duration is exact BIGINT arithmetic both engines replay.
  val j05 = Query("j05_overlap_join", (s, dir) => {
      val W = 600L * 1000000L // 10 minutes in micros
      val ev = eventsTable(s, dir)
      def side(tp: String, p: String) = ev
        .filter(col("event_type") === tp)
        .select(col("event_id").as(s"${p}_id"),
          unix_micros(col("ts")).as(s"${p}_us"))
        .withColumn(s"${p}_end", col(s"${p}_us") + W)
      Relational.intervalOverlapJoin(
          side("purchase", "p"), side("error", "e"),
          "p_us", "p_end", "e_us", "e_end", Seq.empty, W)
        .select(col("p_id"), col("e_id"),
          (least(col("p_end"), col("e_end"))
            - greatest(col("p_us"), col("e_us"))).as("overlap_us"))
    },
    // the declarative inequality theta-join the grid join replaces —
    // overlap of [t, t+10min) windows ⇔ |t_p − t_e| < 10 min; exact
    // integer-micros arithmetic in both engines
    """WITH p AS (SELECT event_id AS p_id, epoch_us(ts) AS p_us
                    FROM events WHERE event_type = 'purchase'),
            e AS (SELECT event_id AS e_id, epoch_us(ts) AS e_us
                  FROM events WHERE event_type = 'error')
         SELECT p_id, e_id,
                least(p_us, e_us) + 600000000 - greatest(p_us, e_us) AS overlap_us
         FROM p JOIN e
           ON p_us < e_us + 600000000 AND e_us < p_us + 600000000""")

  val all: Seq[Query] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25,
    q26, q27, q28, q29, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40,
    q41, q42, q43, q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54, q55,
    q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q67, j01, j02, j03,
    j04, j05)
}
