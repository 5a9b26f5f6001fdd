package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Relational, WeatherOps}

/**
 * The query surface: one entry per operator from SURVEY.md §2 (instantiated
 * on the harness tables per §7.1 M3) plus the north-star LLM-pipeline
 * operators (§7.1 M5). Each `all` entry has a DuckDB-runnable oracle in
 * `oracles` unless the operator is not SQL-expressible (then the driver
 * records a rows-only check).
 *
 * Oracle-parity rules used throughout (so hash compares are bit-exact):
 *  - double SUMs go through DECIMAL(18,2) casts (exact, order-independent)
 *    and back to double; per-row double arithmetic is identical IEEE754 in
 *    both engines when the operation order matches;
 *  - fold order for array sums is pinned left-to-right in both engines
 *    (Spark `aggregate`, DuckDB `list_reduce`);
 *  - every LIMIT is preceded by a total ORDER BY.
 */
object Queries {

  /**
   * Base-table reads are memoized per (session, dir, table) in
   * [[SessionCache]]: a fresh `spark.read.parquet` builds a new
   * InMemoryFileIndex (file listing + footer schema read) every call, and
   * a 198-query bench pass re-lists each table dozens of times — pure
   * fixed cost at any scale (on a real cluster it is an object-store LIST
   * per query). Every query shares one file index and one resolved schema
   * per table. Plans are unchanged (same logical read); nothing is
   * persisted, and [[NorthStar.releaseCaches]] drops the entries so a
   * long-lived session whose files were rewritten can re-resolve.
   */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    SessionCache.memo(s, dir, ("table", name))(s.read.parquet(s"$dir/$name.parquet"))

  /** Clamp-to-last-bucket equi-width bucket index — the shared bucket
    * algebra of q51/a03 (a fixed single-op double sequence both engines
    * execute identically; the max value lands in bucket nb−1). */
  private def bucketIdx(x: Column, lo: Column, hi: Column, nb: Int): Column =
    least(floor((x - lo) / ((hi - lo) / nb)).cast(LongType), lit(nb - 1L))

  /**
   * events.ts arrives in whatever physical form the generator last wrote:
   * parquet TIMESTAMP(NANOS) surfaces as a long under the legacy
   * nanosAsLong reader (set once at session build by Verify/Bench/tests,
   * NOT here: a per-query conf mutation would be an order-dependent
   * global), and naive TIMESTAMP(MICROS) surfaces as TimestampNTZ under
   * Spark's NTZ inference. Normalize BOTH to a microsecond TimestampType
   * (identity wall-clock under the UTC session) so every downstream op —
   * and every test — sees one stable timestamp type, exactly as DuckDB
   * sees one naive TIMESTAMP regardless of the physical encoding.
   */
  private[graft] def eventsTable(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /**
   * Undirected simple part co-order graph: parts sharing an order, both
   * line quantities >= `minQty`; one (u < v) row per pair, no dups. The
   * single-sourced edge set every g-tier query binds to (g05 audits its
   * wedge bounds; the oracles re-derive it per query by necessity).
   *
   * Memoized + persisted per (session, dir, minQty): seven g-tier queries
   * bind the same co-order graph, and without the memo each re-runs the
   * lineitem group-and-pair build with its corpus-scale distinct — 12
   * scan+shuffle rounds at 100 TB where one materialized table suffices
   * (round-7/8 verdict item #1). Persist is lazy — the first g query
   * materializes it; the graph operators' internal localCheckpoints then
   * copy from the cache instead of re-deriving the join.
   * [[NorthStar.releaseCaches]] is the lifecycle handle (Bench releases
   * between passes; long-lived sessions call it when the corpus changes).
   */
  private[graft] def coOrderEdges(s: SparkSession, dir: String,
                                  minQty: Int): DataFrame =
    SessionCache.memo(s, dir, ("coOrder", minQty)) {
      // per-order pair generation via a sorted part set + double explode:
      // one groupBy shuffle replaces the (distinct + self-join) pair —
      // collect_set IS the (o, p) dedup, and sort_array makes each pair
      // emerge exactly once as (earlier, later), already u < v. The
      // per-group array is bounded by order width (a handful of parts
      // per order in this schema — NOT a corpus-scale list; a key whose
      // group cannot fit one executor row needs the self-join shape).
      val parts = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= minQty)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .filter(size(col("ps")) >= 2)
      parts.select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
        .select(col("u"), explode(slice(col("ps"), col("i") + lit(2),
          size(col("ps")))).as("v"))
        .distinct()
        .persist()
    }

  /**
   * The supplier↔part bipartite incidence graph (distinct lineitem
   * (l_suppkey, l_partkey + 10^7) pairs) — the SECOND shared g-tier
   * edge set, memoized + persisted exactly like [[coOrderEdges]]
   * (r17 optimization): g02 PageRank and g12 PPR bind this graph, and
   * without the memo each query re-ran the corpus-scale scan +
   * distinct shuffle (g12 stage metrics: 0.39 s map + 1.0 s cpu
   * finalize per derivation) — two full builds per bench pass, 4
   * corpus passes at 100 TB, where one materialized edge table
   * suffices. g04 BFS was ALSO bound here in r17 and measured ~0.2 s
   * WORSE, so it keeps its lazy 2-column scan — the revert note lives
   * on the g04 operator itself (r18 docstring fix: this header used to
   * still claim g04 binds the memo).
   */
  private[graft] def supplierPartEdges(s: SparkSession, dir: String): DataFrame =
    SessionCache.memo(s, dir, "bipartite") {
      t(s, dir, "lineitem")
        .select(col("l_suppkey").as("s"), (col("l_partkey") + 10000000L).as("p"))
        .distinct()
        .persist()
    }

  /** Per-(keys, j) HLL register maxima over `user_id` — m = 64, the
    * a04 FNV hash / rho family, shared by a04 (corpus-wide) and a09
    * (per-hour, window-merged) so the two sketches cannot drift. */
  private[graft] def hllRegisters(ev: DataFrame, keys: Seq[String]): DataFrame = {
    val hv = graft.functions.Hashing.fnvChecksum(
      col("user_id").cast(StringType).cast(BinaryType))
    val rho = (6 to 37).foldRight(lit(33): Column)((k, els) =>
      when(col("h").bitwiseAND(lit(1L << k)) =!= lit(0L), lit(k - 5))
        .otherwise(els))
    ev.select(keys.map(col) :+ hv.as("h"): _*)
      .select(keys.map(col) ++ Seq(
        col("h").bitwiseAND(lit(63L)).cast("int").as("j"), rho.as("rho")): _*)
      .groupBy((keys :+ "j").map(col): _*).agg(max(col("rho")).as("m_j"))
  }

  /** Register table → per-`keys` (n_present, sum 2^−m_j) — the two
    * inputs of the HLL harmonic estimate; the double sum is EXACT
    * (power-of-two terms spanning < 52 mantissa bits). */
  private[graft] def hllEstimate(regs: DataFrame, keys: Seq[String]): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_present"),
        sum(pow(lit(2.0), -col("m_j").cast(DoubleType))).as("sum_present"))

  /** The m = 64 harmonic estimate α·m² / (Σ2^−m_j + zeros) over an
    * [[hllEstimate]] row — ONE definition for a04, a09, and the
    * streaming distinct view, so the constants (and the documented
    * linear-counting swap below 2.5·m) can only change in one place. */
  private[graft] def hllHarmonic: Column =
    lit(0.709) * lit(4096.0) /
      (col("sum_present") + (lit(64L) - col("n_present")).cast(DoubleType))

  // ---------------------------------------------------------------- parity

  val parity: Map[String, (SparkSession, String) => DataFrame] = Map(
    // op 18 — full-table scan
    "q01_fullscan" -> ((s, dir) => t(s, dir, "region")),

    // op 7 — projection + rename
    "q02_project" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"))),

    // op 5 — scalar math fn surface (K→F unit conversion + - * / round)
    "q03_scalar_math" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        WeatherOps.kelvinToFahrenheit(col("l_quantity") + lit(273.15)).as("qty_f"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"))),

    // op 6 — epoch+offset → naive local timestamp
    "q04_epoch_ts" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        WeatherOps.localTimestamp(
          unix_timestamp(col("o_orderdate")), lit(-18000L)).as("local_ts"))),

    // timestamp function surface (extract/trunc)
    "q05_ts_extract" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        year(col("l_shipdate")).as("y"),
        month(col("l_shipdate")).as("m"),
        dayofmonth(col("l_shipdate")).as("d"),
        date_trunc("month", col("l_shipdate")).as("month_start"))),

    // op 15 — string→timestamp with null-on-failure coercion.
    // Spark 4 is ANSI-mode by default, so plain to_timestamp THROWS on a
    // malformed string; try_to_timestamp is the exact analogue of the
    // reference's pd.to_datetime(errors="coerce") and DuckDB's TRY_CAST.
    "q06_ts_coerce" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        try_to_timestamp(
          when(col("o_orderstatus") === "F",
            date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
            .otherwise(concat(lit("bad-"), col("o_orderstatus")))).as("coerced"))),

    // op 11 — inner equi-join fact ⋈ broadcast dimension + projection
    "q07_join_lookup" -> ((s, dir) =>
      Relational.lookupJoin(t(s, dir, "orders"), t(s, dir, "customer")
          .withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))),

    // join chain across the star schema (lineitem⋈orders⋈customer⋈nation⋈region)
    "q08_join_chain" -> ((s, dir) => {
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
    }),

    // aggregation (§2.1 extension) — TPC-H Q1-style pricing summary;
    // DECIMAL sums for exact, order-independent results
    "q09_agg_pricing" -> ((s, dir) => {
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
    }),

    // sort + top-k (TakeOrderedAndProject — no global sort shuffle)
    "q10_topk" -> ((s, dir) =>
      Relational.topK(t(s, dir, "orders"), 100,
        col("o_totalprice").desc, col("o_orderkey").asc)),

    // distinct
    "q11_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()),

    // set ops: union (distinct)
    "q12_union" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").cast(IntegerType).as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").cast(IntegerType).as("nationkey")))
        .distinct()),

    // set ops: intersect + except
    "q13_intersect" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast(IntegerType).as("nationkey")).distinct()
      val sup = t(s, dir, "supplier").select(col("s_nationkey").cast(IntegerType).as("nationkey")).distinct()
      c.intersect(sup).withColumn("which", lit("both"))
        .union(c.except(sup).withColumn("which", lit("customer_only")))
    }),

    // window: SERIAL-id semantics (row_number per partition, §7.3#1)
    "q14_window_serial" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        row_number().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))).as("rn"))),

    // window: running frame aggregate (decimal-exact)
    "q15_window_running" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType).as("running_total"))),

    // op 20 — limited scan (deterministic via total order)
    "q16_limit" -> ((s, dir) =>
      t(s, dir, "nation").orderBy(col("n_nationkey")).limit(10)),

    // op 3/4-analog on harness data: JSON field extraction from events.props
    "q17_json_extract" -> ((s, dir) =>
      eventsTable(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))),

    // op 6 on the event stream: second-truncated local timestamps
    "q18_events_ts" -> ((s, dir) =>
      eventsTable(s, dir).select(
        col("event_id"),
        date_trunc("second", col("ts")).as("ts_sec"),
        col("event_type"), col("value"))),

    // events aggregation: per-type decimal-exact rollup (stream-table agg)
    "q19_events_agg" -> ((s, dir) =>
      eventsTable(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))),

    // §2.1 extension — hierarchical aggregate (rollup: subtotals + grand
    // total in one pass; Spark expands grouping sets inside the same
    // hash-agg, no extra scan)
    "q22_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"))),

    // §2.1 extension — left outer join (dimension restricted so the
    // null-extension path is actually exercised)
    "q23_left_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_name"))
      t(s, dir, "orders")
        .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
    }),

    // §2.1 extension — semi + anti join (existence tests; neither side
    // materializes the join product)
    "q24_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey"))
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .withColumn("which", lit("has_orders"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .withColumn("which", lit("no_orders"))
      semi.union(anti).select(col("c_custkey"), col("c_name"), col("which"))
    }),

    // §2.1 extension — window lag/lead over a partitioned total order
    "q25_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
    }),

    // custom-plan tier — per-key top-k via the TopKPerKey operator
    // (bounded heaps, no partition sort; see graft.plans.TopKPerKey)
    "q27_topk_per_key" -> ((s, dir) =>
      Relational.topKPerKey(t(s, dir, "orders"), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))),

    // op 4 — array element access (GetArrayItem + GetStructField), the
    // reference's `data["weather"][0]["description"]` idiom
    // (weather_etl_pipeline.py:62) instantiated on the harness tables: an
    // array-of-structs column, element [0]/[1], then a struct field
    "q21_array_access" -> ((s, dir) => {
      val arr = array(
        struct(col("l_quantity").as("v"), lit("qty").as("tag")),
        struct(col("l_extendedprice").as("v"), lit("price").as("tag")))
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        arr.getItem(0).getField("v").as("first_v"),
        arr.getItem(1).getField("tag").as("second_tag"))
    }),

    // §2.1 extension — gap-based sessionization of the event stream
    // (session breaks at >30 min silence per user): lag + running sum of
    // break flags, the standard two-window formulation
    "q26_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      eventsTable(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("brk",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"),
          sum(col("brk")).over(run).as("session_id"))
    }),

    // the distributed SERIAL-id operator surfaced as a harness query:
    // dense 1..n ids in a global total order WITHOUT the single-task
    // window — range partition + sortWithinPartitions + zipWithIndex.
    // (o_orderdate, o_orderkey) is a total order, so ids are
    // deterministic and the window-based SQL oracle reproduces them.
    "q28_serial_distributed" -> ((s, dir) =>
      Relational.withSerialIdDistributed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        Seq(col("o_orderdate"), col("o_orderkey")), "id")),

    // the streaming windowed aggregation's batch twin: the same
    // window(ts, 1h) + per-type rollup StreamingIngest.windowedEventAgg
    // computes incrementally, run over the full events table — so the
    // streaming module's semantics are oracle-checkable, not just
    // unit-tested
    "q29_time_window" -> ((s, dir) =>
      eventsTable(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))),

    // as-of join: every event picks up the customer's most recent order
    // at-or-before the event timestamp. The right side is pre-aggregated
    // to unique (key, ts) — max orderkey per (custkey, orderdate) — the
    // operator's determinism contract. One shuffle, no row amplification
    // (see Relational.asofJoin); the oracle is DuckDB's native ASOF JOIN.
    "q30_asof_join" -> ((s, dir) => {
      val ev = eventsTable(s, dir).select(col("event_id"), col("ts"), col("user_id"))
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      Relational.asofJoin(ev, ord, "user_id", "ts", "o_orderdate")
    }),

    // NEAREST as-of join (q30's directional completion — pandas
    // merge_asof's third direction, which neither Spark nor most SQL
    // engines ship natively): each event matches whichever adjacent
    // order is closer in time, backward on ties. Same single-shuffle
    // union frame as q30; the backward and forward candidates are two
    // RANGE-framed window carries sharing ONE partitioning and sort,
    // and the pick is an integer microsecond-delta compare — see
    // [[graft.operators.Relational.asofJoinDirected]]. The oracle
    // replays it as two engine ASOF joins (>= and <=) + the same CASE.
    "q67_asof_nearest" -> ((s, dir) => {
      val ev = eventsTable(s, dir).select(col("event_id"), col("ts"), col("user_id"))
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      Relational.asofJoinDirected(ev, ord, "user_id", "ts", "o_orderdate",
        direction = "nearest")
    }),

    // point-in-interval join via bucketing: lineitems shipped within
    // [o_orderdate, +30 days) of their order, as a keyed interval join —
    // the equi-join runs on (orderkey, day-bucket) and only containment
    // candidates reach the exact predicate (see Relational.intervalJoin).
    // Aggregated per order with order-insensitive stats (count/min/max)
    // so the hash compare is join-order independent.
    "q31_interval_join" -> ((s, dir) => {
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
    }),

    // RANGE-frame window (value-based frame, vs q15's ROWS frame): per
    // user, how many events landed in the trailing hour — frame bounds
    // are epoch-second VALUES, so peers with equal timestamps are always
    // in-frame together and the result is order-independent (no tie
    // hazard). One shuffle on user_id, sorted within partitions.
    "q33_window_range" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3600L, 0L)
      eventsTable(s, dir)
        .withColumn("sec", unix_timestamp(col("ts")))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_trailing_1h"))
    }),

    // pivot: event_type rotated into per-type count columns. The value
    // list is EXPLICIT — an unlisted-values pivot runs a whole extra
    // distinct pass over the fact table just to discover column names,
    // which is a silent full scan at 100 TB. Missing (user, type) combos
    // coalesce to 0 so the output matches SQL's FILTER formulation.
    "q32_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      eventsTable(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +:
          types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
    }),

    // the skew-salted join surfaced as a harness query: the salt only
    // respreads a hot key's rows across `factor` reducers, so the result
    // SET is identical to the plain inner join and the oracle is ordinary
    // SQL (the skew-resistance itself is plan-shape, asserted in
    // RelationalSpec)
    "j01_salted_join" -> ((s, dir) =>
      Relational.saltedJoin(
        t(s, dir, "orders"),
        t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment")),
        "o_custkey", 8)
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("c_mktsegment"))),

    // §2.1 extension — full cube (all 2^k grouping sets in one hash-agg
    // pass, complementing q22's rollup): Spark expands the grouping sets
    // inside a single aggregate, so the fact table is scanned ONCE —
    // no per-grouping-set re-scan at 100 TB
    "q34_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))),

    // §2.1 extension — scalar + IN subqueries through the SQL front-end
    // (SparkSqlParser → analyzer subquery rewrite): the scalar subqueries
    // become one-row broadcast joins and the IN becomes a left-semi join;
    // the avg comparison is cross-multiplied (price·n > Σprice) so both
    // sides stay in exact DECIMAL arithmetic — no engine-specific double
    // rounding in the threshold
    "q35_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM orders)
              > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      """)
    }),

    // §2.1 extension — unpivot/melt (wide → long): each row fans out to
    // one row per measure column. Pure per-row Generate, no shuffle;
    // the measures are cast to a common type up front (unpivot's contract)
    "q36_unpivot" -> ((s, dir) =>
      t(s, dir, "part").unpivot(
        Array(col("p_partkey")),
        Array(col("p_size").cast(DoubleType).as("p_size"), col("p_retailprice")),
        "metric", "value")),

    // §2.1 extension — statistical aggregates (mean/stddev/corr/median)
    // computed from DECIMAL-exact single-pass moments: Σx, Σx², Σxy are
    // order-independent exact decimals (map-side combined), and the
    // variance/correlation algebra then runs in double with the same
    // operation order in both engines — so the results hash-match without
    // tolerating float drift. This is the 100 TB shape for moments: one
    // scan, one narrow shuffle of (flag, 6 decimals); the builtin
    // stddev/corr would stream doubles in partition order and be
    // run-to-run nondeterministic in the low bits.
    "q37_stats_agg" -> ((s, dir) => {
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
    }),

    // set ops with BAG semantics (complementing q12/q13's distinct
    // variants): INTERSECT ALL / EXCEPT ALL keep multiplicities —
    // Spark plans them as an aggregated count-compare, not a distinct —
    // over each order's (custkey, priority) pairs vs the high-value
    // subset, so duplicates genuinely occur on both sides
    "q39_setops_all" -> ((s, dir) => {
      val all = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderpriority"))
      val high = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
        .select(col("o_custkey"), col("o_orderpriority"))
      all.intersectAll(high).withColumn("which", lit("both"))
        .union(all.exceptAll(high).withColumn("which", lit("low_only")))
    }),

    // the optimizer-rule tier driven from SQL text: RowNumberLimitToTopK
    // (Rule[LogicalPlan], injected via GraftExtensions / armOptimizer)
    // rewrites the row_number-limit idiom into the TopKPerKey bounded-heap
    // operator — the user writes the standard SQL pattern, the engine
    // plans O(n log k) heaps with no partition sort. Same result set as
    // q27's DSL form; the rewrite firing is plan-asserted in PlansSpec.
    "q38_topk_sql_rewrite" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      graft.plans.GraftFunctions.armOptimizer(s)
      s.sql("""
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3
      """)
    }),

    // runtime bloom-prefilter join: the dimension (a selective customer
    // subset, which the operator's join merge-hints so it genuinely
    // doesn't broadcast) is reduced to a bloom filter; the fact side
    // drops non-candidate rows BEFORE its shuffle. Result identical to
    // the plain join — the bloom only moves work ahead of the exchange
    // (see Relational.bloomPrefilterJoin)
    "j02_bloom_join" -> ((s, dir) => {
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      Relational.bloomPrefilterJoin(
          t(s, dir, "orders"), dim, "o_custkey",
          expectedItems = 1L << 16, fpp = 0.01)
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
    }),

    // approximate distinct count via the KMV bottom-k sketch aggregate
    // (bounded k-long state per group, map-side combined — the 100 TB
    // shape for distinct-user counts) next to its exact twin. The element
    // hash is FNV over the id's decimal string, so the sketch — and
    // therefore the estimate — is an engine-independent function of the
    // input set, reproducible by the oracle in plain SQL.
    "a01_distinct_sketch" -> ((s, dir) => {
      val k = 64
      val hv = graft.functions.Hashing.fnvChecksum(
        col("user_id").cast(StringType).cast(BinaryType))
      eventsTable(s, dir)
        .groupBy(col("event_type"))
        .agg(graft.functions.Hashing.kmvSketch(hv, k).as("kmv"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type"), col("n_exact"),
          graft.functions.Hashing.kmvEstimate(col("kmv"), k).as("est_distinct"))
    }),

    // KMV sketch SET OPERATIONS (Beyer et al., SIGMOD'07): union and
    // intersection cardinality of two groups from their k-long sketches
    // ALONE — the mergeable-summary algebra that answers "how many users
    // do event types A and B share?" at 100 TB without re-touching raw
    // data: per-type sketches are computed once (map-side combined,
    // k-long state), pairs are |types|² sketch-array expressions. The
    // merged sketch is the bottom-k of the union of the two sketch SETS
    // (unsigned order, the sketch's own order); ρ = merged elements
    // present in BOTH input sketches; est_inter = (ρ/m)·est_union.
    // Unsaturated sketches degrade to exact set algebra by construction.
    // Exact twins computed alongside, same surface as a01/a04.
    "a05_sketch_setops" -> ((s, dir) => {
      val k = 64
      val hv = graft.functions.Hashing.fnvChecksum(
        col("user_id").cast(StringType).cast(BinaryType))
      val sk = eventsTable(s, dir)
        .groupBy(col("event_type"))
        .agg(graft.functions.Hashing.kmvSketch(hv, k).as("kmv"))
      def unsignedCmp(l: Column, r: Column): Column =
        when(l === r, 0).otherwise(
          when((l < 0) === (r < 0), when(l < r, -1).otherwise(1))
            .otherwise(when(l < 0, 1).otherwise(-1)))
      val pairs = sk.select(col("event_type").as("type_a"), col("kmv").as("ka"))
        .join(sk.select(col("event_type").as("type_b"), col("kmv").as("kb")),
          col("type_a") < col("type_b"))
        .withColumn("merged",
          slice(array_sort(array_union(col("ka"), col("kb")), unsignedCmp _), 1, k))
        .withColumn("m_used", size(col("merged")))
        .withColumn("rho", size(filter(col("merged"),
          x => array_contains(col("ka"), x) && array_contains(col("kb"), x))))
        .withColumn("est_union",
          graft.functions.Hashing.kmvEstimate(col("merged"), k))
        .withColumn("est_intersection",
          (col("rho").cast(DoubleType) / col("m_used").cast(DoubleType))
            * col("est_union"))
      // exact twins from one distinct (user, type) pass
      val ut = eventsTable(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val n1 = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val nBoth = ut.select(col("user_id"), col("event_type").as("type_a"))
        .join(ut.select(col("user_id"), col("event_type").as("type_b")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_inter_exact"))
      pairs
        .join(n1.select(col("event_type").as("type_a"), col("n").as("na")),
          Seq("type_a"))
        .join(n1.select(col("event_type").as("type_b"), col("n").as("nb")),
          Seq("type_b"))
        .join(nBoth, Seq("type_a", "type_b"), "left")
        .select(col("type_a"), col("type_b"),
          (col("na") + col("nb")
            - coalesce(col("n_inter_exact"), lit(0L))).as("n_union_exact"),
          coalesce(col("n_inter_exact"), lit(0L)).as("n_inter_exact"),
          col("est_union"), col("est_intersection"))
    }),

    // window-function surface: ntile quartiles + first/last/nth over the
    // full partition frame (all one WindowExec pass per spec: one shuffle
    // on o_custkey, one within-partition sort shared by both frames)
    "q40_window_funcs" -> ((s, dir) => {
      val wr = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = wr.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        ntile(4).over(wr).as("quartile"),
        first(col("o_totalprice")).over(wf).as("first_price"),
        last(col("o_totalprice")).over(wf).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(wf).as("second_price"))
    }),

    // running DISTINCT count over a window — Spark has no DISTINCT window
    // aggregates, so this is the set-valued-state formulation:
    // size(collect_set() over running frame). Sound here because the
    // window state is the distinct TYPE set (a bounded domain, like
    // q32's explicit pivot values); for unbounded domains use the
    // first-occurrence-flag + running-sum rewrite the oracle itself
    // demonstrates (the two are equivalent; the flag form shuffles twice
    // but carries O(1) window state).
    "q41_window_distinct" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      eventsTable(s, dir).select(col("event_id"), col("user_id"),
        size(collect_set(col("event_type")).over(w)).as("n_distinct_types"))
    }),

    // multi-dimension data layout: the z-order (Morton) key over
    // (custkey, orderkey). Range-partition + sort by this key at write
    // time and parquet min/max stats prune scans filtered on EITHER
    // column — the clustering primitive behind lakehouse OPTIMIZE
    // ZORDER BY, here as a deterministic codegen'd expression (the
    // layout effect itself is plan-asserted in PlansSpec; this query
    // oracle-checks the key's bit algebra)
    "q42_zorder_layout" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        graft.functions.ZOrder.zorder(col("o_custkey"), col("o_orderkey"), 21).as("z"))),

    // MERGE / upsert: a change batch (updated totals for keys ≡ 0 mod 97,
    // brand-new orders for keys ≡ 0 mod 997) applied onto orders — the
    // lakehouse MERGE INTO reduced to anti-join + unionByName (see
    // Relational.mergeUpsert). The price bump is plain double
    // multiplication, an identical single IEEE op in both engines.
    "j03_merge_upsert" -> ((s, dir) => {
      val target = t(s, dir, "orders")
      val upd = target.filter(pmod(col("o_orderkey"), lit(97L)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .withColumn("o_orderstatus", lit("U"))
      val ins = target.filter(pmod(col("o_orderkey"), lit(997L)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      Relational.mergeUpsert(target, upd.unionByName(ins), Seq("o_orderkey"))
    }),

    // exact distributed quantiles (nearest-rank p50/p90/p99 per group):
    // value at rank ⌈p·n⌉ in the within-group value order. Integer rank
    // selection — no interpolation — so the result is a value the data
    // actually contains and both engines agree bit-exactly. Exact
    // quantiles need the within-group sort; groups here are the bounded
    // returnflag domain, so each is one window partition — for
    // high-cardinality grouping this same shape shards by (group) with
    // per-group parallel sort, and the approximate path is the KMV/
    // sketch tier (a01).
    "q43_percentiles" -> ((s, dir) => {
      val byFlag = Window.partitionBy(col("l_returnflag"))
      val ranked = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
        .withColumn("rn", row_number().over(byFlag.orderBy(col("l_extendedprice"))))
        .withColumn("n", count(lit(1)).over(byFlag))
      ranked.groupBy(col("l_returnflag")).agg(
        max(when(col("rn") === ceil(col("n") * 0.5), col("l_extendedprice"))).as("p50"),
        max(when(col("rn") === ceil(col("n") * 0.9), col("l_extendedprice"))).as("p90"),
        max(when(col("rn") === ceil(col("n") * 0.99), col("l_extendedprice"))).as("p99"))
    }),

    // SCD type-2 history build: change-point detection (keep rows where
    // the tracked attribute differs from its predecessor) then validity
    // intervals via lead — the warehouse dimension-history primitive.
    // Both windows share the (user_id) partitioning and (ts, event_id)
    // order, so the plan is ONE shuffle with two window passes over the
    // same sort — no re-exchange between them.
    "q44_scd2_history" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      eventsTable(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
    }),

    // incremental materialized-view maintenance: yesterday's aggregate
    // (base partials) merged with today's batch (delta partials) WITHOUT
    // rescanning base rows — the ⊕-merge of partial aggregates that makes
    // a 100 TB rollup maintainable. count merges by sum; DECIMAL sums
    // merge exactly (order-independent), so the merged view is
    // bit-identical to the full recompute the oracle performs.
    "j04_incremental_agg" -> ((s, dir) => {
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
    }),

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
    "j05_overlap_join" -> ((s, dir) => {
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
    }),

    // sequential funnel analysis (view → click → purchase): the
    // event-analytics primitive. Each stage is the MIN event time
    // strictly after the previous stage's time, so every aggregation and
    // join is keyed by user_id — one shuffle establishes the
    // partitioning and the chained stage joins reuse it (co-partitioned,
    // AQE-local). Timestamps are exact micros; no float anywhere.
    "q45_funnel" -> ((s, dir) => {
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
    }),

    // weekly cohort retention: users grouped by first-seen week, counted
    // per (cohort week, week offset) — two aggregations whose keys both
    // start with user_id (first-seen + distinct active weeks), then one
    // count per cohort cell. Week offsets are exact integer epoch math.
    "q46_retention" -> ((s, dir) => {
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
    }),

    // iterative graph computation: 3 PageRank rounds over the
    // supplier↔part bipartite graph (distinct lineitem incidences, both
    // directions). Ranks are FIXED-POINT BIGINTs (scale 10^12) and the
    // update uses integer div — exact, order-independent arithmetic, so
    // a distributed iteration is bit-reproducible and SQL-replayable
    // (floats would make every re-partitioning a different answer).
    // Each round is one join on src (ranks are co-partitioned after the
    // first) + one sum by dst; no driver-side state. Overflow bound
    // (ANSI mode throws rather than wraps): 85·max_indegree·scale must
    // stay under 2^63 — callers shrink `scale` for hub-heavier graphs.
    "g02_pagerank" -> ((s, dir) => {
      val scale = 1000000000000L
      // shared memoized bipartite edge table (see supplierPartEdges):
      // one distinct build serves g02/g04/g12 instead of one per query
      val both = graft.operators.Graph.bothDirections(supplierPartEdges(s, dir), "s", "p")
      val outdeg = both.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val nodes = both.select(col("src").as("node")).distinct()
      var ranks = nodes.select(col("node"), lit(scale).as("rank"))
      for (_ <- 1 to 3) {
        val contrib = both
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .join(outdeg, Seq("src"))
          .select(col("dst").as("node"), expr("rank div deg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
        ranks = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(scale * 15L / 100L) +
              expr(s"(85 * coalesce(in_sum, 0L)) div 100")).as("rank"))
      }
      ranks
    }),

    // bounded-depth BFS (single-source hop counts ≤ 4) over the same
    // supplier↔part bipartite graph as g02 — the frontier-delta iteration
    // (Pregel's delta optimization): each round expands ONLY the nodes
    // discovered last round (the frontier), and an anti-join against the
    // visited set keeps re-expansion out of the plan, so total join work
    // is O(edges touched), not O(rounds × edges). First discovery fixes a
    // node's hop count, which IS the min — no per-node min aggregation
    // needed. The SQL twin replays it as a recursive CTE with UNION
    // (distinct) semantics: state rows (node, hops) dedup across
    // iterations, so the recursion is bounded by nodes × depth — path
    // enumeration under UNION ALL would be combinatorial on this graph.
    "g04_bfs_hops" -> ((s, dir) => {
      val off = 10000000L
      val start = 1L
      // NO distinct on the edge list: the frontier is deduped each round
      // anyway, so duplicate incidences only widen the pre-distinct fan-
      // out — cheaper than shuffling the whole edge table to dedupe it.
      // r17 measured: binding the MEMOIZED distinct table
      // (supplierPartEdges, shared with g02/g12) instead was ~0.2 s
      // SLOWER here — per-round columnar-cache reads lose to the
      // vectorized 2-column parquet re-scan locally, and at scale the
      // pruned 2-column scan vs the cached distinct table is a wash
      // (similar bytes), so the lazy shape stays.
      val edges = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("src"), (col("l_partkey") + off).as("dst"))
      // one scan per evaluation, not a two-leg union of two scans —
      // this edge list is LAZY (re-evaluated by each BFS round), so the
      // union shape paid 2 lineitem scans × 4 rounds
      val both = graft.operators.Graph.bothDirections(edges, "src", "dst")
      var dist = s.range(1)
        .select(lit(start).as("node"), lit(0).as("hops"))
      var frontier = dist.select(col("node"))
      for (h <- 1 to 4) {
        // frontier and visited-set are node lists (bounded by the node
        // count, tiny next to the edge table) — broadcasting them makes
        // each round one scan-side hash probe with NO edge shuffle. On a
        // graph whose frontier outgrows the driver, drop the hints and
        // the same plan falls back to shuffled joins per round.
        // localCheckpoint truncates the lineage each round — without it
        // round h recursively recomputes rounds 1..h-1 (the plan tree
        // doubles per round), the classic iterative-dataflow trap. This
        // is executor-local materialization of a bounded node list, not
        // driver state.
        val next = graft.SessionCache.tracked(both
          .join(broadcast(frontier.withColumnRenamed("node", "src")), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(broadcast(dist.select(col("node"))), Seq("node"), "left_anti"))
        dist = dist.unionByName(next.withColumn("hops", lit(h)))
        frontier = next
      }
      dist
    }),

    // triangle / wedge census + global clustering coefficient over the
    // part co-order graph (parts linked when a heavy lineitem pair shares
    // an order — the quantity filter is pushed to the scan and prunes the
    // incidence list before any pair work). The operator is
    // [[graft.operators.Graph.triangleStats]]: degree-ordered edge
    // orientation (Suri & Vassilvitskii WWW'11) bounds wedge fan-out at
    // O(√m) per node, so no hub vertex can straggle one reducer. The
    // oracle counts the same triangles with the naive id-ordered triple
    // join — a different (skew-unsafe) plan computing the same census,
    // exactly the ground-truth/scale-path split of d03/d04 and s04/s06.
    "g05_triangles" -> ((s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 30)
      graft.operators.Graph.triangleStats(edges)
    }),

    // degree summary + degree assortativity (Newman PRL'02) over the same
    // part co-order graph as g05 — the macro-structure diagnostic (hubs
    // linking to hubs vs hub-and-spoke) run over link/near-dup graphs to
    // characterize template farms. Operator is
    // [[graft.operators.Graph.degreeStats]]: with both edge orientations
    // the degree marginals coincide, so Pearson r is a ratio of two
    // INTEGER moment expressions (no sqrt, no float mean subtraction) and
    // the single final division is bit-identical cross-engine. Constant
    // output width; no per-key quadratic fan-out anywhere.
    "g06_degree_stats" -> ((s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 30)
      graft.operators.Graph.degreeStats(edges)
    }),

    // link-prediction features over the same part co-order graph as
    // g05/g06 — per-EDGE common-neighbor counts and Resource Allocation
    // scores, the structural-embeddedness signals a web-corpus pipeline
    // computes on its link/near-dup graphs to separate organic links
    // from template-farm wiring. Operator is [[graft.operators.Graph
    // .linkPredict]]: witnesses enumerated through the degree-ordered
    // wedge orientation (per-key fan-out O(√m) — no hub straggler),
    // each triangle exploded into its three edge contributions, the
    // RA double a pinned ascending fold of correctly-rounded 1/d terms
    // so the score is bit-identical cross-engine.
    "g07_link_predict" -> ((s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 30)
      graft.operators.Graph.linkPredict(edges)
    }),

    // k-core extraction (k = 12, chosen where the harness graph peels
    // non-trivially: 7 rounds, 2000 → 1735 vertices) over the same part
    // co-order graph — the dense-community extractor that isolates
    // template farms / citation cliques from the peripheral tail before
    // quality propagation. Operator is [[graft.operators.Graph.kCore]]:
    // iterative edge peeling with per-round localCheckpoints and an
    // ENFORCED fixpoint; the oracle replays a fixed 16-round peel chain
    // (peeling is idempotent at the fixpoint, so 16 ≥ 7 rounds is
    // exact).
    // generic connected components over the part co-order graph (the
    // quantity cut raised to 46, where the graph fragments into 203
    // components from a 482-vertex giant down to pairs — richer
    // macro-structure than the near-connected >= 30 graph). Reuses the
    // dedup tier's size-adaptive CC operator ([[graft.operators.Dedup
    // .connectedComponents]]: union-find under the documented driver
    // threshold, pointer-doubling label propagation above it) and adds
    // the per-component size — the partition-/community-size profile a
    // curation pipeline reads before sharding by component.
    "g09_components" -> ((s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 46)
        .select(col("u").as("doc_a"), col("v").as("doc_b"))
      val comp = graft.operators.Dedup.connectedComponents(edges)
      comp.join(
          comp.groupBy(col("component")).agg(count(lit(1)).as("component_size")),
          Seq("component"))
        .select(col("doc_id").as("vertex"), col("component"),
          col("component_size"))
    }),

    // modularity scoring of an ATTRIBUTE partition (p_brand) over the
    // part co-order graph — "does this metadata label actually explain
    // the graph's clustering?", the check a curation pipeline runs on a
    // link/near-dup graph before sharding by domain/language/brand.
    // Operator is [[graft.operators.Graph.modularity]]: per-community
    // Newman contributions e_c/m − (d_c/2m)² from integer moments with
    // one fixed-shape double expression at the end (bit-identical
    // cross-engine); global Q = sum(q_contrib). Brands slice the
    // co-order graph near-uniformly, so Q ≈ 0 here — the negative
    // control a pipeline needs to REJECT a label as a sharding key.
    "g10_modularity" -> ((s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 30)
      val labels = t(s, dir, "part")
        .select(col("p_partkey").as("vertex"), col("p_brand").as("community"))
      graft.operators.Graph.modularity(edges, labels)
    }),

    // community DETECTION (vs g10's scoring of a given partition):
    // synchronous label propagation for a fixed 4 rounds over the
    // fragmented co-order graph — the cheap, deterministic community
    // pass a curation pipeline runs on link/near-dup graphs when
    // connected components are too coarse (one giant blob) and
    // modularity maximization too expensive. Operator is
    // [[graft.operators.Graph.labelPropagation]]: per-round one
    // edge⋈label join + one map-side-combined vote count + one
    // argmax-as-aggregate (max(struct(c, -lab)) — no window, no sort);
    // the fixed round count makes it an exactly SQL-replayable pure
    // function (sync LPA has no convergence guarantee to iterate to).
    "g11_lpa_labels" -> ((s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 46)
      graft.operators.Graph.labelPropagation(edges, rounds = 4)
    }),

    // personalized PageRank (random walk with restart onto a SEED set)
    // over g02's supplier↔part bipartite graph — the seed-expansion
    // relevance pass a curation pipeline runs to grow a small trusted
    // set (here: nation-0 suppliers) into a ranked neighborhood, the
    // graph-side twin of e11's semantic decontamination. Same integer
    // fixed-point arithmetic as g02 (ranks in 1e-12 units, div/mod
    // only — exactly SQL-replayable, no float drift across 3 rounds);
    // the ONE structural difference is where restart mass lands: on the
    // seeds instead of everywhere, so rank decays geometrically with
    // distance from the seed set and untouched nodes stay at exactly 0
    // (the `rank > 0` cut is exact, not a float threshold). Seeds are a
    // broadcast node list; each round is one edge⋈rank join + one
    // map-side-combined sum keyed by node — g02's scale posture
    // unchanged.
    "g12_ppr" -> ((s, dir) => {
      // shared memoized bipartite edge table (see supplierPartEdges)
      val both = graft.operators.Graph.bothDirections(supplierPartEdges(s, dir), "s", "p")
      val seeds = t(s, dir, "supplier")
        .filter(col("s_nationkey") === 0)
        .select(col("s_suppkey").as("node"))
      graft.operators.Graph.personalizedPageRank(both, seeds, iters = 3)
        .filter(col("rank") > 0)
    }),

    "g08_kcore" -> ((s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 30)
      graft.operators.Graph.kCore(edges, k = 12)
    }),

    // count-min frequency sketch (depth 4 × width 256) over per-user
    // event counts, next to the exact answer — the bounded-state
    // frequency-estimation twin of a01's KMV cardinality sketch. The
    // hash family is the same FNV+MinHashMix the g01 oracle replays in
    // HUGEINT arithmetic, so the SKETCH (and its over-estimates) is an
    // engine-independent function of the input and exactly
    // SQL-checkable. Cell table is d·w rows regardless of scale
    // (map-side combined); the probe join broadcasts it. 2^64 ≡ 0
    // (mod 256), so signed pmod equals the unsigned residue.
    "a02_countmin" -> ((s, dir) => {
      val d = 4; val w = 256L
      val ev = eventsTable(s, dir).groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val h = ev
        .withColumn("sig", graft.functions.Hashing.fnvMinhashSignature(
          array(col("user_id").cast(StringType)), d))
        .select(col("user_id"), col("n"),
          posexplode(transform(sequence(lit(0), lit(d - 1)),
            j => pmod(element_at(col("sig"), j + 1), lit(w)))).as(Seq("j", "bucket")))
      val cells = h.groupBy(col("j"), col("bucket")).agg(sum(col("n")).as("cell"))
      val est = h.join(broadcast(cells), Seq("j", "bucket"))
        .groupBy(col("user_id")).agg(min(col("cell")).as("est_count"))
      ev.join(est, Seq("user_id"))
        .select(col("user_id"), col("n").as("n_exact"), col("est_count"))
    }),

    // mergeable Bloom filter as a pure relational aggregate — the
    // membership sketch completing the approximate tier (a01 KMV
    // cardinality, a02 count-min frequency, a03 quantiles, a04 HLL):
    // per-priority 256-bit blooms (4 × 64-bit lanes, k=2 probes from
    // disjoint byte fields of one FNV hash) over a distinct custkey set,
    // then EVERY customer key probed against every bloom with exact
    // membership alongside — n_maybe vs n_actual exposes the
    // false-positive mass (no false negatives by construction). Bit-OR
    // accumulation is commutative/idempotent, so the sketch is an
    // order-independent engine-exact function of the input set (unlike
    // sampling sketches, no fold pinning needed) and map-side combines;
    // state is 32 bytes per group at ANY cardinality. 256 | 2^64, so the
    // signed bit algebra equals the unsigned residue in both engines;
    // bit 63's mask is the signed reinterpretation Long.MinValue.
    "a06_bloom_filter" -> ((s, dir) => {
      import graft.functions.Hashing
      def hu(k: Column): Column =
        Hashing.fnvChecksum(concat(lit("bloom:"), k.cast(StringType)).cast(BinaryType))
      // functions.shiftleft only takes a literal shift; the SQL form
      // accepts a column — call it directly
      def mask(bit: Column): Column =
        call_function("shiftleft", lit(1L), bit.cast(IntegerType))
      val el = t(s, dir, "orders")
        .filter(col("o_custkey") % 97 === 0)
        .select(col("o_orderpriority").as("grp"), col("o_custkey").as("k"))
        .distinct()
      val pos = el.select(col("grp"),
        explode(array(hu(col("k")).bitwiseAND(lit(255L)),
          shiftrightunsigned(hu(col("k")), 8).bitwiseAND(lit(255L)))).as("p"))
      val masks = pos.select(col("grp") +: (0 until 4).map(l =>
        when(shiftright(col("p"), 6) === l, mask(col("p").bitwiseAND(lit(63L))))
          .otherwise(lit(0L)).as(s"m$l")): _*)
      val lanes = masks.groupBy(col("grp")).agg(
        expr("bit_or(m0)").as("lane0"), expr("bit_or(m1)").as("lane1"),
        expr("bit_or(m2)").as("lane2"), expr("bit_or(m3)").as("lane3"))
      def laneOf(p: Column): Column =
        when(shiftright(p, 6) === 0, col("lane0"))
          .when(shiftright(p, 6) === 1, col("lane1"))
          .when(shiftright(p, 6) === 2, col("lane2"))
          .otherwise(col("lane3"))
      def bitSet(p: Column): Column =
        laneOf(p).bitwiseAND(mask(p.bitwiseAND(lit(63L)))) =!= 0
      val probes = t(s, dir, "customer")
        .select(col("c_custkey").as("k"),
          hu(col("c_custkey")).bitwiseAND(lit(255L)).as("p1"),
          shiftrightunsigned(hu(col("c_custkey")), 8).bitwiseAND(lit(255L)).as("p2"))
        .crossJoin(broadcast(lanes))
        .withColumn("maybe", bitSet(col("p1")) && bitSet(col("p2")))
      val counts = probes.select(col("grp"), col("k"), col("maybe"))
        .join(el.withColumn("actual", lit(true)), Seq("grp", "k"), "left")
        .groupBy(col("grp")).agg(
          sum(when(col("maybe"), 1L).otherwise(0L)).as("n_maybe"),
          sum(when(col("actual"), 1L).otherwise(0L)).as("n_actual"))
      lanes.join(counts, Seq("grp"))
        .select(col("grp"), col("lane0"), col("lane1"), col("lane2"),
          col("lane3"), col("n_maybe"), col("n_actual"))
    }),

    // AMS/tug-of-war second-moment sketch (Alon–Matias–Szegedy,
    // STOC'96): F₂ = Σ f_k² — the SELF-JOIN SIZE of the per-user event
    // counts, the statistic a distributed optimizer wants before
    // committing to a join order on skewed keys. 16 ±1-signed counters
    // (sign = parity of the j-th MinHashMix draw over the user's FNV
    // hash — the AVALANCHED family; raw FNV-1a bit 0 is structured and
    // was measured near-perfectly cancelling on sequential ids, the
    // same degeneracy that once hit the LSH hyperplanes), each counter an
    // order-independent INTEGER sum, so the whole sketch map-side
    // combines into 16 longs of state at any cardinality. Estimate =
    // median of 4 means of 4 squared counters (the standard
    // variance-then-tail reduction); the only floating point is two
    // final divisions and the sketch/exact ratio. Exact F₂ alongside
    // exposes the estimation error to the oracle.
    "a07_ams_sketch" -> ((s, dir) => {
      val r = 16
      val ev = eventsTable(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val signed = ev
        .withColumn("sig", graft.functions.Hashing.fnvMinhashSignature(
          array(col("user_id").cast(StringType)), r))
        .select(col("n"),
          posexplode(transform(sequence(lit(0), lit(r - 1)),
            j => when(pmod(element_at(col("sig"), j + 1), lit(2L)) === 1,
              lit(1L)).otherwise(lit(-1L)))).as(Seq("j", "sign")))
      val counters = signed.groupBy(col("j"))
        .agg(sum(col("sign") * col("n")).as("c"))
      val means = counters.groupBy(expr("j div 4").as("g"))
        .agg((sum(col("c") * col("c")).cast(DoubleType) / 4.0).as("m"))
      val est = means.agg(sort_array(collect_list(col("m"))).as("ms"))
        .select(((element_at(col("ms"), 2) + element_at(col("ms"), 3)) / 2.0)
          .as("f2_est"))
      val exact = ev.agg(count(lit(1)).as("n_users"),
        sum(col("n") * col("n")).as("f2_exact"))
      exact.crossJoin(broadcast(est))
        .select(col("n_users"), col("f2_exact"), col("f2_est"),
          (col("f2_est") / col("f2_exact").cast(DoubleType)).as("ratio"))
    }),

    // exponentially time-decayed activity counters — the recency-
    // weighted engagement statistic (half-life = 1 day) a ranking
    // pipeline keeps per user. Engine-exactness is the design point:
    // the decay base is 2 and ages are INTEGER day differences, so
    // every weight 2^(-age) = 1.0 / (1 << age) is one correctly-
    // rounded IEEE division by an exact power of two (no libm exp —
    // the transcendental the usual e^(-λt) form would leak), ages
    // clamp at 62 to stay in long-shift range, and the per-user sum
    // folds a (ts, event_id)-sorted list — bit-identical cross-engine.
    // Decayed counters are MERGEABLE (re-anchoring multiplies by a
    // power of two), the property that lets nightly snapshots combine
    // without replaying history.
    "a08_decayed_counts" -> ((s, dir) => {
      val ev = eventsTable(s, dir)
      val anchor = ev.agg(max(to_date(col("ts"))).as("anchor"))
      ev.crossJoin(broadcast(anchor))
        .select(col("user_id"), col("ts"), col("event_id"),
          least(datediff(col("anchor"), to_date(col("ts"))), lit(62))
            .as("age"))
        .select(col("user_id"), col("ts"), col("event_id"),
          (lit(1.0) / call_function("shiftleft", lit(1L),
            col("age").cast(IntegerType))).as("w"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          aggregate(
            transform(array_sort(collect_list(
              struct(col("ts"), col("event_id"), col("w")))),
              x => x.getField("w")),
            lit(0.0), (a, x) => a + x).as("decayed_count"))
    }),

    // HyperLogLog distinct sketch (Flajolet et al. AofA'07), m = 64
    // registers — the third sketch next to a01's KMV (order statistics)
    // and a02's count-min (frequencies). Register index = the hash's low
    // 6 bits; rho = position of the lowest set bit among bits 6..37 (an
    // unrolled when-chain — two's-complement bit tests agree between
    // engines, unlike shifts on negative longs). State is max-per-
    // register: 64 bytes per group regardless of cardinality, map-side
    // combined — the whole point at 100 TB. The estimate is the RAW HLL
    // harmonic mean: every 2^-M_j term is a power of two ≥ 2^-33 and the
    // register sum spans < 52 mantissa bits, so the double addition is
    // EXACT and order-independent — the one float aggregate in the repo
    // that needs no order pinning. The small-range linear-counting
    // correction (m·ln(m/V)) is deliberately NOT applied: ln differs in
    // last-ulp between libm implementations; we emit the zero-register
    // count V so a consumer can apply it.
    "a04_hll_sketch" -> ((s, dir) => {
      val est = hllEstimate(
          hllRegisters(eventsTable(s, dir), Seq("event_type")),
          Seq("event_type"))
        .select(col("event_type"),
          (lit(64L) - col("n_present")).as("n_zero_registers"),
          hllHarmonic.as("est_hll"))
      eventsTable(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
        .join(est, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          col("n_zero_registers"), col("est_hll"))
    }),

    // sliding-window distinct-user counts from MERGED HLL registers —
    // the property that makes sketches worth shipping: per-(type, hour)
    // register maxima are bounded state (64 longs per key however many
    // events the hour carried), and a 24-hour trailing window is a
    // REGISTER MERGE (max by (type, window, j)) — the raw events are
    // never revisited. This is how a 100 TB stream answers "distinct
    // users in the last day, hourly" without an exact-distinct shuffle
    // per window; the exact twin alongside is the gate-scale reference
    // that makes the sketch error VISIBLE (production drops it — that's
    // the point). Hour-window fan-out is ×24 of the register table, not
    // of the events; the estimate's double sum is exact (power-of-two
    // terms, a04's argument), so the whole query hash-replays.
    "a09_sliding_hll" -> ((s, dir) => {
      val W = 24
      val ev = eventsTable(s, dir)
        .select(col("event_type"), col("user_id"),
          floor(unix_timestamp(col("ts").cast(TimestampType)) / 3600)
            .cast(LongType).as("hour"))
      // ONE driver-side scalar (the s03/s08 query-vector pattern):
      // inlining max_hour as a literal runs the bounds scan once and
      // keeps the window expansion join-free — no one-row broadcast
      // frame, no nested-loop shape for the plan sweep to reason about.
      // max() over an empty table is a null row, not an absent one —
      // any literal keeps the (empty) result correct, so 0 stands in
      val mh = ev.agg(max(col("hour"))).head()
      val maxHour = if (mh.isNullAt(0)) 0L else mh.getLong(0)
      def windows(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("win_end", explode(sequence(col("hour"),
          least(col("hour") + (W - 1), lit(maxHour)))))
      // count-pinned spread of the REGISTER table before the ×24 window
      // explode (r18, the round-11/17 byte-blind-coalescing class): the
      // per-(type, hour) register table is bounded sketch state (64 rows
      // per key however big the hour), so its reduce side is KB-sized
      // and AQE coalesced it onto ONE task — which then paid the whole
      // window fan-out + merge partials serially (measured 683 ms on 1
      // task, 31 cores idle). Pin key is (event_type, j) ON PURPOSE:
      // it is a SUBSET of the merge keys (event_type, win_end, j), so
      // the pinned partitioning satisfies the merged groupBy's
      // distribution — the window fan-out, the partial max AND the
      // final max all run 32-way on the pinned layout with NO second
      // exchange, and every (type, win_end, j) group is complete within
      // its partition (a (type, hour) pin was measured shipping 1.68M
      // uncollapsed partials vs 230k — same-window rows from different
      // hours landed in different partitions). The pin costs one
      // bounded-state exchange (the thing sketches exist to make tiny);
      // register maxima are order-independent, so results are identical.
      val merged = windows(hllRegisters(ev, Seq("event_type", "hour"))
          .repartition(s.sparkContext.defaultParallelism,
            col("event_type"), col("j")))
        .groupBy(col("event_type"), col("win_end"), col("j"))
        .agg(max(col("m_j")).as("m_j"))
      val est = hllEstimate(merged, Seq("event_type", "win_end"))
        .select(col("event_type"), col("win_end"), hllHarmonic.as("est_hll"))
      // exact twin (r18, guide §2.3 — shuffle deduped metadata, not the
      // exploded stream): the old shape exploded RAW events ×24 on the
      // scan task and shipped the (type, win_end, user) partial-distinct
      // — 1.9M rows over the wire and 1.55 s on ONE task at sf0.1.
      // countDistinct only needs the distinct (type, hour, user) set, so
      // dedup FIRST (map-side combined — the exchange carries the
      // deduped rows, ×24 fewer), then pin by (type, user): a subset of
      // the distinct phase's (type, win_end, user) keys, so the ×24
      // window explode AND the distinct dedup complete 32-way in
      // partition with no further user-row exchange — only per-window
      // count partials cross afterwards. Same exact counts by set
      // semantics (dedup before or after windowing is equivalent).
      val du = ev.distinct()
        .repartition(s.sparkContext.defaultParallelism,
          col("event_type"), col("user_id"))
      windows(du)
        .groupBy(col("event_type"), col("win_end"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
        .join(est, Seq("event_type", "win_end"))
        .select(col("event_type"), col("win_end"), col("n_exact"), col("est_hll"))
    }),

    // per-group z-score outlier detection (data-cleaning tier): group
    // moments from exact DECIMAL sums (q37's determinism contract), the
    // z computation a fixed single-op sequence, flag |z| > 1.7 (the
    // harness prices are uniform, so |z| is bounded by √3 ≈ 1.73 —
    // 1.7 selects the genuine distribution tail; heavy-tailed real data
    // uses the conventional 3). The stats
    // row per group broadcasts; the scan stays pipelined — no shuffle of
    // the fact table at all.
    "q47_outliers" -> ((s, dir) => {
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
    }),

    // explicit GROUPING SETS with grouping_id — the general form behind
    // q22 rollup / q34 cube: user-chosen marginals in ONE Expand +
    // hash-agg pass (not one scan per set), with grouping_id
    // disambiguating "aggregated away" from "genuinely NULL". DECIMAL
    // sums for exactness, via the SQL front-end (the surface a BI layer
    // would drive).
    "q48_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               count(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      """)
    }),

    // recursive CTE (Spark 4's WITH RECURSIVE / UnionLoop): generate the
    // month spine of the order date range and gap-fill monthly totals —
    // the calendar-dimension primitive warehouses derive rather than
    // store. The two range bounds are scalar driver lookups (bounded
    // collect, like s01's query vector); the recursion itself runs in
    // the engine, one month per level (~80 levels, under the default
    // recursion limit — a DAY spine would need the limit raised).
    "q49_month_spine" -> ((s, dir) => {
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
    }),

    // correlated EXISTS / NOT EXISTS through the SQL front-end —
    // Catalyst decorrelates both into semi/anti joins (no per-row
    // subquery execution, the property that keeps correlated predicates
    // viable at scale)
    "q50_exists" -> ((s, dir) => {
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
    }),

    // equi-width histogram (data-profiling tier): 20 buckets over the
    // price range per return flag. Bounds come from one broadcast stats
    // row; the bucket index is a fixed single-op sequence on doubles
    // (identical both engines), the max value clamped into the last
    // bucket. One partial/final agg pass — the scan never reshuffles.
    "q51_histogram" -> ((s, dir) => {
      val nb = 20
      val bounds = t(s, dir, "lineitem").agg(
        min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
      t(s, dir, "lineitem")
        .crossJoin(broadcast(bounds))
        .select(col("l_returnflag"),
          bucketIdx(col("l_extendedprice"), col("lo"), col("hi"), nb).as("bucket"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(count(lit(1)).as("n"))
    }),

    // column profiling ("ANALYZE TABLE" surface): per-column row count,
    // null count, exact distinct, min/max — the statistics a cost-based
    // optimizer and a data-quality dashboard both consume. One pass for
    // the scalar stats; exact distincts expand per column (Spark plans
    // multi-distinct via Expand, still one scan).
    "q52_profile" -> ((s, dir) =>
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("null_status"),
        countDistinct(col("o_orderstatus")).as("distinct_status"),
        countDistinct(col("o_custkey")).as("distinct_custkey"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"))),

    // the TPC-H Q5 shape: a 6-table star join (lineitem ⋈ orders ⋈
    // customer ⋈ supplier ⋈ nation ⋈ region) with an alignment predicate
    // (customer and supplier in the SAME nation), selective dimension
    // filter, date range, and exact DECIMAL revenue rollup. The
    // dimension chain broadcasts end-to-end; the only real exchange is
    // lineitem ⋈ orders — the plan join reordering must find.
    "q53_regional_revenue" -> ((s, dir) => {
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
    }),

    // NULL-semantics surface: a nullable key (NULLIF), a NULL-SAFE
    // equi-join (`<=>` / IS NOT DISTINCT FROM — the form that still
    // plans as a hash join, unlike an OR-of-IS-NULLs), NULLs forming
    // their own GROUP BY group, and count(col) vs count(*) divergence.
    // These are the semantics data pipelines silently get wrong; one
    // query pins them all cross-engine.
    "q54_null_semantics" -> ((s, dir) => {
      import s.implicits._
      val a = t(s, dir, "orders")
        .select(col("o_orderkey"), expr("nullif(o_orderstatus, 'O')").as("st"))
      val dim = Seq(("F", "final"), ("P", "pending"),
        (null.asInstanceOf[String], "unknown")).toDF("k", "label")
      a.join(broadcast(dim), col("st") <=> col("k"), "left")
        .groupBy(col("st"), col("label"))
        .agg(count(lit(1)).as("n_rows"), count(col("st")).as("n_nonnull"))
    }),

    // histogram-based quantile ESTIMATION — the bounded-state quantile
    // sketch completing the approximate tier (a01 KMV cardinality, a02
    // count-min frequency): per group, q51's fixed 64-bucket histogram
    // is cumulated and each target quantile reports its bucket's upper
    // edge — error bounded by one bucket width, state d·buckets at any
    // scale, next to q43's exact (sort-requiring) answer. All index
    // math is the fixed single-op double sequence both engines share.
    "a03_histogram_quantiles" -> ((s, dir) => {
      val nb = 64
      val bounds = t(s, dir, "lineitem").agg(
        min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
      val hist = t(s, dir, "lineitem")
        .crossJoin(broadcast(bounds))
        .select(col("l_returnflag"), col("lo"), col("hi"),
          bucketIdx(col("l_extendedprice"), col("lo"), col("hi"), nb).as("bucket"))
        .groupBy(col("l_returnflag"), col("lo"), col("hi"), col("bucket"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum(col("n")).over(w))
        .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("l_returnflag"))))
      def est(p: Double) =
        min(when(col("cum") >= ceil(col("tot") * p),
          col("lo") + (col("bucket") + 1) * ((col("hi") - col("lo")) / nb)))
      cum.groupBy(col("l_returnflag"))
        .agg(est(0.5).as("p50_est"), est(0.9).as("p90_est"), est(0.99).as("p99_est"))
    }),

    // ordered string aggregation (LISTAGG/string_agg surface): the
    // deterministic form — collect the distinct set, sort, join — since
    // an unordered string_agg is partition-order-dependent and therefore
    // not reproducible. Distinct sets here are bounded domains (status ×
    // priority), so the collected state is small by contract.
    "q55_string_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
            .as("priorities"),
          countDistinct(col("o_orderpriority")).as("n_priorities"),
          count(lit(1)).as("n_orders"))),

    // referential-integrity audit (the dbt-test / data-contract surface):
    // orphan counts for every FK edge of the star schema in ONE lazy
    // result, ONE scan per fact table — a fact with several FK edges
    // takes all its broadcast membership probes (left joins against
    // marker key sets) in the same pass, and the per-edge orphan counts
    // are conditional sums over the missing markers. Lazy throughout:
    // Explain shows the real audit plan and the action runs once.
    "q56_fk_audit" -> ((s, dir) => {
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
    }),

    // q43's scale path: exact nearest-rank percentiles WITHOUT ranking
    // raw rows — aggregate to per-(group, value) counts first (map-side
    // combined; the window then runs over distinct values, not rows),
    // cumulate, and take the smallest value whose cumulative count
    // reaches ⌈p·n⌉ — identical results to q43 (same oracle), but the
    // sort touches |distinct values| per group instead of |rows|.
    "q57_percentiles_agg" -> ((s, dir) => {
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
    }),

    // FULL OUTER join — the one join type the surface lacked (inner /
    // left / semi / anti / as-of / interval are covered elsewhere):
    // per-nation customer vs supplier presence, where each side
    // genuinely contributes unmatched rows (q13 shows the key sets
    // differ). Aggregate-then-join so the outer join runs on the small
    // per-key frames, and the nullable sides surface as explicit zeros.
    "q58_full_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_supp"))
      c.join(su, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    }),

    // the ranking window-function family q14 (row_number) and q40
    // (ntile/first/last/nth) leave open: rank / dense_rank with their
    // tie semantics (quantities tie heavily, so gaps vs no-gaps
    // genuinely differ) and the distribution functions percent_rank =
    // (rank−1)/(N−1), cume_dist = peers≤/N — exact integer ratios, so
    // the doubles hash-match. One shuffle + one sort serves all four.
    "q59_rank_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cd"))
    }),

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
    "q60_corpus_diff" -> ((s, dir) => {
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
    }),

    // correlated LATERAL subquery with ORDER BY + LIMIT — the "top-N per
    // outer row" SQL surface (Spark 3.2+'s LATERAL keyword; DuckDB has
    // the same). The analyzer decorrelates the limit-under-correlation
    // into a DomainJoin + per-domain window, so the declarative form
    // plans as one join + one bounded window — NOT a nested loop
    // re-running the inner query per outer row. The outer side (nation)
    // is bounded metadata; the inner scan is shared across all outer
    // rows after decorrelation, which is exactly the 100 TB contract.
    "q61_lateral" -> ((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_name, c_acctbal FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      """)
    }),

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
    "q62_higher_order" -> ((s, dir) =>
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
            x => x.cast(IntegerType).cast(StringType)), ",").as("last3"))),

    // correlated-subquery min — TPC-H Q2's essential shape (lineitem
    // rows whose price IS the corpus-wide minimum for their part):
    // Catalyst de-correlates the per-part MIN subquery into an
    // aggregate + self-join, the rewrite every warehouse migration
    // exercises. Keys land on (partkey = min's partkey AND price =
    // min price); ties (several suppliers at the min) are all kept —
    // Q2's semantics.
    "q63_correlated_min" -> ((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT p.p_partkey, l.l_suppkey, l.l_extendedprice
        FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_size >= 40
          AND l.l_extendedprice = (
            SELECT min(l2.l_extendedprice) FROM lineitem l2
            WHERE l2.l_partkey = p.p_partkey)""")
    }),

    // relational DIVISION — "customers who ordered in EVERY priority
    // class", the classic ∀-quantified join (Codd's ÷). Two equivalent
    // formulations exist; the scalable one is counting: group the
    // distinct (custkey, priority) pairs and keep customers whose
    // distinct-priority count equals the universe size (a broadcast
    // one-row subquery) — one shuffle on custkey, no double NOT EXISTS
    // nested-loop anywhere.
    "q64_rel_division" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val universe = o.select(col("o_orderpriority")).distinct()
        .agg(count(lit(1)).as("n_all"))
      o.select(col("o_custkey"), col("o_orderpriority")).distinct()
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_prio"))
        .crossJoin(broadcast(universe))
        .filter(col("n_prio") === col("n_all"))
        .select(col("o_custkey"), col("n_prio"))
    }),

    // sequential pattern detection — the MATCH_RECOGNIZE shape Spark
    // lacks as SQL surface, expressed as running state over an ordered
    // per-user stream: a PURCHASE "converts cleanly" iff the most
    // recent preceding VIEW is within 30 minutes AND no ERROR landed
    // between them. Two conditional running-max windows (last view ts,
    // last error ts) turn the regex-ish "V (not E)* P within t" into
    // three per-row comparisons — one partition-local sort per user,
    // no self-join, no explosion; the 100 TB shape is billions of
    // users × bounded sessions, never one giant ordered partition.
    "q65_pattern_match" -> ((s, dir) => {
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
    }),

    // key-skew diagnostics for a prospective join/shuffle key — the
    // measurement that decides j01's salt factor (and whether to salt at
    // all) before the join ever runs. Operator is
    // [[graft.operators.Relational.skewProfile]]: per-key counts, then
    // one scalar roll-up of exact integer moments — no global window, no
    // sort; every ratio is a fixed-shape double expression so the
    // profile is bit-identical cross-engine. Key here is l_suppkey, the
    // key j01 salts.
    "q66_skew_profile" -> ((s, dir) =>
      graft.operators.Relational.skewProfile(t(s, dir, "lineitem"), "l_suppkey")),

    // op 21 — catalog query (no SQL oracle: engine-specific surface)
    "q20_catalog" -> ((s, dir) => {
      for (n <- Seq("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "documents", "embeddings"))
        t(s, dir, n).createOrReplaceTempView(n)
      eventsTable(s, dir).createOrReplaceTempView("events")
      s.sql("SHOW TABLES").select(col("tableName")).orderBy(col("tableName"))
    })
  )

  // ------------------------------------------------------- parity oracles

  val parityOracles: Map[String, String] = Map(
    "q01_fullscan" -> "SELECT * FROM region",
    // same integer moments (n, Σc, Σc², max) then the same fixed-shape
    // double expressions — one correctly-rounded sqrt, bit-identical
    "q66_skew_profile" ->
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
         FROM c""",
    "q61_lateral" ->
      """SELECT n.n_name, t.c_name, t.c_acctbal
         FROM nation n,
         LATERAL (SELECT c_name, c_acctbal FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_name LIMIT 2) t""",
    // list_reduce folds left-to-right like Spark's aggregate; the
    // list_prepend supplies the 0.0 seed. list() with ORDER BY
    // (l_linenumber, l_quantity) pins the same canonical element order
    // as the array_sort'd struct collect — linenumber alone is NOT a
    // total order in this corpus (duplicate (orderkey, linenumber)
    // pairs exist), so the qty tiebreak is load-bearing.
    "q62_higher_order" ->
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
         FROM arr""",
    "q63_correlated_min" ->
      """SELECT p.p_partkey, l.l_suppkey, l.l_extendedprice
         FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
         WHERE p.p_size >= 40
           AND l.l_extendedprice = (
             SELECT min(l2.l_extendedprice) FROM lineitem l2
             WHERE l2.l_partkey = p.p_partkey)""",
    "q64_rel_division" ->
      """WITH u AS (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_all
                    FROM orders),
           cp AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
         SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_prio
         FROM cp, u
         GROUP BY o_custkey, u.n_all
         HAVING count(*) = u.n_all""",
    "q60_corpus_diff" ->
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
         FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""",
    "j03_merge_upsert" ->
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
         SELECT * FROM src""",
    "q59_rank_funcs" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                CAST(rank() OVER w AS INT) AS rnk,
                CAST(dense_rank() OVER w AS INT) AS drnk,
                percent_rank() OVER w AS prnk,
                cume_dist() OVER w AS cd
         FROM lineitem
         WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)""",
    "q58_full_outer" ->
      """WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
                    FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
               FROM supplier GROUP BY 1)
         SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
                COALESCE(n_cust, 0) AS n_cust,
                COALESCE(n_supp, 0) AS n_supp
         FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey""",
    // NOT EXISTS, not NOT IN: left_anti counts a NULL-keyed fact row as
    // an orphan while NOT IN's NULL semantics would silently suppress
    // whole edges — NOT EXISTS matches anti-join semantics exactly
    "q56_fk_audit" ->
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
                  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))""",
    "q55_string_agg" ->
      """SELECT o_orderstatus,
                array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',')
                  AS priorities,
                count(DISTINCT o_orderpriority) AS n_priorities,
                count(*) AS n_orders
         FROM orders GROUP BY 1""",
    "a03_histogram_quantiles" ->
      """WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
                    FROM lineitem),
         h AS (SELECT l_returnflag, lo, hi,
                 least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / 64)) AS BIGINT),
                       63) AS bucket,
                 count(*) AS n
               FROM lineitem, b GROUP BY 1, 2, 3, 4),
         c AS (SELECT l_returnflag, lo, hi, bucket, n,
                 SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(n) OVER (PARTITION BY l_returnflag) AS tot
               FROM h)
         SELECT l_returnflag,
                min(CASE WHEN cum >= ceil(tot * 0.5)
                         THEN lo + (bucket + 1) * ((hi - lo) / 64) END) AS p50_est,
                min(CASE WHEN cum >= ceil(tot * 0.9)
                         THEN lo + (bucket + 1) * ((hi - lo) / 64) END) AS p90_est,
                min(CASE WHEN cum >= ceil(tot * 0.99)
                         THEN lo + (bucket + 1) * ((hi - lo) / 64) END) AS p99_est
         FROM c GROUP BY 1""",
    "q54_null_semantics" ->
      """WITH a AS (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st FROM orders),
         dim(k, label) AS (VALUES ('F', 'final'), ('P', 'pending'), (NULL, 'unknown'))
         SELECT st, label, count(*) AS n_rows, count(st) AS n_nonnull
         FROM a LEFT JOIN dim ON st IS NOT DISTINCT FROM k
         GROUP BY 1, 2""",
    "q53_regional_revenue" ->
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
         GROUP BY 1""",
    "q51_histogram" ->
      """WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
                    FROM lineitem)
         SELECT l_returnflag,
                least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / 20)) AS BIGINT),
                      19) AS bucket,
                count(*) AS n
         FROM lineitem, b
         GROUP BY 1, 2""",
    "q52_profile" ->
      """SELECT count(*) AS n_rows,
                CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS null_status,
                count(DISTINCT o_orderstatus) AS distinct_status,
                count(DISTINCT o_custkey) AS distinct_custkey,
                min(o_totalprice) AS min_price,
                max(o_totalprice) AS max_price,
                min(o_orderdate) AS min_date,
                max(o_orderdate) AS max_date
         FROM orders""",
    "q49_month_spine" ->
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
         FROM spine LEFT JOIN agg USING (month_start)""",
    "q50_exists" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
           AND NOT EXISTS (SELECT 1 FROM lineitem l2
                           WHERE l2.l_orderkey = o.o_orderkey
                             AND l2.l_discount > 0.09)""",
    "q48_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                count(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""",
    "a02_countmin" ->
      s"""WITH ev AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         h AS (SELECT user_id, n, j,
                 (${NorthStar.mixSql(NorthStar.fnvSql("CAST(user_id AS VARCHAR)"), "j")}) % 256 AS bucket
               FROM ev CROSS JOIN (SELECT unnest(range(4)) AS j)),
         cells AS (SELECT j, bucket, SUM(n) AS cell FROM h GROUP BY 1, 2),
         est AS (SELECT h.user_id, min(cell) AS est_count
                 FROM h JOIN cells USING (j, bucket) GROUP BY 1)
         SELECT user_id, n AS n_exact, CAST(est_count AS BIGINT) AS est_count
         FROM ev JOIN est USING (user_id)""",
    "q47_outliers" ->
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
         WHERE abs((l_extendedprice - mean_p) / sd_p) > 1.7""",
    "q45_funnel" ->
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
                LEFT JOIN s3 USING (user_id)""",
    "q46_retention" ->
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
         FROM a JOIN c USING (user_id) GROUP BY 1, 2""",
    "g02_pagerank" -> {
      def round(prev: String, out: String) =
        s"""c$out AS (SELECT e.dst AS node, SUM($prev.rank // d.deg) AS in_sum
                      FROM e JOIN $prev ON e.src = $prev.node
                      JOIN deg d ON e.src = d.src GROUP BY 1),
            $out AS (SELECT n.node,
                       150000000000 + (85 * COALESCE(c$out.in_sum, 0)) // 100 AS rank
                     FROM n LEFT JOIN c$out USING (node))"""
      s"""WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 10000000 AS p
                      FROM lineitem),
         e AS (SELECT s AS src, p AS dst FROM e0
               UNION ALL SELECT p AS src, s AS dst FROM e0),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         n AS (SELECT DISTINCT src AS node FROM e),
         r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM n),
         ${round("r0", "r1")},
         ${round("r1", "r2")},
         ${round("r2", "r3")}
         SELECT node, CAST(rank AS BIGINT) AS rank FROM r3"""
    },
    // recursive CTE with UNION (distinct) semantics: the (node, hops)
    // state space is bounded by nodes × 5; min(hops) recovers the
    // first-discovery hop the Spark frontier iteration records directly
    "g04_bfs_hops" ->
      """WITH RECURSIVE
           e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 10000000 AS p
                  FROM lineitem),
           e AS (SELECT s AS src, p AS dst FROM e0
                 UNION ALL SELECT p AS src, s AS dst FROM e0),
           r AS (SELECT CAST(1 AS BIGINT) AS node, 0 AS hops
                 UNION
                 SELECT e.dst AS node, r.hops + 1 AS hops
                 FROM r JOIN e ON e.src = r.node
                 WHERE r.hops < 4)
         SELECT node, MIN(hops) AS hops FROM r GROUP BY 1""",
    // naive id-ordered triple join — same census as the degree-ordered
    // plan (each triangle has exactly one u<v<w labeling)
    "g05_triangles" ->
      """WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_quantity >= 30),
           e AS (SELECT DISTINCT a.p AS u, b.p AS v
                 FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           deg AS (SELECT x, count(*) AS d
                   FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
                   GROUP BY x),
           tri AS (SELECT count(*) AS t
                   FROM e e1
                   JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
                   JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
           wd AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS nw FROM deg)
         SELECT t AS n_triangles, nw AS n_wedges,
                3.0 * t / nw AS global_clustering
         FROM tri, wd""",
    "g06_degree_stats" ->
      """WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_quantity >= 30),
           e AS (SELECT DISTINCT a.p AS u, b.p AS v
                 FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
                   FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
                   GROUP BY x),
           ed AS (SELECT da.d AS du, db.d AS dv
                  FROM e JOIN deg da ON da.x = e.u JOIN deg db ON db.x = e.v),
           s AS (SELECT CAST(count(*) AS BIGINT) AS m_half,
                        CAST(sum(du + dv) AS BIGINT) AS sx,
                        CAST(sum(du * du + dv * dv) AS BIGINT) AS sxx,
                        CAST(sum(2 * du * dv) AS BIGINT) AS sxy
                 FROM ed),
           vs AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices,
                         CAST(max(d) AS BIGINT) AS max_degree
                  FROM deg)
         SELECT n_vertices, m_half AS n_edges, max_degree,
                2.0 * m_half / n_vertices AS avg_degree,
                CASE WHEN 2 * m_half * sxx - sx * sx = 0 THEN NULL
                     ELSE CAST(2 * m_half * sxy - sx * sx AS DOUBLE)
                          / CAST(2 * m_half * sxx - sx * sx AS DOUBLE) END
                  AS assortativity
         FROM s, vs""",
    // naive two-hop replay: common neighbors via the doubled adjacency
    // list joined on the shared endpoint; the RA fold sorted ascending
    // from 0.0 exactly as the Spark-side pinned fold
    "g07_link_predict" ->
      """WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_quantity >= 30),
           e AS (SELECT DISTINCT a.p AS u, b.p AS v
                 FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           nbr AS (SELECT u AS x, v AS y FROM e
                   UNION ALL SELECT v AS x, u AS y FROM e),
           deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
                   FROM nbr GROUP BY x),
           cn AS (SELECT e.u, e.v, n1.y AS w
                  FROM e
                  JOIN nbr n1 ON n1.x = e.u
                  JOIN nbr n2 ON n2.x = e.v AND n2.y = n1.y),
           ag AS (SELECT c.u, c.v,
                    CAST(count(*) AS BIGINT) AS n_common,
                    list_reduce(
                      list_prepend(0.0, list_sort(list(1.0 / dg.d))),
                      (p, q) -> p + q) AS ra_score
                  FROM cn c JOIN deg dg ON dg.x = c.w
                  GROUP BY c.u, c.v)
         SELECT e.u, e.v,
                CAST(coalesce(ag.n_common, 0) AS BIGINT) AS n_common,
                ag.ra_score
         FROM e LEFT JOIN ag ON ag.u = e.u AND ag.v = e.v""",
    // fixed 16-round peel chain: each round keeps edges whose both
    // endpoints have degree >= 12 in the previous round's subgraph;
    // idempotent once converged (round 7 on this graph), so the fixed
    // depth replays the Spark fixpoint exactly. Every round is
    // MATERIALIZED — each g_i is referenced three times by round i+1,
    // and inlining would expand g0 exponentially (3^16 source scans
    // blew DuckDB's file-handle budget before the keyword was added)
    // the d06 recursive-reach replay over the sparser co-order graph,
    // plus the component-size join
    "g09_components" ->
      """WITH RECURSIVE inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                                FROM lineitem WHERE l_quantity >= 46),
           e0 AS (SELECT DISTINCT a.p AS doc_a, b.p AS doc_b
                  FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM e0
                     UNION ALL SELECT doc_b, doc_a FROM e0),
           reach(src, dst) AS (
             SELECT src, dst FROM edges
             UNION
             SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
           comp AS (SELECT src AS vertex, least(src, min(dst)) AS component
                    FROM reach GROUP BY src),
           cs AS (SELECT component, CAST(count(*) AS BIGINT) AS component_size
                  FROM comp GROUP BY component)
         SELECT vertex, comp.component, component_size
         FROM comp JOIN cs ON cs.component = comp.component""",

    // per-community modularity decomposition: integer moments, then the
    // same fixed-shape double expression as the operator (div + mul
    // only, no pow) so q_contrib matches bit-for-bit
    "g10_modularity" ->
      """WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_quantity >= 30),
           e AS (SELECT DISTINCT a.p AS u, b.p AS v
                 FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
           deg AS (SELECT x AS vertex, CAST(count(*) AS BIGINT) AS d
                   FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
                   GROUP BY x),
           lab AS (SELECT p_partkey AS vertex, p_brand AS community FROM part),
           comm AS (SELECT community, CAST(count(*) AS BIGINT) AS n_vertices,
                           CAST(sum(d) AS BIGINT) AS degree_sum
                    FROM deg JOIN lab USING (vertex) GROUP BY community),
           intra AS (SELECT lu.community AS community,
                            CAST(count(*) AS BIGINT) AS intra_edges
                     FROM e JOIN lab lu ON lu.vertex = e.u
                            JOIN lab lv ON lv.vertex = e.v
                     WHERE lu.community = lv.community
                     GROUP BY lu.community)
         SELECT comm.community, n_vertices, degree_sum,
                COALESCE(intra_edges, CAST(0 AS BIGINT)) AS intra_edges,
                CAST(COALESCE(intra_edges, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
                  - (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                    * (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                  AS q_contrib
         FROM comm LEFT JOIN intra ON intra.community = comm.community
         CROSS JOIN m""",

    // 4-round sync-LPA replay: each round is one vote count + one
    // row_number argmax (count DESC, label ASC), MATERIALIZED so round
    // i+1 reads a table, not an exponentially inlined subtree
    "g11_lpa_labels" -> {
      def round(i: Int) =
        s"""n$i AS MATERIALIZED (
              SELECT ed.src AS vertex, l.lab, count(*) AS c
              FROM ed JOIN l${i - 1} l ON l.vertex = ed.dst
              GROUP BY 1, 2),
            l$i AS MATERIALIZED (
              SELECT vertex, lab FROM (
                SELECT vertex, lab, row_number() OVER (
                  PARTITION BY vertex ORDER BY c DESC, lab) AS rn
                FROM n$i) WHERE rn = 1)"""
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                       FROM lineitem WHERE l_quantity >= 46),
           e0 AS MATERIALIZED (
             SELECT DISTINCT a.p AS u, b.p AS v
             FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           ed AS MATERIALIZED (
             SELECT u AS src, v AS dst FROM e0
             UNION ALL SELECT v, u FROM e0),
           l0 AS (SELECT DISTINCT src AS vertex, src AS lab FROM ed),
           ${(1 to 4).map(round).mkString(",\n")},
           cs AS (SELECT lab, CAST(count(*) AS BIGINT) AS community_size
                  FROM l4 GROUP BY lab)
         SELECT vertex, l4.lab AS community, community_size
         FROM l4 JOIN cs USING (lab)"""
    },
    // g02's unrolled integer rounds with restart mass confined to the
    // seed flag; the rank > 0 cut is exact integer arithmetic
    "g12_ppr" -> {
      def round(prev: String, out: String) =
        s"""c$out AS (SELECT e.dst AS node, SUM($prev.rank // d.deg) AS in_sum
                      FROM e JOIN $prev ON e.src = $prev.node
                      JOIN deg d ON e.src = d.src GROUP BY 1),
            $out AS (SELECT ns.node,
                       (CASE WHEN ns.seed THEN 150000000000 ELSE 0 END)
                         + (85 * COALESCE(c$out.in_sum, 0)) // 100 AS rank
                     FROM ns LEFT JOIN c$out USING (node))"""
      s"""WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 10000000 AS p
                      FROM lineitem),
         e AS (SELECT s AS src, p AS dst FROM e0
               UNION ALL SELECT p AS src, s AS dst FROM e0),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         n AS (SELECT DISTINCT src AS node FROM e),
         sd AS (SELECT s_suppkey AS node FROM supplier WHERE s_nationkey = 0),
         ns AS (SELECT n.node, sd.node IS NOT NULL AS seed
                FROM n LEFT JOIN sd USING (node)),
         r0 AS (SELECT node,
                  CASE WHEN seed THEN CAST(1000000000000 AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS rank
                FROM ns),
         ${round("r0", "r1")},
         ${round("r1", "r2")},
         ${round("r2", "r3")}
         SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 WHERE rank > 0"""
    },
    "g08_kcore" -> {
      def peel(i: Int) =
        s"""d$i AS MATERIALIZED (
              SELECT x, count(*) AS c
              FROM (SELECT u AS x FROM g${i - 1}
                    UNION ALL SELECT v AS x FROM g${i - 1})
              GROUP BY x),
            g$i AS MATERIALIZED (
              SELECT e.u, e.v FROM g${i - 1} e
              JOIN d$i ka ON ka.x = e.u AND ka.c >= 12
              JOIN d$i kb ON kb.x = e.v AND kb.c >= 12)"""
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                       FROM lineitem WHERE l_quantity >= 30),
           g0 AS MATERIALIZED (
             SELECT DISTINCT a.p AS u, b.p AS v
             FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           ${(1 to 16).map(peel).mkString(",\n")}
         SELECT x AS vertex, CAST(count(*) AS BIGINT) AS core_degree
         FROM (SELECT u AS x FROM g16 UNION ALL SELECT v AS x FROM g16)
         GROUP BY x"""
    },
    "a06_bloom_filter" -> {
      val hu = NorthStar.fnvSql("'bloom:' || CAST(k AS VARCHAR)")
      // 64-bit lane mask for bit position `b` (0..63): bit 63 is the
      // signed reinterpretation; power(2, b) is exact for b <= 62
      def msk(b: String) =
        s"""CASE WHEN ($b) = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                 ELSE CAST(power(2, $b) AS BIGINT) END"""
      def lane(l: Int) =
        s"""bit_or(CASE WHEN p // 64 = $l THEN ${msk("p % 64")}
                        ELSE CAST(0 AS BIGINT) END) AS lane$l"""
      def pick(p: String) =
        s"""CASE WHEN ($p) // 64 = 0 THEN lane0
                 WHEN ($p) // 64 = 1 THEN lane1
                 WHEN ($p) // 64 = 2 THEN lane2
                 ELSE lane3 END"""
      def bitSet(p: String) = s"(${pick(p)} & ${msk(s"($p) % 64")}) <> 0"
      s"""WITH el AS (SELECT DISTINCT o_orderpriority AS grp, o_custkey AS k
                      FROM orders WHERE o_custkey % 97 = 0),
           eh AS (SELECT grp, k, $hu AS hu FROM el),
           pos AS (SELECT grp,
                     CAST(unnest([hu % 256, (hu // 256) % 256]) AS BIGINT) AS p
                   FROM eh),
           lanes AS (SELECT grp, ${lane(0)}, ${lane(1)}, ${lane(2)}, ${lane(3)}
                     FROM pos GROUP BY grp),
           ph AS (SELECT k, $hu AS hu
                  FROM (SELECT c_custkey AS k FROM customer)),
           pp AS (SELECT k, CAST(hu % 256 AS BIGINT) AS p1,
                         CAST((hu // 256) % 256 AS BIGINT) AS p2
                  FROM ph),
           pj AS (SELECT l.grp, pp.k,
                         ${bitSet("pp.p1")} AND ${bitSet("pp.p2")} AS maybe
                  FROM pp CROSS JOIN lanes l),
           wa AS (SELECT pj.grp, pj.maybe, el.k IS NOT NULL AS actual
                  FROM pj LEFT JOIN el ON el.grp = pj.grp AND el.k = pj.k),
           cnt AS (SELECT grp,
                     CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_maybe,
                     CAST(sum(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_actual
                   FROM wa GROUP BY grp)
         SELECT l.grp, l.lane0, l.lane1, l.lane2, l.lane3,
                c.n_maybe, c.n_actual
         FROM lanes l JOIN cnt c ON c.grp = l.grp"""
    },
    // the tug-of-war counters replayed in HUGEINT mixed-draw parity,
    // median of means via a sorted 4-list (l[2]+l[3])/2
    "a07_ams_sketch" -> {
      val hu = NorthStar.mixSql(
        NorthStar.fnvSql("CAST(user_id AS VARCHAR)"), "j")
      s"""WITH ev AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
                      FROM events GROUP BY user_id),
           sg AS (SELECT n, j,
                    CASE WHEN ($hu) % 2 = 1 THEN 1 ELSE -1 END AS sign
                  FROM ev CROSS JOIN (SELECT unnest(range(16)) AS j)),
           ctr AS (SELECT j, CAST(sum(sign * n) AS BIGINT) AS c
                   FROM sg GROUP BY j),
           mn AS (SELECT j // 4 AS g, CAST(sum(c * c) AS DOUBLE) / 4.0 AS m
                  FROM ctr GROUP BY j // 4),
           ms AS (SELECT list_sort(list(m)) AS l FROM mn),
           ex AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                         CAST(sum(n * n) AS BIGINT) AS f2_exact
                  FROM ev)
         SELECT ex.n_users, ex.f2_exact,
                (l[2] + l[3]) / 2.0 AS f2_est,
                ((l[2] + l[3]) / 2.0) / CAST(ex.f2_exact AS DOUBLE) AS ratio
         FROM ex, ms"""
    },
    "q44_scd2_history" ->
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
         FROM ch""",
    "j04_incremental_agg" ->
      """SELECT o_custkey, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY 1""",
    // the declarative inequality theta-join the grid join replaces —
    // overlap of [t, t+10min) windows ⇔ |t_p − t_e| < 10 min; exact
    // integer-micros arithmetic in both engines
    "j05_overlap_join" ->
      """WITH p AS (SELECT event_id AS p_id, epoch_us(ts) AS p_us
                    FROM events WHERE event_type = 'purchase'),
            e AS (SELECT event_id AS e_id, epoch_us(ts) AS e_us
                  FROM events WHERE event_type = 'error')
         SELECT p_id, e_id,
                least(p_us, e_us) + 600000000 - greatest(p_us, e_us) AS overlap_us
         FROM p JOIN e
           ON p_us < e_us + 600000000 AND e_us < p_us + 600000000""",
    "q57_percentiles_agg" ->
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
         FROM r GROUP BY 1""",
    "q43_percentiles" ->
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
         FROM r GROUP BY 1""",
    "q02_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity AS qty, l_extendedprice AS price FROM lineitem",
    "q03_scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
         round(((l_quantity + 273.15) - 273.15) * 9.0 / 5.0 + 32.0, 3) AS qty_f,
         l_extendedprice * (1.0 - l_discount) AS disc_price
         FROM lineitem""",
    "q04_epoch_ts" ->
      """SELECT o_orderkey,
         CAST(to_timestamp(CAST(epoch(o_orderdate) AS BIGINT) + (-18000)) AS TIMESTAMP) AS local_ts
         FROM orders""",
    "q05_ts_extract" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(year(l_shipdate) AS INT) AS y, CAST(month(l_shipdate) AS INT) AS m,
         CAST(day(l_shipdate) AS INT) AS d,
         date_trunc('month', l_shipdate) AS month_start
         FROM lineitem""",
    "q06_ts_coerce" ->
      """SELECT o_orderkey,
         TRY_CAST(CASE WHEN o_orderstatus = 'F'
                       THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                       ELSE 'bad-' || o_orderstatus END AS TIMESTAMP) AS coerced
         FROM orders""",
    "q07_join_lookup" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
                c_name, c_mktsegment, c_acctbal
         FROM orders INNER JOIN customer ON o_custkey = c_custkey""",
    "q08_join_chain" ->
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1.0 - l_discount) AS revenue,
                o_orderdate, c_name, n_name, r_name
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey""",
    "q09_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
                COUNT(*) AS count_order
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q10_topk" ->
      "SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100",
    "q11_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q12_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
         UNION
         SELECT s_nationkey AS nationkey FROM supplier""",
    "q13_intersect" ->
      """SELECT nationkey, 'both' AS which FROM
           (SELECT DISTINCT c_nationkey AS nationkey FROM customer
            INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
         UNION ALL
         SELECT nationkey, 'customer_only' AS which FROM
           (SELECT DISTINCT c_nationkey AS nationkey FROM customer
            EXCEPT SELECT DISTINCT s_nationkey FROM supplier)""",
    "q14_window_serial" ->
      """SELECT o_orderkey, o_custkey,
                CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
         FROM orders""",
    "q15_window_running" ->
      """SELECT o_orderkey, o_custkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
         FROM orders""",
    "q16_limit" ->
      "SELECT * FROM nation ORDER BY n_nationkey LIMIT 10",
    "q17_json_extract" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",
    "q18_events_ts" ->
      """SELECT event_id, date_trunc('second', ts) AS ts_sec, event_type, value
         FROM events""",
    "q19_events_agg" ->
      """SELECT event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
                COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q21_array_access" ->
      """SELECT l_orderkey, l_linenumber,
                ([{'v': l_quantity, 'tag': 'qty'}, {'v': l_extendedprice, 'tag': 'price'}])[1].v AS first_v,
                ([{'v': l_quantity, 'tag': 'qty'}, {'v': l_extendedprice, 'tag': 'price'}])[2].tag AS second_tag
         FROM lineitem""",
    "q22_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q23_left_join" ->
      """SELECT o_orderkey, o_custkey, c_name
         FROM orders LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000) c
           ON o_custkey = c_custkey""",
    "q24_semi_anti" ->
      """SELECT c_custkey, c_name, 'has_orders' AS which FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT c_custkey, c_name, 'no_orders' AS which FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q25_window_lag" ->
      """SELECT o_orderkey, o_custkey,
                lag(o_totalprice, 1) OVER w AS prev_price,
                lead(o_totalprice, 1) OVER w AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "q27_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
    "j01_salted_join" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
         FROM orders INNER JOIN customer ON o_custkey = c_custkey""",
    "q28_serial_distributed" ->
      """SELECT o_orderkey, o_orderdate,
                CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS id
         FROM orders""",
    "q29_time_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q30_asof_join" ->
      """WITH o AS (SELECT o_custkey AS user_id, o_orderdate,
                           max(o_orderkey) AS o_orderkey
                    FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.ts, e.user_id, o.o_orderdate, o.o_orderkey
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.user_id AND e.ts >= o.o_orderdate""",
    // two engine ASOF joins (backward >=, forward <=) + the same
    // strict-< integer microsecond-delta CASE, ties to backward
    "q67_asof_nearest" ->
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
         FROM b JOIN f USING (event_id)""",
    "q33_window_range" ->
      """SELECT event_id, user_id,
                count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_trailing_1h
         FROM events""",
    "q32_pivot" ->
      """SELECT user_id,
                count(*) FILTER (event_type = 'click') AS n_click,
                count(*) FILTER (event_type = 'error') AS n_error,
                count(*) FILTER (event_type = 'purchase') AS n_purchase,
                count(*) FILTER (event_type = 'signup') AS n_signup,
                count(*) FILTER (event_type = 'view') AS n_view
         FROM events GROUP BY 1""",
    "q31_interval_join" ->
      """SELECT o_orderkey, count(*) AS n_shipped,
                min(l_linenumber) AS first_line, max(l_linenumber) AS last_line
         FROM lineitem l JOIN orders o
           ON l.l_orderkey = o.o_orderkey
          AND l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
         GROUP BY 1""",
    // the SUM is CAST to BIGINT because DuckDB's SUM yields HUGEINT, which
    // pandas materializes as float64 — a dtype-only hash divergence from
    // Spark's int64 on identical values
    "q26_sessionize" ->
      """SELECT event_id, user_id,
                CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
                              THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM (SELECT event_id, user_id, ts,
                      lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
               FROM events)""",
    // integer day ages against the max event date, the same
    // 1/(1<<age) exact division, (ts, event_id)-sorted fold
    "a08_decayed_counts" ->
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS anchor FROM events),
           ag AS (SELECT user_id, ts, event_id,
                    least(date_diff('day', CAST(ts AS DATE), anchor), 62) AS age
                  FROM events, mx),
           w AS (SELECT user_id, ts, event_id,
                   1.0 / CAST(1 << age AS DOUBLE) AS w
                 FROM ag)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                list_reduce(list_prepend(0.0, list(w ORDER BY ts, event_id)),
                            (p, q) -> p + q) AS decayed_count
         FROM w GROUP BY user_id""",
    // same two conditional running-max windows; second-truncated epochs
    // (epoch_us // 1e6) replicate Spark's unix_timestamp floor
    "q65_pattern_match" ->
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
           AND (last_error IS NULL OR last_error < last_view)""",
    "q39_setops_all" ->
      """WITH a AS (SELECT o_custkey, o_orderpriority FROM orders),
            h AS (SELECT o_custkey, o_orderpriority FROM orders
                  WHERE o_totalprice > 100000)
         SELECT *, 'both' AS which FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM h)
         UNION ALL
         SELECT *, 'low_only' AS which FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM h)""",
    "q38_topk_sql_rewrite" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
    "q34_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q35_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice
         FROM orders
         WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM orders)
               > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
           AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)""",
    "q36_unpivot" ->
      """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
         UNION ALL
         SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part""",
    "q37_stats_agg" ->
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
         FROM g""",
    "j02_bloom_join" ->
      """SELECT o_orderkey, o_custkey, c_name
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'""",
    // the KMV estimate replayed in SQL: distinct FNV hashes per type, the
    // 64th smallest in UNSIGNED order ((h < 0) sorts the wrapped negatives
    // last), then the identical double algebra as Hashing.kmvEstimate
    "a01_distinct_sketch" ->
      s"""WITH hv AS (SELECT DISTINCT event_type,
                        ${NorthStar.signedSql(NorthStar.fnvSql("CAST(user_id AS VARCHAR)"))} AS h
                      FROM events),
            st AS (SELECT event_type, count(*) AS nd FROM hv GROUP BY 1),
            r AS (SELECT event_type, h,
                    row_number() OVER (PARTITION BY event_type
                                       ORDER BY (h < 0), h) AS rn
                  FROM hv),
            kth AS (SELECT event_type, h AS kh FROM r WHERE rn = 64),
            ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
                   FROM events GROUP BY 1)
          SELECT ex.event_type, ex.n_exact,
                 CASE WHEN st.nd < 64 THEN CAST(st.nd AS DOUBLE)
                      ELSE 63.0 / (CAST(kth.kh AS DOUBLE) / 18446744073709551616.0 +
                                   CASE WHEN kth.kh < 0 THEN 1.0 ELSE 0.0 END)
                 END AS est_distinct
          FROM ex JOIN st USING (event_type) LEFT JOIN kth USING (event_type)""",
    // KMV set-op replay: per-type bottom-64 sketches in unsigned order,
    // per-pair merged bottom-64 of the sketch-set union, ρ via
    // membership in BOTH input sketches, the identical double algebra
    "a05_sketch_setops" ->
      s"""WITH hv AS (SELECT DISTINCT event_type,
                        ${NorthStar.signedSql(NorthStar.fnvSql("CAST(user_id AS VARCHAR)"))} AS h
                      FROM events),
            bk AS (SELECT event_type, h FROM
                     (SELECT event_type, h,
                        row_number() OVER (PARTITION BY event_type
                                           ORDER BY (h < 0), h) AS rn
                      FROM hv) WHERE rn <= 64),
            tp AS (SELECT DISTINCT event_type FROM events),
            pr AS (SELECT a.event_type AS ta, b.event_type AS tb
                   FROM tp a JOIN tp b ON a.event_type < b.event_type),
            uh AS (SELECT pr.ta, pr.tb, bk.h
                   FROM pr JOIN bk ON bk.event_type IN (pr.ta, pr.tb)
                   GROUP BY 1, 2, 3),
            ur AS (SELECT ta, tb, h,
                     row_number() OVER (PARTITION BY ta, tb
                                        ORDER BY (h < 0), h) AS rn
                   FROM uh),
            mg AS (SELECT ta, tb, h, rn FROM ur WHERE rn <= 64),
            ms AS (SELECT ta, tb, count(*) AS m,
                     max(CASE WHEN rn = 64 THEN h END) AS kth
                   FROM mg GROUP BY 1, 2),
            rh AS (SELECT mg.ta, mg.tb, count(*) AS r
                   FROM mg
                   JOIN bk ba ON ba.event_type = mg.ta AND ba.h = mg.h
                   JOIN bk bb ON bb.event_type = mg.tb AND bb.h = mg.h
                   GROUP BY 1, 2),
            est AS (SELECT ms.ta, ms.tb, ms.m,
                      COALESCE(rh.r, 0) AS r,
                      CASE WHEN ms.m < 64 THEN CAST(ms.m AS DOUBLE)
                           ELSE 63.0 / (CAST(ms.kth AS DOUBLE) / 18446744073709551616.0 +
                                        CASE WHEN ms.kth < 0 THEN 1.0 ELSE 0.0 END)
                      END AS est_union
                    FROM ms LEFT JOIN rh ON rh.ta = ms.ta AND rh.tb = ms.tb),
            ut AS (SELECT DISTINCT user_id, event_type FROM events),
            n1 AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
            nb AS (SELECT a.event_type AS ta, b.event_type AS tb,
                     count(*) AS n_inter_exact
                   FROM ut a JOIN ut b ON a.user_id = b.user_id
                                      AND a.event_type < b.event_type
                   GROUP BY 1, 2)
          SELECT est.ta AS type_a, est.tb AS type_b,
                 na.n + nbb.n - COALESCE(nb.n_inter_exact, 0) AS n_union_exact,
                 COALESCE(nb.n_inter_exact, 0) AS n_inter_exact,
                 est.est_union,
                 (CAST(est.r AS DOUBLE) / CAST(est.m AS DOUBLE)) * est.est_union
                   AS est_intersection
          FROM est
          JOIN n1 na ON na.event_type = est.ta
          JOIN n1 nbb ON nbb.event_type = est.tb
          LEFT JOIN nb ON nb.ta = est.ta AND nb.tb = est.tb""",
    // HLL replay: same FNV hash, low-6-bit register index, lowest-set-bit
    // rho via the identical unrolled CASE, raw harmonic-mean estimate
    "a04_hll_sketch" -> {
      val rhoSql = (6 to 37)
        .map(k => s"WHEN (h & ${1L << k}) <> 0 THEN ${k - 5}")
        .mkString("CASE ", " ", " ELSE 33 END")
      s"""WITH hv AS (SELECT DISTINCT event_type,
                        ${NorthStar.signedSql(NorthStar.fnvSql("CAST(user_id AS VARCHAR)"))} AS h
                      FROM events),
            r AS (SELECT event_type, CAST(h & 63 AS INT) AS j, $rhoSql AS rho
                  FROM hv),
            regs AS (SELECT event_type, j, MAX(rho) AS m_j FROM r GROUP BY 1, 2),
            est AS (SELECT event_type, count(*) AS n_present,
                      SUM(power(CAST(2.0 AS DOUBLE), -m_j)) AS sum_present
                    FROM regs GROUP BY 1),
            ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
                   FROM events GROUP BY 1)
          SELECT ex.event_type, ex.n_exact,
                 64 - est.n_present AS n_zero_registers,
                 CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
                   / (sum_present + CAST(64 - n_present AS DOUBLE)) AS est_hll
          FROM ex JOIN est USING (event_type)"""
    },
    // the same hash/rho register algebra keyed by (type, hour), the
    // 24-hour window as a register merge (max by window), exact twin
    // from the same window expansion of raw (type, user, hour) rows
    "a09_sliding_hll" -> {
      val rhoSql = (6 to 37)
        .map(k => s"WHEN (h & ${1L << k}) <> 0 THEN ${k - 5}")
        .mkString("CASE ", " ", " ELSE 33 END")
      s"""WITH ev AS (SELECT event_type, user_id,
                        epoch_us(ts) // 3600000000 AS hour
                      FROM events),
            mx AS (SELECT max(hour) AS max_hour FROM ev),
            hv AS (SELECT event_type, hour,
                     ${NorthStar.signedSql(NorthStar.fnvSql("CAST(user_id AS VARCHAR)"))} AS h
                   FROM ev),
            r AS (SELECT event_type, hour, CAST(h & 63 AS INT) AS j,
                    $rhoSql AS rho
                  FROM hv),
            regs AS (SELECT event_type, hour, j, MAX(rho) AS m_j
                     FROM r GROUP BY 1, 2, 3),
            wexp AS (SELECT event_type, j, m_j,
                       unnest(range(hour, least(hour + 24, mx.max_hour + 1)))
                         AS win_end
                     FROM regs, mx),
            wr AS (SELECT event_type, win_end, j, MAX(m_j) AS m_j
                   FROM wexp GROUP BY 1, 2, 3),
            est AS (SELECT event_type, win_end, count(*) AS n_present,
                      SUM(power(CAST(2.0 AS DOUBLE), -m_j)) AS sum_present
                    FROM wr GROUP BY 1, 2),
            exw AS (SELECT event_type, user_id,
                      unnest(range(hour, least(hour + 24, mx.max_hour + 1)))
                        AS win_end
                    FROM ev, mx),
            ex AS (SELECT event_type, win_end, COUNT(DISTINCT user_id) AS n_exact
                   FROM exw GROUP BY 1, 2)
          SELECT ex.event_type, CAST(ex.win_end AS BIGINT) AS win_end,
                 ex.n_exact,
                 CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
                   / (sum_present + CAST(64 - n_present AS DOUBLE)) AS est_hll
          FROM ex JOIN est USING (event_type, win_end)"""
    },
    "q40_window_funcs" ->
      """SELECT o_orderkey, o_custkey,
                CAST(ntile(4) OVER wr AS INT) AS quartile,
                first_value(o_totalprice) OVER wf AS first_price,
                last_value(o_totalprice) OVER wf AS last_price,
                nth_value(o_totalprice, 2) OVER wf AS second_price
         FROM orders
         WINDOW wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    // running distinct count via the first-occurrence-flag rewrite —
    // provably equal to the collect_set formulation under the same total
    // order (a type's flag is 1 exactly once per user, at its first row)
    "q41_window_distinct" ->
      """SELECT event_id, user_id,
                CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
                  AS n_distinct_types
         FROM (SELECT event_id, user_id, ts,
                      CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                                   ORDER BY ts, event_id) = 1
                           THEN 1 ELSE 0 END AS flag
               FROM events)""",
    "q42_zorder_layout" ->
      s"""SELECT o_orderkey, o_custkey,
                 ${graft.functions.ZOrder.zorderSql("o_custkey", "o_orderkey", 21)} AS z
          FROM orders""",
    // op 21 catalog: the registered table set is a static constant, so the
    // oracle is a VALUES list — hash-checkable instead of rows-only
    "q20_catalog" ->
      """SELECT * FROM (VALUES ('customer'),('documents'),('embeddings'),('events'),
                               ('lineitem'),('nation'),('orders'),('part'),
                               ('region'),('supplier')) AS t("tableName")
         ORDER BY "tableName""""
  )

  def all: Map[String, (SparkSession, String) => DataFrame] =
    parity ++ NorthStar.queries

  def oracles: Map[String, String] =
    parityOracles ++ NorthStar.oracles
}
