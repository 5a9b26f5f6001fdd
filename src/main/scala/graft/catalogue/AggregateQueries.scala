package graft.catalogue

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.NorthStar._
import graft.oracle.OracleSql._

/**
 * The aggregate tier: grouped, windowed and sketch aggregates (HLL, KMV,
 * bloom, decayed counts) over the harness events and line items.
 */
object AggregateQueries {

  // approximate distinct count via the KMV bottom-k sketch aggregate
  // (bounded k-long state per group, map-side combined — the 100 TB
  // shape for distinct-user counts) next to its exact twin. The element
  // hash is FNV over the id's decimal string, so the sketch — and
  // therefore the estimate — is an engine-independent function of the
  // input set, reproducible by the oracle in plain SQL.
  val a01 = Query("a01_distinct_sketch", (s, dir) => {
      val k = 64
      val hv = graft.functions.Hashing.fnvChecksum(
        col("user_id").cast(StringType).cast(BinaryType))
      eventsTable(s, dir)
        .groupBy(col("event_type"))
        .agg(graft.functions.Hashing.kmvSketch(hv, k).as("kmv"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type"), col("n_exact"),
          graft.functions.Hashing.kmvEstimate(col("kmv"), k).as("est_distinct"))
    },
    // the KMV estimate replayed in SQL: distinct FNV hashes per type, the
    // 64th smallest in UNSIGNED order ((h < 0) sorts the wrapped negatives
    // last), then the identical double algebra as Hashing.kmvEstimate
    s"""WITH hv AS (SELECT DISTINCT event_type,
                        ${signedSql(fnvSql("CAST(user_id AS VARCHAR)"))} AS h
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
          FROM ex JOIN st USING (event_type) LEFT JOIN kth USING (event_type)""")

  // count-min frequency sketch (depth 4 × width 256) over per-user
  // event counts, next to the exact answer — the bounded-state
  // frequency-estimation twin of a01's KMV cardinality sketch. The
  // hash family is the same FNV+MinHashMix the g01 oracle replays in
  // HUGEINT arithmetic, so the SKETCH (and its over-estimates) is an
  // engine-independent function of the input and exactly
  // SQL-checkable. Cell table is d·w rows regardless of scale
  // (map-side combined); the probe join broadcasts it. 2^64 ≡ 0
  // (mod 256), so signed pmod equals the unsigned residue.
  val a02 = Query("a02_countmin", (s, dir) => {
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
    },
    s"""WITH ev AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         h AS (SELECT user_id, n, j,
                 (${mixSql(fnvSql("CAST(user_id AS VARCHAR)"), "j")}) % 256 AS bucket
               FROM ev CROSS JOIN (SELECT unnest(range(4)) AS j)),
         cells AS (SELECT j, bucket, SUM(n) AS cell FROM h GROUP BY 1, 2),
         est AS (SELECT h.user_id, min(cell) AS est_count
                 FROM h JOIN cells USING (j, bucket) GROUP BY 1)
         SELECT user_id, n AS n_exact, CAST(est_count AS BIGINT) AS est_count
         FROM ev JOIN est USING (user_id)""")

  // histogram-based quantile ESTIMATION — the bounded-state quantile
  // sketch completing the approximate tier (a01 KMV cardinality, a02
  // count-min frequency): per group, q51's fixed 64-bucket histogram
  // is cumulated and each target quantile reports its bucket's upper
  // edge — error bounded by one bucket width, state d·buckets at any
  // scale, next to q43's exact (sort-requiring) answer. All index
  // math is the fixed single-op double sequence both engines share.
  val a03 = Query("a03_histogram_quantiles", (s, dir) => {
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
    },
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
         FROM c GROUP BY 1""")

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
  val a04 = Query("a04_hll_sketch", (s, dir) => {
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
    },
    // HLL replay: same FNV hash, low-6-bit register index, lowest-set-bit
    // rho via the identical unrolled CASE, raw harmonic-mean estimate
    {
      val rhoSql = (6 to 37)
        .map(k => s"WHEN (h & ${1L << k}) <> 0 THEN ${k - 5}")
        .mkString("CASE ", " ", " ELSE 33 END")
      s"""WITH hv AS (SELECT DISTINCT event_type,
                        ${signedSql(fnvSql("CAST(user_id AS VARCHAR)"))} AS h
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
    })

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
  val a05 = Query("a05_sketch_setops", (s, dir) => {
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
    },
    // KMV set-op replay: per-type bottom-64 sketches in unsigned order,
    // per-pair merged bottom-64 of the sketch-set union, ρ via
    // membership in BOTH input sketches, the identical double algebra
    s"""WITH hv AS (SELECT DISTINCT event_type,
                        ${signedSql(fnvSql("CAST(user_id AS VARCHAR)"))} AS h
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
          LEFT JOIN nb ON nb.ta = est.ta AND nb.tb = est.tb""")

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
  val a06 = Query("a06_bloom_filter", (s, dir) => {
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
    },
    {
      val hu = fnvSql("'bloom:' || CAST(k AS VARCHAR)")
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
    })

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
  val a07 = Query("a07_ams_sketch", (s, dir) => {
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
    },
    // the tug-of-war counters replayed in HUGEINT mixed-draw parity,
    // median of means via a sorted 4-list (l[2]+l[3])/2
    {
      val hu = mixSql(
        fnvSql("CAST(user_id AS VARCHAR)"), "j")
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
    })

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
  val a08 = Query("a08_decayed_counts", (s, dir) => {
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
    },
    // integer day ages against the max event date, the same
    // 1/(1<<age) exact division, (ts, event_id)-sorted fold
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
         FROM w GROUP BY user_id""")

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
  val a09 = Query("a09_sliding_hll", (s, dir) => {
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
    },
    // the same hash/rho register algebra keyed by (type, hour), the
    // 24-hour window as a register merge (max by window), exact twin
    // from the same window expansion of raw (type, user, hour) rows
    {
      val rhoSql = (6 to 37)
        .map(k => s"WHEN (h & ${1L << k}) <> 0 THEN ${k - 5}")
        .mkString("CASE ", " ", " ELSE 33 END")
      s"""WITH ev AS (SELECT event_type, user_id,
                        epoch_us(ts) // 3600000000 AS hour
                      FROM events),
            mx AS (SELECT max(hour) AS max_hour FROM ev),
            hv AS (SELECT event_type, hour,
                     ${signedSql(fnvSql("CAST(user_id AS VARCHAR)"))} AS h
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
    })

  val all: Seq[Query] = Seq(a01, a02, a03, a04, a05, a06, a07, a08, a09)
}
