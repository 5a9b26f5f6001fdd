package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational operator layer (SURVEY.md §2 ops 11-13, 18-21 + the §2.1
 * gap-ledger extensions: aggregation, sort/top-k, distinct, set ops,
 * window functions).
 *
 * Scale posture (100 TB): lookup joins broadcast the dimension side
 * explicitly; fact-fact joins rely on shuffle-hash/sort-merge with AQE;
 * top-k uses `sort.limit` which Spark executes as a per-partition
 * TakeOrdered (no global sort shuffle).
 */
object Relational {

  /**
   * Op 11 — inner equi-join fact ⋈ small dimension with projection.
   * The reference ships this join to Postgres
   * (weather_etl_pipeline.py:160-180); here it is a
   * BroadcastHashJoinExec — the dimension is broadcast so the fact side
   * never shuffles, which is the correct plan at any fact-table scale.
   */
  def lookupJoin(fact: DataFrame, dim: DataFrame, key: String): DataFrame =
    fact.join(broadcast(dim), Seq(key), "inner")

  /**
   * SERIAL-id semantics (reference README.md:262 `SERIAL PRIMARY KEY`):
   * dense, deterministic ids assigned by position in a total order —
   * `row_number` over an explicit ordering, recomputed per read
   * (SURVEY.md §7.3#1). For scale: partition the window where a total
   * order isn't required.
   */
  def withSerialId(df: DataFrame, orderBy: Seq[Column], idCol: String = "id"): DataFrame =
    df.withColumn(idCol, row_number().over(Window.orderBy(orderBy: _*)))

  /**
   * Scale-safe SERIAL ids: the unpartitioned window above funnels every
   * row through ONE task — fine for the reference's row-per-day table,
   * fatal at 100 TB. This variant range-partitions by the order keys,
   * sorts within partitions, and assigns ids as partition offset +
   * local index (one count pass + one zip pass, both fully parallel).
   * Ids are dense 1..n in the global orderBy order.
   */
  def withSerialIdDistributed(df: DataFrame, orderBy: Seq[Column],
                              idCol: String = "id"): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(orderBy: _*).sortWithinPartitions(orderBy: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(idCol, org.apache.spark.sql.types.LongType, nullable = false))
    val withIdx = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(withIdx, schema)
  }

  /**
   * Top-k: ORDER BY ... LIMIT k. Spark plans this as
   * TakeOrderedAndProject — each partition keeps only k rows, the driver
   * merges; no global sort shuffle even at 100 TB.
   */
  def topK(df: DataFrame, k: Int, orderBy: Column*): DataFrame =
    df.orderBy(orderBy: _*).limit(k)

  /** Op 19 — truncate: overwrite the table path with an empty frame. */
  def truncate(df: DataFrame, path: String): Unit =
    df.limit(0).write.mode("overwrite").parquet(path)

  /**
   * Per-key top-k via the custom [[graft.plans.TopKPerKey]] operator:
   * per-partition bounded heaps (O(n log k), memory O(keys×k)) instead of
   * the window formulation's full partition sort + filter. Same output
   * SET as `row_number().over(partitionBy keys orderBy order) <= k` when
   * `order` is a total order. Registers the planner strategy on the
   * session if needed.
   */
  def topKPerKey(df: DataFrame, keyCols: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKeyStrategy
    val child = GraftBridge.analyzed(df)
    def resolve(e: Expression): Expression = e.transformUp {
      case u: UnresolvedAttribute =>
        child.output.find(_.name == u.nameParts.last).getOrElse(
          throw new IllegalArgumentException(s"column ${u.name} not in ${child.output.map(_.name)}"))
    }
    val keyExprs: Seq[Expression] = keyCols.map(n =>
      child.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"key column $n not found")))
    val sortOrders = order.map(c => GraftBridge.catalystExpression(spark, c) match {
      case so: SortOrder => so.copy(child = resolve(so.child))
      case e => SortOrder(resolve(e), Ascending)
    })
    GraftBridge.ofRows(spark, graft.plans.TopKPerKey(keyExprs, sortOrders, k, child))
  }

  /**
   * Key-skew diagnostics for a prospective shuffle/join key: one row of
   * distribution statistics over the per-key row counts — the
   * measurement that DECIDES [[saltedJoin]]'s `factor` (and whether
   * salting is needed at all) instead of guessing it. `skew_ratio` =
   * max/mean key count is exactly the fan-out a perfectly balanced
   * salting must absorb, surfaced directly as `recommended_salt` =
   * ⌈skew_ratio⌉ (1 = uniform, no salting); `top1_share` says whether
   * one key dominates the whole table; `cv` (coefficient of variation)
   * separates a single hot key from broad unevenness.
   *
   * Exactness + scale: two aggregations, nothing else — a per-key count
   * (one shuffle, map-side combined) and a scalar roll-up of integer
   * moments (n, Σc, Σc², max). No global window, no sort, no order
   * sensitivity: every double is a fixed-shape expression of exact
   * integer sums (÷, ×, one correctly-rounded sqrt), so the profile is
   * bit-identical cross-engine and the plan is flat regardless of key
   * cardinality. Σc² fits a long while Σ(c)·max(c) < 2^63 — beyond that
   * the counts themselves are the story. Empty input yields one row of
   * zeros/NULL ratios rather than no rows.
   */
  def skewProfile(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val nk = count(lit(1)).cast("long")
    val nr = sum(col("cnt")).cast("long")
    val mx = max(col("cnt")).cast("long")
    val sq = sum(col("cnt") * col("cnt")).cast("long")
    counts.agg(nk.as("n_keys"), nr.as("n_rows"), mx.as("max_cnt"), sq.as("_sq"))
      .select(col("n_keys"), col("n_rows"), col("max_cnt"),
        (col("n_rows").cast("double") / col("n_keys").cast("double"))
          .as("avg_cnt"),
        // the FP variance can round a hair below 0 on near-uniform keys
        // once (Σc)² exceeds 2^53 — clamp BEFORE the sqrt (Spark would
        // yield NaN, other engines error), identically in the oracle
        (sqrt(greatest(lit(0.0), col("_sq").cast("double")
            - col("n_rows").cast("double") * col("n_rows").cast("double")
              / col("n_keys").cast("double"))
          / col("n_keys").cast("double"))
          / (col("n_rows").cast("double") / col("n_keys").cast("double")))
          .as("cv"),
        (col("max_cnt").cast("double") / col("n_rows").cast("double"))
          .as("top1_share"),
        (col("max_cnt").cast("double") * col("n_keys").cast("double")
          / col("n_rows").cast("double")).as("skew_ratio"),
        ceil(col("max_cnt").cast("double") * col("n_keys").cast("double")
          / col("n_rows").cast("double")).cast("int").as("recommended_salt"))
  }

  /**
   * Skew-resistant equi-join (the manual fallback when AQE's skew-join
   * split can't apply, e.g. broadcast-ineligible dims with one hot key):
   * the fact side gets a deterministic salt in [0, factor) hashed from
   * the full row, the dim side is replicated ×factor, and the join key
   * becomes (key, salt) — a hot key's rows spread over `factor` reducers
   * instead of one straggler task. Result set identical to a plain
   * inner join on `key`.
   */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, factor: Int): DataFrame = {
    require(factor > 0, "salt factor must be positive")
    val sf = fact.withColumn("_salt",
      pmod(xxhash64(struct(fact.columns.map(col): _*)), lit(factor.toLong)).cast("int"))
    val sd = dim.withColumn("_salt", explode(sequence(lit(0), lit(factor - 1))))
    sf.join(sd, Seq(key, "_salt"), "inner").drop("_salt")
  }

  /**
   * Distributed EXACT prefix sum (running total) over a total order —
   * the scale-safe replacement for `sum().over(Window.orderBy(...))`,
   * whose unpartitioned window funnels the whole table through one
   * task. Two passes: (1) range-partition by the order column and run
   * the prefix sum per partition in parallel; (2) fold the per-partition
   * totals into starting offsets (a partition-count-sized table — the
   * only single-task window — broadcast back). The result is
   * independent of the partition count (law-tested) because range
   * partitioning preserves the total order across partitions.
   *
   * Contract: `orderCol` must be a total order (no ties) and `valCol`
   * non-null; sums must fit a long / the input type's sum.
   *
   * Correctness note on the two-branch shape: `parts` feeds BOTH the
   * local-window branch and the offsets branch, and the two must see
   * identical range-partition boundaries (the boundaries are sampled per
   * physical exchange, so two DIFFERENT exchanges can disagree and
   * silently corrupt `_pid` alignment). That is guaranteed here by
   * making the exchange subtrees canonically identical: the frame is
   * narrowed to exactly (orderCol, valCol) BEFORE the repartition, so
   * column pruning cannot specialize one branch's exchange, and Spark's
   * exchange reuse (`spark.sql.exchange.reuse`, on by default) collapses
   * them into ONE physical exchange — asserted by a plan test. Inputs
   * with extra columns are joined back on `orderCol` afterwards (unique
   * by the total-order contract).
   */
  def withRunningTotal(df: DataFrame, orderCol: String, valCol: String,
                       outCol: String = "running_total",
                       partitions: Int = 32): DataFrame = {
    val parts = df.select(col(orderCol), col(valCol))
      .repartitionByRange(partitions, col(orderCol))
      .withColumn("_pid", spark_partition_id())
    val wl = Window.partitionBy(col("_pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parts.withColumn("_lcw", sum(col(valCol)).over(wl))
    val wo = Window.orderBy(col("_pid")).rowsBetween(Window.unboundedPreceding, -1)
    // partition totals are sum(valCol) — NOT max of the running sum,
    // which diverges whenever valCol has negative values (in-contract:
    // running balances/deltas)
    val offsets = parts.groupBy(col("_pid")).agg(sum(col(valCol)).as("_psum"))
      .withColumn("_off", coalesce(sum(col("_psum")).over(wo), lit(0L)))
      .select(col("_pid"), col("_off"))
    val totals = local.join(broadcast(offsets), Seq("_pid"))
      .withColumn(outCol, col("_lcw") + col("_off"))
      .drop("_pid", "_lcw", "_off")
    if (df.columns.toSeq == Seq(orderCol, valCol)) totals
    // drop a pre-existing outCol before the join-back: the old
    // withColumn form REPLACED it, and a join would instead produce two
    // same-named columns (ambiguous-reference on any later col(outCol))
    else df.drop(outCol).join(totals.drop(valCol), Seq(orderCol))
  }

  /**
   * MERGE / upsert (SCD type-1): apply a source batch of changed + new
   * rows onto a target table keyed by `keys` — the lakehouse `MERGE INTO
   * t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE * WHEN NOT MATCHED
   * THEN INSERT *` reduced to its dataflow: target rows whose key has a
   * replacement are dropped (left_anti on the key set), then the source
   * is appended. Schemas must match by name (unionByName enforces it).
   *
   * Scale shape: the anti join shuffles the target on the key it is
   * usually already partitioned/bucketed by, and the source side is a
   * change BATCH — typically orders of magnitude smaller than the
   * target, so AQE broadcasts the key set and the target never shuffles
   * at all. Exactly-once semantics at the sink come from writing the
   * result with an overwrite of the affected partitions (see
   * Sinks/StreamingIngest for the idempotent-write pattern).
   */
  def mergeUpsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "merge needs at least one key column")
    target.join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(source)
  }

  /**
   * Runtime bloom-prefilter join — the manual form of the runtime-filter
   * pattern Spark's `InjectRuntimeFilter` applies when statistics allow:
   * when the dimension side is too big to broadcast (so the join must
   * shuffle BOTH sides), first reduce the dimension's join keys to a
   * bloom filter (one pass over the small side, a few MB of bits), then
   * prefilter the fact side with `might_contain` BEFORE its shuffle. At
   * 100 TB the win is that non-matching fact rows — often the vast
   * majority under a selective dimension filter — are dropped at the
   * scan, never serialized into the exchange. False positives pass the
   * bloom and are removed by the exact join, so the result set is
   * IDENTICAL to the plain join.
   *
   * Uses Spark's own sketch (`BloomFilterAggregate` to build,
   * `BloomFilterMightContain` to probe, both over `xxhash64(key)` — the
   * same pairing `InjectRuntimeFilter` plants). The built sketch is
   * collected to the driver and re-planted as a literal — the same
   * driver round-trip a runtime-filter scalar subquery makes; its size
   * is `numBits/8`, a function of the CALLER'S `expectedItems`/`fpp`
   * budget, never of the data. The join itself is merge-hinted (the
   * shuffle join this pattern exists for); the bloom aggregate reads the
   * un-hinted dimension, since a hint outside a join relation is
   * dropped with a warning.
   */
  def bloomPrefilterJoin(fact: DataFrame, dim: DataFrame, key: String,
                         expectedItems: Long = 1L << 20,
                         fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val bfRow = dim.select(GraftBridge.column(
      BloomFilterAggregate(
        XxHash64(Seq(GraftBridge.expression(col(key))), 42L),
        Literal(expectedItems), Literal(numBits), 0, 0).toAggregateExpression()).as("bf"))
      .head()
    val leg = dim.hint("merge")
    if (bfRow.isNullAt(0)) {
      // empty dimension: the aggregate yields null — the join is empty
      // anyway, so skip the prefilter rather than probe a null sketch
      fact.join(leg, Seq(key), "inner")
    } else {
      val pre = fact.filter(GraftBridge.column(BloomFilterMightContain(
        Literal(bfRow.getAs[Array[Byte]](0), BinaryType),
        XxHash64(Seq(GraftBridge.expression(col(key))), 42L))))
      pre.join(leg, Seq(key), "inner")
    }
  }

  /**
   * As-of join — the point-in-time join Spark has no native operator for:
   * every left row picks up the single most recent right row with the
   * same key and `rightTs` ≤ `leftTs` (left-outer semantics: no match →
   * nulls). The classic formulation is an inequality join + per-row argmax
   * — Spark plans that as a BroadcastNestedLoopJoin with O(|L|·|R|)
   * row amplification per key. This is instead the union–sort–carry plan:
   * tag both sides, union them, and run ONE `last(_, ignoreNulls)` window
   * partitioned by key, ordered by (ts, side) with right rows sorting
   * before left rows at equal ts (so a tie matches, per ASOF `>=`
   * semantics). One shuffle on the key, one within-partition sort, zero
   * amplification — the shape that survives two 100 TB fact tables.
   *
   * Contract: right (key, ts) pairs are unique (pre-aggregate duplicates
   * — otherwise which duplicate is carried depends on the union's
   * partition-interleave order); non-key right column names must not
   * collide with left's.
   */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String): DataFrame = {
    val rightPayload = right.columns.filterNot(_ == key)
    val collisions = rightPayload.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty, s"right payload columns collide with left: $collisions")
    val rv = struct(rightPayload.map(col): _*)
    val rvType = right.select(rv).schema.head.dataType
    val lv = struct(left.columns.map(col): _*)
    val l2 = left.select(col(key).as("_k"), col(leftTs).as("_ts"),
      lit(1).as("_side"), lv.as("_lv"), lit(null).cast(rvType).as("_rv"))
    val r2 = right.select(col(key).as("_k"), col(rightTs).as("_ts"),
      lit(0).as("_side"), lit(null).cast(left.select(lv).schema.head.dataType).as("_lv"),
      rv.as("_rv"))
    val w = Window.partitionBy(col("_k")).orderBy(col("_ts"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l2.unionByName(r2)
      .withColumn("_m", last(col("_rv"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
    carried.select(
      left.columns.map(c => col("_lv").getField(c).as(c)) ++
      rightPayload.map(c => col("_m").getField(c).as(c)): _*)
  }

  /**
   * Directional as-of join — [[asofJoin]]'s backward semantics plus the
   * two variants pandas' merge_asof ships and Spark lacks natively:
   * `forward` (first right row with ts ≥ left ts) and `nearest`
   * (whichever of the backward/forward matches is closer in time, ties
   * to backward). Same single-shuffle union shape as [[asofJoin]]: both
   * sides land in one (key)-partitioned, micro-ordered frame, the
   * backward match is a running `last` over RANGE (−∞, 0] and the
   * forward match a `first` over RANGE [0, +∞) — RANGE frames on the
   * epoch-microsecond key make equal-timestamp rows peers, so ties
   * match in BOTH directions regardless of union interleave. The two
   * frames share one partitioning and one sort; `nearest` compares the
   * two candidates' integer microsecond deltas — no float, exactly
   * SQL-replayable as two engine ASOF joins + a CASE.
   *
   * Contract: [[asofJoin]]'s — unique right (key, ts), no payload name
   * collisions. Timestamp/date columns compare on epoch micros (UTC
   * session); numeric ts columns are taken as-is.
   */
  def asofJoinDirected(left: DataFrame, right: DataFrame, key: String,
                       leftTs: String, rightTs: String,
                       direction: String): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    val rightPayload = right.columns.filterNot(_ == key)
    val collisions = rightPayload.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty, s"right payload columns collide with left: $collisions")
    def micros(df: DataFrame, c: String): Column =
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.DateType =>
          unix_micros(col(c).cast(org.apache.spark.sql.types.TimestampType))
        case _ => col(c).cast("long")
      }
    val rv = struct(rightPayload.map(col): _*)
    val rvType = right.select(rv).schema.head.dataType
    val lv = struct(left.columns.map(col): _*)
    val lvType = left.select(lv).schema.head.dataType
    val l2 = left.select(col(key).as("_k"), micros(left, leftTs).as("_us"),
      lit(1).as("_side"), lv.as("_lv"), lit(null).cast(rvType).as("_rv"))
    val r2 = right.select(col(key).as("_k"), micros(right, rightTs).as("_us"),
      lit(0).as("_side"), lit(null).cast(lvType).as("_lv"), rv.as("_rv"))
    val rvt = when(col("_side") === 0, struct(col("_us").as("_rus"), col("_rv").as("_p")))
    val w = Window.partitionBy(col("_k")).orderBy(col("_us"))
    val back = last(rvt, ignoreNulls = true)
      .over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
    val fwd = first(rvt, ignoreNulls = true)
      .over(w.rangeBetween(Window.currentRow, Window.unboundedFollowing))
    val chosen = direction match {
      case "backward" => back
      case "forward" => fwd
      case "nearest" =>
        val b = back; val f = fwd
        when(b.isNull, f).when(f.isNull, b)
          .when(f.getField("_rus") - col("_us") < col("_us") - b.getField("_rus"), f)
          .otherwise(b) // tie -> backward (pandas merge_asof convention)
    }
    l2.unionByName(r2)
      .withColumn("_m", chosen)
      .filter(col("_side") === 1)
      .select(
        left.columns.map(c => col("_lv").getField(c).as(c)) ++
        rightPayload.map(c => col("_m").getField("_p").getField(c).as(c)): _*)
  }

  /**
   * Point-in-interval join (`pointTs` ∈ [start, end)) sharing equality
   * `keys`, via fixed-width time bucketing. The declarative form is an
   * inequality theta-join — a nested-loop cartesian per key group in any
   * engine. Here each interval replicates to the buckets it covers
   * (amplification = ⌈interval/width⌉, a caller-tuned constant), each
   * point lands in exactly ONE bucket, and the join becomes an equi-join
   * on (keys…, bucket) + the exact containment predicate. A qualifying
   * (point, interval) pair meets only in the point's bucket, so no
   * post-join dedup is needed; recall is exact by construction. Pick
   * `bucketSeconds` ≈ the typical interval length: shorter buckets
   * replicate intervals more, longer buckets let the equi-join pass more
   * non-qualifying pairs to the filter.
   */
  def intervalJoin(points: DataFrame, intervals: DataFrame, pointTs: String,
                   startCol: String, endCol: String, keys: Seq[String],
                   bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucket width must be positive")
    // ANSI mode forbids cast(timestamp as bigint); route timestamp-family
    // columns through unix_timestamp (identity wall-clock for NTZ/date
    // under the UTC session) and numerics through a plain long cast
    def epochSeconds(df: DataFrame, c: String): Column =
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.DateType =>
          unix_timestamp(col(c).cast(org.apache.spark.sql.types.TimestampType))
        case _ => col(c).cast("long")
      }
    val wid = lit(bucketSeconds)
    val p2 = points.withColumn("_b",
      floor(epochSeconds(points, pointTs) / wid).cast("long"))
    val i2 = intervals.withColumn("_b", explode(sequence(
      floor(epochSeconds(intervals, startCol) / wid).cast("long"),
      floor(epochSeconds(intervals, endCol) / wid).cast("long"))))
    p2.join(i2, keys :+ "_b")
      .filter(col(pointTs) >= col(startCol) && col(pointTs) < col(endCol))
      .drop("_b")
  }

  /**
   * Interval-OVERLAP join (`[lStart,lEnd)` meets `[rStart,rEnd)`, i.e.
   * `lStart < rEnd && rStart < lEnd`) sharing equality `keys` — possibly
   * EMPTY, in which case the time bucket alone is the join key. The
   * declarative form is an inequality theta-join: a per-key nested loop,
   * and with no keys a BroadcastNestedLoopJoin — the canonical
   * scale-killer. Here BOTH sides replicate to the fixed-width buckets
   * their interval covers and the join becomes an equi-join on
   * (keys…, bucket) + the exact overlap predicate.
   *
   * Duplicate-free by construction: a qualifying pair is emitted only in
   * the bucket containing `max(lStart, rStart)` — a point both intervals
   * cover (it is < min(lEnd, rEnd) when they overlap) — so no post-join
   * `distinct` is needed. That matters at scale: the distinct would be a
   * second full shuffle of the OUTPUT, the largest table in the query.
   * Replication factor is ⌈len/width⌉ per side (caller-tuned constant);
   * time buckets are uniform by construction, so the shuffle is balanced
   * regardless of how the intervals cluster on any natural key.
   *
   * Timestamp/date columns are bucketed in epoch seconds (`bucketWidth`
   * in seconds); numeric columns are taken as-is (`bucketWidth` in the
   * caller's units). Non-key column names must be disjoint across sides.
   */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
                          lStart: String, lEnd: String,
                          rStart: String, rEnd: String,
                          keys: Seq[String], bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucket width must be positive")
    val collisions =
      left.columns.toSet.intersect(right.columns.toSet) -- keys.toSet
    require(collisions.isEmpty, s"non-key column names collide: $collisions")
    def epoch(df: DataFrame, c: String): Column =
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.DateType =>
          unix_timestamp(col(c).cast(org.apache.spark.sql.types.TimestampType))
        case _ => col(c).cast("long")
      }
    val w = lit(bucketWidth)
    // column exprs by NAME so they re-resolve against the joined plan
    val (ls, le) = (epoch(left, lStart), epoch(left, lEnd))
    val (rs, re) = (epoch(right, rStart), epoch(right, rEnd))
    val l2 = left.withColumn("_b", explode(sequence(
      floor(ls / w).cast("long"), floor(le / w).cast("long"))))
    val r2 = right.withColumn("_b", explode(sequence(
      floor(rs / w).cast("long"), floor(re / w).cast("long"))))
    // Exact overlap predicate on the RAW columns — epoch-second truncation
    // is monotone but lossy, and comparing truncated values would drop
    // genuinely overlapping pairs at sub-second precision (e.g. [1.2s,2.2s)
    // vs [2.1s,3.1s) truncates to rs=2 < le=2 = false). The dedup-bucket
    // filter below stays on truncated values: truncation is monotone, so
    // floor(max(ls_t,rs_t)/w) remains inside both sides' exploded ranges.
    l2.join(r2, (keys :+ "_b").toSeq)
      .filter(col(lStart) < col(rEnd) && col(rStart) < col(lEnd))
      .filter(col("_b") === floor(greatest(ls, rs) / w).cast("long"))
      .drop("_b")
  }
}
