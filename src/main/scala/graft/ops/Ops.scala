package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Generic operator library — the Spark-native re-expression of the
  * reference's Polars idioms (SURVEY.md §2). Every windowed operator
  * takes explicit `partition` columns: the reference runs each of these
  * globally on a single pre-filtered pool (v3/helpers/swap_math.py:66–68,
  * pool_helpers.py:177–180), which is fine per-pool but collapses to one
  * task at 100 TB — callers partition by their entity key
  * (e.g. `address`, `chain_name`, `user_id`) so the window parallelizes.
  */
object Ops {

  private def spec(partition: Seq[Column], order: Seq[Column]): WindowSpec =
    if (partition.isEmpty) Window.orderBy(order: _*)
    else Window.partitionBy(partition: _*).orderBy(order: _*)

  /** Ensure a CPU-heavy narrow pipeline gets at least the session's
    * shuffle parallelism. A small input that arrives in fewer
    * partitions than the session target — one parquet file, one row
    * group — would otherwise run its whole per-row projection
    * (tokenize/shingle/regex/dot-product) inside a single scan task on
    * one core: the narrow-stage analog of the keyless-window trap, and
    * one AQE cannot fix (it only re-plans *after* a shuffle). At fleet
    * scale scans already exceed the target and this is a no-op; when
    * taken, the repartition moves only the raw input bytes. Hash
    * `keys` when given (cheap, deterministic); keyless falls back to
    * round-robin. */
  def parallelizeInput(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (outputPartitions(df) >= target) df
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }

  /** `df`'s partition count, read without running it. `df.rdd` on an
    * adaptive plan executes every shuffle stage just to count (2 jobs
    * on an aggregate plus semi-join), so a plan with an exchange or a
    * subquery answers from its physical partitioning instead: a plan
    * that ends in a shuffle has the exchange's count, and an unknown
    * partitioning (0) counts as too narrow. Only a plan with neither —
    * a scan, a cached frame, a checkpoint, a local relation — builds
    * its RDD, which starts no job. */
  private def outputPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    df.queryExecution.executedPlan match {
      case aqe: AdaptiveSparkPlanExec => aqe.executedPlan.outputPartitioning.numPartitions
      case p if p.exists(_.isInstanceOf[Exchange]) || p.subqueriesAll.nonEmpty =>
        p.outputPartitioning.numPartitions
      case _ => df.rdd.getNumPartitions
    }
  }

  /** Running sum over `order` within `partition` — the reference's
    * `cumsum()` (swap_math.py:68, swap.py:154–158). */
  def cumSum(df: DataFrame, value: Column, order: Seq[Column],
             partition: Seq[Column], out: String): DataFrame =
    df.withColumn(out, sum(value).over(
      spec(partition, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Next row's value — the reference's `shift(-1)` (pool_helpers.py:82).
    * Missing last value is filled with `default` when given (P7). */
  def leadCol(df: DataFrame, value: Column, order: Seq[Column],
              partition: Seq[Column], out: String,
              default: Option[Column] = None): DataFrame = {
    val led = lead(value, 1).over(spec(partition, order))
    df.withColumn(out, default.fold(led)(d => coalesce(led, d)))
  }

  /** Forward fill — the reference's `forward_fill()` after resample
    * (pool_helpers.py:177–180). */
  def forwardFill(df: DataFrame, cols: Seq[String], order: Seq[Column],
                  partition: Seq[Column]): DataFrame = {
    val w = spec(partition, order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Keep exactly the last row per key in the given order — the
    * reference's `.sort(k).group_by(k).last()` (pool_helpers.py:144–146).
    * Spark's `last()` is shuffle-nondeterministic, so this is a
    * row_number over an explicit ordering (SURVEY.md §7.4 risk #1). */
  def lastPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys: _*).orderBy(order.map(_.desc): _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Latest row strictly before `bound` per partition — the reference's
    * `filter(as_of < x).tail(1)` (state.py:204–209). */
  def latestBefore(df: DataFrame, asOf: Column, bound: Column,
                   order: Seq[Column], partition: Seq[Column]): DataFrame = {
    val filtered = df.filter(asOf < bound)
    if (partition.isEmpty) filtered.orderBy(order.map(_.desc): _*).limit(1)
    else lastPerKey(filtered, partition, order)
  }

  /** Epoch-aligned time bucket on an epoch-nanoseconds key; returns
    * bucket start in epoch *seconds*. Matches Polars
    * `group_by_dynamic(every=...)` left-closed epoch-aligned buckets
    * (pool_helpers.py:148–149) and DuckDB
    * `(epoch_ns(ts) // (s*1e9)) * s`. */
  def bucketNs(tsNs: Column, everySeconds: Long): Column = {
    val everyNs = everySeconds * 1000000000L
    // Integer `div`, not `/`: double division loses exactness above 2^53
    // and would mis-bucket events within ~100ns of a boundary.
    call_function("div", tsNs, lit(everyNs)) * everySeconds
  }

  /** Same as bucketNs for an epoch-microseconds key. */
  def bucketUs(tsUs: Column, everySeconds: Long): Column =
    call_function("div", tsUs, lit(everySeconds * 1000000L)) * everySeconds

  /** Epoch-aligned bucket of a TimestampType column; returns bucket
    * start as timestamp (= Spark `window(ts, dur).start`). */
  def bucketTs(ts: Column, dur: String): Column =
    window(ts, dur).getField("start")

  /** Ceiling of a timestamp to the next bucket boundary (exact
    * boundaries stay put) — the reference's `ceil_dt` helper
    * (pool_helpers.py:37–41, F8). */
  def ceilTs(ts: Column, dur: String): Column = {
    val start = bucketTs(ts, dur)
    when(start === ts, ts)
      .otherwise(window(ts, dur).getField("end"))
  }

  /** Polars-parity median as an aggregate expression:
    * `quantile(0.5, interpolation="nearest")` = the ascending-sorted
    * element at 0-based index floor(n/2) (round-half-away of (n−1)/2).
    * Implemented as an in-group sort (collect_list → sort_array), so it
    * is for bounded groups (per-bucket medians) — global medians use
    * exact `percentile` (A5). Ref pool_helpers.py:186–188. */
  def quantileNearestAgg(value: Column): Column =
    element_at(sort_array(collect_list(value)),
      (count(value) / 2).cast("int") + lit(1))

  /** Time-bucketed aggregation ("resample", A7). `bucket` must be an
    * epoch-aligned bucket expression from bucketNs/bucketTs. */
  def resample(df: DataFrame, bucket: Column, keys: Seq[Column],
               aggs: Seq[Column]): DataFrame =
    df.groupBy((keys :+ bucket.as("bucket")): _*).agg(aggs.head, aggs.tail: _*)

  /** Backward as-of join (J2): for each left row, attach `valueCols`
    * from the latest right row with `right.on <= left.on`, equal `by`
    * keys. Implemented as union + ignore-nulls window (one shuffle,
    * no row explosion) rather than a range join — scales to any
    * left/right size and parallelizes over `by`.
    * Re-expresses Polars `join_asof` (pool_helpers.py:202). */
  def asofJoin(left: DataFrame, right: DataFrame, on: String,
               by: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "asofJoin needs at least one value column")
    val leftCols = left.columns.toSeq
    val carried = leftCols.filterNot(c => c == on || by.contains(c))
    // a carried left column sharing a valueCol name would emit two
    // same-named columns (real value + null placeholder) and fail
    // ambiguously downstream — reject it up front
    val clash = carried.toSet.intersect(valueCols.toSet)
    require(clash.isEmpty,
      s"asofJoin: left columns ${clash.mkString(", ")} collide with valueCols — alias them first")
    // Common shape: by ++ on ++ carried-left-cols ++ right-value-cols ++ side
    val lNorm = left.select(
      (by.map(col) :+ col(on)) ++ carried.map(col) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)) :+
        lit(1).as("__side"): _*)
    val rNorm = right.select(
      (by.map(col) :+ col(on)) ++
        carried.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        valueCols.map(col) :+ lit(0).as("__side"): _*)
    // Right rows sort before left rows at equal `on` → "<=" semantics.
    val w = spec(by.map(col), Seq(col(on).asc, col("__side").asc))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(lNorm.unionByName(rNorm))((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    filled.filter(col("__side") === 1).drop("__side")
      .select(leftCols.map(col) ++ valueCols.map(col): _*)
  }

  /** Scalable global forward fill: a global `Window.orderBy` collapses
    * to one task; this is the two-pass alternative for keyless
    * event-time fills at fleet scale.
    *
    *  1. bucketize rows by approximate range quantiles of the numeric
    *     `on` column (driver gets only the ≤`numBuckets` boundaries);
    *  2. forward fill *within* each bucket in parallel;
    *  3. compute each bucket's last non-null value (tiny frame), chain
    *     the fills across buckets with one small window, and broadcast
    *     the per-bucket seeds back as the fallback for rows before a
    *     bucket's first non-null.
    *
    * Order inside a bucket is (`on`, `order`...); equal `on` values
    * always share a bucket, so results equal the single-window fill.
    */
  def rangedForwardFill(df: DataFrame, cols: Seq[String], on: String,
                        order: Seq[Column], numBuckets: Int = 64): DataFrame = {
    val probes = (1 until numBuckets).map(_.toDouble / numBuckets).toArray
    val bounds = df.stat.approxQuantile(on, probes, 0.001).distinct.sorted
    val bucketCol = bounds.zipWithIndex.foldRight(lit(bounds.length)) {
      case ((b, i), acc) => when(col(on) <= b, i).otherwise(acc)
    }
    val bucketed = df.withColumn("__bucket", bucketCol)
    val fullOrder = col(on) +: order

    // pass 1: parallel within-bucket fill
    val wWithin = Window.partitionBy(col("__bucket")).orderBy(fullOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = cols.foldLeft(bucketed)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(wWithin)))

    // pass 2: per-bucket last non-null (via struct-max over the order),
    // chained across buckets, shifted one bucket forward as seeds
    val lastAggs = cols.map(c => max(when(col(c).isNotNull,
      struct((fullOrder :+ col(c).as("v")): _*))).getField("v").as(s"__last_$c"))
    val bucketLast = bucketed.groupBy(col("__bucket"))
      .agg(lastAggs.head, lastAggs.tail: _*)
    val wBuckets = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seeds = cols.foldLeft(bucketLast)((d, c) =>
        d.withColumn(s"__last_$c", last(col(s"__last_$c"), ignoreNulls = true).over(wBuckets)))
      .select((col("__bucket") +:
        cols.map(c => lag(col(s"__last_$c"), 1).over(Window.orderBy(col("__bucket")))
          .as(s"__seed_$c"))): _*)

    val joined = within.join(broadcast(seeds), Seq("__bucket"), "left")
    cols.foldLeft(joined)((d, c) =>
        d.withColumn(c, coalesce(col(c), col(s"__seed_$c"))))
      .drop("__bucket" +: cols.map(c => s"__seed_$c"): _*)
  }

  /** Backward as-of join without a `by` key, built on
    * [[rangedForwardFill]] — the fleet-scale form of [[asofJoin]]'s
    * keyless case (which would otherwise run in one task). */
  def asofJoinRanged(left: DataFrame, right: DataFrame, on: String,
                     valueCols: Seq[String], numBuckets: Int = 64): DataFrame = {
    val leftCols = left.columns.toSeq
    val carried = leftCols.filterNot(_ == on)
    val lNorm = left.select((col(on) +: carried.map(col)) ++
      valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)) :+
      lit(1).as("__side"): _*)
    val rNorm = right.select((col(on) +:
      carried.map(c => lit(null).cast(left.schema(c).dataType).as(c))) ++
      valueCols.map(col) :+ lit(0).as("__side"): _*)
    val filled = rangedForwardFill(lNorm.unionByName(rNorm), valueCols,
      on, Seq(col("__side").asc), numBuckets)
    filled.filter(col("__side") === 1).drop("__side")
      .select(leftCols.map(col) ++ valueCols.map(col): _*)
  }

  /** Full-outer combine on a key with zero-fill (J1) — the reference's
    * `tl.join(tu, on="tick", how="outer").fill_null(0)`
    * (swap_math.py:62–66). Key columns must share a name. */
  def outerCombine(a: DataFrame, b: DataFrame, key: Seq[String],
                   fill: Double = 0.0): DataFrame =
    a.join(b, key, "full_outer").na.fill(fill)

  /** Dictionary remap via broadcast join (P10) — the reference's
    * `map_dict(mapping)` (data_update.py:266–277). `mapping` must have
    * columns (`from`, `to`); unmapped values keep the original. */
  def remap(df: DataFrame, column: String, mapping: DataFrame,
            from: String = "from", to: String = "to"): DataFrame = {
    val m = mapping.select(col(from).as("__from"), col(to).as("__to"))
    df.join(broadcast(m), df(column) === col("__from"), "left")
      .withColumn(column, coalesce(col("__to"), col(column)))
      .drop("__from", "__to")
  }

  /** Ordered-funnel detection — sequential pattern matching per entity
    * (a MATCH_RECOGNIZE-lite): the earliest time of each stage, where
    * stage i+1 must occur strictly AFTER the entity's earliest
    * stage-i completion (standard conversion-funnel semantics).
    * Output, one row per entity that reached stage 1:
    * (entity, s1_ts … sk_ts, stages_reached) — a stage's ts is null
    * once the funnel breaks, so stages_reached = count of non-nulls.
    *
    * Shape: one conditional-min keyed aggregate per stage, each
    * joined back on the entity key — stage i+1's min is correlated
    * with stage i's result, so the chain is inherently `stages`
    * aggregates, all partitioned on the same key (co-partitioned
    * shuffles; no window, no per-entity state, no driver loop).
    * Deterministic: min() is order-independent. */
  def funnelStages(events: DataFrame, entity: String, ts: String,
                   stage: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    val e = events.select(col(entity), col(ts).as("__ts"),
      col(stage).as("__s"))
    var acc: DataFrame = e.filter(col("__s") === stages.head)
      .groupBy(col(entity)).agg(min(col("__ts")).as("s1_ts"))
    for (i <- 2 to stages.length) {
      val next = e.filter(col("__s") === stages(i - 1))
        .join(acc.select(col(entity), col(s"s${i - 1}_ts")), Seq(entity))
        .filter(col("__ts") > col(s"s${i - 1}_ts"))
        .groupBy(col(entity)).agg(min(col("__ts")).as(s"s${i}_ts"))
      acc = acc.join(next, Seq(entity), "left")
    }
    acc.withColumn("stages_reached",
      stages.indices.map(i =>
        when(col(s"s${i + 1}_ts").isNotNull, 1L).otherwise(0L)).reduce(_ + _))
  }

  /** Retention cohorts: entities grouped by first-activity period
    * ("cohort"), counted per (cohort, periods-since-cohort) — the
    * standard cohort-retention table. Two keyed aggregations: per
    * entity (first activity, one shuffle on the entity key), then per
    * (cohort, offset) over the entity's distinct active periods.
    * Periods are integer event-time buckets (`ts / periodUs`), so the
    * whole table is exact integer arithmetic — deterministic on any
    * engine. Output: (cohort_period, period_offset, n_active). */
  def retentionCohorts(events: DataFrame, entity: String, ts: String,
                       periodUs: Long): DataFrame = {
    // FLOOR division, exact in integers: `div` truncates toward zero,
    // which would merge the two periods around a negative epoch origin
    // (and disagree with SQL floor-div `//` oracles); subtracting the
    // non-negative pmod first makes the quotient exact at any sign
    val e = events.select(col(entity),
      call_function("div",
        col(ts) - pmod(col(ts), lit(periodUs)), lit(periodUs)).as("__p"))
    val first = e.groupBy(col(entity)).agg(min(col("__p")).as("__cohort"))
    e.join(first, Seq(entity))
      .select(col(entity), col("__cohort"),
        (col("__p") - col("__cohort")).as("__off"))
      .distinct()
      .groupBy(col("__cohort").as("cohort_period"),
        col("__off").as("period_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Two-phase aggregation for skewed keys ("salting"): rows first
    * aggregate under (key, salt) — spreading a hot key over `salts`
    * reducers — then the per-salt partials combine under the key alone.
    * `partialAggs` must be re-combinable by `finalAggs` (sum→sum,
    * count→sum, min→min, max→max...). Spark's partial aggregation
    * already map-side combines; salting additionally splits the
    * *reduce* side, for keys so hot one reducer would spill — the
    * explicit form of what AQE's skew handling does for joins.
    * The salt is deterministic (hash of `saltBy`, e.g. a high-card
    * column), so results are reproducible. */
  def saltedAgg(df: DataFrame, keys: Seq[Column], saltBy: Column, salts: Int,
                partialAggs: Seq[Column], finalAggs: Seq[Column]): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(saltBy), lit(salts)))
      .groupBy((keys :+ col("__salt")): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
      .groupBy(keys: _*)
      .agg(finalAggs.head, finalAggs.tail: _*)

  /** Salted equi-join for skewed keys — the join-side sibling of
    * [[saltedAgg]]: when a handful of hot keys dominate `left`, a
    * plain shuffle join lands every hot-key row in one task (AQE's
    * skew split helps the SORT side but cannot split a hash
    * aggregation bucket, and is runtime-dependent — this form is
    * deterministic in the plan). Each left row gets a salt in
    * [0, salts) hashed from `saltBy` (any high-cardinality column);
    * the RIGHT side replicates `salts`× via a literal-range explode;
    * the join key becomes (key…, salt) — hot keys spread over `salts`
    * tasks, total shuffle volume grows only by the replicated right
    * side (use for small-but-not-broadcastable or moderately-sized
    * right sides; the replication factor is the knob). Result is
    * row-identical to the plain join (SkewJoinSpec proves bag
    * equality and the spread). */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltBy: Column, salts: Int): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    val l = left.withColumn("__salt", pmod(xxhash64(saltBy), lit(salts)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    l.join(r, keys :+ "__salt").drop("__salt")
  }

  /** Frame comparator (§2.8) — the engine-side equivalent of the
    * reference's golden `assert_frame_equal` (test_helpers.py:63):
    * schema equality plus an empty symmetric difference under bag
    * semantics (`exceptAll` both ways, so duplicate multiplicity
    * counts). Returns None when equal, or a description of the first
    * difference found. */
  def frameDiff(a: DataFrame, b: DataFrame, sample: Int = 5): Option[String] = {
    // compare (name, type) only: nullability and metadata change across
    // parquet round-trips without changing the data contract
    def shape(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    if (shape(a) != shape(b))
      return Some(s"schema mismatch: ${a.schema.simpleString} vs ${b.schema.simpleString}")
    val onlyA = a.exceptAll(b).limit(sample).collect()
    if (onlyA.nonEmpty)
      return Some(s"rows only in left: ${onlyA.mkString("; ")}")
    val onlyB = b.exceptAll(a).limit(sample).collect()
    if (onlyB.nonEmpty)
      return Some(s"rows only in right: ${onlyB.mkString("; ")}")
    None
  }

  /** First row (per partition) whose running sum of `value` reaches
    * `threshold` (O3) — the reference's cumulative-liquidity tick
    * selection `filter(cumulative >= target).head(1)` (swap.py:168). */
  def firstWhereCumGE(df: DataFrame, value: Column, threshold: Column,
                      order: Seq[Column], partition: Seq[Column],
                      cumName: String = "cum"): DataFrame = {
    val withCum = cumSum(df, value, order, partition, cumName)
    val hit = withCum.filter(col(cumName) >= threshold)
    if (partition.isEmpty) hit.orderBy(order: _*).limit(1)
    else hit.withColumn("__rn", row_number().over(spec(partition.map(c => c), order)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Row-level snapshot diff — the reconciliation operator between
    * two versions of a keyed table (yesterday's corpus vs today's, a
    * migrated copy vs its source): one full-outer join on the key
    * classifies every row as added / removed / changed / unchanged,
    * with "changed" decided by md5 over the normalized value columns
    * (16-byte compare however wide the row — the lineDedup digest
    * rule). One shuffle on the key; at fleet scale both sides bucket
    * on the key and the join goes exchange-free ([[Bucketing]]).
    * Output: (key…, status) one row per key present in either side. */
  def snapshotDiff(a: DataFrame, b: DataFrame, keys: Seq[String],
                   valueCols: Seq[String]): DataFrame = {
    def digest(df: DataFrame) = df.select(
      keys.map(col) :+ md5(concat_ws("",
        valueCols.map(c => coalesce(col(c).cast("string"), lit(" "))): _*)
      ).as("__h"): _*)
    digest(a).withColumnRenamed("__h", "__ha")
      .join(digest(b).withColumnRenamed("__h", "__hb"), keys, "full_outer")
      .select(keys.map(col) :+
        when(col("__ha").isNull, lit("added"))
          .when(col("__hb").isNull, lit("removed"))
          .when(col("__ha") =!= col("__hb"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"): _*)
  }

  /** Scalable deterministic DENSE RANK over arbitrary key columns —
    * the global-ordering primitive a naive `dense_rank() OVER (ORDER
    * BY …)` funnels through one task: distinct keys range-partition
    * (sampled boundaries, but the OUTPUT is boundary-independent —
    * ranks depend only on the total key order), sort locally, take a
    * per-partition row_number (a KEYED window on the partition id),
    * and add driver-collected partition-count prefix offsets (one
    * scalar per partition — model-sized). Returns (keys…, rank) with
    * rank dense and 1-based. The terasort shape, packaged. */
  def denseRank(df: DataFrame, keys: Seq[String], out: String = "rank",
                numParts: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val n = if (numParts > 0) numParts
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val distinct = df.select(keys.map(col): _*).distinct()
    val parts = distinct
      .repartitionByRange(n, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val counts = parts.groupBy(col("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until n).scanLeft(0L)((acc, p) =>
      acc + counts.getOrElse(p, 0L)).dropRight(1)
    val offCol = typedlit(offsets)
    parts
      .withColumn(out,
        element_at(offCol, col("__pid") + 1) +
          row_number().over(Window.partitionBy(col("__pid"))
            .orderBy(keys.map(col): _*)))
      .drop("__pid")
  }

  /** Fuzzy record linkage (entity resolution) — the BLOCKED
    * edit-distance self-join: records pair only within their blocking
    * key (the record-linkage analog of an LSH band — a deterministic
    * cheap key both copies of a dirty entity agree on, e.g. a name
    * substring avoiding the noisy tail, a phone suffix, a zip), then
    * candidates score by `levenshtein` — classic DP, exact integers,
    * codegen'd in Spark and identical in DuckDB, so the whole fuzzy
    * join is oracle-gradable. Without blocking this is the O(n²)
    * cross join every ER paper warns about; with it, cost is
    * Σ_block |block|² — the caller's key choice bounds the fan-out
    * exactly like [[intervalJoin]]'s bucket width. Hot blocks are hot
    * equi-keys: salt or AQE-skew-split like any other. Output:
    * (a, b, lev) with a < b and lev ≤ maxEdit; join attributes back
    * on the ids for agreement scoring, and feed the matched pairs to
    * `Dedup.duplicateClusters` for canonical entity ids. */
  def fuzzyLinkPairs(df: DataFrame, id: String, block: Column,
                     name: Column, maxEdit: Int): DataFrame = {
    val l = df.select(col(id).as("a"), block.as("__blk"), name.as("__na"))
    val r = df.select(col(id).as("b"), block.as("__blk"), name.as("__nb"))
    l.join(r, Seq("__blk")).filter(col("a") < col("b"))
      .withColumn("lev", levenshtein(col("__na"), col("__nb")).cast("long"))
      .filter(col("lev") <= maxEdit)
      .select(col("a"), col("b"), col("lev"))
  }

  /** CMS join-size estimation — the count-min inner-product bound a
    * planner consults BEFORE running an equi-join it suspects is
    * quadratic (hot-key self-joins chief among them): per lane d,
    * Σ_b cntA[d,b]·cntB[d,b] ≥ true |A ⋈ B| with equality iff no
    * collisions; the estimate is the MIN over the four lanes. Both
    * sides' registers are d×width rows regardless of input size (one
    * keyed aggregate each with map-side combine — the
    * [[graft.llm.TextAnalysis.cmsRegisters]] additivity story for
    * arbitrary join keys), the product join touches 4·width rows, and
    * every step is exact integer arithmetic the oracle replays — so
    * the overestimate guarantee is graded, not asserted. Output: one
    * row (est, n_a, n_b) with est = minimum lane inner product. */
  def joinSizeSketch(a: DataFrame, keyA: Column, b: DataFrame,
                     keyB: Column, width: Int = 256): DataFrame = {
    def regs(df: DataFrame, key: Column) = {
      graft.functions.Md5LanesExpr.register(df.sparkSession)
      df.select(posexplode(graft.functions.Md5LanesExpr
        .of(key.cast("string").cast("binary"))).as(Seq("lane", "h32")))
        .select(col("lane"), pmod(col("h32"), lit(width)).as("bucket"))
        .groupBy(col("lane"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
    }
    val ra = regs(a, keyA).localCheckpoint()
    val rb = regs(b, keyB).localCheckpoint()
    val est = ra
      .join(rb.withColumnRenamed("cnt", "cnt_b"), Seq("lane", "bucket"))
      .groupBy(col("lane")).agg(sum(col("cnt") * col("cnt_b")).as("ip"))
      .agg(min(col("ip")).as("est"))
    // each row lands once per lane, so Σcnt = 4·|side| exactly
    val na = ra.agg(call_function("div", sum(col("cnt")), lit(4L)).as("n_a"))
    val nb = rb.agg(call_function("div", sum(col("cnt")), lit(4L)).as("n_b"))
    est.crossJoin(broadcast(na)).crossJoin(broadcast(nb))
  }

  /** Interval (range) join by bucketization — the scale answer to
    * point-in-interval predicates. A naive `p.ts >= i.lo AND p.ts <
    * i.hi` join has no equality conjunct, so Spark plans a
    * BroadcastNestedLoopJoin (or a per-`by`-key theta join): O(|P|·|I|)
    * comparisons, the classic 100 TB killer. Instead each interval is
    * exploded to the fixed-width buckets it covers and each point to
    * the single bucket containing it; the join becomes an EQUI-join on
    * (`by`…, bucket) — one bounded shuffle, hash/sort-merge planned —
    * refined by the exact half-open predicate `lo <= pt < hi`. A point
    * lies in exactly one bucket, so no pair is produced twice and no
    * post-join dedup is needed.
    *
    * Cost model: the exploded interval side has Σ⌈len/width⌉ ≈
    * |I|·(avgLen/width + 1) rows — pick `bucketWidth` near the p95
    * interval length so the blow-up stays ≈ 2×. Rows meeting in a
    * bucket are candidates; the refine filter discards the near-misses
    * at the bucket edges. Skewed buckets (a hot second) salt like any
    * hot equi-key — AQE skew-join handles it at runtime.
    *
    * `pt`, `lo`, `hi` are integer (epoch-microsecond) columns with
    * `lo <= hi`; zero-length intervals match nothing. Column names of
    * `points` and `intervals` must be disjoint apart from `by`. */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
                   pt: String, lo: String, hi: String,
                   bucketWidth: Long, by: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val pb = points.withColumn("__b",
      call_function("div", col(pt), lit(bucketWidth)))
    val ib = intervals
      .filter(col(hi) > col(lo))
      .withColumn("__b", explode(sequence(
        call_function("div", col(lo), lit(bucketWidth)),
        call_function("div", col(hi) - 1, lit(bucketWidth)))))
    pb.join(ib, by :+ "__b")
      .filter(col(pt) >= col(lo) && col(pt) < col(hi))
      .drop("__b")
  }

  /** Mergeable fixed-bin histogram sketch with per-group quantile
    * estimates — the scale answer to exact `percentile` (A5): an exact
    * percentile of one group is a sort of that group, but a histogram
    * is a (group, bin)-keyed COUNT whose partials merge by addition,
    * so it survives any corpus size, any number of groups, and
    * incremental maintenance (the same additivity contract as the
    * CMS). Values arrive integerized (cents — the house rounding
    * trick); bin = clamp((vc − loC)·nBins ÷ (hiC − loC)), and the
    * estimate for quantile num/den is the lower bound of the first bin
    * whose running count reaches ⌈n·num/den⌉ — every step exact
    * integer arithmetic, so the DuckDB oracle replays sketch AND
    * estimates bit-for-bit, and the estimate is within one bin width
    * of the exact percentile by construction (HistogramSpec).
    *
    * Output per group: (keys…, n_total, q_<name>_c …). `hiC − loC`
    * must divide evenly by `nBins` so bin bounds are integers.
    *
    * Scale shape: one hash aggregate with map-side combine down to
    * ≤ nBins rows per group, one keyed window over those nBins rows,
    * one chained-conditional-min aggregate (the funnel trick) back to
    * one row per group. No sort of the data, no driver state. */
  def histogramQuantiles(df: DataFrame, keys: Seq[Column], valueCents: Column,
                         loC: Long, hiC: Long, nBins: Int,
                         quantiles: Seq[(String, Long, Long)]): DataFrame = {
    require(nBins > 0 && hiC > loC, "need nBins > 0 and hiC > loC")
    require((hiC - loC) % nBins == 0,
      "hiC - loC must be a multiple of nBins (integer bin bounds)")
    require(quantiles.nonEmpty &&
      quantiles.forall { case (_, n, d) => n >= 1 && n <= d },
      "quantiles must be rationals in (0, 1]")
    val width = (hiC - loC) / nBins
    val bin = least(greatest(
      call_function("div", (valueCents - loC) * nBins, lit(hiC - loC)),
      lit(0L)), lit(nBins - 1L))
    val hist = df.groupBy((keys :+ bin.as("bin")): _*)
      .agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy(keys: _*).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys: _*)
    val cum = hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
    val aggs = max(col("total")).as("n_total") +: quantiles.map {
      case (name, num, den) =>
        val target = call_function("div",
          col("total") * num + (den - 1), lit(den))
        min(when(col("cum") >= target, col("bin"))).as(s"__bin_$name")
    }
    val grouped = cum.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    quantiles.foldLeft(grouped) { case (g, (name, _, _)) =>
      g.withColumn(s"q_${name}_c", lit(loC) + col(s"__bin_$name") * width)
        .drop(s"__bin_$name")
    }
  }
}
