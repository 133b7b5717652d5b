package graft.v3

import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.functions.Param

/** Per-pool facade — the Spark-native `v3Pool` (reference
  * v3/state.py:8–331). Holds the (pool, chain) scope, caches the
  * pool's swap and mint/burn frames, memoizes the per-`as_of` swap
  * precompute, and exposes the query API: as-of state getters,
  * liquidity distributions, price series, swap simulation.
  *
  * Event time is `as_of = block_number + transaction_index/1e4`
  * (state.py:135–137) — totally orders events within and across
  * blocks; every point-in-time query means "state *before* the
  * transaction at that index".
  *
  * Point-in-time queries (the as-of getters, [[createLiq]],
  * [[calcSwapDF]]) take one of two paths per cached frame, chosen from
  * the row count the frame's materialization already takes: at or
  * below `driverRows` ([[Pool.MaxDriverRows]]) the frame is collected
  * once, on the first such query, into a sorted driver index and every
  * later query is answered from it without a Spark job; above it, each
  * query is a Spark plan over the cached frame with its as-of bound a
  * [[Param]]. Both paths return the same values, bit for bit where
  * Spark's final `sum` reads the partitions' partial sums in map
  * order, as local mode does (see [[Pool.MintBurnIndex.liquidity]]).
  */
class Pool private[v3] (val spark: SparkSession, val lake: Lake,
                        poolAddr: String, val chain: String,
                        driverRows: Long) {

  def this(spark: SparkSession, lake: Lake, poolAddr: String, chain: String) =
    this(spark, lake, poolAddr, chain, Pool.MaxDriverRows)

  val pool: String = poolAddr.toLowerCase
  val Q96: Double = SwapMath.Q96

  /** Factory row → (tickSpacing, fee, token0, token1)
    * (pool_helpers.py:10–34). */
  lazy val (ts: Long, fee: Long, token0: String, token1: String) = {
    val rows = lake.read(Schemas.FactoryPoolCreated)
      .filter(col("pool") === pool && col("chain_name") === chain)
      .select(col("tickSpacing"), col("fee"), col("token0"), col("token1"))
      .collect()
    require(rows.nonEmpty, "Pool missing from factory")
    require(rows.length == 1, "Multiple pools at that address")
    val r = rows.head
    (r.getString(0).toLong, r.getString(1).toLong, r.getString(2), r.getString(3))
  }

  private def withAsOf(df: DataFrame): DataFrame =
    df.withColumn("as_of",
      col("block_number") + col("transaction_index") / lit(1e4))

  /** Persists `df` and materializes it once; the count picks the path
    * of its point-in-time queries. */
  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    (cached, cached.count())
  }

  private lazy val swapsCounted = materialize(withAsOf(
    lake.read(Schemas.PoolSwapEvents)
      .filter(col("address") === pool && col("chain_name") === chain)))

  private lazy val mintBurnsCounted = materialize(withAsOf(
    lake.read(Schemas.PoolMintBurnEvents)
      .filter(col("address") === pool && col("chain_name") === chain)
      .withColumn("amount", col("amount").cast("double"))
      .withColumn("tick_lower", col("tick_lower").cast("long"))
      .withColumn("tick_upper", col("tick_upper").cast("long"))
      .withColumn("type_of_event", col("type_of_event").cast("double"))))

  /** Pool-filtered swaps with `as_of`, cached (state.py:124–144). */
  lazy val swaps: DataFrame = swapsCounted._1

  /** Pool-filtered mint/burns with math casts + `as_of`, cached
    * (state.py:146–174). */
  lazy val mintBurns: DataFrame = mintBurnsCounted._1

  /** The driver indexes of the current caches, each built on the first
    * point-in-time query that reads it; None above the bound. */
  private final class Indexes {
    lazy val swaps: Option[Pool.SwapIndex] =
      if (swapsCounted._2 > driverRows) None else Pool.SwapIndex(Pool.this.swaps)
    lazy val mintBurns: Option[Pool.MintBurnIndex] =
      if (mintBurnsCounted._2 > driverRows) None else Pool.MintBurnIndex(Pool.this.mintBurns)
  }

  @volatile private var indexes = new Indexes

  /** Highest block where both swaps and mint/burns are current —
    * queries past this see desynced data (state.py:97–106). Read from
    * the driver indexes when both frames have one, otherwise two Spark
    * aggregates; -1 for an empty frame either way. */
  lazy val maxSupported: Long = (indexes.swaps, indexes.mintBurns) match {
    case (Some(s), Some(m)) => math.min(s.maxBlock, m.maxBlock)
    case _ =>
      def maxBn(df: DataFrame): Long = {
        val r = df.agg(max(col("block_number"))).first()
        if (r.isNullAt(0)) -1L else r.getLong(0)
      }
      math.min(maxBn(swaps), maxBn(mintBurns))
  }

  /** Latest value of `column` strictly before `asOf`
    * (state.py:197–214). Ties inside one `as_of` resolve by
    * log_index (the reference relies on stable file order).
    *
    * `sqrtPriceX96` and `tick` of a pool at or below the driver bound
    * are a binary search of its driver index, with no Spark job. Any
    * other column, or a pool above the bound, runs [[propertyAt]]:
    * its bound is a [[Param]], so every call reuses one compiled plan. */
  def getPropertyAt(asOf: Double, column: String): Option[String] =
    indexes.swaps.flatMap(ix => ix.column(column).map(ix -> _)) match {
      case Some((ix, values)) =>
        val i = ix.lastBefore(asOf)
        if (i < 0) None else Some(values(i))
      case None => propertyAt(asOf, column).collect().headOption.map(_.getString(0))
    }

  /** The Spark path of [[getPropertyAt]]: the at-most-one-row frame it
    * collects. */
  private[v3] def propertyAt(asOf: Double, column: String): DataFrame = {
    Param.register(spark)
    swaps.filter(col("as_of") < Param.of(asOf))
      .orderBy(col("as_of").desc, col("log_index").desc)
      .select(col(column)).limit(1)
  }

  /** sqrtPriceX96 before `asOf` as exact BigInt (state.py:231–244). */
  def getPriceAt(asOf: Double): Option[BigInt] =
    getPropertyAt(asOf, "sqrtPriceX96").map(BigInt(_))

  /** Tick before `asOf` (state.py:216–229). */
  def getTickAt(asOf: Double): Option[Long] =
    getPropertyAt(asOf, "tick").map(_.toLong)

  /** The schema of [[Liquidity.createLiq]] over this pool's frame;
    * analysis only. */
  private lazy val liqSchema: StructType = Liquidity.createLiq(mintBurns, 0.0).schema

  /** Liquidity distribution strictly before `asOf`
    * (state.py:268–276). At or below the driver bound this is the
    * driver index's fold, returned as a LocalRelation with the schema
    * of [[Liquidity.createLiq]] (its `collect()` runs no job); above it,
    * [[Liquidity.createLiq]] itself. */
  def createLiq(asOf: Double): DataFrame = indexes.mintBurns match {
    case Some(ix) =>
      val (ticks, liq) = ix.liquidity(asOf)
      spark.createDataFrame(ticks.indices.map(i => Row(ticks(i), liq(i))).asJava, liqSchema)
    case None => Liquidity.createLiq(mintBurns, asOf)
  }

  // -- swap precompute memo (state.py:176–195), keyed by as_of --------
  private val swapDFCache =
    mutable.Map.empty[Double, (IndexedSeq[Swap.SwapTick], Swap.InRangeValues)]

  /** Build (and memoize) the per-tick precompute + in-range scalars at
    * `asOf` (pool_helpers.py:63–131). At or below the driver bound the
    * tick table is built on the driver from [[createLiq]]'s fold, with
    * [[Liquidity.swapDF]]'s doubles for the same liquidity; above it,
    * the liquidity aggregation over all mint/burns runs as a Spark job
    * and the resulting tick table (bounded by 2·MAX_TICK/tickSpacing
    * rows) is collected for the driver-side branch math. */
  def calcSwapDF(asOf: Double): (IndexedSeq[Swap.SwapTick], Swap.InRangeValues) =
    swapDFCache.getOrElseUpdate(asOf, {
      val priceX96 = getPriceAt(asOf)
        .getOrElse(throw new IllegalStateException("Pool not initialized"))
        .toDouble
      val tickFloor = SwapMath.priceX96ToTickFloor(priceX96, ts)
      val ticks: IndexedSeq[Swap.SwapTick] = indexes.mintBurns match {
        case Some(ix) =>
          val (t, l) = ix.liquidity(asOf)
          Pool.swapTicks(t, l, ts)
        case None =>
          Liquidity.swapDF(createLiq(asOf), ts)
            .select(col("liquidity"), col("tick_a"), col("tick_b"),
              col("p_a"), col("p_b"), col("xInTick"), col("yInTick"))
            .orderBy(col("tick_a"))
            .collect().toIndexedSeq
            .map(r => Swap.SwapTick(r.getDouble(0), r.getLong(1), r.getLong(2),
              r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      }
      val current = ticks.filter(t => t.tickA <= tickFloor && t.tickB > tickFloor)
      if (current.length != 1)
        throw new IllegalStateException(
          s"Missing/Duplicate in-range tick - Size of ${current.length}")
      val c = current.head
      val sqrtP = priceX96 / Q96
      val inRange = Swap.InRangeValues(
        sqrtP,
        inRange0 = SwapMath.getAmount0Delta(c.pA, sqrtP, c.liquidity),
        inRangeToSwap0 = SwapMath.getAmount1Delta(c.pA, sqrtP, c.liquidity),
        inRange1 = SwapMath.getAmount1Delta(c.pB, sqrtP, c.liquidity),
        inRangeToSwap1 = SwapMath.getAmount0Delta(c.pB, sqrtP, c.liquidity),
        liquidity = c.liquidity, tick = c.tickA)
      (ticks, inRange)
    })

  /** Simulate an exact-in swap (state.py:278–299 → swap.py:41–212). */
  def swapIn(call: Swap.Calldata, warn: Boolean = true): Swap.SwapResult = {
    if (warn && maxSupported < call.asOf)
      System.err.println("Mint/burn and swap data are not updated at this date")
    val (ticks, inRange) = calcSwapDF(call.asOf)
    Swap.swapIn(call, ticks, inRange, token1, fee)
  }

  /** Resampled price/gas series (state.py:246–256). */
  def getPriceSeries(start: Timestamp, freq: String = "6h",
                     gas: Boolean = false): DataFrame =
    Series.priceSeries(lake, chain, pool, start, freq, gas)

  /** Latest block at/after a datetime (state.py:258–266). */
  def getBNAtDate(dt: Timestamp): Option[Long] = Series.dtToBN(lake, chain, dt)

  /** Unpersists the cached frames and drops the driver indexes and the
    * swap memo; later queries rebuild what they need. */
  def unpersistCaches(): Unit = {
    swaps.unpersist(); mintBurns.unpersist(); swapDFCache.clear()
    indexes = new Indexes
  }
}


object Pool {

  /** The driver-rows bound: a cached pool frame of at most this many
    * rows answers point-in-time queries from a driver index. It caps
    * memory, not speed: `graft.v3.PoolProbe` (4-core VM, local mode,
    * 3,000 to 2.5x10^6 rows a frame) found the driver path faster at
    * every size, `getPriceAt` about 0.01 ms against 50-110 ms,
    * `createLiq(q).collect()` 11-71 ms against 200-320 ms and a cold
    * `calcSwapDF` 1-93 ms against 260-390 ms. The index retains about
    * 130 bytes a swap row and 39 a mint/burn row, measured after a full
    * GC: 31 and 10 MB at the bound, under 64 MB together. While it
    * builds (0.2-0.6 s at the bound), the collected rows hold about 250
    * and 190 bytes a row more: 63 and 47 MB. The bound is per frame and per handle; the index
    * sits beside the cached frames, which stay for the other columns
    * and the Spark path, until [[Pool.unpersistCaches]]. Like
    * `Dedup.MaxDriverPairs`, it is a constant, not a setting. */
  private[v3] val MaxDriverRows = 250000L

  /** A pool's swaps sorted by (`as_of`, `log_index`) under Spark's
    * ordering: the driver path of [[Pool.getPropertyAt]]. */
  private[v3] final class SwapIndex(asOf: Array[Double], sqrtPriceX96: Array[String],
                                    tick: Array[String], val maxBlock: Long) {

    /** The values of an indexed column, in index order. */
    def column(name: String): Option[Array[String]] = name match {
      case "sqrtPriceX96" => Some(sqrtPriceX96)
      case "tick" => Some(tick)
      case _ => None
    }

    /** Position of the last entry with `as_of < q`, or -1. The test is
      * Spark's (NaN above every number, -0.0 equal to 0.0), so the
      * entry is the one `orderBy(as_of desc, log_index desc).limit(1)`
      * keeps. */
    def lastBefore(q: Double): Int = {
      var lo = 0
      var hi = asOf.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (compareDoubles(asOf(mid), q) < 0) lo = mid + 1 else hi = mid
      }
      lo - 1
    }
  }

  private[v3] object SwapIndex {
    /** Collects `swaps` into an index; None if a key column holds a
      * null, which leaves the frame on the Spark path. */
    def apply(swaps: DataFrame): Option[SwapIndex] = {
      val rows = swaps.select(col("as_of"), col("log_index"), col("block_number"),
        col("sqrtPriceX96"), col("tick")).collect()
      if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))) None
      else {
        val sorted = rows.sorted(new Ordering[Row] {
          def compare(a: Row, b: Row): Int = {
            val c = compareDoubles(a.getDouble(0), b.getDouble(0))
            if (c != 0) c else java.lang.Long.compare(a.getLong(1), b.getLong(1))
          }
        })
        Some(new SwapIndex(sorted.map(_.getDouble(0)), sorted.map(_.getString(3)),
          sorted.map(_.getString(4)), rows.map(_.getLong(2)).maxOption.getOrElse(-1L)))
      }
    }
  }

  /** A pool's mint/burns in collected row order (partition by
    * partition, each in cached order), `delta` = amount ×
    * type_of_event: the driver path of [[Pool.createLiq]]. */
  private[v3] final class MintBurnIndex(asOf: Array[Double], part: Array[Int],
                                        tickLower: Array[Long], tickUpper: Array[Long],
                                        delta: Array[Double], val maxBlock: Long) {

    /** [[Liquidity.createLiq]] at `q` as (tick, liquidity), ascending
      * tick. Spark's partial `sum` adds each cached partition's rows in
      * order, starting from 0.0; the lower and upper sums here do the
      * same, add the partials in partition order, then drop zero sums
      * (`=!= 0` keeps NaN, which `na.fill(0.0)` then zeroes), net, and
      * run the cumulative sum from 0.0 in tick order. Spark's final
      * `sum` adds the partials in the order its shuffle fetch yields
      * them: map order in local mode, where the doubles are the same,
      * but arrival order on a cluster, where Spark's own result can
      * differ in the last bits from run to run. Mirrors
      * [[Liquidity.createLiqBy]]: a change to one changes the other. */
    def liquidity(q: Double): (Array[Long], Array[Double]) = {
      val lower = new Sums
      val upper = new Sums
      for (i <- asOf.indices) {
        if (i > 0 && part(i) != part(i - 1)) { lower.flush(); upper.flush() }
        if (compareDoubles(asOf(i), q) < 0) {
          lower.add(tickLower(i), delta(i))
          upper.add(tickUpper(i), -delta(i))
        }
      }
      val lo = lower.nonZero()
      val up = upper.nonZero()
      val ticks = (lo.keySet ++ up.keySet).toArray.sorted
      var cum = 0.0
      (ticks, ticks.map { t => cum += lo.getOrElse(t, 0.0) + up.getOrElse(t, 0.0); cum })
    }
  }

  /** Per-tick sums, a partition's partial at a time. */
  private final class Sums {
    private val total = mutable.HashMap.empty[Long, Double]
    private val partial = mutable.HashMap.empty[Long, Double]
    def add(tick: Long, x: Double): Unit = partial(tick) = partial.getOrElse(tick, 0.0) + x
    def flush(): Unit = {
      partial.foreach { case (t, s) => total(t) = total.getOrElse(t, 0.0) + s }
      partial.clear()
    }
    def nonZero(): Map[Long, Double] = {
      flush()
      total.iterator.collect { case (t, s) if s != 0.0 => t -> (if (s.isNaN) 0.0 else s) }.toMap
    }
  }

  private[v3] object MintBurnIndex {
    /** Collects `mb` into an index; None if a key column holds a null,
      * which leaves the frame on the Spark path. */
    def apply(mb: DataFrame): Option[MintBurnIndex] = {
      val rows = mb.select(col("as_of"), spark_partition_id(), col("tick_lower"),
        col("tick_upper"), col("amount") * col("type_of_event"), col("block_number")).collect()
      if (rows.exists(_.anyNull)) None
      else Some(new MintBurnIndex(rows.map(_.getDouble(0)), rows.map(_.getInt(1)),
        rows.map(_.getLong(2)), rows.map(_.getLong(3)), rows.map(_.getDouble(4)),
        rows.map(_.getLong(5)).maxOption.getOrElse(-1L)))
    }
  }

  /** [[Liquidity.swapDF]] of a (tick, liquidity) fold, in tick order
    * and with the same doubles: the same operation order, and
    * `StrictMath.pow`, which Spark's `pow` calls. Mirrors
    * [[Liquidity.swapDFBy]]: a change to one changes the other. */
  private[v3] def swapTicks(ticks: Array[Long], liq: Array[Double],
                            tickSpacing: Long): IndexedSeq[Swap.SwapTick] = {
    val lastBoundary = Math.floorDiv(SwapMath.MaxTick, tickSpacing) * tickSpacing
    val kept = ticks.indices.filter(i => compareDoubles(liq(i), 0.0) > 0)
    def p(t: Long) = StrictMath.pow(StrictMath.pow(1.0001, t.toDouble), 0.5)
    kept.indices.map { k =>
      val (i, tickB) = (kept(k), if (k + 1 < kept.length) ticks(kept(k + 1)) else lastBoundary)
      val (pa, pb) = (p(ticks(i)), p(tickB))
      Swap.SwapTick(liq(i), ticks(i), tickB, pa, pb,
        xInTick = liq(i) * ((pb - pa) / (pb * pa)), yInTick = liq(i) * (pb - pa))
    }
  }
}
