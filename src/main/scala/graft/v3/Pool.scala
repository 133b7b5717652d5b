package graft.v3

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  */
class Pool(val spark: SparkSession, val lake: Lake,
           poolAddr: String, val chain: String) {

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

  /** Pool-filtered swaps with `as_of`, cached (state.py:124–144). */
  lazy val swaps: DataFrame = {
    val df = withAsOf(lake.read(Schemas.PoolSwapEvents)
      .filter(col("address") === pool && col("chain_name") === chain))
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count() // materialize once
    df
  }

  /** Pool-filtered mint/burns with math casts + `as_of`, cached
    * (state.py:146–174). */
  lazy val mintBurns: DataFrame = {
    val df = withAsOf(lake.read(Schemas.PoolMintBurnEvents)
      .filter(col("address") === pool && col("chain_name") === chain)
      .withColumn("amount", col("amount").cast("double"))
      .withColumn("tick_lower", col("tick_lower").cast("long"))
      .withColumn("tick_upper", col("tick_upper").cast("long"))
      .withColumn("type_of_event", col("type_of_event").cast("double")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** Highest block where both swaps and mint/burns are current —
    * queries past this see desynced data (state.py:97–106). */
  lazy val maxSupported: Long = {
    def maxBn(df: DataFrame): Long = {
      val r = df.agg(max(col("block_number"))).first()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
    math.min(maxBn(swaps), maxBn(mintBurns))
  }

  /** Latest value of `column` strictly before `asOf`
    * (state.py:197–214). Ties inside one `as_of` resolve by
    * log_index (the reference relies on stable file order). The bound
    * is a [[Param]], so every call reuses one compiled plan. */
  def getPropertyAt(asOf: Double, column: String): Option[String] =
    propertyAt(asOf, column).collect().headOption.map(_.getString(0))

  /** The at-most-one-row frame [[getPropertyAt]] collects. */
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

  /** Liquidity distribution strictly before `asOf`
    * (state.py:268–276). */
  def createLiq(asOf: Double): DataFrame = Liquidity.createLiq(mintBurns, asOf)

  // -- swap precompute memo (state.py:176–195), keyed by as_of --------
  private val swapDFCache =
    scala.collection.mutable.Map.empty[Double, (IndexedSeq[Swap.SwapTick], Swap.InRangeValues)]

  /** Build (and memoize) the per-tick precompute + in-range scalars at
    * `asOf` (pool_helpers.py:63–131). The distributed part (liquidity
    * aggregation over all mint/burns) runs as a Spark job; the
    * resulting tick table is bounded by 2·MAX_TICK/tickSpacing rows and
    * is collected for the driver-side branch math. */
  def calcSwapDF(asOf: Double): (IndexedSeq[Swap.SwapTick], Swap.InRangeValues) =
    swapDFCache.getOrElseUpdate(asOf, {
      val priceX96 = getPriceAt(asOf)
        .getOrElse(throw new IllegalStateException("Pool not initialized"))
        .toDouble
      val tickFloor = SwapMath.priceX96ToTickFloor(priceX96, ts)
      val df = Liquidity.swapDF(createLiq(asOf), ts)
      val ticks: IndexedSeq[Swap.SwapTick] = df
        .select(col("liquidity"), col("tick_a"), col("tick_b"),
          col("p_a"), col("p_b"), col("xInTick"), col("yInTick"))
        .orderBy(col("tick_a"))
        .collect().toIndexedSeq
        .map(r => Swap.SwapTick(r.getDouble(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
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

  def unpersistCaches(): Unit = {
    swaps.unpersist(); mintBurns.unpersist(); swapDFCache.clear()
  }
}
