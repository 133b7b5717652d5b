package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.v3.Schemas

/** Seeded Uniswap v3 event tables, coherent enough to simulate:
  *  - every swap's `sqrtPriceX96` lies inside its `tick`;
  *  - each pool's first event mints one full-range position that is
  *    never burned, so every reachable price has exactly one in-range
  *    tick range;
  *  - burns never exceed what their position minted.
  * Events of one pool sit on distinct blocks, so `as_of` totally orders
  * them. */
object PoolData {
  val Chain = "ethereum"
  val Q96: Double = math.pow(2.0, 96)
  val MaxTick = 887272L
  val Block0 = 17000000L
  val Epoch0 = 1685577600L // 2023-06-01T00:00:00Z
  def tsOf(block: Long): Long = Epoch0 + (block - Block0) * 12L

  /** (fee in ppm, tick spacing) of the pools, in turn. */
  val Tiers: Seq[(Long, Long)] = Seq((500L, 10L), (3000L, 60L), (10000L, 200L), (3000L, 60L))

  final case class SwapEv(block: Long, txIdx: Long, logIdx: Long, txHash: String,
                          tick: Long, sqrtPriceX96: BigInt, amount0: Long,
                          amount1: Long, liquidity: Long) {
    val asOf: Double = block.toDouble + txIdx.toDouble / 1e4
  }

  final case class MintBurnEv(block: Long, txIdx: Long, logIdx: Long, txHash: String,
                              tickLower: Long, tickUpper: Long, amount: Long,
                              typ: Int) {
    val asOf: Double = block.toDouble + txIdx.toDouble / 1e4
  }

  final case class PoolSpec(address: String, token0: String, token1: String,
                            fee: Long, tickSpacing: Long, initTick: Long,
                            initSqrtPriceX96: BigInt,
                            swaps: IndexedSeq[SwapEv], mintBurns: IndexedSeq[MintBurnEv])

  def sqrtPriceX96(tick: Long, frac: Double): BigInt =
    BigDecimal(math.sqrt(math.pow(1.0001, tick.toDouble + frac)) * Q96).toBigInt

  /** `nSwaps` swaps and `nMintBurns` liquidity events per pool, spread
    * over `blocks` blocks. */
  def generate(seed: Long, pools: Int, nSwaps: Int, nMintBurns: Int,
               blocks: Long): IndexedSeq[PoolSpec] = {
    val rnd = new Rng(seed)
    (0 until pools).map { p =>
      val (fee, ts) = Tiers(p % Tiers.length)
      val address = rnd.hex(40)
      val token0 = rnd.hex(40)
      val token1 = rnd.hex(40)
      val initTick = rnd.between(-60000L, 60000L)
      val events = nSwaps + nMintBurns
      val gap = blocks / events
      require(gap >= 1, "more events than blocks")
      // which event slots are liquidity events: slot 0 (the full-range
      // mint) plus nMintBurns - 1 others
      val mbSlots = (0 +: rnd.shuffle((1 until events).toVector)
        .take(nMintBurns - 1)).toSet
      val wide = Math.floorDiv(MaxTick, ts) * ts
      val open = mutable.ArrayBuffer.empty[(Long, Long, Long)] // lower, upper, remaining
      var tick = initTick
      var sqrtP = sqrtPriceX96(tick, 0.5)
      val swaps = mutable.ArrayBuffer.empty[SwapEv]
      val mbs = mutable.ArrayBuffer.empty[MintBurnEv]
      var wideAmount = 0L
      (0 until events).foreach { i =>
        val block = Block0 + 1 + i.toLong * gap + p
        val txIdx = rnd.nextInt(300).toLong
        val logIdx = rnd.nextInt(400).toLong
        val txHash = rnd.hex(64)
        if (i == 0) {
          wideAmount = rnd.between(5000000000000L, 6000000000000L)
          mbs += MintBurnEv(block, txIdx, logIdx, txHash, -wide, wide, wideAmount, 1)
        } else if (mbSlots(i)) {
          if (open.size < 3 || rnd.nextDouble() < 0.6) {
            val base = Math.floorDiv(tick, ts) * ts
            val lo = base - ts * rnd.between(1L, 40L)
            val hi = base + ts * rnd.between(1L, 40L)
            val amt = rnd.between(10000000000L, 500000000000L)
            open += ((lo, hi, amt))
            mbs += MintBurnEv(block, txIdx, logIdx, txHash, lo, hi, amt, 1)
          } else {
            val k = rnd.nextInt(open.size)
            val (lo, hi, rem) = open(k)
            val amt = if (rnd.nextBoolean()) rem else rem / 2
            if (amt == rem) open.remove(k) else open(k) = (lo, hi, rem - amt)
            mbs += MintBurnEv(block, txIdx, logIdx, txHash, lo, hi, amt, -1)
          }
        } else {
          tick = math.max(initTick - 20000, math.min(initTick + 20000,
            tick + math.round(rnd.nextGaussian() * 3 * ts)))
          sqrtP = sqrtPriceX96(tick, 0.1 + 0.8 * rnd.nextDouble())
          val active = wideAmount + open.iterator
            .filter { case (lo, hi, _) => lo <= tick && tick < hi }.map(_._3).sum
          val a0 = rnd.between(-1000000000L, 1000000000L)
          swaps += SwapEv(block, txIdx, logIdx, txHash, tick, sqrtP, a0,
            -a0 * 3 + rnd.between(-1000L, 1000L), active)
        }
      }
      PoolSpec(address, token0, token1, fee, ts, initTick,
        sqrtPriceX96(initTick, 0.5), swaps.toIndexedSeq, mbs.toIndexedSeq)
    }
  }

  private def ts(block: Long) = new Timestamp(tsOf(block) * 1000L)

  /** The four event tables, as the fixture connector reads them. */
  def rows(pools: Seq[PoolSpec]): Map[String, Seq[Row]] = {
    val rnd = new Rng(pools.size.toLong)
    def addr() = rnd.hex(40)
    Map(
      Schemas.FactoryPoolCreated -> pools.zipWithIndex.map { case (p, i) =>
        Row(Chain, ts(Block0), Block0, rnd.hex(64), i.toLong, p.token0, p.token1,
          p.fee.toString, p.tickSpacing.toString, p.address)
      },
      Schemas.PoolInitializeEvents -> pools.zipWithIndex.map { case (p, i) =>
        Row(Chain, p.address, ts(Block0), Block0, 100L + i, i.toLong, rnd.hex(64),
          p.initSqrtPriceX96.toString, p.initTick.toString, addr(), addr(),
          "30000000000", "4500000")
      },
      Schemas.PoolSwapEvents -> pools.flatMap(p => p.swaps.map(s => swapRow(p.address, s))),
      Schemas.PoolMintBurnEvents -> pools.flatMap { p =>
        p.mintBurns.map { m =>
          Row(Chain, p.address, ts(m.block), m.block, m.txHash, m.logIdx,
            m.amount.toString, (m.amount / 7).toString, (m.amount / 3).toString,
            p.address, m.tickLower.toString, m.tickUpper.toString, m.typ.toLong,
            p.address, p.address, m.txIdx, "30000000000", "250000", "0")
        }
      })
  }

  def swapRow(pool: String, s: SwapEv): Row =
    Row(Chain, pool, ts(s.block), s.block, s.txHash, s.logIdx,
      s.amount0.toString, s.amount1.toString, s.sqrtPriceX96.toString,
      s.liquidity.toString, s.tick.toString, pool, pool, pool, pool, s.txIdx,
      (20000000000L + s.logIdx).toString, (120000L + s.txIdx).toString, "0")

  /** Land the tables as `<root>/<table>/example.parquet`, the layout of
    * [[graft.v3.ingest.ParquetFixtureConnector]]. */
  def writeFixture(spark: SparkSession, root: String, tables: Map[String, Seq[Row]]): Unit =
    tables.foreach { case (t, rs) =>
      val schema: StructType = Schemas.forTable(t)
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
        .write.parquet(s"$root/$t/example.parquet")
    }
}
