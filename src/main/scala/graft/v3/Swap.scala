package graft.v3

/** The vectorized swap simulator (reference v3/helpers/swap.py:41–212).
  *
  * Execution model preserved from the reference (swap.py:125–133):
  * Solidity loops tick-by-tick; here every tick's reserves are
  * precomputed once per `as_of` (Pool.calcSwapDF) and the branchy
  * final math runs on driver-side scalars. A pool whose mint/burns are
  * at or below Pool.MaxDriverRows builds its tick table on the driver
  * from the pool's driver index, with no Spark job; above that bound
  * the reserves are precomputed distributed (Liquidity.swapDF —
  * embarrassingly parallel over pools) and the tiny per-pool tick
  * table (bounded by 2·MAX_TICK/tickSpacing rows) is collected. Both
  * give the same doubles where Spark's liquidity sums merge in map
  * order, as in local mode. Repeated swaps at one `as_of` reuse the
  * precompute (v3/state.py:176–195).
  *
  * Divergence from the reference, intentional (SURVEY.md §3.2): the
  * reference's `findMax` flag is dead code — swap.py:99–102 overwrites
  * its effect unconditionally — so it is not reproduced here.
  */
object Swap {

  /** One row of the collected per-tick precompute. */
  final case class SwapTick(liquidity: Double, tickA: Long, tickB: Long,
                            pA: Double, pB: Double,
                            xInTick: Double, yInTick: Double)

  /** Scalars of the current (in-range) tick
    * (pool_helpers.py:96–131). */
  final case class InRangeValues(sqrtP: Double,
                                 inRange0: Double, inRangeToSwap0: Double,
                                 inRange1: Double, inRangeToSwap1: Double,
                                 liquidity: Double, tick: Long)

  /** Parsed calldata (swap.py:18–38). `swapIn` accepts a string in the
    * reference because big ints live in strings; here take Double and
    * let callers parse exact strings via BigDecimal. */
  final case class Calldata(asOf: Double, tokenIn: String, swapIn: Double,
                            fees: Boolean = false)

  /** Result: amount out, plus (sqrtPriceLast, sqrtPStart, per-tick fee
    * attribution when requested) — swap.py:212. */
  final case class SwapResult(amountOut: Double, sqrtPriceLast: Double,
                              sqrtPStart: Double,
                              feesByTick: Map[Long, (Double, Double)])

  /** Simulate an exact-in swap against the precomputed state.
    *
    * @param ticks    collected swapDF rows, ascending tick_a
    * @param inRange  current-tick scalars
    * @param token1   pool's token1 (lowercased) for direction resolve
    * @param feePpm   pool fee in parts-per-million (fee field of factory)
    */
  def swapIn(call: Calldata, ticks: IndexedSeq[SwapTick],
             inRange: InRangeValues, token1: String, feePpm: Long): SwapResult = {
    require(call.swapIn != 0, "We do not support swaps of 0")
    val zeroForOne = call.tokenIn.toLowerCase != token1
    val feeRate = feePpm / 1e6

    // capacity of the current tick in the direction of trade (swap.py:31–38)
    val (inRangeTest, inRangeToSwap) =
      if (zeroForOne) (inRange.inRange0, inRange.inRangeToSwap0)
      else (inRange.inRange1, inRange.inRangeToSwap1)

    val swapInMinusFee = call.swapIn * (1 - feeRate)
    var fees = Map.empty[Long, (Double, Double)]

    if (inRangeTest > swapInMinusFee) {
      // enough liquidity in the current range (swap.py:104–121)
      val liq = inRange.liquidity
      val (sqrtPriceLast, amtOut) =
        if (!zeroForOne) {
          val p = SwapMath.getNextPriceAmount1(inRange.sqrtP, liq, swapInMinusFee, add = false)
          (p, SwapMath.getAmount0Delta(p, inRange.sqrtP, liq))
        } else {
          val p = SwapMath.getNextPriceAmount0(inRange.sqrtP, liq, swapInMinusFee, add = true)
          (p, SwapMath.getAmount1Delta(p, inRange.sqrtP, liq))
        }
      if (call.fees) fees += inRange.tick -> (call.swapIn * feeRate, liq)
      SwapResult(amtOut, sqrtPriceLast, inRange.sqrtP, fees)
    } else {
      // multi-tick path (swap.py:124–210): select ticks beyond the
      // current range in trade direction, cumulative reserves, first
      // tick with enough cumulative depth, partial fill of that tick.
      val leftToSwap = call.swapIn - inRangeTest
      val leftToSwapMinusFee = leftToSwap * (1 - feeRate)
      if (call.fees)
        fees += inRange.tick -> (inRangeTest * feeRate, inRange.liquidity)

      val oor0 =
        if (zeroForOne) ticks.filter(_.tickA < inRange.tick).sortBy(-_.tickA)
        else ticks.filter(_.tickA > inRange.tick).sortBy(_.tickA)
      var cumX = 0.0; var cumY = 0.0
      val oor = oor0.map { t =>
        cumX += t.xInTick; cumY += t.yInTick
        (t, cumX, cumY)
      }
      def cumIn(e: (SwapTick, Double, Double)) = if (zeroForOne) e._2 else e._3
      require(oor.nonEmpty && cumIn(oor.last) > leftToSwap,
        "Not enough liquidity in pool")

      val idx = oor.indexWhere(e => cumIn(e) >= leftToSwapMinusFee)
      val liquidRow = oor(idx)._1
      val previous = oor.take(idx).map(_._1)

      def inAmt(t: SwapTick) = if (zeroForOne) t.xInTick else t.yInTick
      def outAmt(t: SwapTick) = if (zeroForOne) t.yInTick else t.xInTick

      val amtInToSwapLeft = leftToSwap - previous.map(inAmt).sum
      val amtInSwappedLeftMinusFee = amtInToSwapLeft * (1 - feeRate)
      val amtOutPrevTicks = inRangeToSwap + previous.map(outAmt).sum

      if (call.fees) {
        previous.foreach(t => fees += t.tickA -> (inAmt(t) * feeRate, t.liquidity))
        fees += liquidRow.tickA -> (amtInToSwapLeft * feeRate, liquidRow.liquidity)
      }

      val (amtOutLastTick, sqrtPriceLast) = SwapMath.finalAmtOutFromTick(
        zeroForOne, liquidRow.pB, liquidRow.pA,
        amtInSwappedLeftMinusFee, liquidRow.liquidity)

      SwapResult(amtOutLastTick + amtOutPrevTicks, sqrtPriceLast,
        inRange.sqrtP, fees)
    }
  }
}
