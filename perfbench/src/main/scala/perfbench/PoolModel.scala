package perfbench

import scala.collection.mutable

import PoolData.{MaxTick, PoolSpec, Q96, SwapEv}

/** Plain-Scala answers to the pool questions, computed from the
  * generated events without Spark or the library's query code. */
object PoolModel {

  /** The last swap strictly before `q`; swaps are in `as_of` order. */
  def lastSwapBefore(p: PoolSpec, q: Double): Option[SwapEv] = {
    var lo = 0
    var hi = p.swaps.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (p.swaps(mid).asOf < q) lo = mid + 1 else hi = mid
    }
    if (lo == 0) None else Some(p.swaps(lo - 1))
  }

  /** Liquidity distribution strictly before `q`: per tick, the running
    * sum of mint/burn deltas, over the ticks whose lower-bound or
    * upper-bound net delta is non-zero. */
  def liquidity(p: PoolSpec, q: Double): IndexedSeq[(Long, Long)] = {
    val lower = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val upper = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    p.mintBurns.iterator.filter(_.asOf < q).foreach { m =>
      lower(m.tickLower) += m.amount * m.typ
      upper(m.tickUpper) -= m.amount * m.typ
    }
    val ticks = (lower.filter(_._2 != 0L).keys ++ upper.filter(_._2 != 0L).keys)
      .toIndexedSeq.distinct.sorted
    var cum = 0L
    ticks.map { t => cum += lower(t) + upper(t); (t, cum) }
  }

  private def sqrtAt(t: Long): Double = StrictMath.pow(StrictMath.pow(1.0001, t.toDouble), 0.5)

  /** Price ranges with positive liquidity: (lower tick, upper tick, L). */
  def ranges(p: PoolSpec, q: Double): IndexedSeq[(Long, Long, Double)] = {
    val kept = liquidity(p, q).filter(_._2 > 0L)
    val top = Math.floorDiv(MaxTick, p.tickSpacing) * p.tickSpacing
    kept.indices.map { i =>
      (kept(i)._1, if (i + 1 < kept.length) kept(i + 1)._1 else top, kept(i)._2.toDouble)
    }
  }

  final case class SwapOut(amountOut: Double, sqrtPriceLast: Double)

  /** Pool state before `q`: ranges, index of the in-range one, sqrt price. */
  final case class State(ranges: IndexedSeq[(Long, Long, Double)], current: Int, sqrtP: Double)

  def state(p: PoolSpec, q: Double): State = {
    val priceX96 = lastSwapBefore(p, q).getOrElse(
      throw new IllegalStateException("no swap before as_of")).sqrtPriceX96.toDouble
    val r = priceX96 / Q96
    val tick = Math.floorDiv(
      math.floor(math.log(r * r) / math.log(1.0001)).toLong, p.tickSpacing) * p.tickSpacing
    val rs = ranges(p, q)
    val cur = rs.indexWhere(x => x._1 <= tick && tick < x._2)
    require(cur >= 0, s"no in-range liquidity at tick $tick")
    State(rs, cur, r)
  }

  /** Token input that moves the price to the edge of the current range. */
  def currentCapacity(p: PoolSpec, s: State, zeroForOne: Boolean): Double = {
    val (lo, hi, l) = s.ranges(s.current)
    if (zeroForOne) { val pa = sqrtAt(lo); l * (s.sqrtP - pa) / (s.sqrtP * pa) }
    else l * (sqrtAt(hi) - s.sqrtP)
  }

  /** Exact-in swap as a walk over the price ranges. The fee follows the
    * reference simulator's convention: the current range and every
    * fully crossed range take their capacity from the gross input, and
    * the fee is charged on the input that lands in the last range. */
  def swap(p: PoolSpec, q: Double, tokenIn: String, amountIn: Double): SwapOut = {
    val s = state(p, q)
    val zeroForOne = tokenIn.toLowerCase != p.token1
    val f = p.fee / 1e6
    val (lo, hi, l) = s.ranges(s.current)
    val sp = s.sqrtP
    val net = amountIn * (1 - f)
    val cap0 = currentCapacity(p, s, zeroForOne)
    if (cap0 > net) {
      if (zeroForOne) { val next = l * sp / (l + net * sp); SwapOut(l * (sp - next), next) }
      else { val next = sp + net / l; SwapOut(l * (next - sp) / (next * sp), next) }
    } else {
      val out0 = if (zeroForOne) l * (sp - sqrtAt(lo)) else l * (sqrtAt(hi) - sp) / (sqrtAt(hi) * sp)
      val gross = amountIn - cap0
      val target = gross * (1 - f)
      var k = s.current
      var usedIn = 0.0
      var out = out0
      var result: SwapOut = null
      while (result == null) {
        k += (if (zeroForOne) -1 else 1)
        require(k >= 0 && k < s.ranges.length, "swap exceeds pool depth")
        val (a, b, lk) = s.ranges(k)
        val pa = sqrtAt(a)
        val pb = sqrtAt(b)
        val capIn = if (zeroForOne) lk * (pb - pa) / (pb * pa) else lk * (pb - pa)
        val capOut = if (zeroForOne) lk * (pb - pa) else lk * (pb - pa) / (pb * pa)
        if (usedIn + capIn >= target) {
          val amt = (gross - usedIn) * (1 - f)
          result =
            if (zeroForOne) { val next = lk * pb / (lk + amt * pb); SwapOut(out + lk * (pb - next), next) }
            else { val next = pa + amt / lk; SwapOut(out + lk * (next - pa) / (next * pa), next) }
        } else { usedIn += capIn; out += capOut }
      }
      result
    }
  }

  /** Price series: per bucket of `bucketS` seconds from `startS`, the
    * chain's highest block and the pool's last tick at or before that
    * bucket (None before its first swap). */
  def priceSeries(all: Seq[PoolSpec], pool: PoolSpec, startS: Long,
                  bucketS: Long): IndexedSeq[(Long, Long, Option[Long])] = {
    def bucket(block: Long) = Math.floorDiv(PoolData.tsOf(block), bucketS) * bucketS
    val maxBlock = mutable.Map.empty[Long, Long]
    for (p <- all; s <- p.swaps if PoolData.tsOf(s.block) >= startS) {
      val b = bucket(s.block)
      maxBlock(b) = math.max(maxBlock.getOrElse(b, Long.MinValue), s.block)
    }
    val lastTick = mutable.TreeMap.empty[Long, (Long, Long, Long, Long)]
    pool.swaps.iterator.filter(s => PoolData.tsOf(s.block) >= startS).foreach { s =>
      val b = bucket(s.block)
      val key = (s.block, s.txIdx, s.logIdx, s.tick)
      lastTick.get(b) match {
        case Some(k) if Ordering[(Long, Long, Long)].gteq((k._1, k._2, k._3), (key._1, key._2, key._3)) =>
        case _ => lastTick(b) = key
      }
    }
    maxBlock.keys.toIndexedSeq.sorted.map { b =>
      (b, maxBlock(b), lastTick.rangeTo(b).lastOption.map(_._2._4))
    }
  }

  /** Liquidity surface: for frame f (bound `bounds(f)`, ascending) and
    * each tick touched before the last bound, the running sum over
    * ticks of the deltas with `as_of` below the frame's bound. */
  def surface(p: PoolSpec, bounds: IndexedSeq[Double]): Map[(Long, Long), Double] = {
    val deltas = p.mintBurns.filter(_.asOf < bounds.last).flatMap { m =>
      Seq((m.asOf, m.tickLower, m.amount * m.typ), (m.asOf, m.tickUpper, -m.amount * m.typ))
    }
    val ticks = deltas.map(_._2).distinct.sorted
    bounds.indices.flatMap { f =>
      val byTick = deltas.filter(_._1 < bounds(f)).groupMapReduce(_._2)(_._3)(_ + _)
      var cum = 0L
      ticks.map { t => cum += byTick.getOrElse(t, 0L); (f.toLong, t) -> cum.toDouble }
    }.toMap
  }

  def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))
}
