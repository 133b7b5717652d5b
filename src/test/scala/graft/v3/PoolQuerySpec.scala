package graft.v3

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

/** The pool query API over a small seeded pool written into a temp
  * lake: the as-of getters, `createLiq` and `calcSwapDF` against
  * plain-Scala models at event points and just after them, and the
  * as-of bound's reuse of one compiled plan across values. */
class PoolQuerySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Chain = "ethereum"
  private val Addr = "0x00000000000000000000000000000000000000aa"
  private val TickSpacing = 60L
  private val Wide = Math.floorDiv(SwapMath.MaxTick, TickSpacing) * TickSpacing

  private final case class Ev(block: Long, tx: Long, log: Long) {
    val asOf: Double = block.toDouble + tx.toDouble / 1e4
  }
  private final case class SwapEv(ev: Ev, tick: Long, sqrtPriceX96: BigInt)
  private final case class MbEv(ev: Ev, lower: Long, upper: Long, amount: Long, typ: Int)

  /** Seeded events: a full-range mint first (never burned, so every
    * reachable price is in range), then 1-4 events per block, some
    * sharing a transaction (same `as_of`, told apart by log index). */
  private lazy val (swapEvs, mbEvs) = {
    val rnd = new scala.util.Random(20261020L)
    val swaps = mutable.ArrayBuffer.empty[SwapEv]
    val mbs = mutable.ArrayBuffer(MbEv(Ev(999L, 3L, 0L), -Wide, Wide, 5000000000L, 1))
    val open = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var tick = 1200L
    (1000L until 1060L).foreach { block =>
      var tx = rnd.nextInt(3).toLong
      var log = 0L
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        if (rnd.nextDouble() < 0.6) tx += 1 + rnd.nextInt(5) // else: same tx
        log += 1 + rnd.nextInt(3)
        val ev = Ev(block, tx, log)
        if (rnd.nextDouble() < 0.3) {
          if (open.isEmpty || rnd.nextBoolean()) {
            val base = Math.floorDiv(tick, TickSpacing) * TickSpacing
            val lo = base - TickSpacing * (1 + rnd.nextInt(20))
            val hi = base + TickSpacing * (1 + rnd.nextInt(20))
            val amt = 1000000L + rnd.nextInt(1000000000)
            open += ((lo, hi, amt))
            mbs += MbEv(ev, lo, hi, amt, 1)
          } else {
            val k = rnd.nextInt(open.size)
            val (lo, hi, amt) = open.remove(k)
            mbs += MbEv(ev, lo, hi, amt, -1)
          }
        } else {
          tick += rnd.nextInt(241) - 120
          val frac = 0.1 + 0.8 * rnd.nextDouble()
          val sqrtP = BigDecimal(math.sqrt(math.pow(1.0001, tick + frac)) * SwapMath.Q96).toBigInt
          swaps += SwapEv(ev, tick, sqrtP)
        }
      }
    }
    (swaps.toIndexedSeq, mbs.toIndexedSeq)
  }

  private lazy val pool: Pool = {
    val lake = new Lake(spark, Files.createTempDirectory("graft-poolq").toString)
    val ts0 = new Timestamp(1685577600000L)
    def write(table: String, rows: Seq[Row]): Unit =
      lake.append(spark.createDataFrame(rows.asJava, Schemas.forTable(table)), table)
    write(Schemas.FactoryPoolCreated, Seq(Row(Chain, ts0, 900L, "0xf0", 1L,
      "0x00000000000000000000000000000000000000a0",
      "0x00000000000000000000000000000000000000a1", "3000", TickSpacing.toString, Addr)))
    write(Schemas.PoolSwapEvents, swapEvs.map { s =>
      Row(Chain, Addr, ts0, s.ev.block, s"0x${s.ev.block}-${s.ev.tx}", s.ev.log, "1", "-1",
        s.sqrtPriceX96.toString, "1", s.tick.toString, Addr, Addr, Addr, Addr, s.ev.tx,
        "1", "1", "0")
    })
    write(Schemas.PoolMintBurnEvents, mbEvs.map { m =>
      Row(Chain, Addr, ts0, m.ev.block, s"0x${m.ev.block}-${m.ev.tx}", m.ev.log,
        m.amount.toString, "0", "0", Addr, m.lower.toString, m.upper.toString, m.typ.toLong,
        Addr, Addr, m.ev.tx, "1", "1", "0")
    })
    new Pool(spark, lake, Addr, Chain)
  }

  /** The latest swap strictly before `q`, ties inside one `as_of` to
    * the higher log index. */
  private def lastSwapBefore(q: Double): Option[SwapEv] =
    swapEvs.filter(_.ev.asOf < q).maxByOption(s => (s.ev.asOf, s.ev.log))

  /** Per tick with a non-zero lower or upper net delta before `q`, the
    * running sum of those deltas. */
  private def liquidity(q: Double): Seq[(Long, Double)] = {
    val lower = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val upper = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    mbEvs.filter(_.ev.asOf < q).foreach { m =>
      lower(m.lower) += m.amount * m.typ
      upper(m.upper) -= m.amount * m.typ
    }
    val ticks = (lower.filter(_._2 != 0L).keys ++ upper.filter(_._2 != 0L).keys)
      .toSeq.distinct.sorted
    var cum = 0L
    ticks.map { t => cum += lower(t) + upper(t); (t, cum.toDouble) }
  }

  /** 44 as-of values: every 4th swap's exact point and just after it,
    * plus points before the first swap, inside tied transactions and
    * past the last event. */
  private lazy val asOfs: Seq[Double] = {
    val pts = swapEvs.indices.by(4).map(swapEvs(_).ev.asOf)
    val ties = swapEvs.groupBy(_.ev.asOf).filter(_._2.size > 1).keys.toSeq.sorted.take(4)
    val qs = (pts.flatMap(p => Seq(p, p + 0.00005)) ++ ties ++ ties.map(_ + 0.00005) ++
      Seq(999.5, swapEvs.head.ev.asOf, 2000.0)).distinct.sorted
    assert(qs.size >= 40 && ties.nonEmpty, s"${qs.size} as-of values, ${ties.size} tied")
    qs
  }

  test("getPriceAt and getTickAt equal the latest swap strictly before as_of") {
    asOfs.foreach { q =>
      val want = lastSwapBefore(q)
      assert(pool.getPriceAt(q) == want.map(_.sqrtPriceX96), s"getPriceAt($q)")
      assert(pool.getTickAt(q) == want.map(_.tick), s"getTickAt($q)")
    }
  }

  test("createLiq equals the plain-Scala liquidity fold") {
    asOfs.foreach { q =>
      val got = pool.createLiq(q).collect().map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq.sortBy(_._1)
      assert(got == liquidity(q), s"createLiq($q)")
    }
  }

  test("calcSwapDF returns the ticks of the same pipeline built with lit(as_of)") {
    val qs = asOfs.filter(q => lastSwapBefore(q).isDefined)
    assert(qs.size >= 40)
    qs.foreach { q =>
      val inlined = Liquidity.swapDF(
        Liquidity.createLiqBy(pool.mintBurns.filter(col("as_of") < lit(q)), Seq.empty),
        TickSpacing)
        .select(col("liquidity"), col("tick_a"), col("tick_b"),
          col("p_a"), col("p_b"), col("xInTick"), col("yInTick"))
        .orderBy(col("tick_a")).collect().toSeq
        .map(r => Swap.SwapTick(r.getDouble(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      assert(pool.calcSwapDF(q)._1 == inlined, s"calcSwapDF($q)")
    }
  }

  private def codegenBodies(df: DataFrame): Seq[String] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w.doCodeGen()._2.body
    }
  }

  test("two as-of values generate byte-identical whole-stage code") {
    val Seq(q1, q2) = Seq(asOfs(10), asOfs(30))
    for (df <- Seq[Double => DataFrame](q => pool.propertyAt(q, "tick"),
                                        q => pool.createLiq(q))) {
      val (a, b) = (codegenBodies(df(q1)), codegenBodies(df(q2)))
      assert(a.nonEmpty && a == b)
    }
  }

  test("a getPriceAt at a new as-of value compiles no code") {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    pool.getPriceAt(asOfs(5))
    // the counter is JVM-wide: the least of three fresh values keeps a
    // compile on another thread from failing the check
    val added = asOfs.slice(6, 9).map { q =>
      val before = compiles.getCount
      pool.getPriceAt(q)
      compiles.getCount - before
    }
    assert(added.min == 0L, added)
  }
}
