package graft.v3

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

/** The pool query API over a small seeded pool written into a temp
  * lake: the as-of getters, `createLiq` and `calcSwapDF` against
  * plain-Scala models at event points, just after them and at
  * non-finite as-of values, on both paths — the driver index (the
  * default bound) and the Spark plans (bound 0) — and against each
  * other; the driver path's zero Spark jobs; and the Spark path's
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

  /** The same pool at driver-rows bound 0: every query on the Spark path. */
  private lazy val sparkPool = new Pool(spark, pool.lake, Addr, Chain, driverRows = 0L)

  /** `a < q` as Spark compares doubles: NaN above every number. */
  private def before(a: Double, q: Double): Boolean = if (q.isNaN) !a.isNaN else a < q

  /** The latest swap strictly before `q`, ties inside one `as_of` to
    * the higher log index. */
  private def lastSwapBefore(q: Double): Option[SwapEv] =
    swapEvs.filter(s => before(s.ev.asOf, q)).maxByOption(s => (s.ev.asOf, s.ev.log))

  /** Per tick with a non-zero lower or upper net delta before `q`, the
    * running sum of those deltas. */
  private def liquidity(q: Double): Seq[(Long, Double)] = {
    val lower = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val upper = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    mbEvs.filter(m => before(m.ev.asOf, q)).foreach { m =>
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

  /** As-of values Spark orders specially: `as_of < NaN` holds for every
    * event, and -0.0 equals 0.0. */
  private val SpecialAsOfs = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0)

  private lazy val paths = Seq("driver" -> pool, "spark" -> sparkPool)

  /** Doubles as their raw bits, so equality is bit-identity. */
  private def bits(p: Product): Seq[Any] = p.productIterator.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case x => x
  }.toSeq

  test("getPriceAt and getTickAt equal the latest swap strictly before as_of") {
    (asOfs ++ SpecialAsOfs).foreach { q =>
      val want = lastSwapBefore(q)
      for ((path, p) <- paths) {
        assert(p.getPriceAt(q) == want.map(_.sqrtPriceX96), s"$path getPriceAt($q)")
        assert(p.getTickAt(q) == want.map(_.tick), s"$path getTickAt($q)")
      }
    }
  }

  test("createLiq equals the plain-Scala liquidity fold") {
    assert(pool.createLiq(asOfs(3)).queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(!sparkPool.createLiq(asOfs(3)).queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    (asOfs ++ SpecialAsOfs).foreach { q =>
      val Seq(d, s) = paths.map { case (path, p) =>
        val df = p.createLiq(q)
        val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)
        assert(got == liquidity(q), s"$path createLiq($q)")
        (df.schema, got.map(bits))
      }
      assert(d == s, s"createLiq($q): the paths' schemas or bits differ")
    }
  }

  test("calcSwapDF returns the ticks of the same pipeline built with lit(as_of)") {
    val qs = (asOfs ++ SpecialAsOfs).filter(q => lastSwapBefore(q).isDefined)
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
      val Seq((dt, dr), (st, sr)) = paths.map(_._2.calcSwapDF(q))
      assert(dt.map(bits) == inlined.map(bits) && st.map(bits) == inlined.map(bits),
        s"calcSwapDF($q) ticks")
      assert(bits(dr) == bits(sr), s"calcSwapDF($q) in-range values")
    }
    (asOfs ++ SpecialAsOfs).filter(q => lastSwapBefore(q).isEmpty).foreach { q =>
      val Seq(d, s) = paths.map(p => Try(p._2.calcSwapDF(q)).failed.get.getMessage)
      assert(d == "Pool not initialized" && d == s, s"calcSwapDF($q)")
    }
  }

  test("warm driver-path calls start no Spark job; the Spark path starts one or more") {
    val token0 = "0x00000000000000000000000000000000000000a0"
    // fresh as-of values: the swap memo holds none of them
    val Seq(q, qCold, qSwap) = Seq(asOfs(20), asOfs(21) + 0.00002, asOfs(22) + 0.00002)
    for ((path, p) <- paths) {
      // reads the factory row and builds the driver indexes
      p.fee; p.getPriceAt(q); p.createLiq(q).collect()
      val calls = Seq[(String, () => Any)](
        "getPriceAt" -> (() => p.getPriceAt(q)),
        "getTickAt" -> (() => p.getTickAt(q)),
        "createLiq(q).collect()" -> (() => p.createLiq(q).collect()),
        "cold calcSwapDF" -> (() => p.calcSwapDF(qCold)),
        "cold swapIn" -> (() => p.swapIn(Swap.Calldata(qSwap, token0, 1000.0), warn = false)))
      calls.foreach { case (what, call) =>
        val jobs = jobsStarted(call())
        if (path == "driver") assert(jobs == 0, s"$path $what started $jobs jobs")
        else assert(jobs >= 1, s"$path $what started no job")
      }
    }
  }

  test("the driver fold adds each partition's partial sums in Spark's order") {
    // amounts across 18 decimal orders on five ticks, so the sums round
    // and their order shows in the bits
    val rnd = new scala.util.Random(7L)
    val ticks = Seq(-120L, -60L, 0L, 60L, 120L)
    val rows = (0 until 600).map { i =>
      val lo = ticks(rnd.nextInt(4))
      Row(1000.0 + i / 10 + (i % 10) / 1e4, lo, lo + 60L * (1 + rnd.nextInt(2)),
        rnd.nextDouble() * math.pow(10, rnd.nextInt(18)), if (rnd.nextBoolean()) 1.0 else -1.0,
        1000L + i / 10)
    }
    val schema = new org.apache.spark.sql.types.StructType().add("as_of", "double")
      .add("tick_lower", "long").add("tick_upper", "long").add("amount", "double")
      .add("type_of_event", "double").add("block_number", "long")
    val mb = spark.createDataFrame(rows.asJava, schema).repartition(3).cache()
    assert(mb.rdd.getNumPartitions == 3 && mb.count() == 600L)
    val ix = Pool.MintBurnIndex(mb).get
    val oneFold = Pool.MintBurnIndex(mb.coalesce(1)).get
    val qs = Seq(1010.0, 1030.00035, 1059.0, 2000.0)
    val sums = qs.map { q =>
      val want = Liquidity.createLiq(mb, q).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      val (t, l) = ix.liquidity(q)
      assert(t.zip(l).toSeq.map(bits) == want.map(bits), s"liquidity($q)")
      val (t1, l1) = oneFold.liquidity(q)
      t1.zip(l1).toSeq.map(bits) == want.map(bits)
    }
    // one running sum over all rows would not give Spark's bits
    assert(sums.contains(false))
    mb.unpersist()
  }

  test("maxSupported from the driver indexes equals the Spark aggregate; -1 when empty") {
    val want = math.min(swapEvs.map(_.ev.block).max, mbEvs.map(_.ev.block).max)
    val fresh = new Pool(spark, pool.lake, Addr, Chain)
    fresh.getPriceAt(asOfs(1)); fresh.createLiq(asOfs(1))
    assert(jobsStarted(assert(fresh.maxSupported == want)) == 0)
    assert(sparkPool.maxSupported == want)
    val none = "0x00000000000000000000000000000000000000bb"
    assert(new Pool(spark, pool.lake, none, Chain).maxSupported == -1L)
    assert(new Pool(spark, pool.lake, none, Chain, driverRows = 0L).maxSupported == -1L)
  }

  test("a frame of exactly driverRows rows takes the driver path, one more row the Spark path") {
    val (nSwaps, nMbs) = (swapEvs.size.toLong, mbEvs.size.toLong)
    val q = asOfs(12)
    val atSwaps = new Pool(spark, pool.lake, Addr, Chain, driverRows = nSwaps)
    val overSwaps = new Pool(spark, pool.lake, Addr, Chain, driverRows = nSwaps - 1)
    atSwaps.getPriceAt(q); overSwaps.getPriceAt(q)
    assert(jobsStarted(atSwaps.getPriceAt(q)) == 0)
    assert(jobsStarted(overSwaps.getPriceAt(q)) >= 1)
    def local(p: Pool) = p.createLiq(q).queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    assert(local(new Pool(spark, pool.lake, Addr, Chain, driverRows = nMbs)))
    assert(!local(new Pool(spark, pool.lake, Addr, Chain, driverRows = nMbs - 1)))
  }

  test("a handle answers the same before and after unpersistCaches") {
    val h = new Pool(spark, pool.lake, Addr, Chain)
    val qs = Seq(asOfs(7), asOfs(25), 2000.0)
    def answers() = qs.map(q =>
      (h.getPriceAt(q), h.createLiq(q).collect().toSeq, h.calcSwapDF(q)))
    val first = answers()
    h.unpersistCaches()
    // the indexes went with the frames: the next query rebuilds one
    assert(jobsStarted(h.getTickAt(qs.head)) >= 1)
    assert(answers() == first)
  }

  private def codegenBodies(df: DataFrame): Seq[String] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w.doCodeGen()._2.body
    }
  }

  test("two as-of values generate byte-identical whole-stage code") {
    val Seq(q1, q2) = Seq(asOfs(10), asOfs(30))
    for (df <- Seq[Double => DataFrame](q => sparkPool.propertyAt(q, "tick"),
                                        q => Liquidity.createLiq(pool.mintBurns, q))) {
      val (a, b) = (codegenBodies(df(q1)), codegenBodies(df(q2)))
      assert(a.nonEmpty && a == b)
    }
  }

  test("a getPriceAt at a new as-of value compiles no code") {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    sparkPool.getPriceAt(asOfs(5))
    // the counter is JVM-wide: the least of three fresh values keeps a
    // compile on another thread from failing the check
    val added = asOfs.slice(6, 9).map { q =>
      val before = compiles.getCount
      sparkPool.getPriceAt(q)
      compiles.getCount - before
    }
    assert(added.min == 0L, added)
  }
}
