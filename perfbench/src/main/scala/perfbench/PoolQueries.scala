package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.v3.{Analytics, Lake, Pool, Schemas, Swap}
import graft.v3.ingest.{Connector, Ingest, ParquetFixtureConnector}

/** A delegating connector that times the calls it forwards. */
final class TimedConnector(inner: Connector) extends Connector {
  var nanos = 0L
  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally nanos += System.nanoTime() - t0
  }
  def minMaxBlock(table: String, pool: String, chain: String): Option[(Long, Long)] =
    timed(inner.minMaxBlock(table, pool, chain))
  def findSegment(table: String, maxBlock: Long, minBlock: Long, pool: String,
                  chain: String, tgtMaxRows: Long): Long =
    timed(inner.findSegment(table, maxBlock, minBlock, pool, chain, tgtMaxRows))
  def read(table: String, maxBlock: Long, minBlock: Long, pool: String,
           chain: String): DataFrame =
    timed(inner.read(table, maxBlock, minBlock, pool, chain))
}

/** Lands generated event tables in a fresh lake through `Ingest.updateTables`,
  * reading them from a fixture directory through a timed connector. */
object LakeBuild {
  final case class Built(lake: Lake, rows: Long, segments: Int, ingestMs: Double,
                         connectorMs: Double)

  def ingest(spark: SparkSession, lake: Lake, fixture: String, pool: String,
             tables: Seq[String], tgtMaxRows: Long, poolScoped: Boolean,
             capBlock: Option[Long] = None): Built = {
    val conn = new TimedConnector(new ParquetFixtureConnector(spark, fixture, poolScoped))
    val t0 = System.nanoTime()
    val reports = Ingest.updateTables(lake, conn, pool, PoolData.Chain, tables,
      tgtMaxRows = tgtMaxRows, capBlock = capBlock,
      poolScopedResume = if (poolScoped) tables.toSet else Set.empty)
    Built(lake, reports.map(_.rows).sum, reports.map(_.segments).sum,
      (System.nanoTime() - t0) / 1e6, conn.nanos / 1e6)
  }
}

/** Read-mostly analyst session over an ingested lake: as-of getters,
  * liquidity distributions, cold and memoized swap simulations, price
  * series and a liquidity surface, in a fixed mix per round. */
final class PoolQueries(spark: SparkSession, work: String, seed: Long,
                        rec: Recorder, traced: Boolean) {
  val Pools = 2
  val Swaps = 3000
  val MintBurns = 300
  val Blocks = 24000L // 80 hours of 12 s blocks
  val SetupReps = 3
  val WarmupRounds = 5

  val Tables = Seq(Schemas.FactoryPoolCreated, Schemas.PoolSwapEvents, Schemas.PoolMintBurnEvents)

  /** One set-up: the pools opened over the lake, with their factory
    * rows read and their cached swap and mint/burn frames materialized. */
  private def openPools(specs: IndexedSeq[PoolData.PoolSpec], lake: Lake): IndexedSeq[Pool] = {
    val handles = specs.map(p => new Pool(spark, lake, p.address, PoolData.Chain))
    handles.foreach { h => h.fee; h.swaps; h.mintBurns }
    handles
  }

  def run(seconds: Double): Outcome = {
    val t0 = System.nanoTime()
    val specs = PoolData.generate(seed, Pools, Swaps, MintBurns, Blocks)
    val fixture = s"$work/pool-queries-fixture"
    PoolData.writeFixture(spark, fixture, PoolData.rows(specs))
    // one chain-wide ingest of the three tables the queries read
    val built = LakeBuild.ingest(spark, new Lake(spark, s"$work/pool-queries-lake"), fixture,
      specs.head.address, Tables, tgtMaxRows = 100000L, poolScoped = false)
    Log(s"ingested ${built.rows} rows in ${built.segments} segments, ${built.ingestMs} ms")
    val expected = specs.size.toLong + specs.map(p => p.swaps.size + p.mintBurns.size).sum
    rec.op("ingest")(built.rows) { n =>
      if (n == expected) None else Some(s"ingested $n rows, generated $expected")
    }
    val inputS = (System.nanoTime() - t0) / 1e9
    val setupS = mutable.ArrayBuffer.empty[Double]
    var handles = IndexedSeq.empty[Pool]
    (0 until SetupReps).foreach { _ =>
      handles.foreach(_.unpersistCaches())
      val t1 = System.nanoTime()
      handles = openPools(specs, built.lake)
      setupS += (System.nanoTime() - t1) / 1e9
    }

    val rnd = new Rng(seed * 7919L + 17L)
    val coldUsed = mutable.LinkedHashSet.empty[(Int, Double)]
    val coldList = mutable.ArrayBuffer.empty[(Int, Double)]
    val calcMs = mutable.ArrayBuffer.empty[Double]
    val liqPlanMs = mutable.ArrayBuffer.empty[Double]
    val liqCollectMs = mutable.ArrayBuffer.empty[Double]

    def pick(): (Int, Double) = {
      val k = rnd.nextInt(Pools)
      val s = specs(k).swaps
      val ev = s(1 + rnd.nextInt(s.length - 1))
      // exactly at an event (strictly-before excludes it) or just after it
      (k, if (rnd.nextBoolean()) ev.asOf else ev.asOf + 0.00005)
    }

    def asOfOps(): Unit = {
      (0 until 2).foreach { _ =>
        val (k, q) = pick()
        rec.op("asof")(handles(k).getPriceAt(q)) { got =>
          val want = PoolModel.lastSwapBefore(specs(k), q).map(_.sqrtPriceX96)
          if (got == want) None else Some(s"getPriceAt($q) = $got, want $want")
        }
      }
      (0 until 2).foreach { _ =>
        val (k, q) = pick()
        rec.op("asof")(handles(k).getTickAt(q)) { got =>
          val want = PoolModel.lastSwapBefore(specs(k), q).map(_.tick)
          if (got == want) None else Some(s"getTickAt($q) = $got, want $want")
        }
      }
    }

    def liquidityOps(): Unit = {
      val (k, q) = pick()
      rec.op("liquidity") {
        if (traced && rec.timed) {
          val t0 = System.nanoTime()
          val df = handles(k).createLiq(q)
          df.queryExecution.executedPlan
          val t1 = System.nanoTime()
          val rows = df.collect()
          liqPlanMs += (t1 - t0) / 1e6
          liqCollectMs += (System.nanoTime() - t1) / 1e6
          rows
        } else handles(k).createLiq(q).collect()
      } { rows =>
        val got = rows.map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toIndexedSeq
        val want = PoolModel.liquidity(specs(k), q)
        if (got.length != want.length || got.zip(want).exists { case ((t, l), (wt, wl)) =>
              t != wt || !PoolModel.close(l, wl.toDouble) })
          Some(s"createLiq($q): ${got.length} ticks, want ${want.length} or values differ")
        else None
      }
    }

    def swapCheck(k: Int, q: Double, tokenIn: String, amt: Double)(got: Swap.SwapResult) = {
      val want = PoolModel.swap(specs(k), q, tokenIn, amt)
      if (PoolModel.close(got.amountOut, want.amountOut) &&
          PoolModel.close(got.sqrtPriceLast, want.sqrtPriceLast)) None
      else Some(s"swapIn($q, $amt): out ${got.amountOut} price ${got.sqrtPriceLast}, " +
        s"want ${want.amountOut} / ${want.sqrtPriceLast}")
    }

    def calldata(k: Int, q: Double): (String, Double) = {
      val p = specs(k)
      val zeroForOne = rnd.nextBoolean()
      val st = PoolModel.state(p, q)
      val cap = PoolModel.currentCapacity(p, st, zeroForOne)
      // a third of the swaps stay in the current range, the rest cross
      // ranges; none goes past the last range in its direction
      val edge = if (zeroForOne) st.current == 0 else st.current == st.ranges.length - 1
      val factor = if (edge || rnd.nextInt(3) == 0) 0.2 + 0.6 * rnd.nextDouble()
                   else 1.5 + 4 * rnd.nextDouble()
      (if (zeroForOne) p.token0 else p.token1, cap * factor)
    }

    def swapOps(): Unit = {
      var kq = pick()
      while (coldUsed.contains(kq)) kq = pick()
      coldUsed += kq
      coldList += kq
      val (k, q) = kq
      val (tokenIn, amt) = calldata(k, q)
      val call = Swap.Calldata(q, tokenIn, amt)
      rec.op("swap_cold") {
        if (traced && rec.timed) {
          val t0 = System.nanoTime()
          handles(k).calcSwapDF(q)
          calcMs += (System.nanoTime() - t0) / 1e6
        }
        handles(k).swapIn(call, warn = false)
      }(swapCheck(k, q, tokenIn, amt))
      // the memoized swap repeats an earlier (pool, as_of) with new calldata
      val (k2, q2) = coldList(rnd.nextInt(coldList.length))
      val (tokenIn2, amt2) = calldata(k2, q2)
      rec.op("swap_memo")(handles(k2).swapIn(Swap.Calldata(q2, tokenIn2, amt2), warn = false))(
        swapCheck(k2, q2, tokenIn2, amt2))
    }

    def seriesOp(): Unit = {
      val k = rnd.nextInt(Pools)
      val startS = PoolData.tsOf(PoolData.Block0 + rnd.between(0L, Blocks / 2))
      rec.op("price_series")(handles(k).getPriceSeries(new Timestamp(startS * 1000L), "1h").collect()) { rows =>
        val got = rows.map(r => (r.getTimestamp(0).getTime / 1000L, r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(_._1).toIndexedSeq
        val want = PoolModel.priceSeries(specs, specs(k), startS, 3600L)
        if (got == want) None else Some(s"priceSeries from $startS: ${got.length} rows, want ${want.length} or values differ")
      }
    }

    def surfaceOp(): Unit = {
      val k = rnd.nextInt(Pools)
      val p = specs(k)
      val bounds = (1 to 4).map(i => p.mintBurns((p.mintBurns.length * i) / 5).asOf + 0.00005)
      import spark.implicits._
      val frames = bounds.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("frame_id", "as_of")
      rec.op("surface")(Analytics.liquiditySurface(handles(k).mintBurns, frames).collect()) { rows =>
        val want = PoolModel.surface(p, bounds)
        val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        if (got.size == rows.length && got.size == want.size &&
            want.forall { case (key, v) => got.get(key).exists(PoolModel.close(_, v)) }) None
        else Some(s"liquiditySurface: ${rows.length} cells, want ${want.size} or values differ")
      }
    }

    def round(): Unit = {
      asOfOps(); liquidityOps(); swapOps(); seriesOp(); surfaceOp()
    }

    rec.warmUp(WarmupRounds)(_ => round())
    val rounds = rec.timedRounds(seconds)(_ => round())

    val detail = Seq(
      f"queries_per_s ${rec.timedCount.values.sum / (rec.timedNanos / 1e9)}%.3f 1/s rounds=$rounds",
      Outcome.latencyLine("asof_p50_ms", rec.samples("asof")),
      Outcome.latencyLine("liquidity_p50_ms", rec.samples("liquidity")),
      Outcome.latencyLine("swap_cold_p50_ms", rec.samples("swap_cold")),
      Outcome.latencyLine("price_series_p50_ms", rec.samples("price_series")),
      Outcome.latencyLine("surface_p50_ms", rec.samples("surface")),
      Outcome.latencyLine("swap_memo_p50_us", rec.samples("swap_memo"), "us", 1000.0),
      f"ingest_rows_per_s ${built.rows / (built.ingestMs / 1e3)}%.1f 1/s")

    val layers = rec.tracer.fold(Map.empty[String, Double]) { tr =>
      val resolve = (0 until 10).map { _ =>
        val t0 = System.nanoTime()
        built.lake.read(Schemas.PoolSwapEvents)
        (System.nanoTime() - t0) / 1e6
      }
      tr.drain()
      val swapSpans = tr.timedSpans("swap_cold", "swap_memo")
      val hits = swapSpans.filter(s => tr.jobsOf(s).isEmpty)
      tr.common() ++ Map(
        "ingest.segments" -> built.segments.toDouble,
        "ingest.segment_ms" -> built.ingestMs / built.segments,
        "ingest.connector_ms" -> built.connectorMs,
        "lake.read_resolve_ms" -> Stats.median(resolve),
        "pool.materialize_ms" -> Stats.median(setupS.toSeq) * 1000.0,
        "pool.calc_swap_df_ms" -> Stats.median(calcMs.toSeq),
        "pool.swap_memo_hit_ratio" -> hits.size.toDouble / swapSpans.size,
        "pool.swap_math_us" -> (if (hits.isEmpty) 0.0 else Stats.median(hits.map(_.wallMs)) * 1000.0),
        "liquidity.plan_ms" -> Stats.median(liqPlanMs.toSeq),
        "liquidity.collect_ms" -> Stats.median(liqCollectMs.toSeq),
        "analytics.surface_ms" -> Stats.median(rec.samples("surface")),
        "lake.live_files" -> built.lake.fileInventory(Schemas.PoolSwapEvents).size.toDouble)
    }
    Outcome(inputS + Stats.median(setupS.toSeq), detail, layers)
  }
}
