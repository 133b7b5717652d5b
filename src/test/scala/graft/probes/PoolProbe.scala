package graft.v3

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, spark_partition_id}

/** Pool path probe: the driver index against the Spark plans as a
  * pool grows. For each size n it writes one synthetic pool of n swaps
  * and n mint/burns (about 2,000 distinct ticks) into a temp lake, and
  * on a handle at driver-rows bound 0 (Spark path) and at an unlimited
  * bound (driver path) times `getPriceAt`, `createLiq(q).collect()` and
  * a cold `calcSwapDF` at fresh as-of values; for the driver path also
  * each index's build and the heap it and its collected rows retain
  * (after a full GC). Emits one JSON line per size.
  * Usage: Test/runMain graft.v3.PoolProbe [n,n,…] (default
  * 100000,250000,1000000). Package graft.v3 reaches the bound.
  */
object PoolProbe {
  private val Chain = "ethereum"
  private val Addr = "0x00000000000000000000000000000000000000aa"
  private val Reps = 9

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(100000L, 250000L, 1000000L))
    val spark = graft.fs.FastLocalFs.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")

    def ms[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e6)
    }
    def heapMb(): Double = {
      (1 to 3).foreach(_ => System.gc())
      val r = Runtime.getRuntime
      (r.totalMemory - r.freeMemory) / 1e6
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def f(x: Double): String = f"$x%.3f"

    sizes.foreach { n =>
      val lake = new Lake(spark, Files.createTempDirectory("graft-poolprobe").toString)
      val ts0 = new Timestamp(1685577600000L)
      def write(table: String, df: DataFrame): Unit =
        lake.append(spark.createDataFrame(df.rdd, Schemas.forTable(table)), table)
      val (_, writeMs) = ms {
        write(Schemas.FactoryPoolCreated, spark.createDataFrame(Seq(Row(Chain, ts0, 900L,
          "0xf0", 1L, "0x00000000000000000000000000000000000000a0",
          "0x00000000000000000000000000000000000000a1", "3000", "60", Addr)).asJava,
          Schemas.factory))
        // four swaps a block; the price walks a 241-tick band around 1200
        write(Schemas.PoolSwapEvents, spark.range(n).selectExpr(
          s"'$Chain'", s"'$Addr'", "timestamp'2023-06-01 00:00:00'", "1000 + id div 4",
          "concat('0x', id)", "id", "'1'", "'-1'",
          s"cast(cast(floor(pow(1.0001, (1200 + pmod(id * 7919, 241) - 120 + 0.5) / 2)" +
            s" * ${SwapMath.Q96}) as decimal(38, 0)) as string)",
          "'1'", "cast(1200 + pmod(id * 7919, 241) - 120 as string)",
          s"'$Addr'", s"'$Addr'", s"'$Addr'", s"'$Addr'", "(id % 4) * 2", "'1'", "'1'", "'0'"))
        // a full-range mint first, then positions up to 1,000 spacings
        // either side of tick 1200; every third event a burn
        write(Schemas.PoolMintBurnEvents, spark.range(n).selectExpr(
          s"'$Chain'", s"'$Addr'", "timestamp'2023-06-01 00:00:00'", "999 + id div 4",
          "concat('0x', id)", "id",
          "if(id = 0, '1000000000000000000000000', cast(1000000 + pmod(id * 104729, 1000000000) as string))",
          "'0'", "'0'", s"'$Addr'",
          "cast(if(id = 0, -887220, 1200 - 60 * (1 + pmod(id * 31, 1000))) as string)",
          "cast(if(id = 0, 887220, 1200 + 60 * (1 + pmod(id * 17, 1000))) as string)",
          "if(id > 0 and id % 3 = 0, -1L, 1L)", s"'$Addr'", s"'$Addr'",
          "(id % 4) * 2 + 1", "'1'", "'1'", "'0'"))
      }
      val lastAsOf = 1000.0 + (n - 1) / 4
      val rnd = new scala.util.Random(n)
      def fresh(): Double = 1000.5 + rnd.nextDouble() * (lastAsOf - 1000.5)

      /** Median and max ms of each query over `Reps` fresh as-of values,
        * after two warm-up calls. */
      def queries(p: Pool): Seq[(String, Double, Double)] = {
        val calls = Seq[(String, Double => Any)](
          "getPriceAt" -> (q => p.getPriceAt(q)),
          "createLiq" -> (q => p.createLiq(q).collect()),
          "calcSwapDF" -> (q => p.calcSwapDF(q)))
        calls.map { case (name, call) =>
          call(fresh()); call(fresh())
          val t = (1 to Reps).map(_ => ms(call(fresh()))._2)
          (name, median(t), t.max)
        }
      }
      def json(qs: Seq[(String, Double, Double)]): String = qs.map { case (k, med, mx) =>
        s""""${k}_ms":${f(med)},"${k}_max_ms":${f(mx)}"""
      }.mkString("{", ",", "}")

      val sparkPath = new Pool(spark, lake, Addr, Chain, driverRows = 0L)
      val (_, materializeMs) = ms { sparkPath.swaps; sparkPath.mintBurns }
      val sparkQs = queries(sparkPath)
      sparkPath.unpersistCaches()

      val driver = new Pool(spark, lake, Addr, Chain, driverRows = Long.MaxValue)
      driver.swaps; driver.mintBurns
      // builds outside the handle, each released before the next, so
      // the heap deltas are one index or one collect each
      def retained[A](build: => A): (Double, Double) = {
        val h0 = heapMb()
        val (a, buildMs) = ms(build)
        val mb = heapMb() - h0
        require(a != null)
        (buildMs, mb)
      }
      val (swapBuildMs, swapIxMb) = retained(Pool.SwapIndex(driver.swaps).get)
      val (mbBuildMs, mbIxMb) = retained(Pool.MintBurnIndex(driver.mintBurns).get)
      val (_, swapRowsMb) = retained(driver.swaps.select(col("as_of"), col("log_index"),
        col("block_number"), col("sqrtPriceX96"), col("tick")).collect())
      val (_, mbRowsMb) = retained(driver.mintBurns.select(col("as_of"),
        spark_partition_id(), col("tick_lower"), col("tick_upper"),
        col("amount") * col("type_of_event"), col("block_number")).collect())
      val driverQs = queries(driver)
      println(s"""{"probe":"pool_paths","n":$n,"write_ms":${f(writeMs)},""" +
        s""""materialize_ms":${f(materializeMs)},""" +
        s""""swap_index_build_ms":${f(swapBuildMs)},"mint_burn_index_build_ms":${f(mbBuildMs)},""" +
        s""""swap_index_mb":${f(swapIxMb)},"mint_burn_index_mb":${f(mbIxMb)},""" +
        s""""swap_rows_mb":${f(swapRowsMb)},"mint_burn_rows_mb":${f(mbRowsMb)},""" +
        s""""ticks":${driver.createLiq(Double.PositiveInfinity).count()},""" +
        s""""spark":${json(sparkQs)},"driver":${json(driverQs)}}""")
      driver.unpersistCaches()
    }
    spark.stop()
  }
}
