package graft.v3

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Param
import graft.ops.Ops

/** The reference's signature relational pipeline: point-in-time
  * liquidity distribution and the per-tick swap precompute
  * (reference v3/helpers/swap_math.py:25–71,
  * v3/helpers/pool_helpers.py:63–131).
  *
  * All inputs arrive pre-filtered to one (pool, chain); the windows are
  * therefore per-pool. For fleet-wide computation at scale, use the
  * `byPool` variants which partition every shuffle/window by
  * (chain_name, address) — same semantics, parallel over pools.
  */
object Liquidity {

  /** Liquidity distribution strictly before `asOf` (swap_math.py:25–71):
    * group mint/burn deltas by lower tick, by upper tick (negated),
    * full-outer combine on tick, zero-fill, net, sort, cumulative sum.
    *
    * `mb` needs columns: tick_lower/tick_upper (long), amount (double),
    * type_of_event (double), as_of (double) — see Pool.mintBurns.
    * Output: (tick, liquidity) where liquidity is the running depth.
    * The bound is a [[Param]]: `mb` is a materialized frame, so every
    * call reuses one compiled plan instead of inlining `asOf`.
    */
  def createLiq(mb: DataFrame, asOf: Double): DataFrame = {
    Param.register(mb.sparkSession)
    createLiqBy(mb.filter(col("as_of") < Param.of(asOf)), Seq.empty)
  }

  /** Fleet-scale variant: same pipeline, partitioned by `keys`
    * (e.g. chain_name, address). Caller applies the as_of filter. */
  def createLiqBy(mb: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val tl = mb
      .withColumn("liquidity_lower", col("amount") * col("type_of_event"))
      .groupBy((kc :+ col("tick_lower").as("tick")): _*)
      .agg(sum(col("liquidity_lower")).as("liquidity_lower"))
      .filter(col("liquidity_lower") =!= 0)
    val tu = mb
      .withColumn("liquidity_upper", -(col("amount") * col("type_of_event")))
      .groupBy((kc :+ col("tick_upper").as("tick")): _*)
      .agg(sum(col("liquidity_upper")).as("liquidity_upper"))
      .filter(col("liquidity_upper") =!= 0)
    val combined = Ops.outerCombine(tl, tu, keys :+ "tick")
      .withColumn("liquidity", col("liquidity_lower") + col("liquidity_upper"))
    Ops.cumSum(combined, col("liquidity"), order = Seq(col("tick")),
        partition = kc, out = "liquidity_cum")
      .select((kc :+ col("tick") :+ col("liquidity_cum").as("liquidity")): _*)
  }

  /** Per-tick swap precompute (pool_helpers.py:80–94): keep positive
    * liquidity (float noise guard), tick range [tick_a, tick_b) via
    * lead, last boundary = (MAX_TICK // ts) * ts, per-tick sqrt prices
    * and token reserves. Float op order mirrors the reference
    * (`(1.0001 ** t) ** 0.5`) for bit parity.
    *
    * The keyless window matches the reference's single-pool contract
    * and is bounded (≤ 2·MAX_TICK/ts rows per pool); for a fleet-wide
    * precompute use [[swapDFBy]]. */
  def swapDF(liq: DataFrame, tickSpacing: Long): DataFrame =
    swapDFBy(liq, tickSpacing, Seq.empty)

  /** Fleet-scale variant of [[swapDF]]: the lead window (and therefore
    * every shuffle) partitions by `keys` (e.g. chain_name, address), so
    * the per-tick precompute parallelizes over pools instead of
    * collapsing onto one task — the same contract as [[createLiqBy]].
    * Key columns are carried through the output. */
  def swapDFBy(liq: DataFrame, tickSpacing: Long, keys: Seq[String]): DataFrame = {
    val lastBoundary = Math.floorDiv(SwapMath.MaxTick, tickSpacing) * tickSpacing
    val kc = keys.map(col)
    val w = if (keys.isEmpty) Window.orderBy(col("tick"))
            else Window.partitionBy(kc: _*).orderBy(col("tick"))
    liq.filter(col("liquidity") > 0)
      .withColumn("tick_a", col("tick"))
      .withColumn("tick_b", coalesce(lead(col("tick"), 1).over(w), lit(lastBoundary)))
      .select((kc :+ col("liquidity") :+ col("tick_a") :+ col("tick_b")): _*)
      .withColumn("p_a", pow(pow(lit(1.0001), col("tick_a")), 0.5))
      .withColumn("p_b", pow(pow(lit(1.0001), col("tick_b")), 0.5))
      .withColumn("yInTick", col("liquidity") * (col("p_b") - col("p_a")))
      .withColumn("xInTick", col("liquidity") *
        ((col("p_b") - col("p_a")) / (col("p_b") * col("p_a"))))
  }
}
