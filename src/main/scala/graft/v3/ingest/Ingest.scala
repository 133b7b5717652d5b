package graft.v3.ingest

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.v3.{Lake, Schemas}

/** Incremental ingestion: the reference's hand-rolled micro-batch loop
  * (reference v3/helpers/data_update.py:124–295) as a driver-
  * orchestrated batch pipeline with the concerns Structured Streaming
  * formalizes (SURVEY.md §2.9): offset discovery (remote min/max),
  * admission control (findSegment ≈ maxOffsetsPerTrigger), resume from
  * the lake's own max block (checkpoint), idempotent-enough appends.
  *
  * STATS RECIPE for ingest-heavy tables: the loop defers commit-time
  * data-skipping stats to ONE loop-end backfill ([[Lake.deferStats]]
  * — one footer pass, one sidecar shard, regardless of segment
  * count). The footer reads themselves are the price of pruning; a
  * deployment that never range-queries an ingest table should pin
  * `stats.columns` to the one or two columns its queries actually
  * prune on (bounds extraction width), or set `stats.collect=false`
  * and run `graft_analyze('cat.tbl')` once when query patterns
  * change.
  */
object Ingest {

  final case class Report(table: String, segments: Int, rows: Long,
                          fromBlock: Long, toBlock: Long)

  /** Update `tables` for (pool, chain) from `connector` into `lake`.
    *
    * @param capBlock  optional hard max block (the reference's
    *                  test-mode cap at the 1000th swap,
    *                  data_update.py:136–137)
    */
  def updateTables(lake: Lake, connector: Connector, pool: String,
                   chain: String,
                   tables: Seq[String] = Schemas.allTables,
                   tgtMaxRows: Long = 200000L,
                   capBlock: Option[Long] = None,
                   ovmMapping: Option[DataFrame] = None,
                   poolScopedResume: Set[String] = Set.empty): Seq[Report] =
    tables.map { table =>
      updateTable(lake, connector, pool, chain, table, tgtMaxRows, capBlock,
        ovmMapping, poolScopedResume)
    }

  /** `poolScopedResume`: tables whose lake resume point is taken per
    * pool rather than per chain. The reference resumes swaps/mint-burns
    * per pool (data_update.py:170–176) — correct for the pool-scoped
    * allium connector, but re-pulls other pools' blocks under the
    * chain-scoped gbq connector (another instance of the connector
    * drift, SURVEY.md §7.1.8). Match this set to the connector's
    * scoping. */
  def updateTable(lake: Lake, connector: Connector, pool: String,
                  chain: String, table: String, tgtMaxRows: Long,
                  capBlock: Option[Long], ovmMapping: Option[DataFrame],
                  poolScopedResume: Set[String] = Set.empty): Report = {
    connector.minMaxBlock(table, pool, chain) match {
      case None => Report(table, 0, 0L, -1L, -1L)
      case Some((remoteMin, remoteMaxRaw)) =>
        val remoteMax = capBlock.fold(remoteMaxRaw)(math.min(_, remoteMaxRaw))
        // resume: local max block + 1 (data_update.py:163–189); factory
        // rows are chain-scoped, event tables pool-scoped
        val localMax =
          if (poolScopedResume.contains(table)) lake.maxBlock(table, chain, Some(pool))
          else lake.maxBlock(table, chain)
        var minSeg = localMax.map(_ + 1L).getOrElse(remoteMin)
        var segments = 0
        var rows = 0L
        val fromBlock = minSeg
        var continue = remoteMax > minSeg || (segments == 0 && remoteMax >= minSeg)
        // stats deferral: the loop lands many commits back-to-back
        // with nothing reading the table mid-loop — collect the
        // data-skipping stats ONCE at loop end (one footer pass, one
        // sidecar shard) instead of paying the per-commit warm-up
        // tax on every segment
        lake.deferStats(table) {
        while (continue) {
          val maxSeg = math.min(
            connector.findSegment(table, remoteMax, minSeg, pool, chain, tgtMaxRows),
            remoteMax)
          val df = connector.read(table, maxSeg, minSeg, pool, chain)
          // ONE job sizes the segment: its max block (the resume
          // point) and its row count
          val seg = df.agg(max(col("block_number")), count(lit(1))).first()
          if (seg.isNullAt(0)) {
            // nothing in this segment; skip forward
            minSeg = maxSeg + 1
          } else {
            val out =
              if (chain == "optimism_legacy_ovm1")
                ovmRewrite(df, table,
                  ovmMapping.getOrElse(throw new IllegalArgumentException(
                    "ovm ingest needs the address mapping")))
              else df
            // the OVM rewrite left-joins the address map, which fans a
            // row out if the map repeats an address: count what lands
            val n = if (out eq df) seg.getLong(1) else out.count()
            lake.append(out, table)
            segments += 1
            rows += n
            minSeg = seg.getLong(0) + 1L
          }
          continue = remoteMax >= minSeg
        }
        }
        Report(table, segments, rows, fromBlock, minSeg - 1)
    }
  }

  /** OVM1 genesis timestamp — https://optimistic.etherscan.io/block/1
    * (reference data_update.py:246–255). */
  val OvmGenesis: Timestamp = Timestamp.from(
    java.time.Instant.parse("2021-11-11T21:16:39Z"))

  /** Rewrite OVM1 events to look like optimism at block 1: fixed
    * block_number/timestamp, chain renamed, contract addresses remapped
    * via the published OVM1→EVM table — unmapped addresses become null,
    * matching `map_dict(default=None)` (data_update.py:236–280).
    * `mapping` columns: (oldaddress, newaddress). */
  def ovmRewrite(df: DataFrame, table: String, mapping: DataFrame): DataFrame = {
    val base = df
      .withColumn("block_number", lit(1L))
      .withColumn("block_timestamp", lit(OvmGenesis))
      .withColumn("chain_name", lit("optimism"))
    val addrCol = table match {
      case Schemas.FactoryPoolCreated => Some("pool")
      case Schemas.PoolSwapEvents | Schemas.PoolMintBurnEvents |
           Schemas.PoolInitializeEvents => Some("address")
      case _ => None
    }
    addrCol.fold(base) { c =>
      val m = mapping.select(col("oldaddress").as("__old"),
        col("newaddress").as("__new"))
      base.join(broadcast(m), base(c) === col("__old"), "left")
        .withColumn(c, col("__new"))
        .drop("__old", "__new")
    }
  }

  /** Load the OVM mapping CSV (S3) — reference data_update.py:107–121. */
  def readOvmMapping(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(col("oldaddress"), col("newaddress"))
}
