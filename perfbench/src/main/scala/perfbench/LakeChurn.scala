package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

import graft.v3.{Lake, Schemas}

/** Write-heavy batch session. Each cycle ingests the next segment of one
  * pool's rows of the swap table through `Ingest.updateTables`, then
  * appends, upserts (with deletes), deletes by predicate, compacts and
  * vacuums rows of a second pool; every commit is read back at its new
  * version. The second pool's rows lie above the first's blocks, so the
  * ingest loop's per-pool resume point only moves with its own rows. The
  * cycle ends with one near-dup curation run over a planted corpus
  * ([[CurationPass]]), the batch side's many-job, shuffle-heavy plan. */
final class LakeChurn(spark: SparkSession, work: String, seed: Long,
                      rec: Recorder, traced: Boolean) {
  val FixtureSwaps = 12000
  val InitialRows = 300
  val IngestRows = 300
  val SegmentRows = 300L
  val SetupReps = 3
  val WarmupCycles = 2
  val AppendRows = 200
  val UpsertUpdates = 100
  val UpsertInserts = 50
  val UpsertDeletes = 50
  val DeleteOldest = 150
  val Table = Schemas.PoolSwapEvents
  val Keys = Seq("chain_name", "transaction_hash", "log_index")

  import LakeChurn.Live

  /** The rows the table must hold, keyed like the upserts. */
  private val model = mutable.HashMap.empty[(String, Long), Live]

  private def crc(txHash: String, logIdx: Long, amount0: Long): Long = {
    val c = new java.util.zip.CRC32()
    c.update(s"$txHash|$logIdx|$amount0".getBytes("UTF-8"))
    c.getValue
  }

  def run(seconds: Double): Outcome = {
    val t0 = System.nanoTime()
    val spec = PoolData.generate(seed, 1, FixtureSwaps, 10, 2L * FixtureSwaps + 100).head
    val fixture = s"$work/lake-churn-fixture"
    PoolData.writeFixture(spark, fixture, PoolData.rows(Seq(spec)))
    val inputS = (System.nanoTime() - t0) / 1e9
    def capAt(rows: Int) = spec.swaps(math.min(rows, spec.swaps.length) - 1).block
    def ingest(lake: Lake, rows: Int) = LakeBuild.ingest(spark, lake, fixture,
      spec.address, Seq(Table), SegmentRows, poolScoped = true, capBlock = Some(capAt(rows)))

    // a set-up: the first ingest into a fresh lake, and the corpus
    val setups = (0 until SetupReps).map { rep =>
      val t1 = System.nanoTime()
      val built = ingest(new Lake(spark, s"$work/lake-churn-lake-$rep"), InitialRows)
      val curation = new CurationPass(spark, seed, rec)
      Log(s"setup $rep: ingested ${built.rows} rows in ${built.segments} segments, ${built.ingestMs} ms")
      rec.op("setup_ingest")(built.rows) { n =>
        if (n == InitialRows) None else Some(s"ingested $n rows, want $InitialRows")
      }
      ((System.nanoTime() - t1) / 1e9, built, curation)
    }
    val lake = setups.last._2.lake
    val curation = setups.last._3
    var ingested = InitialRows
    spec.swaps.take(InitialRows).foreach(s => model((s.txHash, s.logIdx)) = Live(spec.address, s.block, s.amount0))

    val rnd = new Rng(seed * 104729L + 3L)
    val other = rnd.hex(40)
    var nextBlock = spec.swaps.last.block + 1000
    val resolveMs = mutable.ArrayBuffer.empty[Double]
    val filesPerCommit = mutable.ArrayBuffer.empty[Double]
    val batchRows = mutable.HashMap.empty[Long, Int] // span id -> rows in the batch
    val ingestBuilds = mutable.ArrayBuffer.empty[LakeBuild.Built]

    def newSwap(): PoolData.SwapEv = {
      val block = nextBlock
      nextBlock += 1 + rnd.nextInt(3)
      val tick = rnd.between(-50000L, 50000L)
      PoolData.SwapEv(block, rnd.nextInt(300).toLong, rnd.nextInt(400).toLong, rnd.hex(64),
        tick, PoolData.sqrtPriceX96(tick, 0.5), rnd.between(-1000000000L, 1000000000L),
        rnd.between(-1000000000L, 1000000000L), 1000000L)
    }

    def readBack(): Unit = rec.op("read") {
      val mb = lake.maxBlock(Table, PoolData.Chain)
      val t0 = System.nanoTime()
      val df = lake.read(Table)
      if (rec.timed) resolveMs += (System.nanoTime() - t0) / 1e6
      val r = df.agg(count(lit(1)), sum(crc32(concat_ws("|", col("transaction_hash"),
        col("log_index").cast("string"), col("amount0"))))).first()
      (mb, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    } { case (mb, n, sum) =>
      val wantMb = if (model.isEmpty) None else Some(model.valuesIterator.map(_.block).max)
      val wantSum = model.iterator.map { case ((h, l), v) => crc(h, l, v.amount0) }.sum
      if (mb == wantMb && n == model.size && sum == wantSum) None
      else Some(s"read: maxBlock $mb rows $n checksum $sum, want $wantMb / ${model.size} / $wantSum")
    }

    /** A commit, its file-count change when traced, then its read-back. */
    def commit(kind: String, rows: Int)(body: => Unit)(apply: => Unit): Unit = {
      val before = if (traced && rec.timed) lake.fileInventory(Table).map(_._2).toSet else Set.empty[String]
      val ok = rec.op(kind)(body)(_ => None).isDefined
      if (traced && rec.timed) {
        rec.tracer.foreach(tr => batchRows(tr.spans.last.id) = rows)
        filesPerCommit += lake.fileInventory(Table).map(_._2).count(p => !before.contains(p))
      }
      if (ok) apply
      readBack()
    }

    def rowsOf(evs: Seq[PoolData.SwapEv]): Seq[Row] = evs.map(s => PoolData.swapRow(other, s))
    def live(s: PoolData.SwapEv) = model((s.txHash, s.logIdx)) = Live(other, s.block, s.amount0)

    def cycle(): Unit = {
      val target = math.min(ingested + IngestRows, spec.swaps.length)
      val fresh = spec.swaps.slice(ingested, target)
      commit("ingest", fresh.size) {
        val b = ingest(lake, target)
        if (rec.timed) ingestBuilds += b
        require(b.rows == fresh.size, s"ingested ${b.rows} rows, want ${fresh.size}")
      } {
        fresh.foreach(s => model((s.txHash, s.logIdx)) = Live(spec.address, s.block, s.amount0))
        ingested = target
      }

      val adds = (0 until AppendRows).map(_ => newSwap())
      commit("append", AppendRows) {
        lake.append(spark.createDataFrame(spark.sparkContext.parallelize(rowsOf(adds), 1),
          Schemas.swaps), Table)
      } { adds.foreach(live) }

      val keys = rnd.shuffle(model.iterator.filter(_._2.pool == other).map(_._1).toVector)
        .take(UpsertUpdates + UpsertDeletes)
      val (updKeys, delKeys) = keys.splitAt(UpsertUpdates)
      val updates = updKeys.map { case (h, l) =>
        PoolData.SwapEv(model((h, l)).block, 0L, l, h, 0L, BigInt(1), rnd.between(-1000000000L, 1000000000L), 0L, 0L)
      }
      val inserts = (0 until UpsertInserts).map(_ => newSwap())
      val dels = delKeys.map { case (h, l) =>
        PoolData.SwapEv(model((h, l)).block, 0L, l, h, 0L, BigInt(1), model((h, l)).amount0, 0L, 0L)
      }
      val batch = rowsOf(updates ++ inserts).map(r => Row.fromSeq(r.toSeq :+ false)) ++
        rowsOf(dels).map(r => Row.fromSeq(r.toSeq :+ true))
      val batchSchema = StructType(Schemas.swaps.fields :+ StructField("__del", BooleanType))
      commit("upsert", batch.size) {
        lake.upsert(spark.createDataFrame(spark.sparkContext.parallelize(batch, 1), batchSchema),
          Table, Keys, deleteCol = Some("__del"))
      } {
        (updates ++ inserts).foreach(live)
        delKeys.foreach(model.remove)
      }

      // the second pool's oldest rows, by block range
      val blocks = model.valuesIterator.filter(_.pool == other).map(_.block).toVector.sorted
      val cut = blocks(math.min(DeleteOldest, blocks.length - 1))
      commit("delete_where", 0)(lake.deleteWhere(Table,
          col("address") === other && col("block_number") < cut)) {
        model.filterInPlace { case (_, v) => v.pool != other || v.block >= cut }
      }

      commit("compact", 0)(lake.compact(Table, 64L << 20))(())
      rec.op("vacuum")(lake.vacuum(Table, keepLast = 2))(_ => None)
      curation.nearDup()
    }

    rec.warmUp(WarmupCycles)(_ => cycle())
    val cycles = rec.timedRounds(seconds)(_ => cycle())

    val liveBytes = lake.fileInventory(Table).map(_._3).sum
    val bytesPerRow = liveBytes.toDouble / model.size
    val detail = Seq(
      f"commit_cycles_per_s ${cycles / (rec.timedNanos / 1e9)}%.4f 1/s cycles=$cycles",
      f"ingest_rows_per_s ${ingestBuilds.map(_.rows).sum / (ingestBuilds.map(_.ingestMs).sum / 1e3)}%.1f 1/s",
      Outcome.latencyLine("ingest_p50_ms", rec.samples("ingest")),
      Outcome.latencyLine("append_p50_ms", rec.samples("append")),
      Outcome.latencyLine("upsert_p50_ms", rec.samples("upsert")),
      Outcome.latencyLine("delete_where_p50_ms", rec.samples("delete_where")),
      Outcome.latencyLine("compact_p50_ms", rec.samples("compact")),
      Outcome.latencyLine("vacuum_p50_ms", rec.samples("vacuum")),
      Outcome.latencyLine("read_after_commit_p50_ms", rec.samples("read")),
      f"lake_bytes_per_row $bytesPerRow%.2f bytes rows=${model.size}",
      curation.summary,
      f"neardup_docs_per_s ${curation.docs.size / (Stats.median(rec.samples("neardup")) / 1e3)}%.1f 1/s",
      Outcome.latencyLine("neardup_p50_ms", rec.samples("neardup")))

    val layers = rec.tracer.fold(Map.empty[String, Double]) { tr =>
      val curationLayers = curation.layers(tr)
      val writes = tr.timedSpans("append", "upsert")
      tr.common() ++ Map(
        "lake.read_resolve_ms" -> Stats.median(resolveMs.toSeq),
        "lake.append_jobs" -> tr.perOp("append")(s => tr.jobsOf(s).size.toDouble),
        "lake.upsert_jobs" -> tr.perOp("upsert")(s => tr.jobsOf(s).size.toDouble),
        "lake.files_per_commit" -> filesPerCommit.sum / filesPerCommit.size,
        "lake.bytes_written_per_row" ->
          writes.map(s => tr.fsDelta(s, 3).toDouble).sum / writes.map(s => batchRows(s.id)).sum,
        "lake.delete_where_ms" -> Stats.median(rec.samples("delete_where")),
        "lake.compact_ms" -> Stats.median(rec.samples("compact")),
        "lake.vacuum_ms" -> Stats.median(rec.samples("vacuum")),
        "lake.live_files" -> lake.fileInventory(Table).size.toDouble,
        "ingest.segments" -> ingestBuilds.map(_.segments).sum.toDouble / ingestBuilds.size,
        "ingest.segment_ms" -> ingestBuilds.map(_.ingestMs).sum / ingestBuilds.map(_.segments).sum,
        "ingest.connector_ms" -> ingestBuilds.map(_.connectorMs).sum / ingestBuilds.size) ++
        curationLayers
    }
    Outcome(inputS + Stats.median(setups.map(_._1)), detail, layers)
  }
}

object LakeChurn {
  private final case class Live(pool: String, block: Long, amount0: Long)
}
