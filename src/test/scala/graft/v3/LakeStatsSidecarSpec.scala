package graft.v3

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Persisted file-stats sidecar: planning state must survive a driver
  * restart. A fresh Lake instance (fresh in-process cache) planning
  * the same table must read ZERO parquet footers — the sidecar is the
  * manifest key-range column, so a restarted CDC stream's first batch
  * plans from metadata, not from N footer opens over a 100 TB table. */
class LakeStatsSidecarSpec extends SparkSpec {

  private def rows(ids: Seq[Int]) = {
    import spark.implicits._
    ids.map { i =>
      ("ethereum", "IncreaseLiquidity", f"0xtx$i%06d", 1000L + i, 0L,
        "0xu1", s"$i", s"${i * 10}", s"${i * 100}", s"$i", 7L)
    }.toDF("chain_name", "name", "transaction_hash", "block_number",
      "tx_index", "from_address", "amount", "amount0", "amount1",
      "tokenId", "log_index")
  }

  test("a fresh Lake instance plans pruned reads with zero footer opens") {
    val root = Files.createTempDirectory("lake-sidecar").toString
    val lake = new Lake(spark, root)
    (0 until 4).foreach(j =>
      lake.append(rows(j * 100 until (j + 1) * 100).coalesce(1), Schemas.Nfp))
    val (df1, st1) = lake.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx000110", "0xtx000190")
    assert(lake.footerReads.get() > 0, "cold plan should read footers")
    assert(st1.scanned < st1.files,
      s"range read should prune disjoint-range files, got $st1")
    val got1 = df1.count()
    assert(got1 == 81L, s"expected 81 rows in range, got $got1")

    // restart: new instance, empty in-process cache, same sidecar
    val lake2 = new Lake(spark, root)
    val (df2, st2) = lake2.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx000110", "0xtx000190")
    assert(lake2.footerReads.get() == 0,
      s"warm restart plan read ${lake2.footerReads.get()} footers - " +
        "the sidecar should have served every range")
    assert(st2 == st1, s"restart plan diverged: $st1 vs $st2")
    assert(df2.count() == got1)

    // the upsert planner shares the same sidecar: zero footer opens.
    // Data-skipping collection is disabled for this leg so the only
    // footer traffic left is PLANNING's (commit-time stats warm-up
    // legitimately opens the upsert's own just-written files —
    // DataSkippingSpec pins that contract).
    lake2.setTableProperties(Schemas.Nfp, Map("stats.collect" -> "false"))
    val batch = rows(Seq(150)).withColumn("amount", lit("bumped"))
    val ust = lake2.upsert(batch, Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    assert(lake2.footerReads.get() == 0,
      "upsert planning after a pruned read should be footer-free")
    assert(ust.touchedFiles == 1 && ust.chainFiles == 4,
      s"expected 1-of-4 file touch, got $ust")
  }

  test("the shard set stays BOUNDED (opportunistic compaction) and compaction drops dead entries") {
    val root = Files.createTempDirectory("lake-sidecar2").toString
    val lake = new Lake(spark, root)
    // 40 append+plan cycles: every commit persists a shard; the
    // refresh-time compaction (>32 shards) must keep the set bounded
    // instead of letting it grow one-per-commit forever
    (0 until 40).foreach { j =>
      lake.append(rows(j * 10 until j * 10 + 10).coalesce(1), Schemas.Nfp)
      lake.readRange(Schemas.Nfp, "transaction_hash",
        f"0xtx${j * 10}%06d", f"0xtx${j * 10 + 5}%06d")
    }
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val statsDir = new Path(s"$root/_filestats/${Schemas.Nfp}")
    def shardCount = fs.listStatus(statsDir)
      .count(_.getPath.getName.startsWith("stats-"))
    assert(shardCount <= 33,
      s"shard set unbounded after 40 commits: $shardCount")
    // rewrite the table so every pre-compact entry goes dead, then
    // push the shard count over the threshold again: the compaction
    // that fires must drop the dead entries
    assert(lake.compact(Schemas.Nfp, targetBytes = 1L << 30) > 0)
    (0 until 33).foreach { j =>
      lake.append(rows(1000 + j * 10 until 1000 + j * 10 + 10)
        .coalesce(1), Schemas.Nfp)
    }
    val lake2 = new Lake(spark, root)
    lake2.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx000000", "0xtx000005") // one more refresh point
    val shards = fs.listStatus(statsDir).map(_.getPath)
      .filter(_.getName.startsWith("stats-"))
    assert(shards.length <= 33,
      s"expected bounded shard set, got ${shards.length}")
    // dead entries (pre-compaction files) are gone: every persisted rel
    // path must be in the live inventory
    val live = lake2.fileInventory(Schemas.Nfp)
      .map(_._2.split(s"/${Schemas.Nfp}/").last).toSet
    val persisted = shards.flatMap { p =>
      val in = fs.open(p)
      val body = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      body.split("\n").filter(_.nonEmpty).map(l =>
        new String(java.util.Base64.getDecoder.decode(l.split('\t')(0)),
          "UTF-8"))
    }.toSet
    val dead = persisted.filterNot(live)
    assert(dead.isEmpty, s"compacted sidecar kept dead entries: " +
      s"${dead.take(3).mkString(", ")}")
  }

  test("the rangeCache heap bound applies to the sidecar FOLD too; capped folds stay exact") {
    // regression: the 4M bound was only checked on the per-footer
    // compute path — a sidecar LARGER than the bound folded
    // unboundedly past the documented driver-heap envelope. The fold
    // now stops at the bound; un-folded files simply skip pruning
    // (conservatively exact).
    val root = Files.createTempDirectory("lake-sidecar-cap").toString
    val seedLake = new Lake(spark, root)
    (0 until 4).foreach(j =>
      seedLake.append(rows(j * 100 until (j + 1) * 100).coalesce(1),
        Schemas.Nfp))
    // fresh driver whose bound is smaller than the sidecar
    val lake = new Lake(spark, root)
    lake.rangeCacheBound = 4
    val got = lake.read(Schemas.Nfp)
      .filter(col("block_number").between(1110L, 1190L)).count()
    assert(got == 81L, s"capped fold changed results: $got")
    // and repeatedly: the capped state must not wedge later reads
    assert(lake.read(Schemas.Nfp)
      .filter(col("block_number") === 1005L).count() == 1L)
  }

  test("every stats fill enforces the rangeCache bound: a commit warm-up past it clears the cache") {
    // regression: the commit warm-up (and analyzeTable) put footer
    // stats into the rangeCache without the bound check the planners'
    // fill applied, so a driver that only appends and runs SQL grew
    // the cache past its stop-loss
    val root = Files.createTempDirectory("lake-sidecar-bound").toString
    val lake = new Lake(spark, root)
    lake.rangeCacheBound = 16
    (0 to 16 + 65536).foreach(i => lake.rangeCache.put(s"dummy:$i", None))
    lake.append(rows(0 until 10).coalesce(1), Schemas.Nfp)
    assert(!lake.rangeCache.containsKey("dummy:0"),
      s"the warm-up left the over-bound cache in place " +
        s"(${lake.rangeCache.size} entries)")
    assert(lake.rangeCache.size <= 16 + 65536,
      s"cache still past its bound: ${lake.rangeCache.size}")
    // the warm-up still cached the new file's stats after the clear
    assert(lake.read(Schemas.Nfp)
      .filter(col("block_number") === 1005L).count() == 1L)
  }

  test("a legacy shard with a key range but no #nulls entry costs one footer re-read per file, once") {
    val root = Files.createTempDirectory("lake-sidecar-legacy").toString
    val lake = new Lake(spark, root)
    lake.setTableProperties(Schemas.Nfp, Map("stats.collect" -> "false"))
    (0 until 3).foreach(j =>
      lake.append(rows(j * 100 until (j + 1) * 100).coalesce(1), Schemas.Nfp))
    // what a range-only planner wrote: one S line per file, no #nulls
    def b64(s: String) =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val files = lake.fileInventory(Schemas.Nfp).sortBy(_._2)
    assert(files.size == 3)
    val lines = files.map { case (_, path, bytes) =>
      val rel = path.split(s"/${Schemas.Nfp}/").last
      val j = spark.read.parquet(path)
        .agg(min("transaction_hash"), max("transaction_hash")).head()
      s"${b64(rel)}\t$bytes\t${b64("transaction_hash")}\tS\t" +
        s"${b64(j.getString(0))}\t${b64(j.getString(1))}"
    }
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(
      s"$root/_filestats/${Schemas.Nfp}/stats-legacy.txt"), false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val lake2 = new Lake(spark, root)
    val (df2, st2) = lake2.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx000110", "0xtx000190")
    assert(st2.files == 3 && st2.scanned == 1, s"pruning lost: $st2")
    assert(df2.count() == 81L)
    assert(lake2.footerReads.get() == 3,
      s"expected one re-read per legacy file, got ${lake2.footerReads.get()}")
    val lake3 = new Lake(spark, root)
    val (_, st3) = lake3.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx000110", "0xtx000190")
    assert(st3 == st2)
    assert(lake3.footerReads.get() == 0,
      "the re-read stats (with null counts) were not re-persisted")
  }

  test("per-commit cache eviction is scoped to the inserting table") {
    // regression: eviction removed EVERY table's versions below
    // v - 1024, so one high-version table continually purged a
    // low-version table's still-hot entries (forcing that stream to
    // re-read its delta bodies on every latestOffset poll)
    val root = Files.createTempDirectory("lake-dbc").toString
    val lake = new Lake(spark, root)
    val info = Lake.CommitInfo(Lake.Heads.none, Some(1L))
    (1L to 8L).foreach(v =>
      lake.commitInfos.put(("hot_low_version_table", "i1", v), info))
    (1L to 4200L).foreach(v =>
      lake.commitInfos.put(("busy_table", "i2", v), info))
    // plus a DEAD incarnation of the busy table (drop+recreate left
    // its high-version entries behind)
    (5000L to 5010L).foreach(v =>
      lake.commitInfos.put(("busy_table", "i_old", v), info))
    lake.evictCommits("busy_table", "i2", 4200L)
    assert((1L to 8L).forall(v => lake.commitInfos
        .containsKey(("hot_low_version_table", "i1", v))),
      "a foreign table's hot entries were evicted")
    assert(!lake.commitInfos.containsKey(("busy_table", "i2", 1L)),
      "the inserting table's stale entries survived")
    assert(lake.commitInfos.containsKey(("busy_table", "i2", 4200L)))
    assert(!(5000L to 5010L).exists(v => lake.commitInfos
        .containsKey(("busy_table", "i_old", v))),
      "a dead incarnation's entries survived the table-scoped eviction")

    // dead incarnations go FIRST: when dropping them brings the cache
    // back under its bound, the live incarnation keeps its old versions
    lake.commitInfos.clear()
    (1L to 4090L).foreach(v =>
      lake.commitInfos.put(("busy_table", "i2", v), info))
    (1L to 20L).foreach(v =>
      lake.commitInfos.put(("busy_table", "i_old", v), info))
    lake.evictCommits("busy_table", "i2", 4090L)
    assert(lake.commitInfos.size == 4090,
      s"expected only the dead incarnation shed, ${lake.commitInfos.size} left")
    assert(lake.commitInfos.containsKey(("busy_table", "i2", 1L)))
  }

  test("deferStats suspends per-commit collection and backfills ONCE at scope exit") {
    val root = Files.createTempDirectory("lake-defer").toString
    val lake = new Lake(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val sd = new org.apache.hadoop.fs.Path(s"$root/_filestats/${Schemas.Nfp}")
    def shards: Seq[String] =
      if (!fs.exists(sd)) Seq.empty
      else fs.listStatus(sd).map(_.getPath.getName)
        .filter(_.startsWith("stats-")).toSeq
    lake.deferStats(Schemas.Nfp) {
      (0 until 4).foreach(j =>
        lake.append(rows(j * 100 until (j + 1) * 100).coalesce(1),
          Schemas.Nfp))
      assert(shards.isEmpty,
        s"commits inside deferStats wrote shard(s): $shards")
    }
    // exactly one backfill shard at scope exit, stats complete: a
    // FRESH driver prunes from the sidecar with zero footer opens
    assert(shards.size == 1, s"expected 1 backfill shard, got $shards")
    val lake2 = new Lake(spark, root)
    assert(lake2.read(Schemas.Nfp)
      .filter(col("block_number") === 1310L).count() == 1L)
    assert(lake2.footerReads.get() == 0,
      "deferred backfill left stats incomplete (footer re-read)")
  }

  test("deferStats scopes do NOT nest per table: a reentrant scope refuses loudly instead of silently un-deferring the outer one") {
    val root = Files.createTempDirectory("lake-defer2").toString
    val lake = new Lake(spark, root)
    val e = intercept[IllegalArgumentException] {
      lake.deferStats(Schemas.Nfp) {
        lake.deferStats(Schemas.Nfp) { () }
      }
    }
    assert(e.getMessage.contains("already active"), e.getMessage)
    // the outer scope's finally released the mark: a fresh scope works
    lake.deferStats(Schemas.Nfp) {
      lake.append(rows(0 until 10).coalesce(1), Schemas.Nfp)
    }
    // a DIFFERENT table's scope may run concurrently (per-table marks)
    lake.deferStats("other_tbl") { () }
  }

  test("crash window A: a sidecar entry for a file the manifest never committed is inert") {
    // a writer that died between its shard write and its manifest
    // publish leaves a stats entry for a phantom file — the sidecar is
    // a DERIVED CACHE, never membership truth, so planning must ignore
    // it (never schedule the missing file) and stay exact
    val root = Files.createTempDirectory("lake-sidecar3").toString
    val lake = new Lake(spark, root)
    (0 until 3).foreach(j =>
      lake.append(rows(j * 100 until (j + 1) * 100).coalesce(1), Schemas.Nfp))
    lake.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx000000", "0xtx000299") // persist real stats
    def b64(s: String) =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    // phantom entry whose range MATCHES the probe below — if the
    // sidecar were consulted as membership, the plan would schedule a
    // nonexistent file and every read would throw
    val phantom = "chain_name=ethereum/part-phantom-00000.parquet"
    val line = s"${b64(phantom)}\t12345\t${b64("transaction_hash")}\tS\t" +
      s"${b64("0xtx000000")}\t${b64("0xtx000299")}\n"
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(
      s"$root/_filestats/${Schemas.Nfp}/stats-phantom.txt"), false)
    try out.write(line.getBytes("UTF-8")) finally out.close()
    // a fresh driver folds the poisoned sidecar and still plans exactly
    val lake2 = new Lake(spark, root)
    val (df, st) = lake2.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx000110", "0xtx000190")
    assert(df.count() == 81L)
    assert(st.scanned < st.files, s"pruning lost: $st")
    assert(lake2.read(Schemas.Nfp).count() == 300L)
    assert(lake2.footerReads.get() == 0,
      "phantom entry should not disturb the warm plan")
  }

  test("crash window B: a committed file with NO sidecar entry costs one footer re-read, stays exact") {
    val root = Files.createTempDirectory("lake-sidecar4").toString
    val lake = new Lake(spark, root)
    (0 until 3).foreach(j =>
      lake.append(rows(j * 100 until (j + 1) * 100).coalesce(1), Schemas.Nfp))
    val (df0, st0) = lake.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx000110", "0xtx000190")
    val want = df0.count()
    // the converse crash: the commit landed but the shard write never
    // happened — simulate by dropping the WHOLE sidecar
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$root/_filestats/${Schemas.Nfp}"), true)
    val lake2 = new Lake(spark, root)
    val (df2, st2) = lake2.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx000110", "0xtx000190")
    assert(df2.count() == want)
    assert(st2 == st0, s"plan diverged without the sidecar: $st0 vs $st2")
    assert(lake2.footerReads.get() > 0,
      "the missing entries' files must be footer re-read")
    // and the re-read re-persisted: a THIRD driver is footer-free again
    val lake3 = new Lake(spark, root)
    lake3.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx000110", "0xtx000190")
    assert(lake3.footerReads.get() == 0,
      "re-derived stats were not re-persisted")
  }
}
