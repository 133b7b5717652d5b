package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Manifest metadata-layer probe: does the commit-log fold/checkpoint
  * path hold at table sizes the per-round specs (25-file lakes) never
  * reach? Synthesizes manifests of 10⁴/10⁵/10⁶ entries — no data
  * files; [[graft.v3.Lake.publishSynthetic]] exercises the REAL
  * lock-held publish and the REAL fold — and measures, per size:
  *
  *  - `manifest_ckpt_write`  lock-held checkpoint serialize+write
  *    (what every 16th commit pays while holding the commit lock)
  *  - `manifest_delta_write` one delta commit (what the other 15 pay)
  *  - `manifest_cold_fold`   fresh-driver fold: checkpoint read +
  *    15 delta replays + sort ([[graft.v3.Lake.fileInventory]])
  *  - `manifest_warm_fold`   the cached re-read a warm driver pays
  *  - `manifest_plan_full`   driver plan (split sizing, partition
  *    grouping) of a full-table scan over the manifest-served index
  *  - `manifest_plan_pruned` same with a one-chain partition filter
  *  - `manifest_heap_mb`     approximate driver heap held by the
  *    folded entry list (the per-table steady-state cost): the median
  *    of [[HeapReps]] held/dropped readings, each reading printed too
  *
  * Emits one JSON line per (probe, n). Usage:
  * runMain graft.ManifestProbe [n,n,…] (default 10000,100000,1000000)
  */
object ManifestProbe {
  /** Held/dropped heap readings per size; the median is reported. */
  private val HeapReps = 5

  def main(args: Array[String]): Unit = {
    val ns = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(10000, 100000, 1000000))
    // v1 | dsv2 | all: at 10⁶ entries each section holds multi-GB
    // folded state — running both in one JVM makes the later section
    // measure the earlier one's GC pressure, not the code under probe.
    // Attribution runs use one mode per process.
    val mode = args.lift(1).getOrElse("all")
    val runV1 = mode == "all" || mode == "v1"
    val runDsv2 = mode == "all" || mode == "dsv2"
    // stats: the round-16 data-skipping layer — commit-time warm-up
    // cost (must be O(commit files), never O(table)) and the
    // plan-time skipped scan at n files (sidecar fold + per-file
    // walk, zero footer opens). Its own mode: at 10⁶ the sections
    // cross-contaminate GC like v1/dsv2 do.
    val runStats = mode == "stats"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.fs.FastLocalFs.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def emit(probe: String, n: Int, sec: Double): Unit =
      println(f"""{"probe":"$probe","n":$n,"sec":$sec%.3f}""")

    val table = graft.v3.Schemas.Nfp
    ns.foreach { n =>
      val root = java.nio.file.Files
        .createTempDirectory(s"manifest-probe-$n").toString
      val lake = new graft.v3.Lake(spark, root)
      // entry shape mirrors a real fleet table: 16 chains, realistic
      // rel-path lengths, ~128 MB files
      def entry(i: Int): (String, Long) =
        (s"chain_name=c${i % 16}/part-17458$i-0000$i.parquet", 128L << 20)
      var current = (0 until n).map(entry)

      // 1. lock-held checkpoint write (the every-16th-commit cost)
      val (_, ckptSec) = timed(lake.publishSynthetic(table, current))
      if (runV1) emit("manifest_ckpt_write", n, ckptSec)

      // 2. 15 delta commits (+2 files, −1): the steady-state cost
      var deltaTotal = 0.0
      (1 to 15).foreach { d =>
        val added = Seq(entry(n + 2 * d - 1), entry(n + 2 * d))
        val removed = Set(current.head._1)
        val next = current.tail ++ added
        val (_, s) =
          timed(lake.publishSynthetic(table, next, Some((added, removed))))
        deltaTotal += s
        current = next
      }
      if (runV1) emit("manifest_delta_write", n, deltaTotal / 15.0)
      current = null // the fixture is on disk now; don't skew GC below

      if (runV1) {
      // 3. cold fold: a fresh driver pays checkpoint + 15 deltas once
      val coldLake = new graft.v3.Lake(spark, root)
      val (inv, coldSec) = timed(coldLake.fileInventory(table))
      require(inv.size == n + 15, s"fold diverged: ${inv.size}")
      emit("manifest_cold_fold", n, coldSec)
      // 4. warm fold (cached)
      val (_, warmSec) = timed(coldLake.fileInventory(table))
      emit("manifest_warm_fold", n, warmSec)

      // 5. plan a full scan and a pruned scan: .rdd forces split
      // planning + partition grouping WITHOUT launching a job, so the
      // nonexistent data files are never opened
      val (_, planFull) =
        timed(coldLake.read(table).rdd.getNumPartitions)
      emit("manifest_plan_full", n, planFull)
      // warm: the relation cache serves the SAME immutable plan —
      // a repeated read pays Spark's split planning, not index
      // reconstruction
      val (_, planWarm) =
        timed(coldLake.read(table).rdd.getNumPartitions)
      emit("manifest_plan_warm", n, planWarm)
      val (_, planPruned) = timed(coldLake.read(table)
        .filter(col("chain_name") === "c3").rdd.getNumPartitions)
      emit("manifest_plan_pruned", n, planPruned)
      }

      if (runDsv2) {
      // 5b. the DSv2 catalog path at the same sizes: a pure-SQL pruned
      // plan pays loadTable (manifest-served currentEntries) + the
      // ManifestPartitioningIndex build (synthetic FileStatus map,
      // group-by-parent, PartitionSpec over the leaf dirs) + Spark's
      // own DSv2 pushdown/split planning. Cold = first SQL plan on a
      // fresh catalog; warm = the repeat (inventory caches hot; the
      // index itself is rebuilt per loadTable — the number that says
      // whether THAT needs a cache too)
      val cat = s"mprobe_${n}_${System.nanoTime()}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.LakeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      // sub-stage attribution: index construction alone, then the
      // analyzed+optimized plan, then physical planning (.rdd) —
      // cold (first query on a fresh catalog) and warm (cached index)
      val (keyed, keyedSec) = timed(
        new graft.v3.Lake(spark, root).currentEntriesKeyed(table).get)
      emit("dsv2_entries_keyed", n, keyedSec)
      val partSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("chain_name",
          org.apache.spark.sql.types.StringType)))
      val (_, idxSec) = timed(new graft.plans.ManifestPartitioningIndex(
        spark, new org.apache.hadoop.fs.Path(s"$root/$table"),
        keyed._3, partSchema))
      emit("dsv2_index_build", n, idxSec)
      def dsv2Phases(tag: String): Unit = {
        val (df, aSec) = timed(spark.sql(
          s"SELECT * FROM $cat.$table WHERE chain_name = 'c3'"))
        emit(s"dsv2_${tag}_analyze", n, aSec)
        val (_, pSec) = timed(df.queryExecution.executedPlan)
        emit(s"dsv2_${tag}_physical", n, pSec)
        val (_, rSec) = timed(df.rdd.getNumPartitions)
        emit(s"dsv2_${tag}_rdd", n, rSec)
      }
      dsv2Phases("cold")
      dsv2Phases("warm")
      // 5c. steady-state CDC shape: one delta commit bumps the
      // version, evicting the cached index — the next SQL plan pays
      // incremental fold (cheap) + index rebuild for the new version.
      // This is the per-commit re-plan cost a streaming consumer sees.
      val catLake = graft.sources.LakeCatalog.instance(cat)
        .flatMap(_.currentLake).getOrElse(lake)
      val add = Seq(entry(n + 100))
      catLake.publishSynthetic(table,
        catLake.fileInventory(table).map(e =>
          (e._2.substring(e._2.indexOf("chain_name=")), e._3)) ++ add,
        Some((add, Set.empty[String])))
      val (_, dsv2After) = timed(spark.sql(
        s"SELECT * FROM $cat.$table WHERE chain_name = 'c3'")
        .rdd.getNumPartitions)
      emit("dsv2_plan_after_commit", n, dsv2After)
      // 5d. row-level (UPDATE/MERGE) rewrite-scan planning at n: the
      // operation's unfiltered scan serves from the same per-version
      // index cache the SELECT above just warmed (r15) — so
      // per-statement planning must sit within ~2x of the warm SELECT
      // plan, not pay the O(n) index rebuild each statement (the r14
      // shape this measures the retirement of)
      val keyed2 = catLake.currentEntriesKeyed(table).get
      val op = new graft.sources.LakeRowLevelOperation(spark, catLake,
        table, new org.apache.hadoop.fs.Path(s"$root/$table"), keyed2._3,
        catLake.effectiveSchema(table), Seq("chain_name"),
        org.apache.spark.sql.connector.write.RowLevelOperation.Command
          .UPDATE,
        Some((keyed2._1, keyed2._2)))
      // rebuilds MUST read 0 (cache hit); the remaining time is
      // Spark's own split computation over the UNFILTERED n files —
      // the full-table statement's honest planning cost (the SELECT
      // probes above plan 1/16th, chain-pruned)
      val builds0 = graft.plans.ManifestPartitioningIndex.builds.get()
      val (parts, rlSec) = timed(op.newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().toBatch.planInputPartitions())
      require(parts.nonEmpty, "row-level scan planned no partitions")
      val rebuilds =
        graft.plans.ManifestPartitioningIndex.builds.get() - builds0
      println(f"""{"probe":"dsv2_rowlevel_plan","n":$n,"sec":$rlSec%.3f,""" +
        f""""rebuilds":$rebuilds}""")
      }

      if (runStats) {
      // 7a. commit-time stats warm-up is O(commit), not O(table):
      // two real 4-file appends against the n-entry manifest — stats
      // collection ON vs OFF — and the footer-read counter pins the
      // warm-up to exactly the commit's own files. The delta between
      // the two timings is the warm-up cost; it must not grow with n.
      val statsLake = new graft.v3.Lake(spark, root)
      def realRows(lo: Int, parts: Int) = {
        val k = col("id")
        spark.range(lo, lo + 4000L).repartition(parts).select(
          lit("zreal").as("chain_name"),
          lit("IncreaseLiquidity").as("name"),
          concat(lit("0xtx"), lpad(k.cast("string"), 12, "0"))
            .as("transaction_hash"),
          (lit(1000L) + k).as("block_number"),
          pmod(k, lit(13)).as("tx_index"),
          lit("0xu1").as("from_address"),
          k.cast("string").as("amount"),
          (k * 7).cast("string").as("amount0"),
          pmod(k, lit(1000)).cast("string").as("amount1"),
          pmod(k, lit(997)).cast("string").as("tokenId"),
          pmod(k, lit(7)).as("log_index"))
      }
      // untimed warm-up append: the FIRST write on a fresh lake pays
      // one-time costs (manifest fold, parquet writer init, JIT) that
      // would otherwise be misattributed to the stats step
      statsLake.append(realRows(20000, 4), table)
      statsLake.setTableProperties(table, Map("stats.collect" -> "false"))
      val (_, commitOff) = timed(
        statsLake.append(realRows(10000, 4), table))
      statsLake.setTableProperties(table, Map("stats.collect" -> "true"))
      val reads0 = statsLake.footerReads.get()
      val (_, commitOn) = timed(
        statsLake.append(realRows(0, 4), table))
      val warmupReads = statsLake.footerReads.get() - reads0
      println(f"""{"probe":"stats_commit_warmup","n":$n,""" +
        f""""sec_with":$commitOn%.3f,"sec_without":$commitOff%.3f,""" +
        f""""footer_reads":$warmupReads}""")
      require(warmupReads <= 4L,
        s"commit warm-up read $warmupReads footers for a 4-file " +
          "commit - collection must touch ONLY the commit's files")

      // 7b. plan-time data skipping at n files: synthesize the
      // sidecar (block_number range [100i, 100i+99] per file) and
      // plan a 1%-selectivity range query through the SQL catalog —
      // cold (sidecar fold + walk) and warm (walk alone), kept count
      // require'd, zero footer opens by construction.
      val inv = statsLake.fileInventory(table)
      def b64s(s: String) = java.util.Base64.getEncoder
        .encodeToString(s.getBytes("UTF-8"))
      val (shardBody, synthSec) = timed {
        val sb = new java.lang.StringBuilder(inv.size * 64)
        inv.zipWithIndex.foreach { case ((_, abs, bytes), i) =>
          val rel = abs.substring(abs.indexOf("chain_name="))
          if (!abs.contains("/chain_name=zreal/")) {
            sb.append(b64s(rel)).append('\t').append(bytes).append('\t')
              .append(b64s("block_number")).append("\tL\t")
              .append(i.toLong * 100L).append('\t')
              .append(i.toLong * 100L + 99L).append('\n')
          }
        }
        sb.toString
      }
      val statsDirP = new org.apache.hadoop.fs.Path(
        s"$root/_filestats/$table")
      val hfs = statsDirP.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      hfs.mkdirs(statsDirP)
      val shardOut = hfs.create(new org.apache.hadoop.fs.Path(
        statsDirP, "stats-probe-synth.txt"), true)
      try shardOut.write(shardBody.getBytes("UTF-8"))
      finally shardOut.close()
      emit("stats_sidecar_synth", n, synthSec)
      val cat = s"sprobe_${n}_${System.nanoTime()}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.LakeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      val lo = (n / 2).toLong * 100L
      val hi = lo + 100L * math.max(1L, n / 100L) - 1L
      val seam0 = graft.plans.DataSkipping
        .skipStats(s"$root/$table").getOrElse((0L, 0L))
      val (_, skipCold) = timed(spark.sql(
        s"SELECT * FROM $cat.$table WHERE block_number " +
          s"BETWEEN $lo AND $hi").rdd.getNumPartitions)
      emit("dsv2_plan_skipped_cold", n, skipCold)
      val (_, skipWarm) = timed(spark.sql(
        s"SELECT * FROM $cat.$table WHERE block_number " +
          s"BETWEEN $lo AND $hi").rdd.getNumPartitions)
      emit("dsv2_plan_skipped_warm", n, skipWarm)
      val seam1 = graft.plans.DataSkipping
        .skipStats(s"$root/$table").getOrElse((0L, 0L))
      val (cand, kept) = (seam1._1 - seam0._1, seam1._2 - seam0._2)
      val catLake = graft.sources.LakeCatalog.instance(cat)
        .flatMap(_.currentLake).getOrElse(statsLake)
      println(f"""{"probe":"stats_skip_ratio","n":$n,""" +
        f""""candidates":$cand,"kept":$kept,""" +
        f""""footer_reads":${catLake.footerReads.get()}}""")
      require(cand > 0 && kept.toDouble / cand <= 0.03,
        s"skipped plan kept $kept of $cand files - expected ~1%")
      require(catLake.footerReads.get() == 0L,
        "plan-time skipping opened footers at probe scale")
      }

      if (runV1) {
      // 6. retained heap of the folded per-table state: measure used
      // memory with a fresh fold HELD, then again after dropping the
      // reference — the difference is what one warm table costs a
      // long-lived driver. One System.gc difference swings several-fold
      // run to run (collector timing, concurrent Spark threads), so the
      // held/dropped pair repeats and the median is the figure
      val rt = Runtime.getRuntime
      def heldMb(): Double = {
        var heldLake = new graft.v3.Lake(spark, root)
        var held = heldLake.fileInventory(table)
        require(held.size == n + 15)
        System.gc(); Thread.sleep(300L)
        val withHeld = rt.totalMemory() - rt.freeMemory()
        held = null; heldLake = null
        System.gc(); Thread.sleep(300L)
        val without = rt.totalMemory() - rt.freeMemory()
        math.max(0L, withHeld - without) / 1e6
      }
      val readings = Seq.fill(HeapReps)(heldMb())
      val median = readings.sorted.apply(readings.length / 2)
      println(f"""{"probe":"manifest_heap_mb","n":$n,"mb":$median%.1f,""" +
        s""""readings":[${readings.map(r => f"$r%.1f").mkString(",")}]}""")
      }
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(root))
    }
    spark.stop()
  }
}
