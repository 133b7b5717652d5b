package graft

import org.apache.spark.sql.functions._

/** Long-stream manifest probe (r12 verdict task 6): drive 100+
  * micro-batches through [[graft.streaming.Streaming.upsertStream]]
  * with the maintenance hook on a z-ordered table, and report — per
  * decade of batches — the invariants a long-lived CDC stream needs:
  *
  *  - manifest commit-log file COUNT and BYTES stay bounded by
  *    checkpointEvery + retention (the log must not grow with stream
  *    age);
  *  - live data-file count per chain stays bounded by the maintenance
  *    hook (fragmentation must not grow with stream age);
  *  - cold read-plan latency stays flat (a fresh Lake folding the
  *    manifest must not slow down as versions accumulate);
  *  - `listCalls` == 0 throughout (planning never falls back to
  *    directory listings).
  *
  * Usage: Test/runMain graft.LongStreamProbe [nBatches]
  * [upsert|cdc|cdcvacuum|cdcenriched|cdcenrichedvacuum]
  * (default 100 upsert). Emits one JSON line per decade + a final
  * summary line.
  *
  * `cdc` mode (r15): the CONSUMER-side twin — a `lake-changes`
  * stream following a commit log that grows to nBatches commits
  * (appends + retained upserts + interleaved compactions), drained
  * decade-by-decade through ONE checkpoint. Invariants: every decade's
  * drained rows EQUAL the batch feed over the same commit range
  * (exactness under offset continuation), rewrite-only commits
  * contribute nothing, drain latency stays flat as the log ages, and
  * consumer planning performs zero directory listings.
  *
  * `cdcvacuum` mode (r16): `cdc` under FIRE — a concurrent thread
  * runs the most aggressive GC schedule (keepLast = 0, every
  * ~100 ms) for the probe's whole life, and the
  * table's retention floor is shrunk to 8 commits. Invariants: the
  * decade-draining consumer (lag <= 5 < floor) NEVER fails — retired
  * files it still needs are pinned by the retained commit log, not
  * by luck — and a from-0 consumer started at the end (lag >>
  * floor) refuses LOUDLY at the version-range boundary with the
  * documented retention message, never a raw missing-file error.
  *
  * `cdcenrichedvacuum` mode (r17): `cdcenriched` under the
  * `cdcvacuum` fire — the enriched join reads the REMOVED side of
  * every rewrite commit from the retention area, so it is the path
  * most exposed to an aggressive GC; the in-window drain must never
  * fail and staging must stay bounded while a keepLast=0 vacuum
  * hammers every ~100 ms.
  *
  * `cdcenriched` mode (r17): `cdc` with the `keys=` ENRICHED feed —
  * every decade's drained row-grain changes (update pre/postimages
  * from the retained upserts, plain inserts from the appends) must
  * EQUAL the batch `changesBetweenCommitsEnriched` over the same
  * range, consumer planning stays listing-free, and the churn
  * staging under the checkpoint's `__enriched/` is GC'd as the
  * engine acknowledges batches — the staging area must stay BOUNDED
  * (<= 1 un-reaped range) no matter how many commits the stream has
  * drained, or a long-lived consumer leaks disk.
  *
  * `dv` FLAG (r18, third arg, cdc modes): the history additionally
  * carries DELETION-VECTOR churn — `dv.maxFraction=0.5` on the
  * table, a one-row vector delete every `b % 10 == 3`, and the
  * retained upserts become vector upserts — so every decade's drain
  * replays vector-grown position diffs (the `__changes`/`__enriched`
  * staged paths) against historical vectors the hammering vacuum may
  * only free once nothing retained references them. The likeliest
  * silent-wrong-result hole (a vector referencing a vacuum-eligible
  * file) sits exactly on this path; the drain-equals-batch require
  * is the tripwire.
  */
object LongStreamProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100)
    val mode = args.lift(1).getOrElse("upsert")
    val dvMode = args.lift(2).contains("dv")
    val spark = graft.fs.FastLocalFs.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    import spark.implicits._

    val vacuumMode = mode == "cdcvacuum" || mode == "cdcenrichedvacuum"
    val enrichedMode = mode == "cdcenriched" || mode == "cdcenrichedvacuum"
    if (mode.startsWith("cdc")) {
      val root = java.nio.file.Files
        .createTempDirectory("cdc-stream-lake").toString
      val ckDir = java.nio.file.Files
        .createTempDirectory("cdc-stream-ck").toString
      val lake = new graft.v3.Lake(spark, root)
      val table = graft.v3.Schemas.Nfp
      val vacuumCount = new java.util.concurrent.atomic.AtomicLong
      val vacuumRaces = new java.util.concurrent.atomic.AtomicLong
      @volatile var vacuumStop = false
      val vacuumThread: Option[Thread] =
        if (!vacuumMode) None
        else {
          // shrink the replayable window to 8 commits (the drains lag
          // at most 5) and hammer the GC from a second thread - the
          // liveness claim is only worth probing under the most
          // aggressive schedule an operator could configure
          lake.setTableProperties(table,
            Map("manifest.minRetainedCommits" -> "8"))
          val vlake = new graft.v3.Lake(spark, root)
          val t = new Thread(() => {
            while (!vacuumStop) {
              try {
                // keepLast = 0: expire every snapshot, GC everything
                // unpinned. staleCommitMs stays at its default - a
                // zero stale-age would BREAK the live writer's commit
                // lock (that knob sweeps crashed-writer leftovers,
                // not files; the probe hammers the GC, not the lock)
                vlake.vacuum(table, keepLast = 0)
                vacuumCount.incrementAndGet()
              } catch {
                // a vacuum racing an in-flight commit's retire can
                // surface transient FNFs; count, never crash the probe
                case _: Throwable => vacuumRaces.incrementAndGet()
              }
              Thread.sleep(100L)
            }
          }, "probe-vacuum")
          t.setDaemon(true)
          t.start()
          Some(t)
        }
      def rows(ids: Range, amt: Int => String) = ids.map { i =>
        ("ethereum", "IncreaseLiquidity", f"0xtx$i%06d", 1000L + i, 0L,
          "0xu1", amt(i), s"${i * 10}", s"${i * 100}", s"$i", i % 7L)
      }.toDF("chain_name", "name", "transaction_hash", "block_number",
        "tx_index", "from_address", "amount", "amount0", "amount1",
        "tokenId", "log_index")
      if (dvMode) lake.setTableProperties(table,
        Map("dv.maxFraction" -> "0.5"))
      var lastDrained = lake.latestCommitVersion(table).getOrElse(0L)
      (1 to n).foreach { b =>
        if (b % 10 == 7)
          // retained upsert: delete+insert pairs in the feed (a
          // VECTOR upsert under the dv flag - same logical change)
          lake.upsertRetrying(
            rows(b * 20 - 40 until b * 20 - 35, i => s"u$b-$i")
            .coalesce(1), table, Seq("chain_name", "transaction_hash"),
            retain = true)
        else lake.append(
          rows(b * 20 until (b + 1) * 20, i => s"$i").coalesce(1), table)
        if (dvMode && b % 10 == 3)
          // one-row merge-on-read delete: a vector-grown commit whose
          // replay reads historical vectors under the vacuum hammer
          lake.deleteWhereRetrying(table,
            col("block_number") === (1000L + b * 20 - 18), retain = true)
        if (b % 20 == 10)
          // rewrite-only commit: must be INVISIBLE to the feed
          lake.compact(table, targetBytes = 1L << 26, retain = true)
        // drain every 5 commits: manifest retention keeps ~two
        // checkpoint generations (a checkpoint every 16 deltas, plus
        // one per compaction), so a consumer lagging further loses
        // history and the stream refuses LOUDLY (spec-pinned; this
        // probe measures the healthy cadence, not the refusal)
        if (b % 5 == 0 || b == n) {
          val latest = lake.latestCommitVersion(table).get
          val sink = new java.util.concurrent.atomic.AtomicLong(0L)
          val t0 = System.nanoTime()
          val keysOpt =
            if (enrichedMode) Some(Seq("chain_name", "transaction_hash"))
            else None
          val q = graft.streaming.Streaming.changeStream(spark, root,
              table, startingVersion = Some(0L), keys = keysOpt)
            .writeStream
            .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
              sink.addAndGet(df.count()); ()
            }
            .option("checkpointLocation", ckDir)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val drainSec = (System.nanoTime() - t0) / 1e9
          val want = keysOpt match {
            case Some(ks) => lake.changesBetweenCommitsEnriched(
              table, lastDrained, latest, ks).count()
            case None =>
              lake.changesBetweenCommits(table, lastDrained, latest).count()
          }
          require(sink.get() == want,
            s"decade drain diverged from the batch feed: streamed " +
              s"${sink.get()}, batch $want over ($lastDrained, $latest]")
          // the CONSUMER's own planning instance (per-Lake counter) -
          // reading any other Lake over the same root is vacuous
          val consumerLists = graft.streaming.LakeChangeStream
            .listCallsOf(root, table)
            .getOrElse(throw new IllegalStateException(
              "no lake-changes stream was constructed for this probe"))
          require(consumerLists == 0L,
            s"consumer stream planning performed $consumerLists listing(s)")
          var stagedLeft = -1
          if (enrichedMode) {
            // the staging GC's long-run claim: acknowledged ranges are
            // reaped, so the checkpoint's __enriched dir stays bounded
            // however long the stream lives (<= 1 un-reaped range)
            val hfs = new org.apache.hadoop.fs.Path(ckDir).getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            val enr = new org.apache.hadoop.fs.Path(
              s"$ckDir/sources/0/__enriched")
            stagedLeft =
              if (!hfs.exists(enr)) 0 else hfs.listStatus(enr).length
            require(stagedLeft <= 1,
              s"enriched staging leaked: $stagedLeft range dir(s) " +
                "survive the drain - the commit-time GC is not keeping up")
          }
          val probeName =
            (if (enrichedMode) s"cdc_enriched_stream${
              if (vacuumMode) "_vacuum" else ""}"
            else "cdc_stream") + (if (dvMode) "_dv" else "")
          println(f"""{"probe":"$probeName%s","batches":$b,""" +
            f""""commits_drained":${latest - lastDrained},""" +
            f""""rows":${sink.get()},"drain_sec":$drainSec%.2f,""" +
            (if (stagedLeft >= 0) f""""staged_left":$stagedLeft,""" else "") +
            f""""list_calls":$consumerLists}""")
          lastDrained = latest
        }
      }
      vacuumStop = true
      vacuumThread.foreach(_.join(2000L))
      if (vacuumMode) {
        // the BEYOND-window consumer: a fresh checkpoint from commit 0
        // must refuse at the version-range boundary with the
        // documented retention message - never a raw missing-file
        // error from a vacuumed path
        val lateCk = java.nio.file.Files
          .createTempDirectory("cdc-late-ck").toString
        val refused =
          try {
            val q = graft.streaming.Streaming
              .changeStream(spark, root, table, startingVersion = Some(0L))
              .writeStream
              .foreachBatch { (df: org.apache.spark.sql.DataFrame,
                               _: Long) => df.count(); () }
              .option("checkpointLocation", lateCk)
              .trigger(org.apache.spark.sql.streaming
                .Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            "NOT-REFUSED"
          } catch {
            case e: Throwable =>
              val msgs = Iterator.iterate(e: Throwable)(_.getCause)
                .takeWhile(_ != null).take(10)
                .map(x => Option(x.getMessage).getOrElse("")).toSeq
              if (msgs.exists(_.contains("expired by manifest retention")))
                "retention-boundary"
              else s"WRONG-REASON: ${msgs.mkString(" | ")}"
          }
        require(refused == "retention-boundary",
          s"beyond-window consumer outcome: $refused")
        println(f"""{"probe":"cdc_vacuum_final","batches":$n,""" +
          f""""commits":${lake.latestCommitVersion(table).get},""" +
          f""""vacuums":${vacuumCount.get()},""" +
          f""""vacuum_races":${vacuumRaces.get()},""" +
          f""""late_consumer":"$refused"}""")
      }
      println(f"""{"probe":"cdc_stream_final","batches":$n,""" +
        f""""commits":${lake.latestCommitVersion(table).get},""" +
        f""""list_calls":${lake.listCalls.get()}}""")
      spark.stop()
      return
    }

    val root = java.nio.file.Files
      .createTempDirectory("long-stream-lake").toString
    val srcDir = java.nio.file.Files
      .createTempDirectory("long-stream-src").toString
    val ckDir = java.nio.file.Files
      .createTempDirectory("long-stream-ck").toString
    val lake = new graft.v3.Lake(spark, root)
    val table = graft.v3.Schemas.Nfp
    lake.setTableProperties(table,
      Map("write.layout" -> "zorder(block_number,tx_index)"))

    def change(i: Int, b: Int) =
      ("ethereum", "IncreaseLiquidity", f"0xtx${i % 500}%05d",
        1000L + b * 10L + i, 0L, "0xu1", s"b$b-$i", s"${i * 10}",
        s"${i * 100}", s"$i", 7L, false)
    def tranche(b: Int) =
      (0 until 20).map(i => change(b * 3 + i, b))
        .toDF("chain_name", "name", "transaction_hash", "block_number",
          "tx_index", "from_address", "amount", "amount0", "amount1",
          "tokenId", "log_index", "__del")

    // one parquet file per micro-batch, mtime-ordered
    val dir = new java.io.File(srcDir)
    def stampNew(before: Set[String], seq: Int): Unit =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(_.setLastModified(1600000000000L + seq * 60000L))

    val changeSchema = org.apache.spark.sql.types.StructType(
      graft.v3.Schemas.nfp.fields :+ org.apache.spark.sql.types
        .StructField("__del", org.apache.spark.sql.types.BooleanType,
          nullable = true))

    def manifestFootprint(): (Int, Long) = {
      val d = new java.io.File(s"$root/_manifest/$table")
      val fs = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("v") && f.getName.endsWith(".txt"))
      (fs.length, fs.map(_.length()).sum)
    }
    def liveFiles(): Int = lake.fileInventory(table).size
    def coldPlanSec(): Double = {
      val fresh = new graft.v3.Lake(spark, root)
      val t0 = System.nanoTime()
      fresh.read(table).rdd.getNumPartitions
      require(fresh.listCalls.get() == 0L, "cold plan LISTED")
      (System.nanoTime() - t0) / 1e9
    }

    (1 to n).foreach { b =>
      val before = Option(dir.listFiles()).getOrElse(Array.empty)
        .map(_.getName).toSet
      tranche(b).coalesce(1).write.mode("append").parquet(srcDir)
      stampNew(before, b)
      if (b % 10 == 0 || b == n) {
        // drain everything staged since the last drain through the
        // SAME checkpoint — offset continuation, exactly a long-lived
        // stream's life split across trigger firings
        val src = graft.streaming.Streaming.fileStream(spark, srcDir,
          changeSchema, maxFilesPerTrigger = 1)
        val q = graft.streaming.Streaming.upsertStream(src, lake, table,
          keys = Seq("chain_name", "transaction_hash"),
          orderCols = Seq("block_number", "log_index"),
          deleteCol = "__del", checkpointDir = ckDir,
          maintainEvery = 4, maintainMaxChainFiles = 8).start()
        q.awaitTermination()
        val (mc, mb) = manifestFootprint()
        println(f"""{"probe":"long_stream","batches":$b,""" +
          f""""manifest_files":$mc,"manifest_bytes":$mb,""" +
          f""""live_files":${liveFiles()},""" +
          f""""cold_plan_sec":${coldPlanSec()}%.3f,""" +
          f""""list_calls":${lake.listCalls.get()}}""")
      }
    }
    val rows = lake.read(table).count()
    println(f"""{"probe":"long_stream_final","batches":$n,""" +
      f""""rows":$rows,"list_calls":${lake.listCalls.get()}}""")
    spark.stop()
  }
}
