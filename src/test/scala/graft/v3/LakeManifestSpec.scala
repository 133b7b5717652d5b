package graft.v3

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The manifest commit log: zero-listing planning, foreign-table
  * adoption, and optimistic multi-writer conflict detection — the
  * metadata layer that replaces O(files) directory walks per
  * query/batch with one small-file read (what the published table
  * formats exist to do). */
class LakeManifestSpec extends SparkSpec {

  private def rows(ids: Seq[Int], chain: String = "ethereum",
                   amt: Int => String = i => s"$i") = {
    import spark.implicits._
    ids.map { i =>
      (chain, "IncreaseLiquidity", f"0xtx$i%05d", 1000L + i, 0L,
        "0xu1", amt(i), s"${i * 10}", s"${i * 100}", s"$i", 7L)
    }.toDF("chain_name", "name", "transaction_hash", "block_number",
      "tx_index", "from_address", "amount", "amount0", "amount1",
      "tokenId", "log_index")
  }

  test("incremental inventory patching equals the cold full rebuild, commit by commit") {
    val root = Files.createTempDirectory("lake-inc").toString
    val lake = new Lake(spark, root)
    // vectors on, so the folded dv map is exercised too
    lake.setTableProperties(Schemas.Nfp, Map("dv.maxFraction" -> "0.5"))
    // interleave commit kinds so the warm instance's state is patched
    // through delta chains (appends, a cross-file upsert, a vector
    // delete, a chain drop) and across checkpoint boundaries
    // (dropChain's full rewrite, then more than 16 deltas) — after
    // EVERY commit the writer's warm inventory and dv map must equal
    // a fresh instance's cold fold bit-for-bit
    def check(tag: String): Unit = {
      val warm = lake.fileInventory(Schemas.Nfp)
      val cold = new Lake(spark, root)
      assert(warm == cold.fileInventory(Schemas.Nfp), s"$tag: patched " +
        s"inventory diverged from the full rebuild (${warm.size} entries)")
      assert(lake.dvMapOf(Schemas.Nfp) == cold.dvMapOf(Schemas.Nfp),
        s"$tag: warm dv map diverged from the cold fold")
    }
    lake.append(rows(0 until 20), Schemas.Nfp); check("append-1")
    lake.append(rows(100 until 110, chain = "base"), Schemas.Nfp)
    check("append-2")
    lake.append(rows(40 until 60), Schemas.Nfp); check("append-3")
    // no check between these two: the patch spans the upsert's
    // removals and the append's additions
    lake.upsert(rows(0 until 5, amt = i => s"u$i"), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    lake.append(rows(20 until 30).coalesce(1), Schemas.Nfp)
    check("upsert+append")
    lake.deleteWhere(Schemas.Nfp, col("block_number") === 1021L)
    assert(lake.dvMapOf(Schemas.Nfp).nonEmpty, "the delete took no vector")
    check("dv-delete")
    lake.dropChain(Schemas.Nfp, "base"); check("dropChain")
    lake.append(rows(200 until 205, chain = "base"), Schemas.Nfp)
    check("append-4")
    // checked every SECOND commit: the patch then spans two deltas
    (0 until 18).foreach { i =>
      lake.append(rows(300 + i * 2 until 302 + i * 2).coalesce(1),
        Schemas.Nfp)
      if (i % 2 == 1) check(s"append-${5 + i}")
    }
    assert(lake.commitHistory(Schemas.Nfp).count(!_._4) >= 2,
      "the run never crossed a checkpoint")
    assert(lake.read(Schemas.Nfp).count() == 90L)
  }

  test("a fold opens each manifest file at most once; a writer's read-back opens none") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.countopen.impl", classOf[OpenCountingTestFs].getName)
    conf.setBoolean("fs.countopen.impl.disable.cache", true)
    val root =
      s"countopen:${Files.createTempDirectory("lake-opens").toString}"
    val writer = new Lake(spark, root)
    def entry(i: Int) = (s"chain_name=c${i % 3}/part-$i.parquet", 100L + i)
    writer.publishSynthetic(Schemas.Nfp, (0 until 50).map(entry))
    // 20 deltas: crosses the every-16th checkpoint
    (1 to 20).foreach { d =>
      writer.publishSynthetic(Schemas.Nfp, Seq.empty,
        delta = Some((Seq(entry(100 + d)), Set(entry(d)._1))))
      OpenCountingTestFs.opens.clear()
      val inv = writer.fileInventory(Schemas.Nfp)
      assert(inv.size == 50, s"writer fold diverged at delta $d")
      assert(OpenCountingTestFs.manifestOpens.isEmpty,
        s"read-back of v${d + 1} opened ${OpenCountingTestFs.manifestOpens}")
    }
    OpenCountingTestFs.opens.clear()
    val cold = new Lake(spark, root)
    assert(cold.fileInventory(Schemas.Nfp) ==
      writer.fileInventory(Schemas.Nfp))
    val opened = OpenCountingTestFs.manifestOpens
    assert(opened.nonEmpty && opened.values.forall(_ == 1),
      s"a cold fold opened manifest files more than once: $opened")
  }

  test("a Lake-managed table's whole lifecycle performs ZERO listings") {
    val root = Files.createTempDirectory("lake-man").toString
    val lake = new Lake(spark, root)
    // writes: appends (two chains), CDC upsert, compaction
    lake.append(rows(0 until 40), Schemas.Nfp)
    lake.append(rows(100 until 120, chain = "base"), Schemas.Nfp)
    lake.upsert(rows(0 until 5, amt = i => s"u$i"), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    lake.compact(Schemas.Nfp, targetBytes = 1L << 26)
    // reads + planning: full scan, pruned range read, snapshot
    assert(lake.read(Schemas.Nfp).count() == 60L)
    val (df, st) = lake.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx00000", "0xtx00004")
    assert(df.count() == 5L && st.files > 0)
    lake.snapshot(Schemas.Nfp)
    assert(lake.listCalls.get() == 0L,
      s"listing fallback ran ${lake.listCalls.get()} time(s) on a " +
        "manifest-backed lifecycle")

    // a FRESH instance (driver restart) plans warm from the manifest +
    // sidecar: still zero listings
    val lake2 = new Lake(spark, root)
    assert(lake2.read(Schemas.Nfp).count() == 60L)
    lake2.upsert(rows(5 until 8, amt = i => s"v$i"), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    val (df2, _) = lake2.readKeys(Schemas.Nfp, "transaction_hash",
      Seq("0xtx00005"))
    assert(df2.collect().map(_.getAs[String]("amount")).toSeq == Seq("v5"))
    assert(lake2.listCalls.get() == 0L,
      s"fresh-instance planning listed ${lake2.listCalls.get()} time(s)")
  }

  test("manifest read sees exactly the committed state after every write kind") {
    val lake = new Lake(spark,
      Files.createTempDirectory("lake-man2").toString)
    lake.append(rows(0 until 10), Schemas.Nfp)
    lake.append(rows(10 until 20), Schemas.Nfp)
    lake.upsert(rows(3 until 6).withColumn("__del", lit(true)),
      Schemas.Nfp, Seq("chain_name", "transaction_hash"),
      deleteCol = Some("__del"))
    lake.clusterCompact(Schemas.Nfp, targetBytes = 1L << 16,
      clusterBy = Seq("transaction_hash"))
    val got = lake.read(Schemas.Nfp)
      .select("transaction_hash").collect().map(_.getString(0)).sorted
    val want = ((0 until 3) ++ (6 until 20)).map(i => f"0xtx$i%05d")
    assert(got.toSeq == want, s"rows diverged: ${got.toSeq}")
    // dropChain commits too: the manifest-backed read reflects it
    lake.append(rows(50 until 55, chain = "base"), Schemas.Nfp)
    assert(lake.dropChain(Schemas.Nfp, "base"))
    assert(lake.read(Schemas.Nfp)
      .filter(col("chain_name") === "base").count() == 0L)
    // and the manifest matches what is physically on disk
    val inv = lake.fileInventory(Schemas.Nfp)
    val listed = lake.listInventory(Schemas.Nfp)
    assert(inv == listed,
      s"manifest diverged from disk:\n  manifest=$inv\n  listed=$listed")
  }

  test("foreign tables fall back to listing; refreshManifest adopts them") {
    val root = Files.createTempDirectory("lake-man3").toString
    val lake = new Lake(spark, root)
    // a foreign writer (plain Spark) populates the table directory
    rows(0 until 12).write.partitionBy("chain_name")
      .parquet(s"$root/${Schemas.Nfp}")
    assert(!lake.hasManifest(Schemas.Nfp))
    assert(lake.read(Schemas.Nfp).count() == 12L) // listing fallback
    val before = lake.listCalls.get()
    lake.refreshManifest(Schemas.Nfp) // one final listing, then never
    assert(lake.listCalls.get() == before + 1)
    assert(lake.hasManifest(Schemas.Nfp))
    val after = lake.listCalls.get()
    assert(lake.read(Schemas.Nfp).count() == 12L)
    lake.snapshot(Schemas.Nfp)
    assert(lake.listCalls.get() == after, "post-adoption read listed")
  }

  test("overlapping-file upserts: the loser fails loudly, nothing landed") {
    val root = Files.createTempDirectory("lake-man4").toString
    val writerA = new Lake(spark, root)
    val writerB = new Lake(spark, root)
    writerA.append(rows(0 until 20).coalesce(1), Schemas.Nfp)
    // B plans + stages against the current manifest; in its
    // pre-commit window A's conflicting upsert (same single file)
    // commits first
    writerB.preCommitHook = () => {
      writerA.upsert(rows(0 until 3, amt = i => s"A$i"), Schemas.Nfp,
        Seq("chain_name", "transaction_hash"))
      writerB.preCommitHook = () => () // A's own landing must not recurse
    }
    val e = intercept[Lake.ConcurrentWriteException] {
      writerB.upsert(rows(5 until 8, amt = i => s"B$i"), Schemas.Nfp,
        Seq("chain_name", "transaction_hash"))
    }
    assert(e.getMessage.contains("concurrent"), e.getMessage)
    // table state = A's merge only; B landed nothing
    val amounts = writerA.read(Schemas.Nfp)
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(amounts.size == 20)
    (0 until 3).foreach(i => assert(amounts(f"0xtx$i%05d") == s"A$i"))
    (5 until 8).foreach(i => assert(amounts(f"0xtx$i%05d") == s"$i",
      "loser's rows landed despite the conflict"))
    // manifest still matches disk exactly (B's staging fully cleaned)
    assert(writerA.fileInventory(Schemas.Nfp) ==
      writerA.listInventory(Schemas.Nfp))
  }

  test("upsertRetrying re-plans after losing a race and lands BOTH merges") {
    val root = Files.createTempDirectory("lake-man4r").toString
    val writerA = new Lake(spark, root)
    val writerB = new Lake(spark, root)
    writerA.append(rows(0 until 20).coalesce(1), Schemas.Nfp)
    // attempt 1: A's conflicting commit (same single file) lands in
    // B's pre-commit window, so B loses; the hook then disarms and
    // B's retry re-plans against A's manifest and must succeed
    writerB.preCommitHook = () => {
      writerA.upsert(rows(0 until 3, amt = i => s"A$i"), Schemas.Nfp,
        Seq("chain_name", "transaction_hash"))
      writerB.preCommitHook = () => ()
    }
    val st = writerB.upsertRetrying(
      rows(5 until 8, amt = i => s"B$i").localCheckpoint(), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"), backoffMs = 1L)
    assert(st.touchedFiles >= 1)
    // both writers' merges applied: A's on 0-2, B's on 5-7
    val amounts = writerA.read(Schemas.Nfp)
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(amounts.size == 20)
    (0 until 3).foreach(i =>
      assert(amounts(f"0xtx$i%05d") == s"A$i", "winner's merge lost"))
    (5 until 8).foreach(i =>
      assert(amounts(f"0xtx$i%05d") == s"B$i", "retried merge lost"))
    assert(writerA.fileInventory(Schemas.Nfp) ==
      writerA.listInventory(Schemas.Nfp))
  }

  test("upsertRetrying survives the staging-scan race (file-not-found form)") {
    val root = Files.createTempDirectory("lake-man4f").toString
    val writerA = new Lake(spark, root)
    val writerB = new Lake(spark, root)
    writerA.append(rows(0 until 20).coalesce(1), Schemas.Nfp)
    // B's touched set is fixed at planning; in the unlocked staging
    // window A's merge commits AND deletes the replaced original
    // (retain = false), so B's scan hits a task-level file-not-found
    // — the lost race's SECOND manifestation, which never reaches the
    // commit-time conflict check
    writerB.preStageHook = () => {
      writerA.upsert(rows(0 until 3, amt = i => s"A$i"), Schemas.Nfp,
        Seq("chain_name", "transaction_hash"))
      writerB.preStageHook = () => ()
    }
    val st = writerB.upsertRetrying(
      rows(5 until 8, amt = i => s"B$i").localCheckpoint(), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"), backoffMs = 1L)
    assert(st.touchedFiles >= 1)
    val amounts = writerA.read(Schemas.Nfp)
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(amounts.size == 20)
    (0 until 3).foreach(i =>
      assert(amounts(f"0xtx$i%05d") == s"A$i", "winner's merge lost"))
    (5 until 8).foreach(i =>
      assert(amounts(f"0xtx$i%05d") == s"B$i", "retried merge lost"))
    assert(writerA.fileInventory(Schemas.Nfp) ==
      writerA.listInventory(Schemas.Nfp))
  }

  test("upsertRetrying exhausts maxAttempts under persistent contention") {
    val root = Files.createTempDirectory("lake-man4x").toString
    val writerA = new Lake(spark, root)
    val writerB = new Lake(spark, root)
    writerA.append(rows(0 until 20).coalesce(1), Schemas.Nfp)
    // the hook never disarms, and A upserts the SAME keys B targets:
    // whatever files B's re-plan reads for keys 5-7, A's next merge
    // retires exactly those, so the contention is persistent by
    // construction (a disjoint-key rival would stop conflicting once
    // the first merge splinters the table — and correctly commit)
    var aTurn = 0
    writerB.preCommitHook = () => {
      aTurn += 1
      val t = aTurn
      writerA.upsert(rows(5 until 8, amt = i => s"A$t-$i"), Schemas.Nfp,
        Seq("chain_name", "transaction_hash"))
    }
    val e = intercept[Lake.ConcurrentWriteException] {
      writerB.upsertRetrying(
        rows(5 until 8, amt = i => s"B$i").localCheckpoint(), Schemas.Nfp,
        Seq("chain_name", "transaction_hash"),
        maxAttempts = 2, backoffMs = 0L)
    }
    assert(e.getMessage.contains("concurrent"), e.getMessage)
    assert(aTurn == 2, s"expected exactly 2 attempts, saw $aTurn")
    // B landed nothing; A's last merge governs keys 5-7
    val amounts = writerA.read(Schemas.Nfp)
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(amounts.size == 20)
    (5 until 8).foreach(i => assert(amounts(f"0xtx$i%05d") == s"A2-$i",
      "exhausted retrier's rows landed anyway"))
  }

  test("disjoint-file upserts racing the same table BOTH commit") {
    val root = Files.createTempDirectory("lake-man5").toString
    val writerA = new Lake(spark, root)
    val writerB = new Lake(spark, root)
    writerA.append(rows(0 until 10).coalesce(1), Schemas.Nfp)
    writerA.append(rows(100 until 110, chain = "base").coalesce(1),
      Schemas.Nfp)
    // B (ethereum files) races A (base files): disjoint file sets, so
    // B's commit must survive A's and preserve A's additions
    writerB.preCommitHook = () => {
      writerA.upsert(rows(100 until 103, chain = "base",
        amt = i => s"A$i"), Schemas.Nfp,
        Seq("chain_name", "transaction_hash"))
      writerB.preCommitHook = () => ()
    }
    writerB.upsert(rows(0 until 3, amt = i => s"B$i"), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    val amounts = writerA.read(Schemas.Nfp)
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(amounts.size == 20)
    (100 until 103).foreach(i =>
      assert(amounts(f"0xtx$i%05d") == s"A$i", "winner's merge lost"))
    (0 until 3).foreach(i =>
      assert(amounts(f"0xtx$i%05d") == s"B$i", "loser's merge lost"))
    assert(writerA.fileInventory(Schemas.Nfp) ==
      writerA.listInventory(Schemas.Nfp))
  }

  test("commit log: small commits write delta bytes, checkpoints bound the chain") {
    val root = Files.createTempDirectory("lake-man-log").toString
    val lake = new Lake(spark, root)
    // a tight retention floor so the 40-commit log exercises the cut
    // (the default 48-commit floor would keep everything here)
    lake.setTableProperties(Schemas.Nfp,
      Map("manifest.minRetainedCommits" -> "16"))
    // a wide table: 40 single-file appends = 40 commits (three
    // checkpoint generations: v1, v18, v35 at checkpointEvery = 16)
    (0 until 40).foreach(j =>
      lake.append(rows(j * 10 until j * 10 + 10).coalesce(1), Schemas.Nfp))
    val mdir = new java.io.File(s"$root/_manifest/${Schemas.Nfp}")
    def logFiles = mdir.listFiles().filter(_.getName.startsWith("v"))
      .sortBy(_.getName).toSeq
    // deltas dominate; checkpoints appear every checkpointEvery=16
    val checkpoints = logFiles.filterNot(_.getName.endsWith(".d.txt"))
    val deltas = logFiles.filter(_.getName.endsWith(".d.txt"))
    assert(checkpoints.nonEmpty && deltas.nonEmpty,
      s"expected mixed log, got ${logFiles.map(_.getName)}")
    // an O(batch) commit against the 40-file table: the delta file
    // names ONE file change, the checkpoint names the whole table
    val lastCheckpoint = checkpoints.last
    val lastDelta = deltas.last
    assert(lastDelta.length() * 4 < lastCheckpoint.length(),
      s"delta ${lastDelta.length()}B not O(batch) vs checkpoint " +
        s"${lastCheckpoint.length()}B")
    // retention: nothing older than the previous checkpoint survives,
    // and the kept chain has no gaps (every delta's base is present)
    val vs = logFiles.map(f => f.getName.stripPrefix("v")
      .stripSuffix(".d.txt").stripSuffix(".txt").toLong)
    assert(vs == (vs.min to vs.max),
      s"commit-log chain has gaps: $vs")
    assert(vs.min > 1, "retention never deleted pre-checkpoint versions")
    // a COLD driver folds checkpoint + deltas to the same 400 rows
    val cold = new Lake(spark, root)
    assert(cold.read(Schemas.Nfp).count() == 400L)
    assert(cold.listCalls.get() == 0L, "cold fold fell back to listing")
    // and an upsert folded through the delta chain replaces in place
    cold.upsert(rows(5 until 8, amt = i => s"u$i"), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    val amounts = cold.read(Schemas.Nfp).select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(amounts.size == 400)
    (5 until 8).foreach(i => assert(amounts(f"0xtx$i%05d") == s"u$i"))
    // inventory equals a raw listing at every point (manifest truth)
    assert(cold.fileInventory(Schemas.Nfp).sortBy(_._2) ==
      cold.listInventory(Schemas.Nfp).sortBy(_._2))
  }

  test("commit log: a mid-chain gap fails loudly; refreshManifest recovers") {
    val root = Files.createTempDirectory("lake-man-gap").toString
    val lake = new Lake(spark, root)
    (0 until 6).foreach(j =>
      lake.append(rows(j * 10 until j * 10 + 10).coalesce(1), Schemas.Nfp))
    val mdir = new java.io.File(s"$root/_manifest/${Schemas.Nfp}")
    // break the chain: delete a mid-chain DELTA (not the head, not
    // the checkpoint), then fold cold — must fail, never skip
    val deltas = mdir.listFiles().filter(_.getName.endsWith(".d.txt"))
      .sortBy(_.getName)
    assert(deltas.length >= 3, s"fixture needs >= 3 deltas")
    assert(deltas(1).delete())
    val cold = new Lake(spark, root)
    val e = intercept[IllegalArgumentException] {
      cold.read(Schemas.Nfp).count()
    }
    assert(e.getMessage.contains("chain broken"), e.getMessage)
    // the advertised recovery: one listing re-derives a checkpoint
    cold.refreshManifest(Schemas.Nfp)
    assert(cold.read(Schemas.Nfp).count() == 60L)
  }

  test("commit log: legacy checkpoint-only logs read back and extend") {
    val root = Files.createTempDirectory("lake-man-legacy").toString
    val lake = new Lake(spark, root)
    // refreshManifest always writes a FULL manifest — several of them
    // reproduce a pre-delta-log table (every version a checkpoint);
    // three data files so the upsert below is a genuinely SMALL delta
    // (a 1-file table's upsert is a full rewrite and correctly
    // checkpoints instead)
    (0 until 3).foreach(j =>
      lake.append(rows(j * 10 until j * 10 + 10).coalesce(1), Schemas.Nfp))
    lake.refreshManifest(Schemas.Nfp)
    lake.refreshManifest(Schemas.Nfp)
    // wipe the append-era deltas so ONLY full manifests remain
    val mdir = new java.io.File(s"$root/_manifest/${Schemas.Nfp}")
    mdir.listFiles().filter(_.getName.endsWith(".d.txt"))
      .foreach(f => assert(f.delete()))
    assert(mdir.listFiles().filter(_.getName.startsWith("v"))
      .forall(!_.getName.endsWith(".d.txt")), "fixture must be all-full")
    // a cold instance folds the legacy log and a new write lands a
    // delta ON TOP of a legacy checkpoint
    val cold = new Lake(spark, root)
    assert(cold.read(Schemas.Nfp).count() == 30L)
    cold.upsert(rows(0 until 2, amt = i => s"u$i"), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    assert(mdir.listFiles().exists(_.getName.endsWith(".d.txt")),
      "post-legacy upsert should commit as a delta")
    val amounts = cold.read(Schemas.Nfp).select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(amounts.size == 30)
    (0 until 2).foreach(i => assert(amounts(f"0xtx$i%05d") == s"u$i"))
  }

  test("orphans from a crashed commit are invisible and vacuum-sweepable") {
    val root = Files.createTempDirectory("lake-man6").toString
    val lake = new Lake(spark, root)
    lake.append(rows(0 until 10), Schemas.Nfp)
    // simulate a crash between land and publish: a data file on disk
    // the manifest never named
    val dir = new java.io.File(
      s"$root/${Schemas.Nfp}/chain_name=ethereum")
    val orphan = new java.io.File(dir, "orphan-00000.parquet")
    rows(900 until 905).drop("chain_name").coalesce(1)
      .write.parquet(s"$root/_tmp/orphan-src")
    val part = new java.io.File(s"$root/_tmp/orphan-src").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(part.renameTo(orphan))
    orphan.setLastModified(System.currentTimeMillis() - 7200000L)
    // invisible to manifest-backed reads and planning
    assert(lake.read(Schemas.Nfp).count() == 10L)
    // swept only on opt-in, age-gated
    val st = lake.vacuum(Schemas.Nfp, keepLast = 8, sweepOrphans = true)
    assert(st.filesDeleted == 1, s"expected 1 orphan swept, got $st")
    assert(!orphan.exists())
    assert(lake.read(Schemas.Nfp).count() == 10L)
  }

  test("racing upserts INSERTING the same new key: the loser fails loudly") {
    // neither plan touches a common file (the key exists nowhere), so
    // the removed-files check alone would let both land a duplicate —
    // the intruder envelope guard is what catches this
    val root = Files.createTempDirectory("lake-man7").toString
    val writerA = new Lake(spark, root)
    val writerB = new Lake(spark, root)
    writerA.append(rows(0 until 20).coalesce(1), Schemas.Nfp)
    writerB.preCommitHook = () => {
      writerA.upsert(rows(Seq(90001), amt = _ => "A"), Schemas.Nfp,
        Seq("chain_name", "transaction_hash"))
      writerB.preCommitHook = () => ()
    }
    val e = intercept[Lake.ConcurrentWriteException] {
      writerB.upsert(rows(Seq(90001), amt = _ => "B"), Schemas.Nfp,
        Seq("chain_name", "transaction_hash"))
    }
    assert(e.getMessage.contains("added to this batch's chain"),
      e.getMessage)
    val hits = writerA.read(Schemas.Nfp)
      .filter(col("transaction_hash") === "0xtx90001")
      .select("amount").collect().map(_.getString(0)).toSeq
    assert(hits == Seq("A"),
      s"expected exactly the winner's row, got $hits")
    assert(writerA.fileInventory(Schemas.Nfp) ==
      writerA.listInventory(Schemas.Nfp))
  }

  test("racing upserts inserting DISJOINT new keys both commit") {
    val root = Files.createTempDirectory("lake-man8").toString
    val writerA = new Lake(spark, root)
    val writerB = new Lake(spark, root)
    writerA.append(rows(0 until 20).coalesce(1), Schemas.Nfp)
    writerB.preCommitHook = () => {
      writerA.upsert(rows(Seq(80001), amt = _ => "A"), Schemas.Nfp,
        Seq("chain_name", "transaction_hash"))
      writerB.preCommitHook = () => ()
    }
    writerB.upsert(rows(Seq(90001), amt = _ => "B"), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    val amounts = writerA.read(Schemas.Nfp)
      .filter(col("transaction_hash").isin("0xtx80001", "0xtx90001"))
      .select("transaction_hash", "amount")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(amounts == Map("0xtx80001" -> "A", "0xtx90001" -> "B"))
    assert(writerA.read(Schemas.Nfp).count() == 22L)
  }

  test("a crashed writer's stale commit lock is broken, a fresh one is honored") {
    val root = Files.createTempDirectory("lake-man9").toString
    val lake = new Lake(spark, root)
    lake.append(rows(0 until 5), Schemas.Nfp)
    val lockFile = new java.io.File(
      s"$root/_manifest/${Schemas.Nfp}/.commit.lock")
    // stale claim (crashed writer): broken atomically, commit proceeds,
    // and the release must not delete anything but our own claim
    assert(lockFile.createNewFile())
    assert(lockFile.setLastModified(
      System.currentTimeMillis() - 7200000L))
    lake.upsert(rows(Seq(7), amt = _ => "y"), Schemas.Nfp,
      Seq("chain_name", "transaction_hash"))
    assert(!lockFile.exists(), "commit left a lock behind")
    assert(lake.read(Schemas.Nfp).count() == 6L)
  }

  test("a malformed write.layout fails at validation, not inside the rewrite") {
    val root = Files.createTempDirectory("lake-man11").toString
    val lake = new Lake(spark, root)
    lake.append(rows(0 until 5), Schemas.Nfp)
    lake.setTableProperties(Schemas.Nfp,
      Map("write.layout" -> "zorder(a,b,c)"))
    val e = intercept[IllegalArgumentException](lake.hasLayout(Schemas.Nfp))
    assert(e.getMessage.contains("unsupported write.layout"), e.getMessage)
  }

  test("adopting a non-partitioned foreign layout is refused loudly") {
    // a manifest over files outside chain_name= dirs would serve
    // chain_name = "" for every row (the partition value comes from
    // the path) — adoption must refuse; the listing fallback keeps
    // reading the file's real chain_name column
    val root = Files.createTempDirectory("lake-man12").toString
    val lake = new Lake(spark, root)
    rows(0 until 8).write.parquet(s"$root/${Schemas.Nfp}") // no partitionBy
    assert(lake.read(Schemas.Nfp) // listing fallback: real column values
      .filter(col("chain_name") === "ethereum").count() == 8L)
    val e = intercept[IllegalStateException] {
      lake.refreshManifest(Schemas.Nfp)
    }
    assert(e.getMessage.contains("chain_name= partition"), e.getMessage)
    assert(!lake.hasManifest(Schemas.Nfp))
  }

  test("dropChain racing a concurrent append never publishes an entry for a deleted file") {
    // the pre-fix failure mode: a removed set computed BEFORE the lock
    // misses an append that commits in the pre-commit window, so the
    // chain-dir delete destroys the racer's file while its manifest
    // entry survives the publish — every subsequent read throws.
    // Post-fix the removed set comes from the FRESH base under the
    // lock, so the racer's file is dropped WITH the chain.
    val root = Files.createTempDirectory("lake-drop1").toString
    val dropper = new Lake(spark, root)
    val appender = new Lake(spark, root)
    dropper.append(rows(0 until 10), Schemas.Nfp)
    dropper.preCommitHook = () => {
      appender.append(rows(100 until 105).coalesce(1), Schemas.Nfp)
      dropper.preCommitHook = () => ()
    }
    assert(dropper.dropChain(Schemas.Nfp, "ethereum"))
    // every surviving manifest entry names a file that exists on disk
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    dropper.fileInventory(Schemas.Nfp).foreach { case (_, p, _) =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(p)),
        s"manifest names a deleted file: $p")
    }
    // the racer's append was to the dropped chain: gone with it, and
    // the table reads cleanly (no FileNotFoundException)
    assert(dropper.read(Schemas.Nfp).count() == 0L)
    assert(dropper.fileInventory(Schemas.Nfp) ==
      dropper.listInventory(Schemas.Nfp))
  }

  test("dropChain racing a concurrent append to ANOTHER chain drops only its own") {
    val root = Files.createTempDirectory("lake-drop2").toString
    val dropper = new Lake(spark, root)
    val appender = new Lake(spark, root)
    dropper.append(rows(0 until 10), Schemas.Nfp)
    dropper.append(rows(50 until 55, chain = "base"), Schemas.Nfp)
    dropper.preCommitHook = () => {
      appender.append(rows(100 until 103, chain = "base").coalesce(1),
        Schemas.Nfp)
      dropper.preCommitHook = () => ()
    }
    assert(dropper.dropChain(Schemas.Nfp, "ethereum"))
    // the racing append to "base" survives intact, ethereum is gone
    val left = dropper.read(Schemas.Nfp)
    assert(left.filter(col("chain_name") === "ethereum").count() == 0L)
    assert(left.filter(col("chain_name") === "base").count() == 8L)
    assert(dropper.fileInventory(Schemas.Nfp) ==
      dropper.listInventory(Schemas.Nfp))
  }

  test("dropChain cannot lose the optimistic race: a concurrent compaction is absorbed") {
    // a rival compaction retires the files a stale pre-lock plan would
    // have named — a predicate removal computed from the fresh base
    // conflicts with nothing and still drops the whole chain
    val root = Files.createTempDirectory("lake-drop3").toString
    val dropper = new Lake(spark, root)
    val rival = new Lake(spark, root)
    dropper.append(rows(0 until 10), Schemas.Nfp)
    dropper.append(rows(10 until 20), Schemas.Nfp)
    dropper.preCommitHook = () => {
      assert(rival.compact(Schemas.Nfp, targetBytes = 1L << 26) >= 1)
      dropper.preCommitHook = () => ()
    }
    assert(dropper.dropChain(Schemas.Nfp, "ethereum"))
    assert(dropper.read(Schemas.Nfp).count() == 0L)
    assert(dropper.fileInventory(Schemas.Nfp) ==
      dropper.listInventory(Schemas.Nfp))
  }

  test("isRetryableRace: a file-not-found counts ONLY under the lake root") {
    val root = "/tmp/graft-test-lake-root"
    // commit-time manifestation: always retryable
    assert(Lake.isRetryableRace(new Lake.ConcurrentWriteException("c"), root))
    // staging-scan manifestation: FNF naming a lake-managed path,
    // raw or scheme-qualified, directly or through a cause chain
    assert(Lake.isRetryableRace(new java.io.FileNotFoundException(
      s"File file:$root/nfp/chain_name=e/part-0.parquet does not exist"),
      root))
    assert(Lake.isRetryableRace(new RuntimeException("job aborted",
      new java.io.FileNotFoundException(s"$root/nfp/part-1.parquet")), root))
    assert(Lake.isRetryableRace(new RuntimeException(
      s"[FAILED_READ_FILE.FILE_NOT_EXIST] reading file:$root/t/p.parquet"),
      root))
    // the plan-time manifestation: the loser plans a read over files
    // the winner already deleted, so the ANALYZER reports the miss
    assert(Lake.isRetryableRace(new RuntimeException(
      s"[PATH_NOT_FOUND] Path does not exist: file:$root/t/p.parquet"),
      root))
    assert(!Lake.isRetryableRace(new RuntimeException(
      "[PATH_NOT_FOUND] Path does not exist: file:/elsewhere/p.parquet"),
      root))
    // genuinely missing data outside the lake: NOT a race — retrying
    // would burn every attempt with backoff sleeps first
    assert(!Lake.isRetryableRace(new java.io.FileNotFoundException(
      "/data/foreign/input.parquet (No such file or directory)"), root))
    assert(!Lake.isRetryableRace(new RuntimeException(
      "[FAILED_READ_FILE.FILE_NOT_EXIST] reading file:/elsewhere/p.parquet"),
      root))
    assert(!Lake.isRetryableRace(new RuntimeException("unrelated"), root))
  }

  test("upsertRetrying fails FAST on a foreign-path FNF: no backoff sleeps burned") {
    val root = Files.createTempDirectory("lake-ffast").toString
    val lake = new Lake(spark, root)
    lake.append(rows(0 until 5), Schemas.Nfp)
    // a batch whose INPUT vanishes after planning — missing data, not
    // a lost commit race: the planned file index still names the files
    val foreignDir = Files.createTempDirectory("lake-ffast-src").toString
    rows(0 until 3, amt = i => s"f$i").coalesce(1)
      .write.mode("overwrite").parquet(foreignDir)
    val batch = spark.read.schema(rows(0 until 1).schema)
      .parquet(foreignDir)
    batch.count() // pin the file index before the files vanish
    new java.io.File(foreignDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    val t0 = System.nanoTime()
    val e = intercept[Throwable] {
      lake.upsertRetrying(batch, Schemas.Nfp,
        Seq("chain_name", "transaction_hash"),
        maxAttempts = 5, backoffMs = 30000L)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(!Lake.isRetryableRace(e, root),
      s"foreign FNF classified as a race: $e")
    assert(secs < 20.0,
      f"foreign-path FNF burned retries/backoff ($secs%.1f s) instead " +
        "of failing fast")
    // the table is untouched
    assert(lake.read(Schemas.Nfp).count() == 5L)
  }

  test("manifest-served reads decode the null-partition sentinel like Spark does") {
    val root = Files.createTempDirectory("lake-man10").toString
    val lake = new Lake(spark, root)
    val withNull = rows(0 until 6).withColumn("chain_name",
      when(col("transaction_hash") === "0xtx00000", lit(null))
        .otherwise(col("chain_name")))
    lake.append(withNull, Schemas.Nfp)
    val viaManifest = lake.read(Schemas.Nfp)
    assert(viaManifest.filter(col("chain_name").isNull).count() == 1L,
      "manifest read surfaced the sentinel instead of null")
    // parity with Spark's own partitioned reader over the same files
    val viaSpark = spark.read
      .parquet(s"$root/${Schemas.Nfp}")
    assert(viaSpark.filter(col("chain_name").isNull).count() == 1L)
    assert(viaManifest.filter(col("chain_name") === "ethereum").count() ==
      viaSpark.filter(col("chain_name") === "ethereum").count())
  }

  test("isRetryableRace: a message-less FNF under a lake operation is retryable") {
    val root = "/tmp/graft-test-lake-root"
    // some streams throw the bare constructor (null message): under a
    // lake operation that ambiguity must burn bounded retries, not
    // permanently kill a stream's maintenance cycle
    assert(Lake.isRetryableRace(new java.io.FileNotFoundException(), root))
    assert(Lake.isRetryableRace(new RuntimeException("job aborted",
      new java.io.FileNotFoundException()), root))
  }

  test("version-keyed caches survive a FOREIGN instance's dropTable+recreate") {
    val root = Files.createTempDirectory("lake-man-incar").toString
    val writer = new Lake(spark, root)
    val reader = new Lake(spark, root)
    (0 until 2).foreach(j =>
      writer.append(rows(j * 10 until j * 10 + 10).coalesce(1), Schemas.Nfp))
    // warm the reader's version-keyed caches at v2 of incarnation 1
    assert(reader.read(Schemas.Nfp).count() == 20L)
    assert(reader.fileInventory(Schemas.Nfp).size == 2)
    // the writer drops and re-creates: version numbering restarts at 1
    // and reaches the same v2 the reader cached — without the
    // incarnation salt the reader would serve a cached relation naming
    // the DELETED incarnation's files
    assert(writer.dropTable(Schemas.Nfp))
    (0 until 2).foreach(j =>
      writer.append(rows(100 + j * 5 until 105 + j * 5,
        amt = i => s"n$i").coalesce(1), Schemas.Nfp))
    val got = reader.read(Schemas.Nfp)
    assert(got.count() == 10L,
      "reader served a stale pre-drop cached relation")
    assert(got.select("amount").collect()
      .forall(_.getString(0).startsWith("n")))
    // the inventory cache re-keyed too (manifest remains truth)
    assert(reader.fileInventory(Schemas.Nfp).sortBy(_._2) ==
      reader.listInventory(Schemas.Nfp).sortBy(_._2))
  }

  test("reader-protocol gate: a #minReader beyond this build refuses loudly, naming the feature") {
    val root = Files.createTempDirectory("lake-proto").toString
    val lake = new Lake(spark, root)
    lake.append(rows(0 until 10).coalesce(1), Schemas.Nfp)
    // today's tables carry the pinned N=1 gate on their checkpoints
    // and read back unchanged
    assert(lake.read(Schemas.Nfp).count() == 10L)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val d = new org.apache.hadoop.fs.Path(s"$root/_manifest/${Schemas.Nfp}")
    val ckpt = fs.listStatus(d).map(_.getPath)
      .filter(p0 => p0.getName.startsWith("v") &&
        p0.getName.endsWith(".txt") && !p0.getName.endsWith(".d.txt"))
      .minBy(_.getName)
    val body = {
      val in = fs.open(ckpt)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    // the gate records what the table REQUIRES, not what the build
    // supports: a vector-free table stamps 1 so v1 readers interop
    // (LakeDvSpec pins the dv-bearing 2-stamp)
    assert(body.contains("#minReader=1"),
      "checkpoint manifests must carry the protocol gate the table " +
        "requires (1 without deletion vectors)")
    // simulate a FUTURE writer: the table now depends on a convention
    // this parser predates
    val future = body.replace("#minReader=1",
      s"#minReader=${Lake.SupportedReaderVersion + 1} enriched-tombstones")
    val out = fs.create(ckpt, true)
    try out.write(future.getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalStateException] {
      new Lake(spark, root).read(Schemas.Nfp).count()
    }
    assert(e.getMessage.contains("reader protocol") &&
      e.getMessage.contains("enriched-tombstones") &&
      e.getMessage.contains(Lake.SupportedReaderVersion.toString),
      e.getMessage)
    // delta bodies and pre-gate manifests (no header) still pass
    Lake.requireReadable("t", "v000000002.d.txt", "#ts=1\n+abc\t1")
    Lake.requireReadable("t", "v000000001.txt", "abc\t1")
  }
}

/** A local store that counts `open` calls per file name — what the
  * fold's read-once contract is measured with. Registered under the
  * `countopen:` scheme via `fs.countopen.impl`. */
class OpenCountingTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "countopen"
  override def getUri: java.net.URI = java.net.URI.create("countopen:///")
  // eager statuses: RawLocalFileSystem's lazy ones reject any scheme
  // but file: (same as NonAtomicTestFs)
  private def plain(st: org.apache.hadoop.fs.FileStatus) =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getPath)
  override def getFileStatus(p: org.apache.hadoop.fs.Path) =
    plain(super.getFileStatus(p))
  override def listStatus(p: org.apache.hadoop.fs.Path) =
    super.listStatus(p).map(plain)
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int) = {
    OpenCountingTestFs.opens.computeIfAbsent(p.getName,
      _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
    super.open(p, bufferSize)
  }
}

object OpenCountingTestFs {
  val opens = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicInteger]()
  /** Opens of commit-log versions (`vNNN.txt` / `vNNN.d.txt`). */
  def manifestOpens: Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    opens.asScala.collect {
      case (n, c) if n.startsWith("v") && n.endsWith(".txt") => n -> c.get
    }.toMap
  }
}
