package graft.v3

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deletion vectors — merge-on-read row-level deletes: a small DELETE
  * writes a position sidecar instead of rewriting the file; every
  * read path (plain, pruned, SQL, pinned, CDC) applies it; compaction
  * materializes it; vacuum frees only unreferenced vectors; the
  * reader/writer protocol gates refuse builds that predate them. */
class LakeDvSpec extends SparkSpec {

  private def rows(ids: Seq[Int], chain: String = "ethereum",
                   amt: Int => String = i => s"$i") = {
    import spark.implicits._
    ids.map { i =>
      (chain, "IncreaseLiquidity", f"0xtx$i%06d", 1000L + i, i % 13L,
        "0xu1", amt(i), s"${i * 10}", s"${i * 100}", s"$i", i % 7L)
    }.toDF("chain_name", "name", "transaction_hash", "block_number",
      "tx_index", "from_address", "amount", "amount0", "amount1",
      "tokenId", "log_index")
  }

  private def freshLake(tag: String): (Lake, String) = {
    val root = Files.createTempDirectory(tag).toString
    val lake = new Lake(spark, root)
    (lake, root)
  }

  private def dvOn(lake: Lake, frac: String = "0.5"): Unit =
    lake.setTableProperties(Schemas.Nfp, Map("dv.maxFraction" -> frac))

  private def paths(lake: Lake): Set[String] =
    lake.fileInventory(Schemas.Nfp).map(_._2).toSet

  test("Dv codec round-trips; union and minus are exact") {
    val ps = Array(0L, 1L, 7L, 127L, 128L, 1L << 40, (1L << 40) + 3)
    assert(Dv.deserialize(Dv.serialize(ps)).toSeq == ps.toSeq)
    assert(Dv.deserialize(Dv.serialize(Array.empty[Long])).isEmpty)
    assert(Dv.union(Array(1L, 3L), Array(2L, 3L, 9L)).toSeq ==
      Seq(1L, 2L, 3L, 9L))
    assert(Dv.minus(Array(1L, 2L, 3L, 9L), Array(2L, 9L)).toSeq ==
      Seq(1L, 3L))
  }

  test("_metadata.row_index is the file-physical position even under a pushed selective filter over multiple row groups") {
    // foundational for every DV read: if row_index drifted under
    // row-group/page skipping, a vector would delete the WRONG rows
    val dir = Files.createTempDirectory("dv-rowidx").toString
    import spark.implicits._
    (0 until 20000).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").coalesce(1)
      .write.option("parquet.block.size", "65536")
      .option("parquet.page.size", "4096")
      .mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .filter(col("id") % 4999 === 0) // sparse: skips most groups/pages
      .select(col("id"), col("_metadata.row_index").as("idx"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // the file was written in id order by ONE task: position == id
    assert(got.forall { case (id, idx) => id == idx },
      s"row_index diverged from physical position: $got")
    assert(got.map(_._1) == Seq(0L, 4999L, 9998L, 14997L, 19996L))
  }

  test("small DELETE takes a vector: ZERO data files rewritten, every read path exact, gates stamped") {
    val (lake, root) = freshLake("dv-delete")
    dvOn(lake)
    (0 until 4).foreach(j =>
      lake.append(rows(j * 100 until (j + 1) * 100).coalesce(1),
        Schemas.Nfp))
    val before = paths(lake)
    val st = lake.deleteWhere(Schemas.Nfp,
      col("block_number").between(1010L, 1019L), retain = true)
    // the merge-on-read contract: files touched, NOTHING rewritten
    assert(st.touchedFiles == 1 && st.landedFiles == 0 &&
      st.rewrittenBytes == 0L, s"expected a vector-only delete, got $st")
    assert(paths(lake) == before, "data file set changed on a DV delete")
    val dvm = lake.dvMapOf(Schemas.Nfp)
    assert(dvm.size == 1 && dvm.values.head.cardinality == 10L, s"$dvm")
    // reads
    assert(lake.read(Schemas.Nfp).count() == 390L)
    assert(lake.read(Schemas.Nfp)
      .filter(col("block_number").between(1000L, 1029L)).count() == 20L)
    val (pr, _) = lake.readRange(Schemas.Nfp, "block_number", 1000L, 1029L)
    assert(pr.count() == 20L, "pruned read ignored the vector")
    // aggregation through the vector
    val s = lake.read(Schemas.Nfp)
      .agg(sum(col("block_number"))).first().getLong(0)
    val expect = (0 until 400).filterNot(i => i >= 10 && i <= 19)
      .map(1000L + _).sum
    assert(s == expect)
    // a second delete on the SAME file merges vectors
    val st2 = lake.deleteWhere(Schemas.Nfp,
      col("block_number") === 1021L, retain = true)
    assert(st2.landedFiles == 0 && st2.rewrittenBytes == 0L)
    val dvm2 = lake.dvMapOf(Schemas.Nfp)
    assert(dvm2.values.head.cardinality == 11L, s"$dvm2")
    assert(dvm2.values.head.name != dvm.values.head.name,
      "vectors must be immutable (new file per merge)")
    assert(lake.read(Schemas.Nfp).count() == 389L)
    // gates stamped on the dv-bearing commits
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val mdir = new Path(s"$root/_manifest/${Schemas.Nfp}")
    val latest = fs.listStatus(mdir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt")).sorted.last
    val in = fs.open(new Path(mdir, latest))
    val body = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    assert(body.contains("#minReader=2 deletion-vectors"), body.take(400))
    assert(body.contains("#minWriter=2 deletion-vectors"), body.take(400))
    // a LARGE delete (fraction exceeded) falls back to copy-on-write
    val st3 = lake.deleteWhere(Schemas.Nfp,
      col("block_number").between(1100L, 1190L), retain = true)
    assert(st3.landedFiles >= 1 && st3.rewrittenBytes > 0L,
      s"expected CoW for a 91% delete, got $st3")
    assert(lake.read(Schemas.Nfp).count() == 298L)
    // a fresh Lake instance (cold caches) folds the dv state back
    val lake2 = new Lake(spark, root)
    assert(lake2.read(Schemas.Nfp).count() == 298L)
    assert(lake2.dvMapOf(Schemas.Nfp).size == 1)
  }

  test("vector-only delete of a CoW-threshold file whose rows ALL match lands nothing and deletes the whole file's rows") {
    val (lake, _) = freshLake("dv-allmatch")
    dvOn(lake, frac = "1.0")
    lake.append(rows(0 until 50).coalesce(1), Schemas.Nfp)
    lake.append(rows(50 until 100).coalesce(1), Schemas.Nfp)
    val st = lake.deleteWhere(Schemas.Nfp,
      col("block_number") < 1050L, retain = true)
    assert(st.landedFiles == 0 && st.touchedFiles == 1)
    assert(lake.read(Schemas.Nfp).count() == 50L)
    // the all-deleted file still lives (vector covers it) until a
    // rewrite materializes; compact drops it
    assert(lake.dvMapOf(Schemas.Nfp).values.head.cardinality == 50L)
  }

  test("SQL catalog over a DV table: SELECT with pushed filters, VERSION AS OF and TIMESTAMP AS OF all apply the right vectors") {
    val (lake, root) = freshLake("dv-sql")
    dvOn(lake)
    (0 until 2).foreach(j =>
      lake.append(rows(j * 100 until (j + 1) * 100).coalesce(1),
        Schemas.Nfp))
    val snap = lake.snapshot(Schemas.Nfp) // pre-delete pin (no dvs)
    val t1 = System.currentTimeMillis()
    while (System.currentTimeMillis() <= t1) Thread.sleep(1)
    assert(lake.deleteWhere(Schemas.Nfp,
      col("block_number").between(1000L, 1009L), retain = true)
      .landedFiles == 0)
    val snap2 = lake.snapshot(Schemas.Nfp) // post-delete pin (dv'd)
    val cat = "dv_cat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val n = spark.sql(
      s"SELECT count(*) FROM $cat.${Schemas.Nfp}").first().getLong(0)
    assert(n == 190L, s"SQL read over DV table returned $n")
    // pushed filter on the DV'd file's range
    val f = spark.sql(s"SELECT count(*), sum(block_number) FROM " +
      s"$cat.${Schemas.Nfp} WHERE block_number < 1020").first()
    assert(f.getLong(0) == 10L &&
      f.getLong(1) == (1010L to 1019L).sum, s"$f")
    // column pruning + aggregate through the V1 fallback
    val s2 = spark.sql(s"SELECT sum(CAST(amount AS BIGINT)) FROM " +
      s"$cat.${Schemas.Nfp}").first().getLong(0)
    assert(s2 == (10 until 200).map(_.toLong).sum)
    // pre-delete snapshot pin sees every row; post-delete pin applies
    // the pinned vector
    assert(spark.sql(s"SELECT count(*) FROM $cat.${Schemas.Nfp} " +
      s"VERSION AS OF $snap").first().getLong(0) == 200L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.${Schemas.Nfp} " +
      s"VERSION AS OF $snap2").first().getLong(0) == 190L)
    // TIMESTAMP AS OF t1 = the pre-delete commit state
    assert(spark.sql(s"SELECT count(*) FROM $cat.${Schemas.Nfp} " +
      s"TIMESTAMP AS OF '${java.time.Instant.ofEpochMilli(t1)}'")
      .first().getLong(0) == 200L)
    // Scala twins
    assert(lake.readAt(Schemas.Nfp, snap).count() == 200L)
    assert(lake.readAt(Schemas.Nfp, snap2).count() == 190L)
    assert(lake.readAtTimestamp(Schemas.Nfp, t1).count() == 200L)
  }

  test("upsert takes vectors under dv.maxFraction: updates and tombstones delete in place, new rows append, CoW bytes zero") {
    val (lake, _) = freshLake("dv-upsert")
    dvOn(lake)
    val ks = Seq("chain_name", "transaction_hash")
    lake.append(rows(0 until 100).coalesce(1), Schemas.Nfp)
    lake.append(rows(100 until 200).coalesce(1), Schemas.Nfp)
    val st = lake.upsert(
      rows(Seq(5, 105), amt = i => s"u$i").withColumn("_del", lit(false))
        .unionByName(rows(Seq(17)).withColumn("_del", lit(true)))
        .unionByName(rows(Seq(900)).withColumn("_del", lit(false))),
      Schemas.Nfp, ks, deleteCol = Some("_del"), retain = true)
    assert(st.rewrittenBytes == 0L,
      s"expected a vector-only upsert, got $st")
    assert(st.landedFiles >= 1, "updates+insert must land as appends")
    val got = lake.read(Schemas.Nfp)
    assert(got.count() == 200L) // 200 - 1 tombstone + 1 insert
    assert(got.filter(col("amount") === "u5").count() == 1L)
    assert(got.filter(col("transaction_hash") === "0xtx000017")
      .count() == 0L)
    assert(got.filter(col("transaction_hash") === "0xtx000900")
      .count() == 1L)
    // no duplicate keys (the updated keys' old rows are vector-deleted)
    assert(got.groupBy(col("transaction_hash")).count()
      .filter(col("count") > 1).count() == 0L)
    assert(lake.dvMapOf(Schemas.Nfp).size == 2)
  }

  test("compaction MATERIALIZES vectors (single-file bins included) and drops the refs; vacuum frees unreferenced vector files") {
    val (lake, root) = freshLake("dv-compact")
    dvOn(lake)
    lake.append(rows(0 until 100).coalesce(1), Schemas.Nfp)
    assert(lake.deleteWhere(Schemas.Nfp,
      col("block_number") < 1005L, retain = true).landedFiles == 0)
    assert(lake.dvMapOf(Schemas.Nfp).size == 1)
    // single-file chain: compact must still rewrite it (materialize)
    assert(lake.compact(Schemas.Nfp, targetBytes = 1L << 26,
      retain = true) == 1)
    assert(lake.dvMapOf(Schemas.Nfp).isEmpty,
      "materializing rewrite must drop the vector ref")
    assert(lake.read(Schemas.Nfp).count() == 95L)
    // the vector file survives while the RETAINED commit log still
    // references it (CDC replay), then vacuum with a rolled window
    // frees it
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dvd = new Path(s"$root/_dv/${Schemas.Nfp}")
    assert(fs.listStatus(dvd).count(_.getPath.getName.endsWith(".dv")) == 1)
    lake.vacuum(Schemas.Nfp, keepLast = 0, staleCommitMs = 0L)
    assert(fs.listStatus(dvd).count(_.getPath.getName.endsWith(".dv")) == 1,
      "vacuum freed a vector the retained commit log still references")
    lake.setTableProperties(Schemas.Nfp,
      Map("manifest.minRetainedCommits" -> "1"))
    // roll the retention window forward past the dv commits
    (0 until 20).foreach(_ => lake.refreshManifest(Schemas.Nfp))
    lake.vacuum(Schemas.Nfp, keepLast = 0, staleCommitMs = 0L)
    assert(fs.listStatus(dvd).count(_.getPath.getName.endsWith(".dv")) == 0,
      "vacuum must free a vector nothing references")
    assert(lake.read(Schemas.Nfp).count() == 95L)
  }

  test("CDC: a vector delete emits exactly the newly-deleted rows; batch feed, enriched feed and the streamed source agree") {
    val (lake, root) = freshLake("dv-cdc")
    dvOn(lake)
    val ks = Seq("chain_name", "transaction_hash")
    lake.append(rows(0 until 40).coalesce(1), Schemas.Nfp)
    val v0 = lake.latestCommitVersion(Schemas.Nfp).get
    assert(lake.deleteWhere(Schemas.Nfp,
      col("block_number").between(1000L, 1004L), retain = true)
      .landedFiles == 0)
    val v1 = lake.latestCommitVersion(Schemas.Nfp).get
    // file-grain feed: ONLY the 5 dv'd rows, as deletes
    val ch = lake.changesBetweenCommits(Schemas.Nfp, v0, v1).collect()
    assert(ch.length == 5 &&
      ch.forall(_.getAs[String]("_change_type") == "delete"),
      ch.mkString("; "))
    assert(ch.map(_.getAs[Long]("block_number")).sorted.toSeq ==
      (1000L to 1004L))
    // a dv UPSERT emits delete+insert; enriched nets to update pairs
    lake.upsert(rows(Seq(10), amt = _ => "u10").coalesce(1),
      Schemas.Nfp, ks, retain = true)
    val v2 = lake.latestCommitVersion(Schemas.Nfp).get
    val enr = lake.changesBetweenCommitsEnriched(
      Schemas.Nfp, v1, v2, ks).collect()
    assert(enr.length == 2 &&
      enr.map(_.getAs[String]("_change_type")).sorted.toSeq ==
        Seq("update_postimage", "update_preimage"), enr.mkString("; "))
    // streamed source (DV batches fall back to checkpoint staging)
    val ck = Files.createTempDirectory("dv-cdc-ck").toString
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    val q = graft.streaming.Streaming.changeStream(spark, root,
        Schemas.Nfp, startingVersion = Some(v0))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }
      .option("checkpointLocation", s"$ck/q")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val want = lake.changesBetweenCommits(Schemas.Nfp, v0, v2).collect()
    def key(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r =>
      s"${r.getAs[String]("_change_type")}|" +
        s"${r.getAs[String]("transaction_hash")}|" +
        s"${r.getAs[String]("amount")}").sorted
    assert(key(buf.toSeq) == key(want.toSeq),
      "streamed DV change feed diverged from the batch feed")
  }

  test("restore rolls vectors BACK (resurrected rows emit as CDC inserts); readSince refuses on vector drift") {
    val (lake, _) = freshLake("dv-restore")
    dvOn(lake)
    lake.append(rows(0 until 30).coalesce(1), Schemas.Nfp)
    val pin = lake.snapshot(Schemas.Nfp)
    assert(lake.deleteWhere(Schemas.Nfp,
      col("block_number") < 1003L, retain = true).landedFiles == 0)
    val vDel = lake.latestCommitVersion(Schemas.Nfp).get
    // incremental read over the vector drift refuses loudly
    val e = intercept[IllegalArgumentException] {
      lake.readSince(Schemas.Nfp, pin)
    }
    assert(e.getMessage.contains("deletion vectors changed"),
      e.getMessage)
    // restore to the pin: the vector rolls back, rows resurrect
    lake.restoreTable(Schemas.Nfp, pin)
    assert(lake.read(Schemas.Nfp).count() == 30L)
    assert(lake.dvMapOf(Schemas.Nfp).isEmpty)
    val vRes = lake.latestCommitVersion(Schemas.Nfp).get
    val ch = lake.changesBetweenCommits(Schemas.Nfp, vDel, vRes).collect()
    assert(ch.length == 3 &&
      ch.forall(_.getAs[String]("_change_type") == "insert"),
      ch.mkString("; "))
    // snapshot diff across the delete sees exactly the dv'd rows
    val pin2 = lake.snapshot(Schemas.Nfp)
    assert(lake.deleteWhere(Schemas.Nfp,
      col("block_number") === 1007L, retain = true).landedFiles == 0)
    val pin3 = lake.snapshot(Schemas.Nfp)
    val tc = lake.tableChanges(Schemas.Nfp, pin2, pin3).collect()
    assert(tc.length == 1 &&
      tc.head.getAs[String]("_change_type") == "delete" &&
      tc.head.getAs[Long]("block_number") == 1007L, tc.mkString("; "))
  }

  test("restore brings back a pinned vector whose file a later rewrite retired") {
    val (lake, _) = freshLake("dv-restore-rewritten")
    dvOn(lake)
    lake.append(rows(0 until 30).coalesce(1), Schemas.Nfp)
    assert(lake.deleteWhere(Schemas.Nfp,
      col("block_number") < 1003L, retain = true).landedFiles == 0)
    val pin = lake.snapshot(Schemas.Nfp) // the file AND its vector
    // the rewrite retires the pinned file and drops its vector
    assert(lake.materializeDvs(Schemas.Nfp) == 1)
    assert(lake.dvMapOf(Schemas.Nfp).isEmpty)
    // the restore moves the file back and re-attaches the pinned
    // vector: its deleted rows stay deleted
    assert(lake.restoreTable(Schemas.Nfp, pin) == ((1, 1)))
    assert(lake.read(Schemas.Nfp).count() == 27L)
    assert(lake.dvMapOf(Schemas.Nfp).values.map(_.cardinality).toSeq ==
      Seq(3L))
  }

  test("writer gate: a table stamped #minWriter above this build refuses every write loudly; reader gate twin at #minReader") {
    val (lake, root) = freshLake("dv-gate")
    // two files in one chain so compact has a real multi-file bin
    lake.append(rows(0 until 10).coalesce(1), Schemas.Nfp)
    lake.append(rows(10 until 20).coalesce(1), Schemas.Nfp)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val mdir = new Path(s"$root/_manifest/${Schemas.Nfp}")
    // the gate reads the LATEST commit's heads, whatever its kind
    val latest = fs.listStatus(mdir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .maxBy(_.replaceAll("[^0-9]", "").toLong)
    val p = new Path(mdir, latest)
    val in = fs.open(p)
    val body = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    def rewrite(s: String): Unit = {
      val out = fs.create(p, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    // future WRITER convention: reads fine, writes refuse naming it
    rewrite(s"#minWriter=3 future-feature\n$body")
    val lakeW = new Lake(spark, root)
    assert(lakeW.read(Schemas.Nfp).count() == 20L)
    val eW = intercept[IllegalStateException] {
      lakeW.append(rows(20 until 22).coalesce(1), Schemas.Nfp)
    }
    assert(eW.getMessage.contains("writer protocol") &&
      eW.getMessage.contains("future-feature"), eW.getMessage)
    val eC = intercept[IllegalStateException] {
      lakeW.compact(Schemas.Nfp, targetBytes = 1L << 26)
    }
    assert(eC.getMessage.contains("writer protocol"), eC.getMessage)
    // current-version writers (minWriter=2) stay writable
    rewrite(s"#minWriter=2 deletion-vectors\n$body")
    new Lake(spark, root).append(rows(20 until 22).coalesce(1),
      Schemas.Nfp)
    // future READER convention still refuses reads (r17 gate)
    rewrite(s"#minReader=3 future-reader\n$body")
    val eR = intercept[IllegalStateException] {
      new Lake(spark, root).read(Schemas.Nfp).count()
    }
    assert(eR.getMessage.contains("reader protocol"), eR.getMessage)
  }

  test("concurrent vector writers on the SAME file: one wins, the loser re-plans and merges exactly (no lost deletes)") {
    val (lake, root) = freshLake("dv-race")
    dvOn(lake)
    lake.append(rows(0 until 100).coalesce(1), Schemas.Nfp)
    // writer A plans (vector computed), then B lands a vector on the
    // same file before A commits: A must abort, retry, and the FINAL
    // state must hold both deletes
    val lakeB = new Lake(spark, root)
    @volatile var fired = false
    lake.preCommitHook = () => {
      if (!fired) {
        fired = true
        assert(lakeB.deleteWhere(Schemas.Nfp,
          col("block_number") === 1001L, retain = true).landedFiles == 0)
      }
    }
    try {
      // vector-only deletes skip staging, so the race window is the
      // plan-to-lock gap; deleteWhereRetrying absorbs the conflict
      val st = lake.deleteWhereRetrying(Schemas.Nfp,
        col("block_number") === 1002L, retain = true)
      assert(st.landedFiles == 0)
    } finally lake.preCommitHook = () => ()
    assert(fired, "the race never armed")
    assert(lake.read(Schemas.Nfp).count() == 98L,
      "a concurrent vector write was lost")
    assert(lake.dvMapOf(Schemas.Nfp).values.head.cardinality == 2L)
  }
}
