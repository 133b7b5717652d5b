package graft.v3

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Query-side file skipping: [[Lake.readRange]]/[[Lake.readKeys]] must
  * return EXACTLY `read(table).filter(...)` while scheduling only the
  * files whose footer key range can hold a match — plan-time skipping
  * from driver stats, the lakehouse answer to point lookups that would
  * otherwise schedule a task per file of a 100 TB table. */
class LakePrunedReadSpec extends SparkSpec {

  private def rows(ids: Seq[Int], chain: String = "ethereum") = {
    import spark.implicits._
    ids.map { i =>
      (chain, "IncreaseLiquidity", f"0xtx$i%06d", 1000L + i, 0L,
        "0xu1", s"$i", s"${i * 10}", s"${i * 100}", s"$i", i.toLong % 7)
    }.toDF("chain_name", "name", "transaction_hash", "block_number",
      "tx_index", "from_address", "amount", "amount0", "amount1",
      "tokenId", "log_index")
  }

  private def freshLake(tag: String, waves: Int = 4): Lake = {
    val lake = new Lake(spark, Files.createTempDirectory(tag).toString)
    (0 until waves).foreach(j =>
      lake.append(rows(j * 100 until (j + 1) * 100).coalesce(1), Schemas.Nfp))
    lake
  }

  test("readRange equals read+filter and skips disjoint-range files") {
    val lake = freshLake("lake-pr")
    val (df, st) = lake.readRange(Schemas.Nfp, "transaction_hash",
      "0xtx000150", "0xtx000249")
    assert(st.files == 4 && st.scanned == 2,
      s"mid-range read should scan exactly the 2 overlapping files: $st")
    val expect = lake.read(Schemas.Nfp)
      .filter(col("transaction_hash").between("0xtx000150", "0xtx000249"))
      .select("transaction_hash").collect().map(_.getString(0)).sorted
    val got = df.select("transaction_hash")
      .collect().map(_.getString(0)).sorted
    assert(got.toSeq == expect.toSeq && got.length == 100,
      s"pruned read diverged from read+filter (${got.length} rows)")
  }

  test("second-column pruning: k1 cannot exclude any file, k2 can") {
    // every file carries the SAME `name` range (the composite key's
    // first data column — constant, so its [min,max] never excludes),
    // while transaction_hash is disjoint per file: only the second
    // column's stats can narrow the plan
    val lake = freshLake("lake-pr2")

    // multi-column pruned read: bound on name keeps all 4 files;
    // adding the tx bound drops to 1 — and rows equal read+filter
    val (df, st) = lake.readRanges(Schemas.Nfp, Seq(
      ("name", "IncreaseLiquidity", "IncreaseLiquidity"),
      ("transaction_hash", "0xtx000110", "0xtx000119")))
    assert(st.files == 4 && st.scanned == 1,
      s"second bound should prune to the one holding file: $st")
    assert(df.count() == 10L)
    val expect = lake.read(Schemas.Nfp)
      .filter(col("name") === "IncreaseLiquidity" &&
        col("transaction_hash").between("0xtx000110", "0xtx000119"))
      .select("transaction_hash").collect().map(_.getString(0)).sorted
    assert(df.select("transaction_hash").collect().map(_.getString(0))
      .sorted.toSeq == expect.toSeq)

    // upsert planner: keys (chain, name, tx) — name's envelope spans
    // every file, tx's envelope touches exactly one
    val batch = rows(115 until 118)
      .withColumn("amount", lit("bumped"))
    val stats = lake.upsert(batch, Schemas.Nfp,
      Seq("chain_name", "name", "transaction_hash"))
    assert(stats.chainFiles == 4 && stats.touchedFiles == 1,
      s"second-key envelope should prune the merge to 1 file: $stats")
    val amounts = lake.read(Schemas.Nfp)
      .filter(col("transaction_hash").between("0xtx000115", "0xtx000117"))
      .select("amount").collect().map(_.getString(0))
    assert(amounts.length == 3 && amounts.forall(_ == "bumped"))
    assert(lake.read(Schemas.Nfp).count() == 400L)
  }

  test("readRange on an integral key prunes and matches") {
    val lake = freshLake("lake-pri")
    val (df, st) = lake.readRange(Schemas.Nfp, "block_number", 1050L, 1149L)
    assert(st.scanned == 2, s"expected 2 of 4 files: $st")
    assert(df.count() == 100L)
    // ints widen: bounds given as Int must behave identically
    val (df2, st2) = lake.readRange(Schemas.Nfp, "block_number", 1050, 1149)
    assert(st2 == st && df2.count() == 100L)
  }

  test("readKeys exact-prunes: present, absent-in-gap, absent-in-range") {
    val lake = freshLake("lake-pk")
    // present key: exactly its file
    val (hit, st1) = lake.readKeys(Schemas.Nfp, "transaction_hash",
      Seq("0xtx000250"))
    assert(st1.scanned == 1, s"point hit should scan 1 file: $st1")
    assert(hit.count() == 1L)
    // absent but INSIDE a file's range: file scanned, zero rows — the
    // residual filter is what guarantees exactness
    val (miss, st2) = lake.readKeys(Schemas.Nfp, "transaction_hash",
      Seq("0xtx000250x"))
    assert(st2.scanned == 1 && miss.count() == 0L,
      s"in-range miss should scan 1 file and return 0 rows: $st2")
    // absent and OUTSIDE every file's range: nothing scheduled at all
    val (gap, st3) = lake.readKeys(Schemas.Nfp, "transaction_hash",
      Seq("0xtz999999"))
    assert(st3.scanned == 0 && gap.count() == 0L,
      s"out-of-range key should schedule zero files: $st3")
    // multi-key batch across two files
    val (multi, st4) = lake.readKeys(Schemas.Nfp, "transaction_hash",
      Seq("0xtx000010", "0xtx000399", "0xtz999999"))
    assert(st4.scanned == 2 && multi.count() == 2L,
      s"two live keys in two files: $st4")
  }

  // one key column per planner-accepted type; row n holds key(n) in
  // every column, and file j of 8 holds n in [10j, 10j + 9]
  private val keyCols: Seq[(String, DataType, Int => Any)] = Seq(
    ("ks", StringType, n => f"k$n%03d"),
    ("kl", LongType, n => 1000L + n),
    ("ki", IntegerType, n => 2000 + n),
    ("kh", ShortType, n => (100 + n).toShort),
    ("kb", ByteType, n => (n - 40).toByte))

  private val ktSchema = StructType(
    StructField("chain_name", StringType) +:
      keyCols.map { case (c, dt, _) => StructField(c, dt) } :+
      StructField("v", StringType))

  private def ktRows(ns: Seq[Int], v: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ns.map(n =>
      Row.fromSeq(("ethereum" +: keyCols.map(_._3(n))) :+ v))), ktSchema)

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    val (x, y) = (a.collect().map(_.toString).sorted.toSeq,
      b.collect().map(_.toString).sorted.toSeq)
    assert(x == y, s"pruned result diverged from read+filter: $x vs $y")
  }

  keyCols.foreach { case (key, dt, value) =>
    test(s"readRanges, readKeys and upsert prune on a ${dt.simpleString} key from the planners' own footer reads") {
      val root = Files.createTempDirectory(s"lake-kt-$key").toString
      val t = "kt"
      val lake = new Lake(spark, root)
      lake.createTable(t, ktSchema)
      // no commit warm-up: every stat the planners use they read
      lake.setTableProperties(t, Map("stats.collect" -> "false"))
      (0 until 8).foreach(j =>
        lake.append(ktRows(10 * j until 10 * j + 10, "v0").coalesce(1), t))
      assert(lake.footerReads.get() == 0)
      val (lo, hi) = (value(25), value(45))
      val keys = Seq(value(30), value(70))
      def plan(l: Lake) =
        (l.readRanges(t, Seq((key, lo, hi))), l.readKeys(t, key, keys))
      val ((rdf, rst), (kdf, kst)) = plan(lake)
      assert(lake.footerReads.get() == 8,
        s"expected one footer open per file, got ${lake.footerReads.get()}")
      assert(rst.files == 8 && rst.scanned == 3, s"readRanges: $rst")
      assert(kst.files == 8 && kst.scanned == 2, s"readKeys: $kst")
      sameRows(rdf, lake.read(t).filter(col(key).between(lo, hi)))
      sameRows(kdf, lake.read(t).filter(col(key).isin(keys: _*)))
      assert(rdf.count() == 21L && kdf.count() == 2L)

      // a fresh driver plans the same calls from the sidecar alone
      val lake2 = new Lake(spark, root)
      val ((_, rst2), (_, kst2)) = plan(lake2)
      assert(rst2 == rst && kst2 == kst)
      val ust = lake2.upsert(ktRows(Seq(5, 65), "bumped"), t,
        Seq("chain_name", key))
      assert(lake2.footerReads.get() == 0,
        s"warm plans read ${lake2.footerReads.get()} footers")
      assert(ust.chainFiles == 8 && ust.touchedFiles == 2,
        s"upsert should touch the 2 files holding its keys: $ust")
      val after = lake2.read(t)
      assert(after.count() == 80L)
      sameRows(after.filter(col("v") === "bumped"),
        after.filter(col(key).isin(value(5), value(65))))
    }
  }

  test("non-prunable key types and bad bounds fail loudly") {
    val lake = freshLake("lake-pb", waves = 1)
    intercept[IllegalArgumentException] {
      lake.readRange(Schemas.Nfp, "no_such_col", "a", "b")
    }
    intercept[IllegalArgumentException] {
      lake.readRange(Schemas.Nfp, "transaction_hash", "z", "a")
    }
    intercept[IllegalArgumentException] {
      lake.readKeys(Schemas.Nfp, "transaction_hash", Seq.empty)
    }
    // timestamp key: not a footer-order type this planner trusts
    intercept[IllegalArgumentException] {
      lake.readRange(Schemas.PoolSwapEvents, "block_timestamp", 0L, 1L)
    }
  }

  test("empty table returns a typed empty frame with zero-file stats") {
    val lake = new Lake(spark,
      Files.createTempDirectory("lake-pe").toString)
    val (df, st) = lake.readRange(Schemas.Nfp, "transaction_hash", "a", "b")
    assert(st == Lake.ScanStats(0, 0, 0L, 0L))
    assert(df.count() == 0L)
    assert(df.schema == Schemas.nfp)
  }
}
