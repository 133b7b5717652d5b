package graft.fs

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The async dead-tree disposal must keep every visible contract the
  * synchronous deletes had: dropTable's paths are GONE when the call
  * returns, a recreate starts clean, and the physical purge actually
  * reclaims the bytes (drain seam). */
class AsyncPurgeSpec extends AnyFunSuite with graft.SparkSpec {

  test("submit + drain physically deletes a tree") {
    val base = java.nio.file.Files.createTempDirectory("purge")
    val f = base.resolve("x/y/z.txt")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, "bytes".getBytes)
    AsyncPurge.submit(() => {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(base)
      try walk.iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    })
    AsyncPurge.drain(10000L)
    // the worker may have raced drain to the same task; either way the
    // tree must be gone promptly
    val deadline = System.currentTimeMillis() + 10000
    while (java.nio.file.Files.exists(base) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(!java.nio.file.Files.exists(base))
  }

  test("drain returns only after a task the worker already dequeued has run") {
    // the window between the worker's dequeue and the task starting
    // is a few instructions wide, so this is a stress loop, not a
    // deterministic replay: each round hands the worker a task while
    // drain races it for the queue, and drain must not return before
    // the task has finished wherever it ran
    val rounds = 3000
    val missed = (1 to rounds).count { _ =>
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      AsyncPurge.submit(() => done.set(true))
      AsyncPurge.drain(10000L)
      !done.get()
    }
    assert(missed == 0,
      s"drain returned before $missed of $rounds dequeued tasks ran")
  }

  test("dropTable: paths gone on return, recreate clean, trash purged") {
    import graft.v3.{Lake, Schemas}
    val root = java.nio.file.Files.createTempDirectory("droplake").toString
    val lake = new Lake(spark, root)
    val df = spark.range(0, 50)
      .select(lit("ethereum").as("chain_name"), lit("n").as("name"),
        concat(lit("0x"), col("id").cast("string")).as("transaction_hash"),
        col("id").as("block_number"), lit(0).as("tx_index"),
        lit("0xu").as("from_address"), lit("1").as("amount"),
        col("id").cast("string").as("amount0"), lit("2").as("amount1"),
        lit("3").as("tokenId"), pmod(col("id"), lit(7)).as("log_index"))
    lake.append(df, Schemas.Nfp)
    assert(lake.read(Schemas.Nfp).count() == 50)
    assert(lake.dropTable(Schemas.Nfp))
    // contract: the visible paths are gone the moment dropTable returns
    val f = new java.io.File(s"$root/${Schemas.Nfp}")
    assert(!f.exists(), "table dir must be gone synchronously")
    assert(!new java.io.File(s"$root/_manifest/${Schemas.Nfp}").exists())
    assert(!new java.io.File(s"$root/_filestats/${Schemas.Nfp}").exists())
    // a recreate sees a clean slate
    lake.append(df.limit(7), Schemas.Nfp)
    assert(lake.read(Schemas.Nfp).count() == 7)
    // the physical purge reclaims the renamed trees
    AsyncPurge.drain(10000L)
    val deadline = System.currentTimeMillis() + 10000
    def trashEntries() = Option(new java.io.File(s"$root/.trash").list())
      .map(_.length).getOrElse(0)
    while (trashEntries() > 0 &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(trashEntries() == 0, "trash must be swept")
    lake.dropTable(Schemas.Nfp)
  }
}
