package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver testdata lake (TESTDATA.md): one parquet file
  * per logical table under `sfDir`.
  *
  * `events.ts` has shipped as both parquet `TIMESTAMP(NANOS)` (which
  * Spark's schema converter rejects unless
  * `spark.sql.legacy.parquet.nanosAsLong` is set, yielding a raw
  * ns-epoch LongType) and plain `TIMESTAMP(MICROS)` across driver
  * testdata generations. Library code never touches `ts` directly:
  * every consumer uses the derived `ts_us` epoch-microseconds key,
  * which this reader computes from whichever physical type the file
  * has — integer `div 1000` for ns-longs, `unix_micros` (session TZ
  * is pinned UTC, so NTZ wall-clock == instant) for timestamps. DuckDB
  * reads both encodings as us-precision TIMESTAMP, so the oracle's
  * `epoch_us(ts)` matches `ts_us` exactly in either generation.
  */
object Tables {
  /** Schema memo: one footer-inference per DISTINCT FILE STATE.
    *
    * `spark.read.parquet(path)` re-infers the schema on every call —
    * a footer open + thrift parse + merge job. The registry invokes
    * these readers thousands of times per bench/verify run (189
    * queries × reps × 1-3 tables each), so inference alone costs
    * tens of seconds of pure metadata re-derivation (measured ~0.1 s
    * of the 0.58 s warm a1_groupby_sum, guide §1/§6). A catalog
    * metastore is how production Spark avoids exactly this; path
    * reads get the same treatment here. The key is (canonical path,
    * mtime, length): a REGENERATED corpus (new driver round, new
    * bytes at the same path) misses the memo and re-infers — this
    * caches table METADATA, never data or results. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()

  /** Memo-key state of `f`: (mtime, length) for a plain file; for a
    * DIRECTORY table, a hash over every child's (name, state), where
    * a subdirectory child's state is this hash of ITS children — a
    * part file rewritten in place, at the top level or inside a
    * partition subdirectory, would otherwise preserve the dir-level
    * mtime/entry-count and serve a stale schema (r18 verdict
    * §wrong-4; pinned by TablesSpec's rewrite-in-place tests). One
    * readdir per directory per invocation — still no footer open on
    * a memo hit. */
  private[graft] def fileState(f: java.io.File): (Long, Long) =
    if (!f.isDirectory) (f.lastModified, f.length)
    else {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      var h = 1469598103934665603L // FNV-1a over the child states
      def mix(x: Long): Unit = { h ^= x; h *= 1099511628211L }
      kids.sortBy(_.getName).foreach { k =>
        val (a, b) = fileState(k)
        mix(k.getName.hashCode.toLong); mix(a); mix(b)
      }
      (h, kids.length.toLong)
    }

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val f = new java.io.File(path)
    val st = fileState(f)
    val schema = schemaMemo.computeIfAbsent(
      (f.getCanonicalPath, st._1, st._2),
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      // Explicit on the two known encodings; anything else is schema
      // drift and must fail loudly, not silently null out ts_us.
      val tsUs = df.schema("ts").dataType match {
        case LongType => call_function("div", col("ts"), lit(1000L))
        case TimestampType | TimestampNTZType =>
          unix_micros(col("ts").cast(TimestampType))
        case other => throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected ns-epoch LongType or TIMESTAMP[_NTZ]")
      }
      df.withColumn("ts_us", tsUs)
    } else df
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  /** `ts` is generation-dependent (ns-epoch LongType or TIMESTAMP);
    * consumers use the derived `ts_us` epoch-microseconds key (object doc). */
  def events(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
