package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** One bench row's layer breakdown, from [[Recorder.record]]. Times in
  * ms; `driverMs` is wall time outside every Spark job, `shuffleBytes`
  * the shuffle bytes written, `streamMs` the streamed row's
  * micro-batch `durationMs` summed by phase, `codegenCompiles` the
  * classes Spark's code generator compiled (codegen cache misses). */
private[graft] final case class Layers(jobs: Int, tasks: Long, taskMs: Long, planMs: Long,
                        driverMs: Long, shuffleBytes: Long, spillBytes: Long,
                        streamMs: Map[String, Long], codegenCompiles: Long) {
  def json: String =
    s""""jobs": $jobs, "tasks": $tasks, "task_ms": $taskMs, "plan_ms": $planMs, "driver_ms": $driverMs, "shuffle_bytes": $shuffleBytes, "spill_bytes": $spillBytes, "codegen_compiles": $codegenCompiles""" +
      (if (streamMs.isEmpty) "" else streamMs.toSeq.sorted
        .map { case (k, v) => s"${Bench.jsonStr(k)}: $v" }
        .mkString(""", "stream_ms": {""", ", ", "}"))
}

/** Per-row recorder: a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener, registered once per session. Rows run one at
  * a time, so [[record]] charges every event between two listener-bus
  * drains to the row it wraps, with no job tagging; that also catches
  * the jobs a stream starts on its own thread. Compiles are read from
  * Spark's JVM-wide codegen counter, which no listener carries. */
private[graft] final class Recorder(spark: SparkSession) extends AutoCloseable {
  private val sc = spark.sparkContext
  @volatile private var on = false
  private val spans = new ConcurrentHashMap[Int, Array[Long]]()
  private val tasks, taskMs, planMs, shuffle, spill = new AtomicLong
  private val phases = new ConcurrentHashMap[String, AtomicLong]()
  private val compiles = CodegenMetrics.METRIC_COMPILATION_TIME

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) spans.put(e.jobId, Array(e.time, -1L))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(spans.get(e.jobId)).foreach(_(1) = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        taskMs.addAndGet(m.executorRunTime)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    private def add(qe: QueryExecution): Unit =
      if (on) planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (on)
      e.progress.durationMs.asScala.foreach { case (k, v) =>
        phases.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v) }
  }
  sc.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  /** Runs `body` and returns its value with the layers of the Spark
    * work it did. */
  def record[A](body: => A): (A, Layers) = {
    org.apache.spark.GraftBus.drain(sc)
    spans.clear(); phases.clear()
    Seq(tasks, taskMs, planMs, shuffle, spill).foreach(_.set(0L))
    on = true
    val compiles0 = compiles.getCount
    val t0 = System.nanoTime()
    try {
      val a = body
      val wallMs = (System.nanoTime() - t0) / 1000000L
      org.apache.spark.GraftBus.drain(sc)
      (a, layers(wallMs, compiles.getCount - compiles0))
    } finally on = false
  }

  private def layers(wallMs: Long, codegenCompiles: Long): Layers = {
    var jobMs, hi = 0L
    spans.values.asScala.filter(_(1) >= 0).toSeq.sortBy(_(0)).foreach { s =>
      if (s(1) > hi) { jobMs += s(1) - math.max(s(0), hi); hi = s(1) }
    }
    Layers(spans.size, tasks.get, taskMs.get, planMs.get,
      math.min(wallMs, math.max(0L, wallMs - jobMs)), shuffle.get, spill.get,
      phases.asScala.map { case (k, v) => k -> v.get }.toMap, codegenCompiles)
  }

  def close(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}

/** Per-round benchmark: times every SparkEntry query at the driver-set
  * scale factor and emits one JSON line. A warmup action first absorbs
  * session/codegen/parquet-footer startup so per-query numbers measure
  * the queries, not JVM warmup; queries run in sorted name order for
  * run-to-run comparability. An optional first argument, a
  * comma-separated list of row names, runs only those rows. */
object Bench {
  /** JSON string literal, quotes included: an exception message with a
    * quote, backslash or newline (Spark IO errors carry paths and
    * multi-line causes), or a tab or CR in authored SQL, must not render
    * the emitted JSON unparseable — the artifacts exist for mechanical
    * comparison and the oracle's json.load. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A run is contended when its slowest sentinel reading exceeds three
    * times the median: the box, not the code, moved its rows. */
  private[graft] def contended(sentinel: Seq[Double]): Boolean =
    sentinel.nonEmpty && {
      val s = sentinel.sorted
      val n = s.size
      s.last > 3 * (if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2)
    }

  private final case class Row(name: String, secs: Seq[Double],
                               err: Option[String], layers: Layers) {
    def sec: Double = secs.min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.headOption.map(_.split(",").toSet)
    val rows = SparkEntry.select(only)
    val spark = graft.fs.FastLocalFs.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

    // warmup: one small end-to-end job through parquet + codegen
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    val recorder = new Recorder(spark)

    // Consume with a noop-format write, not count(): under a count,
    // ColumnPruning/EliminateSorts delete every unreferenced projection
    // and sort, so narrow queries would time the scan instead of the
    // computation. The noop sink materializes every output column.
    //
    // Each query runs `reps` times and reports the MIN: single runs on
    // a shared local[N] JVM showed ±30 % swings on unchanged sub-second
    // queries (scheduler jitter + GC), which made real plan regressions
    // indistinguishable from noise. Min-of-reps is the standard
    // microbenchmark estimator for the noise-free cost.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // Noise sentinel: one fixed tiny reference query re-timed every
    // ~25 rows. Its drift series makes the artifact SELF-ATTRIBUTING:
    // a row that moved while the sentinel held flat is a real plan
    // change; a row that moved in lockstep with the sentinel is the
    // shared-VM session band (GC pressure, code-cache churn) — the
    // exact A/B a filtered rerun would otherwise be spent on. Read it
    // as a ratio series: sentinel[i] / sentinel[0].
    val sentinelName = "a1_groupby_sum"
    val sentinelFn = SparkEntry.queries.get(sentinelName)
    val sentinelSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runSentinel(): Unit = sentinelFn.foreach { fn =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
      sentinelSecs += (System.nanoTime() - t0) / 1e9
    }
    runSentinel() // baseline reading before the first row
    val results = rows.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % 25 == 0) runSentinel()
      def run(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val err = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None
        } catch { case e: Throwable => Some(e.getClass.getSimpleName) }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      // every rep's seconds are kept (the first is the cold one); the
      // last rep also records its layer breakdown
      val before = (1 until reps).map(_ => run())
      val (last, layers) = recorder.record(run())
      val runs = before :+ last
      Row(name, runs.map(_._1), runs.flatMap(_._2).headOption, layers)
    }
    runSentinel() // closing reading
    recorder.close()
    val qs = results.map(r => s"${jsonStr(r.name)}:${r.sec}")
      .mkString("{", ",", "}")
    // failed queries are reported, not silently timed as if they ran
    val errs = results.collect { case Row(k, _, Some(e), _) =>
      s"${jsonStr(k)}:${jsonStr(e)}" }.mkString("{", ",", "}")
    val total = results.map(_.sec).sum
    val sentinelJson = sentinelSecs.map(s => f"$s%.3f").mkString("[", ",", "]")
    val isContended = contended(sentinelSecs.toSeq)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qs,"errors":$errs,"sentinel":{"name":"$sentinelName","secs":$sentinelJson},"sf":${jsonStr(sfDir)}}"""
    // land the line in a file before anything else: the driver captures
    // stdout's tail, which has truncated long runs' leading entries
    // before (r5 §wrong-6)
    try {
      val out = java.nio.file.Paths.get("target/bench_last.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"bench_last.json write failed: $e") }
    // full per-row artifact for cross-round per-row comparison (r9
    // verdict #6). SPARK_GRAFT_BENCH_ROUND names the round explicitly;
    // UNSET means "not a round-closing twin" and lands in target/ —
    // r18's auto-inference (1 + max committed BENCH_r{N}) let the
    // driver's own runs OVERWRITE the committed r18 closing twin and
    // squat on the r19 name (r18 verdict §wrong-2), so never guess.
    // A filtered run is never a round's twin either: it would replace
    // the round's full artifact with a partial one.
    try {
      val body = results.map { r =>
        s"""    ${jsonStr(r.name)}: {"sec": ${r.sec}, "reps": ${
          r.secs.mkString("[", ", ", "]")}, ${r.layers.json}${
          r.err.fold("")(x => s""", "err": ${jsonStr(x)}""")}}"""
      }.mkString("{\n", ",\n", "\n  }")
      val round = sys.env.get("SPARK_GRAFT_BENCH_ROUND").filter(_ => only.isEmpty)
      val doc =
        s"""{
           |  "round": ${jsonStr(round.getOrElse("unset"))},
           |  "sf": ${jsonStr(sfDir)},
           |  "reps": $reps,
           |  "total_sec": $total,
           |  "n_queries": ${results.size},
           |  "sentinel": {"name": "$sentinelName", "secs": $sentinelJson},
           |  "contended": $isContended,
           |  "rows": $body
           |}
           |""".stripMargin
      val dest = round match {
        case Some(r) => java.nio.file.Paths.get(s"bench_rows_r$r.json")
        case None =>
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get("target"))
          java.nio.file.Paths.get("target/bench_rows_last.json")
      }
      java.nio.file.Files.write(dest, doc.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"bench_rows write failed: $e") }
    // stop the session BEFORE printing the contract line: executor/
    // cleanup log traffic can no longer interleave with stdout, and the
    // JSON lines are the last thing this JVM writes there.
    spark.stop()
    // THE contract line (bare — build.sbt routes forked stdout through
    // verbatim since r19, no "[info] " prefix to break a JSON parse).
    println(line)
    // Tail-proof compact headline LAST (r18 verdict §next-2): the
    // driver's capture window holds only stdout's last ~2 KB, which the
    // per-query line outgrew at 189 rows. This one always fits intact
    // and points at the full artifact.
    println(s"""{"bench_total":$total,"n_queries":${results.size},"errors":${results.count(_.err.isDefined)},"contended":$isContended,"unit":"sec","sf":${jsonStr(sfDir)},"rows_file":"target/bench_last.json"}""")
  }
}
