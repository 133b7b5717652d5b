package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Each benchmark operation is a span: the
  * driver thread tags the Spark jobs it starts with the span's id (a
  * local property), so job, stage and task events, which arrive later
  * on the listener bus, are attributed to the operation that caused
  * them. Catalyst phase times come from a `QueryExecutionListener`,
  * file-system counters from Hadoop's `FileSystem` statistics and a
  * counting `file:` implementation, and GC
  * and heap figures from the JVM's MXBeans. Everything stays in memory
  * until the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val OpKey = "perfbench.op"

  final class Span(val id: Long, val kind: String, val timed: Boolean) {
    val startMs: Long = System.currentTimeMillis()
    val startNs: Long = System.nanoTime()
    val fs0: Array[Long] = fsCounters()
    var endMs = 0L
    var wallMs = 0.0
    var fs1: Array[Long] = fs0
  }

  final class Job(val op: Long, val desc: String, val start: Long) {
    @volatile var end: Long = -1L
  }

  final class Acc {
    var stages, tasks, taskMs, shuffleW, shuffleR, spill = 0L
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Span = null
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val accs = new ConcurrentHashMap[Long, Acc]()
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()
  private var gcAtStart = 0L
  var gcMs = 0L
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private var jitAtStart = 0L
  var jitMs = 0L
  var heapPeakMb = 0.0

  private def acc(op: Long): Acc = accs.computeIfAbsent(op, _ => new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpKey))).fold(-1L)(_.toLong)
      val desc = p.flatMap(x =>
        Option(x.getProperty("spark.job.description"))).orNull
      jobs.put(e.jobId, new Job(op, desc, e.time))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = acc(stageOp.getOrDefault(e.stageInfo.stageId, -1L))
      a.synchronized { a.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageOp.getOrDefault(e.stageId, -1L))
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.shuffleW += m.shuffleWriteMetrics.bytesWritten
          a.shuffleR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val sel = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (sel.nonEmpty) {
        // planning runs when the action runs, so its start names the
        // operation; analysis may have happened when the frame was built
        val at = ph.get("planning").fold(sel.map(_.startTimeMs).min)(_.startTimeMs)
        plans.add((at, sel.map(_.durationMs).sum.toDouble))
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  /** (read ops, write ops, bytes read, bytes written): operations from
    * [[CountingLocalFileSystem]], bytes from Hadoop's statistics. */
  @annotation.nowarn("cat=deprecation")
  private def fsCounters(): Array[Long] = {
    val a = Array(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get, 0L, 0L)
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.foreach { s =>
      a(2) += s.getBytesRead
      a(3) += s.getBytesWritten
    }
    a
  }

  private def gcTotal(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  def begin(kind: String, timed: Boolean): Unit = {
    current = new Span(spans.size.toLong, kind, timed)
    spans += current
    sc.setLocalProperty(OpKey, current.id.toString)
  }

  def end(): Unit = {
    val s = current
    s.wallMs = (System.nanoTime() - s.startNs) / 1e6
    s.endMs = System.currentTimeMillis()
    s.fs1 = fsCounters()
    sc.setLocalProperty(OpKey, null)
    current = null
    if (s.timed) {
      val used = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
      heapPeakMb = math.max(heapPeakMb, used)
    }
  }

  def phaseStart(): Unit = { gcAtStart = gcTotal(); jitAtStart = jit.getTotalCompilationTime }
  def phaseEnd(): Unit = { gcMs = gcTotal() - gcAtStart; jitMs = jit.getTotalCompilationTime - jitAtStart }

  /** Wait until the listener bus has delivered every event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def timedSpans(kinds: String*): Seq[Span] =
    spans.toSeq.filter(s => s.timed && (kinds.isEmpty || kinds.contains(s.kind)))

  def jobsOf(s: Span): Seq[Job] =
    jobs.values.asScala.toSeq.filter(_.op == s.id)

  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var hi = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > hi) { total += b - math.max(a, hi); hi = b }
    }
    total.toDouble
  }

  def jobUnionMs(s: Span, desc: String => Boolean = _ => true): Double =
    unionMs(jobsOf(s).filter(j => j.end >= 0 && desc(j.desc)).map(j => (j.start, j.end)))

  def planMs(s: Span): Double =
    plans.asScala.iterator.filter { case (t, _) => t >= s.startMs && t <= s.endMs }
      .map(_._2).sum

  def fsDelta(s: Span, i: Int): Long = s.fs1(i) - s.fs0(i)

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Mean per timed operation of `f`, over spans of `kinds` (all when empty). */
  def perOp(kinds: String*)(f: Span => Double): Double = mean(timedSpans(kinds: _*).map(f))

  /** Engine, file-system and JVM figures, per timed operation. */
  def common(): Map[String, Double] = {
    def a(s: Span) = Option(accs.get(s.id)).getOrElse(new Acc)
    Map(
      "spark.plan_ms" -> perOp()(planMs),
      "spark.jobs" -> perOp()(s => jobsOf(s).size.toDouble),
      "spark.stages" -> perOp()(s => a(s).stages.toDouble),
      "spark.tasks" -> perOp()(s => a(s).tasks.toDouble),
      "spark.task_ms" -> perOp()(s => a(s).taskMs.toDouble),
      "spark.shuffle_write_bytes" -> perOp()(s => a(s).shuffleW.toDouble),
      "spark.shuffle_read_bytes" -> perOp()(s => a(s).shuffleR.toDouble),
      "spark.spill_bytes" -> perOp()(s => a(s).spill.toDouble),
      "spark.driver_gap_ms" -> perOp()(s => math.max(0.0, s.wallMs - jobUnionMs(s))),
      "fs.read_ops" -> perOp()(s => fsDelta(s, 0).toDouble),
      "fs.write_ops" -> perOp()(s => fsDelta(s, 1).toDouble),
      "fs.bytes_read" -> perOp()(s => fsDelta(s, 2).toDouble),
      "fs.bytes_written" -> perOp()(s => fsDelta(s, 3).toDouble),
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.jit_ms" -> jitMs.toDouble,
      "jvm.heap_used_peak_mb" -> heapPeakMb)
  }
}
