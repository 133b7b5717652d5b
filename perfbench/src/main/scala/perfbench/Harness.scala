package perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Order statistics over a latency sample. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile, q in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  /** The highest percentile with ten samples beyond it; none below
    * forty samples, where that percentile would be no tail. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    if (xs.length < 40) None
    else {
      val q = 1.0 - 10.0 / xs.length
      Some(f"p${q * 100}%.1f" -> percentile(xs, q))
    }
}

/** Runs the benchmark's operations one at a time on the calling thread,
  * counts attempts and failures, and keeps per-kind latencies of the
  * timed phase, both as wall time and net of processor time the
  * hypervisor withheld (see [[Cpu]]). A failure is an exception from the
  * operation or a mismatch reported by its check; checks run after the
  * clock stops. */
final class Recorder(val tracer: Option[Tracer]) {
  val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** The same samples, each scaled by the share of the processors' busy
    * time during the operation that the hypervisor did not take. */
  val netMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Steal share over the whole timed phase. */
  var phaseSteal = 0.0
  var attempted = 0L
  var failed = 0L
  /** Failures where the operation completed with a wrong answer. */
  var wrong = 0L
  var timed = false
  var timedNanos = 0L
  /** Operations of each kind in the timed phase, all of them. */
  val timedCount = mutable.LinkedHashMap.empty[String, Long]
  private var deadline = Long.MaxValue
  private var firstRound = false

  /** Run one operation. Returns its value when it completed, whether
    * or not its check passed. */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    tracer.foreach(_.begin(kind, timed))
    val c0 = if (timed) Cpu.sample() else None
    val t0 = System.nanoTime()
    val r = Try(body)
    val dt = System.nanoTime() - t0
    val c1 = if (timed) Cpu.sample() else None
    tracer.foreach(_.end())
    if (timed) {
      timedNanos += dt
      timedCount(kind) = timedCount.getOrElse(kind, 0L) + 1
      // the sample window ends at the deadline; the round that crosses it
      // is finished (and checked) but its later operations are not sampled
      if (firstRound || t0 < deadline) {
        latMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt / 1e6
        netMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt / 1e6 * (1 - Cpu.stealShare(c0, c1))
      }
    }
    r match {
      case Failure(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        None
      case Success(v) =>
        Try(check(v)) match {
          case Success(None) =>
          case Success(Some(msg)) =>
            failed += 1
            wrong += 1
            System.err.println(s"[perfbench] $kind wrong: $msg")
          case Failure(e) =>
            failed += 1
            wrong += 1
            System.err.println(s"[perfbench] $kind check threw: $e")
        }
        Some(v)
    }
  }

  /** Untimed rounds before the timed phase, so that the JIT has compiled
    * the hot paths. */
  def warmUp(rounds: Int)(round: Int => Unit): Unit =
    (0 until rounds).foreach(r => logged(s"warm-up round $r")(round(r)))

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private def logged(what: String)(body: => Unit): Unit = {
    val (t0, j0) = (System.nanoTime(), jit.getTotalCompilationTime)
    body
    Log(f"$what: ${(System.nanoTime() - t0) / 1e6}%.0f ms, JIT ${jit.getTotalCompilationTime - j0} ms")
  }

  /** Closed loop: whole rounds until `seconds` have passed, at least one.
    * Latencies are sampled from the operations that started before the
    * deadline, and from all of the first round. */
  def timedRounds(seconds: Double)(round: Int => Unit): Int = {
    timed = true
    tracer.foreach(_.phaseStart())
    deadline = System.nanoTime() + (seconds * 1e9).toLong
    val c0 = Cpu.sample()
    var r = 0
    while (r == 0 || System.nanoTime() < deadline) {
      firstRound = r == 0
      logged(s"timed round $r")(round(r))
      r += 1
    }
    tracer.foreach(_.phaseEnd())
    phaseSteal = Cpu.stealShare(c0, Cpu.sample())
    timed = false
    deadline = Long.MaxValue
    r
  }

  def samples(kind: String): Seq[Double] = latMs.getOrElse(kind, Nil).toSeq

  /** Throughput of one round's operation mix at each kind's median
    * latency: a round's operations over the sum of their medians. The
    * bounded figure uses latencies net of steal; the wall-clock one is
    * printed beside it. */
  def mixOpsPerS: Double = mix(netMs)
  def mixOpsPerSWall: Double = mix(latMs)
  private def mix(m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]): Double = {
    val perRound = timedCount.toSeq
    perRound.map(_._2.toDouble).sum /
      (perRound.map { case (k, n) => n * Stats.median(m(k).toSeq) }.sum / 1e3)
  }
}

/** What a workload hands back to [[Main]]. */
final case class Outcome(
    setupS: Double,
    detail: Seq[String],
    layers: Map[String, Double])

object Outcome {
  /** One reference line per latency kind: median, tail, sample count. */
  def latencyLine(name: String, xs: Seq[Double], unit: String = "ms",
                  scale: Double = 1.0): String =
    if (xs.isEmpty) s"$name n=0"
    else {
      val t = Stats.tail(xs).fold("")(p => f" ${p._1}=${p._2 * scale}%.3f")
      f"$name ${Stats.median(xs) * scale}%.3f $unit n=${xs.length}$t"
    }
}

/** Processor time the hypervisor withheld from this virtual machine, from
  * the first line of /proc/stat (all processors; `steal` is the time a
  * processor had work but was not run). On a machine that does not report
  * it, or is not virtual, the share is 0. */
object Cpu {
  def sample(): Option[Array[Long]] = Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().split("\\s+").drop(1).map(_.toLong) finally f.close()
  }.toOption

  /** Stolen jiffies over busy plus stolen jiffies between two samples. */
  def stealShare(a: Option[Array[Long]], b: Option[Array[Long]]): Double =
    (for (x <- a; y <- b) yield {
      def d(i: Int) = y(i) - x(i)
      val busy = d(0) + d(1) + d(2) + d(5) + d(6)
      if (busy + d(7) <= 0) 0.0 else d(7).toDouble / (busy + d(7))
    }).getOrElse(0.0)
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s: $msg")
}

/** Fixed-seed random helpers shared by the generators. */
final class Rng(seed: Long) extends scala.util.Random(seed) {
  def hex(n: Int): String = {
    val sb = new StringBuilder("0x")
    (0 until n).foreach(_ => sb.append("0123456789abcdef".charAt(nextInt(16))))
    sb.toString
  }
}
