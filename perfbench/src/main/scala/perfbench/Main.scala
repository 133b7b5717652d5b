package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Reference lines go to stdout first; the last stdout line is one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`: the
  * end-to-end metrics with tracing off, the per-layer ones with it on.
  * Everything the run writes lives under `--work`. */
object Main {
  val Workloads = Seq("pool-queries", "lake-churn")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val work = args("work")

    Log("main")
    val cpu0 = Cpu.sample()
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val builder = graft.fs.FastLocalFs.configure(SparkSession.builder())
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Log("context up")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    Log("session up")

    val rec = new Recorder(if (traced) Some(new Tracer(spark)) else None)
    val out = workload match {
      case "pool-queries" => new PoolQueries(spark, work, seed, rec, traced).run(seconds)
      case "lake-churn" => new LakeChurn(spark, work, seed, rec, traced).run(seconds)
    }

    rec.latMs.foreach { case (k, xs) => Log(s"samples $k: ${xs.map(x => f"$x%.0f").mkString(" ")}") }
    val e2e = Map(
      "setup_s" -> (sessionS + out.setupS),
      "ops_per_s" -> rec.mixOpsPerS)
    val values =
      if (traced) Metrics.perLayer.map(d => d -> out.layers.getOrElse(d.name, 0.0))
      else Metrics.endToEnd.map(d => d -> e2e(d.name))

    val runSteal = Cpu.stealShare(cpu0, Cpu.sample())
    // queued deletions of retired lake trees finish before the session goes
    graft.fs.AsyncPurge.drain(60000L)
    spark.stop()

    println(f"session_start_s $sessionS%.3f s")
    // processor time the hypervisor gave to other guests, over the run and
    // over the timed phase: what a noisy run is noisy from
    println(f"steal_share run=$runSteal%.4f timed=${rec.phaseSteal}%.4f")
    out.detail.foreach(println)
    e2e.foreach { case (k, v) => println(s"$k $v") }
    println(s"ops_per_s_wall ${rec.mixOpsPerSWall}")
    val metrics = values.map { case (d, v) =>
      s""""${d.name}": {"value": ${num(v)}, "unit": "${d.unit}"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${rec.wrong == 0}, "attempted": ${rec.attempted}, """ +
      s""""failed": ${rec.failed}, "metrics": $metrics}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
