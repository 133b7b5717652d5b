package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // dev convenience: optional comma-separated name filter (the driver
    // always passes exactly two args, so the gate runs everything)
    val rows = SparkEntry.select(args.lift(2).map(_.split(",").toSet))
    val spark = graft.fs.FastLocalFs.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    rows.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // File-reading oracles (s8_jsonl_source) scope their fixture path
    // by scale factor so a bench run at another SF cannot clobber the
    // fixture between this dump and the driver's DuckDB pass; the
    // placeholder resolves to THIS run's SF here, where sfDir is known.
    val sfBase = new java.io.File(sfDir).getName
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${Bench.jsonStr(k)}: ${Bench.jsonStr(v.replace("__GRAFT_SF__", sfBase))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
