package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

/** The bench harness: row selection, the JSON escaper, the contended
  * flag and the per-row recorder. */
class BenchSpec extends SparkSpec {

  test("select: None runs all 189 rows sorted; a typo throws naming every unknown row") {
    val all = SparkEntry.select(None).map(_._1)
    assert(all.size == 189 && all == all.sorted)
    assert(SparkEntry.select(Some(Set("s34_deletion_vectors", "a1_groupby_sum")))
      .map(_._1) == Seq("a1_groupby_sum", "s34_deletion_vectors"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some(Set("a1_groupby_sum", "typo_b", "typo_a"))))
    assert(e.getMessage.endsWith("unknown registry rows: typo_a, typo_b"))
  }

  test("jsonStr uses short forms and round-trips through Jackson") {
    val s = "q\"b\\n\nt\tr\r\u0001é"
    assert(Bench.jsonStr(s) == "\"q\\\"b\\\\n\\nt\\tr\\r\\u0001é\"")
    assert(new ObjectMapper().readValue(Bench.jsonStr(s), classOf[String]) == s)
  }

  test("contended: sentinel max over median above 3") {
    assert(!Bench.contended(Nil))
    assert(!Bench.contended(Seq(0.1, 0.3)))
    assert(Bench.contended(Seq(0.1, 0.1, 0.31)))
    assert(!Bench.contended(Seq(0.1, 0.1, 0.3)))
    assert(Bench.contended(Seq(0.1, 0.2, 0.1, 0.7)))
  }

  test("Recorder: jobs, tasks, shuffle and driver time of a row; stream phases; close detaches") {
    val rec = new Recorder(spark)
    def shuffled(): Unit = spark.range(0, 20000, 1, 4).groupBy(col("id") % 7)
      .count().write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    val (_, l) = rec.record(shuffled())
    val wallMs = (System.nanoTime() - t0) / 1000000L
    assert(l.jobs >= 2 && l.tasks > 0 && l.taskMs > 0 && l.shuffleBytes > 0, l)
    assert(l.planMs > 0 && l.driverMs >= 0 && l.driverMs <= wallMs, l)
    assert(l.streamMs.isEmpty)

    val dir = Files.createTempDirectory("bench-rec").toString
    (0 to 1).foreach(i => spark.range(i * 10, i * 10 + 10).coalesce(1)
      .write.mode("append").parquet(s"$dir/src"))
    def streamed(tag: String): Unit =
      spark.readStream.schema(spark.read.parquet(s"$dir/src").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/src")
        .writeStream.format("parquet").option("path", s"$dir/out-$tag")
        .option("checkpointLocation", s"$dir/ck-$tag")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val (_, s) = rec.record(streamed("a"))
    assert(spark.read.parquet(s"$dir/out-a").count() == 20)
    assert(s.streamMs.getOrElse("addBatch", 0L) > 0 && s.jobs >= 2, s)

    rec.close()
    val (_, after) = rec.record { shuffled(); streamed("b") }
    assert(after == Layers(0, 0, 0, 0, after.driverMs, 0, 0, Map.empty,
      after.codegenCompiles), after)
  }

  test("Recorder: codegen_compiles counts a fresh numeric literal, not an exact repeat") {
    val rec = new Recorder(spark)
    try {
      val fresh = System.nanoTime()
      def query(): Unit = spark.range(0, 1000, 1, 2)
        .filter(col("id") * 3 + lit(fresh) > lit(fresh + 7))
        .write.format("noop").mode("overwrite").save()
      val (_, first) = rec.record(query())
      assert(first.codegenCompiles >= 1, first)
      assert(first.json.contains(s""""codegen_compiles": ${first.codegenCompiles}"""))
      // the counter is JVM-wide: the least of three repeats keeps a
      // compile on another thread from failing the check
      val repeats = (1 to 3).map(_ => rec.record(query())._2.codegenCompiles)
      assert(repeats.min == 0L, repeats)
    } finally rec.close()
  }
}
