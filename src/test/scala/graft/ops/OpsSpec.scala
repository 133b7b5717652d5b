package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[Ops.parallelizeInput]] decides from the physical plan: it must
  * never execute its input to count partitions, and it must still widen
  * a narrow scan to the session's shuffle parallelism. */
class OpsSpec extends SparkSpec {

  test("parallelizeInput: no job on an aggregated frame, a one-partition scan is widened") {
    val target = spark.sessionState.conf.numShufflePartitions
    // the exact keeper's shape: an aggregate plus a semi-join back onto
    // its input — an adaptive plan whose partition count is only known
    // after its shuffle stages run
    val kept = spark.range(0, 1000).select(col("id"), (col("id") % 97).as("g"))
    val keeper = kept.join(kept.groupBy(col("g")).agg(min(col("id")).as("id")),
      Seq("id", "g"), "left_semi")
    var out: org.apache.spark.sql.DataFrame = null
    assert(jobsStarted { out = Ops.parallelizeInput(keeper, col("id")) } == 0)
    assert(out.count() == 97L)

    val dir = java.nio.file.Files.createTempDirectory("ops-spec").toString
    try {
      spark.range(0, 100).coalesce(1).write.mode("overwrite").parquet(dir)
      val scan = spark.read.parquet(dir)
      assert(scan.rdd.getNumPartitions == 1)
      var wide: org.apache.spark.sql.DataFrame = null
      assert(jobsStarted { wide = Ops.parallelizeInput(scan, col("id")) } == 0)
      assert(wide.rdd.getNumPartitions == target)
      assert(wide.count() == 100L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
