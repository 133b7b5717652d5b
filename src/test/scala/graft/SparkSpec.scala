package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). Built by
  * the same [[graft.fs.FastLocalFs.session]] as every runMain entry
  * point, so the full suite validates the filesystem the bench and
  * verify paths actually use. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.fs.FastLocalFs.session("4")

  def relClose(got: Double, exp: Double, tol: Double = 1e-9): Boolean =
    if (exp == 0.0) math.abs(got) < tol
    else math.abs(got - exp) / math.abs(exp) < tol

  /** Spark jobs `body` starts, read from the status tracker. Listener
    * events arrive asynchronously but in order, so once a marker job
    * in a second group is visible, every job `body` started is too. */
  def jobsStarted(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "counted")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
           System.nanoTime() < deadline) Thread.sleep(20)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  def assertRel(got: Double, exp: Double, tol: Double = 1e-9): Unit =
    assert(relClose(got, exp, tol), s"got $got, expected $exp (rel tol $tol)")
}
