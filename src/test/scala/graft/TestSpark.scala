package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One shared local session for the whole suite (forked test JVM). */
object TestSpark {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val warehouse = Files.createTempDirectory("graft_warehouse")
    // Deleted at JVM exit, after the SparkContext stops.
    org.apache.spark.sql.GraftTestBridge.deleteAtExit(warehouse)
    GraftSession.local(4, "spark.sql.warehouse.dir" -> warehouse.toString)
  }

  /** Jobs `body` runs, counted under a test-owned job group. */
  def jobsOf(body: => Unit): Int = {
    val group = "spec-jobs-" + java.util.UUID.randomUUID()
    spark.sparkContext.setJobGroup(group, "job budget", interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  /** Every node of an executed plan, the plans inside AQE query stages
    * included (a stage node and its plan are both listed). */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case o => o +: o.children.flatMap(planNodes)
  }
}

/** A suite's own directory under `java.io.tmpdir` for the files its tests
  * write, deleted after the suite's last test. */
trait TempDirs extends org.scalatest.BeforeAndAfterAll { this: org.scalatest.Suite =>
  private lazy val root: Path = Files.createTempDirectory("graft_" + getClass.getSimpleName)

  /** A fresh directory inside the suite's own. */
  protected def tempDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  override def afterAll(): Unit =
    try super.afterAll() finally streaming.EventStream.deleteRecursively(root)
}
