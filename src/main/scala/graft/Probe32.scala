package graft

import org.apache.spark.scheduler._
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Round-18 diagnosis harness (NOT part of the bench contract): times a
  * named query under the Bench session shape while a listener records
  * per-job wall time, task counts, task-time and GC sums — separating
  * "executor compute" from "driver/scheduling gaps" for the 32-core
  * contention pathology (VERDICT r17 next-round #2).
  *
  * Env: PROBE_ONLY=q_a,q_b (required), SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS
  * (default 32; shuffle partitions follow it, as in Bench), PROBE_REPS
  * (default 2).
  */
object Probe32 {
  private case class JobRec(id: Int, wallMs: Long, stages: Int, tasks: Int,
                            taskMs: Long, gcMs: Long, desc: String)

  private final class Rec extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val agg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]() // tasks, taskMs, gcMs, stages
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      starts.put(e.jobId, (e.time, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")))
      agg.put(e.jobId, Array(0L, 0L, 0L, e.stageIds.size.toLong))
      e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = jobOfStage.get(e.stageId)
      val a = agg.get(j)
      if (a != null) a.synchronized {
        a(0) += 1
        if (e.taskMetrics != null) {
          a(1) += e.taskMetrics.executorRunTime
          a(2) += e.taskMetrics.jvmGCTime
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = starts.remove(e.jobId)
      val a = agg.remove(e.jobId)
      if (s != null && a != null)
        jobs.add(JobRec(e.jobId, e.time - s._1, a(3).toInt, a(0).toInt, a(1), a(2), s._2))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("PROBE_REPS", "2").toInt
    val names = sys.env("PROBE_ONLY").split(",").toSeq
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val rec = new Rec
    spark.sparkContext.addSparkListener(rec)
    names.foreach { name =>
      (1 to reps).foreach { rep =>
        rec.jobs.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let listener drain
        val js = rec.jobs.asScala.toSeq.sortBy(_.id)
        val jobWall = js.map(_.wallMs).sum / 1e3
        val tasks = js.map(_.tasks).sum
        val taskS = js.map(_.taskMs).sum / 1e3
        val gcS = js.map(_.gcMs).sum / 1e3
        println(f"PROBE $name%s rep=$rep cpus=$cpus wall=$wall%.2f jobs=${js.size} jobWall=$jobWall%.2f gapS=${wall - jobWall}%.2f tasks=$tasks taskTimeS=$taskS%.2f gcS=$gcS%.2f")
        if (sys.env.contains("PROBE_JOBS"))
          js.foreach(j => println(f"  job ${j.id}%4d wall=${j.wallMs / 1e3}%7.3f stages=${j.stages}%3d tasks=${j.tasks}%5d taskS=${j.taskMs / 1e3}%7.2f gc=${j.gcMs / 1e3}%6.2f ${j.desc.take(80)}"))
        GraftCache.releaseAllStorage(spark)
      }
    }
    spark.stop()
  }
}
