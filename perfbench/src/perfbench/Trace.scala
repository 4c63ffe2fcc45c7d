package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One Spark job as the benchmark's listener saw it. Times are epoch ms
  * (Spark's clock); task figures are summed over the job's stages. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var inputRecords = 0L
}

/** Listener the benchmark installs on its own session (traced runs only).
  * Callers read it only after [[org.apache.spark.PerfbenchBus.drain]],
  * so every event of a finished op has been delivered. */
final class JobListener extends SparkListener {
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val pending = mutable.ArrayBuffer.empty[JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = j)
    pending += j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    pending.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val m = e.taskMetrics
      val info = e.taskInfo
      // A task killed after its job had its answer can report after the
      // op's drain; only finished tasks count, so `tasks` repeats exactly.
      if (e.reason == org.apache.spark.Success) j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.inputRecords += m.inputMetrics.recordsRead
        // The Spark UI's definition of scheduler delay.
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }
  /** Jobs started since the previous call. */
  def take(): Seq[JobRec] = synchronized {
    val out = pending.toList
    pending.clear()
    stageJob.filterInPlace((_, j) => out.forall(_ ne j))
    out
  }
}

/** Filesystem view of a table location: relative path → (size, mtime). */
object FsSnap {
  type Snap = Map[String, (Long, Long)]
  def apply(root: Path): Snap =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }
  def bytes(s: Snap): Long = s.valuesIterator.map(_._1).sum
  private val KrDir = "^kr=(\\d+)/.*".r
  /** (regions whose data files changed, bytes of new or changed files). */
  def diff(before: Snap, after: Snap): (Int, Long) = {
    val changed = (before.keySet ++ after.keySet).filter(p => before.get(p) != after.get(p))
    val regions = changed.collect { case KrDir(kr) => kr }.size
    (regions, changed.toSeq.flatMap(after.get).map(_._1).sum)
  }
}

/** A span of the traced run's tree: workload → op → call / collect →
  * spark.job. `op` is the id shared by every span of one op. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
  /** The highest candidate percentile with at least ten samples above it
    * (p50 when there are fewer than 40 samples). */
  def tailPercentile(n: Int): Double =
    TailCandidates.find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Minimal JSON rendering (numbers keep all their digits). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toSeq.toMap)
    case x => str(x.toString)
  }
}
