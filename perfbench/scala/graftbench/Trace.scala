package graftbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Interval arithmetic over [start, end) millisecond spans. */
object Intervals {
  /** Length of the union of `spans` clipped to [from, to): concurrent
    * spans count once, so the result never exceeds `to - from`. */
  def unionLength(spans: Iterable[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = spans.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .toArray.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Call counts and busy seconds per key, plus the task intervals the
  * traced bookkeeper sees. Thread-safe: the orchestrator runs tasks on
  * a pool. */
final class Spans {
  private val acc = new ConcurrentHashMap[String, Array[Double]]()
  private val taskSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  def add(key: String, seconds: Double, calls: Long = 1L): Unit = {
    val a = acc.computeIfAbsent(key, _ => new Array[Double](2))
    a.synchronized { a(0) += calls; a(1) += seconds }
  }

  def time[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(key, (System.nanoTime() - t0) / 1e9)
  }

  def calls(key: String): Double = Option(acc.get(key)).map(a => a.synchronized(a(0))).getOrElse(0.0)
  def seconds(key: String): Double = Option(acc.get(key)).map(a => a.synchronized(a(1))).getOrElse(0.0)

  def addTask(startMs: Long, endMs: Long): Unit = taskSpans.add((startMs, endMs))
  def tasks: Seq[(Long, Long)] = taskSpans.asScala.toSeq

  def reset(): Unit = { acc.clear(); taskSpans.clear() }
}

/** One Spark job as the listener saw it. Task figures are summed over
  * the tasks of the stages this job was the first to announce. */
final class JobRec(val id: Int, val group: String, val desc: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var failedTasks = 0
}

/** Per-job and per-stage Spark profile. A stage id can appear in more
  * than one job (a reused shuffle map stage is listed again by every
  * later job that depends on it); the first job to announce a stage
  * keeps it, so its tasks are never attributed to a later job. */
final class JobTrace extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageSpan = mutable.HashMap.empty[Int, (Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, prop("spark.jobGroup.id"), prop("spark.job.description"), e.time)
    e.stageIds.foreach(sid => stageJob.getOrElseUpdate(sid, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageSpan(i.stageId) = (s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.taskInfo != null) {
        j.taskMs += e.taskInfo.duration
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
      if (e.reason != org.apache.spark.Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.inputRows += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stageTaskMs.clear(); stageSpan.clear()
  }

  def snapshot: Seq[JobRec] = synchronized(jobs.values.toList)

  /** Stage ids owned by `jobIds` (first announcer wins). */
  def stagesOf(jobIds: Set[Int]): Seq[Int] =
    synchronized(stageJob.collect { case (s, j) if jobIds(j) => s }.toList)

  /** max ÷ median task time in the stage with the longest wall. */
  def longestStageSkew: Double = synchronized {
    if (stageSpan.isEmpty) 1.0
    else {
      val (sid, _) = stageSpan.maxBy { case (_, (s, c)) => c - s }
      val ts = stageTaskMs.getOrElse(sid, mutable.ArrayBuffer.empty[Long]).sorted
      if (ts.isEmpty) 1.0
      else {
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med <= 0) 1.0 else ts.last / med
      }
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
