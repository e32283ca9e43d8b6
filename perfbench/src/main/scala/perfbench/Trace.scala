package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-job facts gathered from the public listener bus: one entry per job,
  * attributed to the job group that was set on the driver thread when the
  * job was submitted.
  */
final class JobStat(val jobId: Int, val group: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
}

/** Collects a [[JobStat]] for every job submitted under a job group.
  *
  * Completeness without sleeps or private listener-bus calls: after a
  * measured call, [[drain]] submits a one-task fence job in its own group
  * and blocks until this listener sees the fence end. Events on one bus
  * queue arrive in posting order, so by then every event of the measured
  * call has been delivered. The status tracker's job ids for each group are
  * then required to be a subset of what the listener saw.
  */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new ConcurrentHashMap[Int, JobStat]()
  private val lock = new Object

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      .orNull
    if (group != null) {
      val s = new JobStat(e.jobId, group, e.time)
      jobs.put(e.jobId, s)
      e.stageIds.foreach(stageJob.put(_, s))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(s => s.synchronized { s.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) s.synchronized {
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    lock.synchronized(lock.notifyAll())
  }

  private def ended(group: String): Boolean =
    jobs.values.asScala.exists(s => s.group == group && s.endMs >= 0)

  /** Block until every job of `groups` has been delivered (see class doc). */
  def drain(sc: SparkContext, groups: Seq[String], fence: String): Unit = {
    sc.setJobGroup(fence, "perfbench fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    def missing: Seq[Int] = groups.flatMap(sc.statusTracker.getJobIdsForGroup(_))
      .filterNot(id => Option(jobs.get(id)).exists(_.endMs >= 0))
    lock.synchronized {
      while ((!ended(fence) || missing.nonEmpty) && System.nanoTime() < deadline)
        lock.wait(50)
    }
    require(ended(fence) && missing.isEmpty,
      s"listener never saw the end of jobs ${missing.mkString(",")} in ${groups.mkString(",")}")
  }

  def all: Seq[JobStat] = jobs.values.asScala.toSeq

  /** Jobs of `group`, in id order. */
  def jobsOf(group: String): Seq[JobStat] =
    jobs.values.asScala.filter(_.group == group).toSeq.sortBy(_.jobId)
}

/** One timed interval of the traced run. `parent` is -1 for a pass root. */
final case class Span(id: Int, name: String, layer: String, pass: Int,
                      parent: Int, start: Double, end: Double)

/** In-memory span log; times are seconds since the recorder was created, on
  * the driver's monotonic clock. Listener job times (epoch milliseconds) are
  * mapped onto the same axis.
  */
final class Spans {
  private val nano0 = System.nanoTime()
  private val epoch0Ms = System.currentTimeMillis()
  private val buf = mutable.ArrayBuffer.empty[Span]

  def now(): Double = (System.nanoTime() - nano0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - epoch0Ms) / 1e3

  def add(name: String, layer: String, pass: Int, parent: Int,
          start: Double, end: Double): Int = {
    val id = buf.size
    buf += Span(id, name, layer, pass, parent, start, end)
    id
  }

  def all: Seq[Span] = buf.toSeq

  /** Self time per layer over the spans of `pass`: the time covered by the
    * layer's spans but not by their children. Overlapping spans of one layer
    * (jobs that run concurrently) count once.
    */
  def selfByLayer(pass: Int): Map[String, Double] = {
    val ofPass = buf.filter(_.pass == pass)
    val kids = ofPass.groupBy(_.parent)
    ofPass.groupBy(_.layer).map { case (layer, spans) =>
      layer -> Spans.unionLength(spans.toSeq.flatMap(s =>
        Spans.subtract((s.start, s.end), kids.getOrElse(s.id, Nil).toSeq.map(k => (k.start, k.end)))))
    }
  }
}

object Spans {
  /** Disjoint, sorted union of a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((lo, hi) :: rest, (a, b)) if a <= hi => (lo, math.max(hi, b)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = union(iv).map { case (a, b) => b - a }.sum

  /** The parts of `span` not covered by any of `holes`. */
  def subtract(span: (Double, Double), holes: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val (lo, hi) = span
    val cuts = union(holes.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) })
    val edges = (lo +: cuts.flatMap { case (a, b) => Seq(a, b) }) :+ hi
    edges.grouped(2).collect { case Seq(a, b) if b > a => (a, b) }.toSeq
  }
}
