package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Task-metric totals; the difference of two snapshots covers one call. */
final case class Totals(cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    jobs: Long) {
  def -(o: Totals): Totals = Totals(cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes, jobs - o.jobs)
}

/** One completed stage, as the traced run records it. Times are epoch ms. */
final case class StageRec(stageId: Int, jobId: Int, submittedMs: Long, completedMs: Long,
    inputBytes: Long, shuffleWriteBytes: Long, shuffleWriteNs: Long,
    shuffleReadBytes: Long, outputBytes: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    taskMs: Array[Long])

/** A job, with the `BenchListener.Key` of the call that submitted it (or null). */
final case class JobRec(jobId: Int, startMs: Long, endMs: Long, key: String)

/** A span: a timed region of the benchmark (layer/name), or a Spark job or
  * stage placed under the call that caused it. Times are epoch nanoseconds;
  * every span carries the run id.
  */
final case class Span(id: Int, parent: Int, run: String, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans of one run, kept in memory until the run ends. When disabled,
  * `timed` only measures; nothing is recorded. `timed` nests on the driver's
  * main thread; other threads add their spans with `record`.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val spans = ArrayBuffer[Span]()
  private var open = List(0)
  private var lastId = 0
  private def nextId(): Int = { lastId += 1; lastId }

  def epochNs(nano: Long): Long = baseEpochNs + (nano - baseNano)

  /** Runs `f`, returning its value and its wall seconds. */
  def timed[A](layer: String, name: String)(f: => A): (A, Double) = {
    val id = if (enabled) synchronized(nextId()) else 0
    val parent = open.head
    if (enabled) open = id :: open
    val t0 = System.nanoTime()
    val a = try f finally if (enabled) open = open.tail
    val t1 = System.nanoTime()
    if (enabled) synchronized(spans += Span(id, parent, runId, layer, name, epochNs(t0), epochNs(t1)))
    (a, (t1 - t0) / 1e9)
  }

  /** The innermost open `timed` span. */
  def current: Int = open.head

  /** Adds a span timed by the caller (nanoTime bounds). */
  def record(layer: String, name: String, t0: Long, t1: Long, parent: Int): Unit =
    if (enabled) synchronized(spans += Span(nextId(), parent, runId, layer, name, epochNs(t0), epochNs(t1)))

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Adds the listener's jobs and stages as child spans: of the span named by
    * the job's key, or else of the innermost span that contains its start.
    */
  def attach(jobs: Seq[JobRec], stages: Seq[StageRec]): Unit = if (enabled) synchronized {
    val own = spans.toVector
    val byName = own.map(p => p.name -> p.id).toMap
    jobs.sortBy(_.jobId).foreach { j =>
      val s = j.startMs * 1000000L
      val parent = Option(j.key).flatMap(byName.get).getOrElse(
        own.filter(p => p.startNs - 1000000L <= s && s <= p.endNs + 1000000L)
          .sortBy(_.durNs).headOption.map(_.id).getOrElse(0))
      val jid = nextId()
      spans += Span(jid, parent, runId, "spark.job", s"job ${j.jobId}", s, j.endMs * 1000000L)
      stages.filter(_.jobId == j.jobId).sortBy(_.stageId).foreach { st =>
        spans += Span(nextId(), jid, runId, "spark.stage", s"stage ${st.stageId}",
          st.submittedMs * 1000000L, st.completedMs * 1000000L)
      }
    }
  }

  /** Duration of `s` minus the part of it covered by its children. */
  def selfNs(s: Span): Long = {
    val kids = spans.iterator.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    s.durNs - covered
  }

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)}}"""
  }
}

/** Sums task metrics, in total and per value of the job's `Key` local
  * property; with `detail` on it also records jobs, stages and per-task
  * durations (the traced run's extra work).
  */
final class BenchListener extends SparkListener {
  @volatile var detail = false
  private final class Acc {
    val cpuNs, gcMs, shuffleWriteBytes, spillBytes, jobs = new AtomicLong
    def totals = Totals(cpuNs.get, gcMs.get, shuffleWriteBytes.get, spillBytes.get, jobs.get)
  }
  private val all = new Acc
  private val byKey = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobRecs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int], String)]()
  private val stageRecs = new ConcurrentLinkedQueue[StageRec]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  def totals: Totals = all.totals
  def totals(key: String): Totals =
    Option(byKey.get(key)).map(_.totals).getOrElse(Totals(0, 0, 0, 0, 0))

  def jobsSince(ms: Long): Seq[JobRec] = jobRecs.asScala.filter(_.startMs >= ms).toSeq
  def stagesOf(jobIds: Set[Int]): Seq[StageRec] =
    stageRecs.asScala.filter(s => jobIds(s.jobId)).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    all.jobs.incrementAndGet()
    val key = Option(e.properties).map(_.getProperty(BenchListener.Key)).orNull
    if (key != null) {
      byKey.computeIfAbsent(key, _ => new Acc).jobs.incrementAndGet()
      e.stageIds.foreach(stageKey.put(_, key))
    }
    if (detail) jobStarts.put(e.jobId, (e.time, e.stageIds, key))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (start, _, key) =>
      jobRecs.add(JobRec(e.jobId, start, e.time, key))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (detail) {
    val i = e.stageInfo
    val m = i.taskMetrics
    val jobId = jobStarts.asScala.collectFirst { case (j, (_, st, _)) if st.contains(i.stageId) => j }
      .getOrElse(-1)
    val durs = Option(taskMs.remove(i.stageId)).map(_.asScala.toArray).getOrElse(Array.empty[Long])
    stageRecs.add(StageRec(i.stageId, jobId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
      m.shuffleReadMetrics.totalBytesRead, m.outputMetrics.bytesWritten,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, durs))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val accs = Seq(all) ++ Option(stageKey.get(e.stageId)).map(byKey.get)
      accs.foreach { a =>
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
    if (detail)
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
  }
}

object BenchListener {
  /** Local property naming the call a job belongs to. */
  val Key = "perfbench.key"
}
