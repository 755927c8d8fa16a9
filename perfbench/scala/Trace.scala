package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded span: a call from the benchmark into one layer. */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    op: Long, startNs: Long, startMs: Long, var endNs: Long)

/** Spans kept in memory for the whole run and written out at exit.
  * When disabled every call is a plain pass-through, so the untraced
  * run pays nothing but one boolean test per call. */
final class Tracer(val enabled: Boolean) {
  val PropKey = "perfbench.span"
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }

  def span[T](sc: SparkContext, name: String, layer: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption
      val s = Span(ids.incrementAndGet(), name, layer,
        parent.map(_.id).getOrElse(0L), op, System.nanoTime(),
        System.currentTimeMillis, 0L)
      spans.synchronized(spans += s)
      stack.set(s :: stack.get)
      val prevProp = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        sc.setLocalProperty(PropKey, prevProp)
        stack.set(stack.get.tail)
      }
    }

  /** Span duration minus the part its direct children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => k.endNs - k.startNs).sum
    (s.endNs - s.startNs) - kids
  }
}

/** Listener counters for one attribution key (a span id). */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskCpuNs, gcMs, schedDelayMs, fetchWaitMs = 0L
  var shuffleWriteB, spillB, inputB, outputB, inputRecords = 0L
  val stageSkew = mutable.ArrayBuffer.empty[Double]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs; fetchWaitMs += o.fetchWaitMs
    shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
    inputB += o.inputB; outputB += o.outputB; inputRecords += o.inputRecords
    stageSkew ++= o.stageSkew
  }
}

/** A job as the listener saw it: its span, its call site and its times. */
final case class JobInfo(id: Int, span: Long, callSite: String,
    startMs: Long, var endMs: Long)

/** Engine counters from the scheduler's events. Each job is attributed
  * to the span that was open on the submitting thread (the span id
  * travels as a job-local property); its stages and tasks follow it.
  * Until [[traced]] is set only the input-record total is kept. */
final class EngineListener(propKey: String) extends SparkListener {
  @volatile var traced = false
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  val bySpan = new ConcurrentHashMap[Long, Counters]()
  val jobs = new ConcurrentHashMap[Int, JobInfo]()
  val inputRecords = new AtomicLong(0)

  private def counters(span: Long): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(propKey))).map(_.toLong).getOrElse(0L)
    // the result stage is named after the job's call site
    val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    jobs.put(e.jobId, JobInfo(e.jobId, span, site, e.time, -1L))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    counters(span).synchronized { counters(span).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) {
    val id = e.stageInfo.stageId
    val span = Option(stageSpan.get(id)).map(_.longValue).getOrElse(0L)
    val c = counters(span)
    val durs = Option(stageTaskMs.remove(id)).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    c.synchronized {
      c.stages += 1
      if (durs.size >= 4) {
        val med = durs(durs.size / 2).max(1L)
        c.stageSkew += durs.last.toDouble / med
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) inputRecords.addAndGet(m.inputMetrics.recordsRead)
    if (traced) {
      val span = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
      val c = counters(span)
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (!info.successful) c.failedTasks += 1
        if (m != null) {
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
          c.schedDelayMs += math.max(0L, info.duration - busy - info.gettingResultTime)
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputB += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputB += m.outputMetrics.bytesWritten
        }
      }
      val durs = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      durs.synchronized { durs += info.duration }
    }
  }

  def total(spanIds: Iterable[Long]): Counters = {
    val out = new Counters
    spanIds.foreach(id => Option(bySpan.get(id)).foreach(out.add))
    out
  }

  def jobsOf(span: Long): Seq[JobInfo] =
    jobs.values.asScala.filter(_.span == span).toSeq.sortBy(_.id)
}

/** Micro-batch progress of every streaming query, as reported. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.synchronized { progress += e.progress }
  def clear(): Unit = progress.synchronized(progress.clear())
  def snapshot: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.synchronized(progress.toList)
}
