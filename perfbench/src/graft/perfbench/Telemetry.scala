package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a call into a layer, made from the benchmark. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long) {
  @volatile var endNs: Long = 0L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** What the listener attributes to one span. Times are task-summed. */
final class SpanStats {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var deserMs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var blockBytes = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  /** Milliseconds during which at least one of the span's jobs ran. */
  def busyMs: Long = {
    var busy = 0L
    var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { busy += e - s; end = e }
      else if (e > end) { busy += e - end; end = e }
    }
    busy
  }

  def jobMs: Long = jobIntervals.map { case (s, e) => e - s }.sum
}

/** The benchmark's own Spark listener.
  *
  * Always: per-call shuffle write, largest stage shuffle write and peak
  * task execution memory, which the end-to-end metrics need.
  * While `tracing`: spans opened by [[span]] put their id in an
  * inheritable local property, so jobs submitted from any thread the
  * call spawns (core.Par's fresh pools included) carry it; each job's
  * stages, tasks, task metrics and RDD block writes are attributed to
  * that span. The engine itself is not instrumented. */
final class Telemetry(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"

  @volatile var tracing = false

  private var shuffle = 0L
  private var maxStageShuffle = 0L
  private var peakTaskMem = 0L

  private val stats = mutable.Map[Int, SpanStats]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobSpan = mutable.Map[Int, (Int, Long)]()
  private var lastJobSpan = -1

  val spans = mutable.ArrayBuffer[Span]()
  /** The calling thread's innermost span; threads a span's body starts inherit it. */
  private val current = new InheritableThreadLocal[Int] { override def initialValue(): Int = -1 }

  /** Run `f` inside a new span, child of the calling thread's current span. */
  def span[A](name: String)(f: => A): A =
    if (!tracing) f
    else {
      val prev = current.get
      val s = spans.synchronized {
        val s = Span(spans.size, name, prev, System.nanoTime())
        spans += s
        s
      }
      val prevProp = sc.getLocalProperty(Key)
      current.set(s.id)
      sc.setLocalProperty(Key, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        current.set(prev)
        sc.setLocalProperty(Key, prevProp)
      }
    }

  def reset(): Unit = synchronized { shuffle = 0L; maxStageShuffle = 0L; peakTaskMem = 0L }

  /** (shuffle write bytes, largest stage shuffle write, peak task memory) since [[reset]]. */
  def totals: (Long, Long, Long) = synchronized { (shuffle, maxStageShuffle, peakTaskMem) }

  def statsOf(span: Span): SpanStats = synchronized(stats.getOrElse(span.id, new SpanStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)
    id.foreach { s =>
      stats.getOrElseUpdate(s, new SpanStats).jobs += 1
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
    }
    lastJobSpan = id.getOrElse(-1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0) =>
      stats(s).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val w = e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    shuffle += w
    maxStageShuffle = math.max(maxStageShuffle, w)
    stageSpan.remove(e.stageInfo.stageId).foreach(stats(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
      stageSpan.get(e.stageId).foreach { s =>
        val st = stats(s)
        val i = e.taskInfo
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.deserMs += m.executorDeserializeTime
        st.schedMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spill += m.diskBytesSpilled
      }
    }
  }

  /** RDD blocks stored while a span's job runs: the checkpoints the call
    * writes to the block store. Block events carry no job id; they are
    * charged to the span of the latest job started, exact while one
    * span's jobs run at a time, which is how the benchmark calls. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (lastJobSpan >= 0 && b.blockId.isRDD && b.storageLevel.isValid)
      stats(lastJobSpan).blockBytes += b.memSize + b.diskSize
  }
}
