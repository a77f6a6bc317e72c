package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Task metrics of one stage, as far as it ran inside one span. */
final class StageStats {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillDiskBytes = 0L
  var peakExecMemBytes = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

/** Spark work charged to one span: its jobs and their stages' tasks. */
final class SpanSpark {
  var jobs = 0
  val jobMs = mutable.ArrayBuffer.empty[Long]
  val stages = mutable.LinkedHashMap.empty[Int, StageStats]

  def tasks: Int = stages.values.map(_.tasks).sum
  def runMs: Long = stages.values.map(_.runMs).sum
  def cpuNs: Long = stages.values.map(_.cpuNs).sum
  def gcMs: Long = stages.values.map(_.gcMs).sum
  def shuffleReadBytes: Long = stages.values.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = stages.values.map(_.shuffleWriteBytes).sum
  def spillDiskBytes: Long = stages.values.map(_.spillDiskBytes).sum
  def peakExecMemBytes: Long = (0L +: stages.values.map(_.peakExecMemBytes).toSeq).max

  def add(o: SpanSpark): Unit = {
    jobs += o.jobs
    jobMs ++= o.jobMs
    o.stages.foreach { case (id, st) => stages.getOrElseUpdate(id, st) }
  }
}

/** Charges every job, and the tasks of its stages, to the span whose
  * key was the job's [[SpanRecorder.Property]] when it started. Events
  * arrive on Spark's listener bus thread; readers call
  * [[perfbench.Session.drain]] first.
  */
final class SparkStats extends SparkListener {
  private val bySpan = mutable.HashMap.empty[String, SpanSpark]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SpanRecorder.Property))).getOrElse("")
    bySpan.getOrElseUpdate(span, new SpanSpark).jobs += 1
    jobStart(e.jobId) = (span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      bySpan.getOrElseUpdate(span, new SpanSpark).jobMs += e.time - t0
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageSpan.get(e.stageId).filter(_ => m != null).foreach { span =>
      val st = bySpan.getOrElseUpdate(span, new SpanSpark).stages
        .getOrElseUpdate(e.stageId, new StageStats)
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.taskRunMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillDiskBytes += m.diskBytesSpilled
      st.peakExecMemBytes = math.max(st.peakExecMemBytes, m.peakExecutionMemory)
    }
  }

  /** Removes and returns what was charged to `span`. */
  def take(span: String): SpanSpark = synchronized {
    stageSpan.filterInPlace { case (_, s) => s != span }
    bySpan.remove(span).getOrElse(new SpanSpark)
  }
}
