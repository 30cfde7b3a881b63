package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: every job submitted while the span was
 * the innermost open one on the submitting thread. */
final class SpanCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L          // launch to finish, as the scheduler saw it
  var runMs = 0L           // executor run time
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillDiskB = 0L
  var spillMemB = 0L
  var peakExecMemB = 0L    // max over tasks
  val stageSkew = mutable.ArrayBuffer[Double]() // max / mean task run time, per stage
}

final case class Span(id: Int, name: String, parent: Int, workload: String,
                      startNs: Long, var endNs: Long = -1L)

/**
 * Spans recorded around the benchmark's calls into the engine, plus a
 * SparkListener that charges each job, stage and task to the span open when
 * the job was submitted (via a thread-local job property). Spans live in
 * memory and are written out when the run ends.
 */
final class Tracer(workload: String, val enabled: Boolean) extends SparkListener {
  private val SpanKey = "perfbench.span"
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer[Span]()
  val counters = mutable.HashMap[Int, SpanCounters]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val stageRun = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private var open = List.empty[Span]
  private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) sc.addSparkListener(this)
  }

  /** Time `body` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), workload,
      System.nanoTime() - t0)
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime() - t0
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  private def of(span: Int): SpanCounters = counters.getOrElseUpdate(span, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
    of(span).jobs += 1
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    c.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillDiskB += m.diskBytesSpilled
      c.spillMemB += m.memoryBytesSpilled
      c.peakExecMemB = math.max(c.peakExecMemB, m.peakExecutionMemory)
      stageRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val c = of(stageSpan.getOrElse(id, -1))
    c.stages += 1
    stageRun.remove(id).filter(_.size >= 2).foreach { runs =>
      val mean = runs.sum.toDouble / runs.size
      if (mean > 0) c.stageSkew += runs.max / mean
    }
  }
}
