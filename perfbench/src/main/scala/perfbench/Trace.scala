package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One traced region: a layer call inside an op, or the op itself. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, endMs: Long, seconds: Double)

/** Spark counters of the jobs submitted inside one span (self only). */
final class SpanStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var inputRecords = 0L
  var outputBytes = 0L
  val jobIntervals = ArrayBuffer[(Long, Long)]()
}

/** Attributes every job, stage and task to the span whose job group was
  * set when the job was submitted. Jobs outside a span are ignored. */
final class SpanListener extends SparkListener {
  val stats = new ConcurrentHashMap[Int, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()

  private def of(span: Int): SpanStats =
    stats.computeIfAbsent(span, _ => new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group.startsWith(Tracer.GroupPrefix)) {
      val span = group.stripPrefix(Tracer.GroupPrefix).toInt
      jobSpan.put(e.jobId, (span, e.time))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      of(span).synchronized { of(span).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (span, start) =>
      val s = of(span)
      s.synchronized { s.jobIntervals += ((start, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val s = of(span)
      s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val m = e.taskMetrics
      val s = of(span)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.taskRunMs += m.executorRunTime
          s.taskCpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
          s.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
}

/** The span recorder of the traced run. Spans come only from benchmark
  * code around layer calls; they are kept in memory and written out at
  * the end. While inactive every method is a pass-through, so untraced
  * ops run exactly the code a library caller would. */
final class Tracer(spark: SparkSession) {
  val listener = new SpanListener
  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var opId = -1
  var active = false

  spark.sparkContext.addSparkListener(listener)

  def beginOp(op: Int): Unit = { opId = op; active = true }
  def endOp(): Unit = { active = false; stack = Nil; setGroup() }

  private def setGroup(): Unit = stack.headOption match {
    case Some(id) => spark.sparkContext.setJobGroup(
      Tracer.GroupPrefix + id, "perfbench span", interruptOnCancel = false)
    case None => spark.sparkContext.clearJobGroup()
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack; setGroup()
      val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        val dt = (System.nanoTime() - t0) / 1e9
        spans += Span(id, name, parent, opId, ms0, System.currentTimeMillis(), dt)
        stack = stack.tail; setGroup()
      }
    }

  /** The boundary of a lazy layer: materialised in the traced run only,
    * so the layer's own cost lands in its span. */
  def boundary(df: DataFrame): DataFrame =
    if (active) df.localCheckpoint(eager = true) else df

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def statsOf(id: Int): SpanStats = {
    val s = listener.stats.get(id)
    if (s == null) new SpanStats else s
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"

  /** Length of the union of [start, end) intervals, in ms. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
