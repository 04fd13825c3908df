package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark execution counters of one group of jobs. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
    inputRows += o.inputRows; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    this
  }
}

/** Aggregates job, stage and task metrics by the tag the client thread
  * sets in the local property [[LayerListener.TagProp]] before it calls
  * into a layer. Events arrive on Spark's listener thread; [[drain]]
  * waits until every started job has ended and the event stream is quiet,
  * so counters are read only after the work they describe is counted.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val byTag = mutable.HashMap.empty[String, Counters]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private var jobsStarted = 0L
  private var jobsEnded = 0L
  private var events = 0L

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(TagProp))).getOrElse(Untagged)

  private def counters(tag: String): Counters = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1; jobsStarted += 1
    counters(tagOf(e.properties)).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1; jobsEnded += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    val tag = tagOf(e.properties)
    stageTag(e.stageInfo.stageId) = tag
    counters(tag).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val c = counters(stageTag.getOrElse(e.stageId, Untagged))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.taskRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
      c.inputRows += m.inputMetrics.recordsRead
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Blocks until all started jobs have ended and no event arrived for
    * `quietMs`, or `timeoutMs` passed.
    */
  def drain(quietMs: Long = 200, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val (ev, open) = synchronized((events, jobsStarted - jobsEnded))
      val now = System.currentTimeMillis()
      if (ev != last) { last = ev; quietSince = now }
      else if (open == 0 && now - quietSince >= quietMs) return
      Thread.sleep(20)
    }
  }

  /** Counters of every tag `keep` accepts, summed. */
  def sum(keep: String => Boolean): Counters = synchronized {
    byTag.collect { case (t, c) if keep(t) => c }.foldLeft(new Counters)(_ add _)
  }

  def reset(): Unit = synchronized { byTag.clear(); stageTag.clear() }
}

object LayerListener {
  val TagProp = "perfbench.tag"
  val Untagged = "untagged"

  def tag(sc: SparkContext, t: String): Unit = sc.setLocalProperty(TagProp, t)
}

/** One timed interval of the trace tree. */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; spans are written out once, when the run ends. */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, String, Long)] = Nil
  private var nextId = 1

  def apply[A](name: String, op: String = "")(body: => A): A = {
    val id = nextId; nextId += 1
    open = (id, name, op, System.nanoTime()) :: open
    try body
    finally {
      val (sid, n, o, t0) :: rest = open: @unchecked
      open = rest
      done += Span(sid, rest.headOption.map(_._1).getOrElse(0), n, o, t0, System.nanoTime())
    }
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Seconds each span name spends outside its child spans, summed. */
  def selfSeconds: Map[String, Double] = {
    val childTime = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
