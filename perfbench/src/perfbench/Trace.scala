package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: what the scheduler ran for the calls
  * made inside it. Times are summed task times in milliseconds.
  */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var runMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    tasksFailed += o.tasksFailed
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    runMs += o.runMs; schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    taskMs ++= o.taskMs
  }

  /** max ÷ median task run time; 1 when the span ran no task. */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
}

/** Counts jobs, stages and tasks per span. The span id travels to the
  * scheduler as a local property of the submitting thread, so every job a
  * call submits (including from threads it starts) is charged to the
  * innermost span open around that call.
  */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def at(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
    span.foreach { s =>
      at(s.toInt).jobs += 1
      e.stageInfos.foreach(si => stageSpan(si.stageId) = s.toInt)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(s => at(s).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = at(s)
      c.tasks += 1
      if (!e.taskInfo.successful) c.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.taskMs += m.executorRunTime
        c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
      }
    }
  }

  def countsOf(span: Int): Counts = synchronized(bySpan.getOrElse(span, new Counts))
}

/** One call into a layer: `kind` names the layer boundary (query,
  * layout.build, jobrunner, stage, kernel, ...), `name` the call.
  */
final case class Span(id: Int, kind: String, name: String, parent: Int,
    startNs: Long, var endNs: Long = 0L, attrs: Map[String, String] = Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written once when the run ends. With tracing
  * off, `span` only runs its body: no listener, no record, no property.
  */
final class Tracer(sc: SparkContext, val on: Boolean, val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = if (on) Some(new SpanListener) else None
  listener.foreach(sc.addSparkListener)
  private var current = 0

  def span[T](kind: String, name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size + 1, kind, name, current, System.nanoTime(), attrs = attrs)
      spans += s
      val prev = current
      current = s.id
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        current = prev
        sc.setLocalProperty(Tracer.Key, if (prev == 0) null else prev.toString)
      }
    }

  /** Counts of a span and all spans under it. Call after [[drain]]. */
  def inclusive(id: Int): Counts = {
    val c = new Counts
    val children = spans.groupBy(_.parent)
    def walk(i: Int): Unit = {
      listener.foreach(l => c.add(l.countsOf(i)))
      children.getOrElse(i, Nil).foreach(s => walk(s.id))
    }
    walk(id)
    c
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  def of(kind: String): Seq[Span] = spans.filter(_.kind == kind).toSeq

  def toJson: String = {
    val rows = spans.map { s =>
      val c = inclusive(s.id)
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
      s"""{"id":${s.id},"run":${Json.str(runId)},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":{$attrs},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""tasks_failed":${c.tasksFailed},"shuffle_read_bytes":${c.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes},""" +
        s""""executor_run_ms":${c.runMs},"sched_delay_ms":${c.schedDelayMs},"gc_ms":${c.gcMs}}"""
    }
    rows.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val Key = "perfbench.span"
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
