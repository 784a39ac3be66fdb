package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: a pass, an operation inside it, or a layer call.
  * Spans of one pass share `pass`; `parent` is the enclosing span's id
  * (0 for a top-level span). */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs; inputBytes += o.inputBytes
    inputRecords += o.inputRecords
  }
}

/** Spans plus a `SparkListener` that charges every job, stage and task to
  * the innermost span open on the submitting thread (carried to the
  * scheduler as a local property). Everything stays in memory until the
  * run writes it out.
  *
  * With `enabled = false` no listener is attached and `span` only runs
  * its body, so untraced runs time exactly the calls they make. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Property

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private var nextId = 0
  private var open = List.empty[Int]
  private var attached = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
        .foreach { s =>
          val id = s.toInt
          e.stageIds.foreach(stageSpan.put(_, id))
          charge(id)(_.jobs += 1)
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(id =>
        charge(id)(_.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val m = e.taskMetrics
        if (m != null) charge(id) { c =>
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
        }
      }
  }

  private def charge(id: Int)(f: Counters => Unit): Unit = {
    val c = counters.computeIfAbsent(id, _ => new Counters)
    c.synchronized(f(c))
  }

  /** Attach or detach the listener (between passes only). */
  def attach(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) sc.addSparkListener(listener)
    else {
      drain()
      sc.removeSparkListener(listener)
    }
    attached = on
  }

  /** Wait until every posted event has reached the listener. */
  def drain(): Unit =
    if (attached) org.apache.spark.perfbench.ListenerBus.drain(sc)

  /** Run `body` inside a span named `name`; returns the result and the
    * span. The span is recorded only while the listener is attached. */
  def span[T](name: String, pass: Int)(body: => T): (T, Span) = {
    val parent = open.headOption.getOrElse(0)
    nextId += 1
    val id = nextId
    if (attached) {
      open = id :: open
      sc.setLocalProperty(Property, id.toString)
    }
    val t0 = System.nanoTime()
    try {
      val r = body
      val s = Span(id, name, parent, pass, t0, System.nanoTime())
      if (attached) spans.add(s)
      (r, s)
    } finally if (attached) {
      open = open.tail
      sc.setLocalProperty(Property,
        open.headOption.map(_.toString).orNull)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Counters of `root` plus every span nested under it. */
  def subtree(root: Int): Counters = {
    val byParent = allSpans.groupBy(_.parent)
    val total = new Counters
    def walk(id: Int): Unit = {
      Option(counters.get(id)).foreach(total.add)
      byParent.getOrElse(id, Nil).foreach(s => walk(s.id))
    }
    walk(root)
    total
  }

  /** Spans and their own counters as one JSON document. */
  def json: String = allSpans.map { s =>
    val c = Option(counters.get(s.id)).getOrElse(new Counters)
    Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> c.jobs,
      "stages" -> c.stages, "tasks" -> c.tasks, "task_ms" -> c.taskMs,
      "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "spill_bytes" -> c.spillBytes, "gc_ms" -> c.gcMs,
      "input_bytes" -> c.inputBytes, "input_records" -> c.inputRecords)
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val Property = "perfbench.span"
}
