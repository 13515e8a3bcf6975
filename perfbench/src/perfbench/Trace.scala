package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task counters attributed to one span (exclusive of its children). */
final class Counters {
  var jobs, stages, tasks = 0L
  var inRows, inBytes, shuffleRead, shuffleWrite, spill, outBytes = 0L
  var cpuNs, durMs, schedMs, gcMs = 0L
  val jobStartMs = ArrayBuffer.empty[Long]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    inRows += o.inRows; inBytes += o.inBytes; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; outBytes += o.outBytes
    cpuNs += o.cpuNs; durMs += o.durMs; schedMs += o.schedMs; gcMs += o.gcMs
    jobStartMs ++= o.jobStartMs
  }
}

/** One benchmark call into a module: `parent` is the enclosing span's
  * id (-1 at an op's root), `op` the op index within the run.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, startMs: Long, var endNs: Long = 0L) {
  /** Rows the span's call produced, where the benchmark observed them. */
  var rowsOut: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the library, plus a
  * `SparkListener` that attributes per-task metrics to the span that
  * submitted the job (through a job-local property, so late events
  * still land on the right span). Spans stay in memory; [[write]] dumps
  * them when the run ends. Between [[start]] and [[stop]] the tracer
  * records; otherwise it only runs the bodies and listens to nothing.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private var stack: List[Span] = Nil
  private var on = false
  var op: Int = -1

  def start(): Unit = if (!on) { sc.addSparkListener(this); on = true }

  /** Waits for the op's events to be delivered, then stops listening. */
  def stop(): Unit = if (on) {
    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(this)
    on = false
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  private def of(id: Int): Counters = counters.computeIfAbsent(id, _ => new Counters)

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { id =>
      e.stageIds.foreach(st => stageSpan.put(st, id))
      val c = of(id)
      c.synchronized { c.jobs += 1; c.jobStartMs += e.time }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
      val c = of(id); c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (id <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val c = of(id)
      val i = e.taskInfo
      c.synchronized {
        c.tasks += 1
        c.inRows += m.inputMetrics.recordsRead
        c.inBytes += m.inputMetrics.bytesRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.durMs += i.duration
        // the status UI's definition of scheduler delay
        c.schedMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      }
    }

  def exclusive(id: Int): Counters = Option(counters.get(id)).getOrElse(new Counters)

  /** Counters of span `id` and all its descendants. */
  def inclusive(id: Int): Counters = {
    val kids = spans.groupBy(_.parent)
    val out = new Counters
    def walk(s: Int): Unit = {
      Option(counters.get(s)).foreach(out.add)
      kids.getOrElse(s, Nil).foreach(k => walk(k.id))
    }
    walk(id)
    out
  }

  /** One JSON line per span, with its exclusive counters. */
  def write(path: java.nio.file.Path): Unit = if (spans.nonEmpty) {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val lines = spans.map { s =>
      val c = Option(counters.get(s.id)).getOrElse(new Counters)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"input_rows":${c.inRows},"input_bytes":${c.inBytes},""" +
        s""""shuffle_read_bytes":${c.shuffleRead},"shuffle_write_bytes":${c.shuffleWrite},""" +
        s""""spill_bytes":${c.spill},"output_bytes":${c.outBytes},"cpu_ns":${c.cpuNs},""" +
        s""""gc_ms":${c.gcMs},"sched_delay_ms":${c.schedMs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
