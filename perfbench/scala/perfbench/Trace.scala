package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer. Times are `System.nanoTime`; Spark work
  * is credited by [[Tracer]]'s listener to the span that was innermost
  * when the job was submitted. */
final class Span(val id: Int, val parent: Int, val run: Int, val name: String,
                 val start: Long) {
  var end: Long = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** (submit, end) wall-clock milliseconds of each job credited here. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "run" -> run, "name" -> name,
    "start_ns" -> start, "end_ns" -> end, "jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "executor_cpu_ns" -> cpuNs,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "job_intervals_ms" -> jobIntervals.map { case (a, b) => Seq(a, b) })
}

/** Spans around the benchmark's calls into each layer, plus a listener
  * that counts the Spark work each span caused.
  *
  * The span id rides on a SparkContext local property, which Spark copies
  * into every job and stage it submits from this thread; the listener reads
  * it back from the job-start and stage-submit events. Spans and counts
  * stay in memory until the benchmark writes them out at the end.
  *
  * Tracing is switched per unit of work: while it is off, [[span]] only
  * runs its body and no listener is registered, so an untraced unit pays
  * nothing for it. */
final class Tracer(sc: SparkContext) {
  private val Key = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var on = false

  private val listener = new SparkListener {
    private val stageSpan = mutable.Map.empty[Int, Span]
    private val jobStart = mutable.Map.empty[Int, (Span, Long)]

    private def spanOf(props: java.util.Properties): Option[Span] =
      Option(props).flatMap(p => Option(p.getProperty(Key)))
        .flatMap(id => spans.lift(id.toInt))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        spanOf(e.properties).foreach { s =>
          s.jobs += 1
          jobStart(e.jobId) = (s, e.time)
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobStart.remove(e.jobId).foreach { case (s, t0) =>
          s.jobIntervals += ((t0, e.time))
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        spanOf(e.properties).foreach { s =>
          s.stages += 1
          stageSpan(e.stageInfo.stageId) = s
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        (stageSpan.get(e.stageId), Option(e.taskMetrics)) match {
          case (Some(s), Some(m)) =>
            s.tasks += 1
            s.cpuNs += m.executorCpuTime
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.diskBytesSpilled
          case _ =>
        }
      }
  }

  /** Switch tracing for the next unit of work. Turning it off first waits
    * for the listener to see every event of the unit just run. */
  def set(enable: Boolean): Unit = if (enable != on) {
    if (enable) sc.addSparkListener(listener)
    else {
      org.apache.spark.BusDrain(sc)
      sc.removeSparkListener(listener)
    }
    on = enable
  }

  /** Run `body` inside a span named `name` (a no-op wrapper when off). */
  def span[A](name: String, run: Int)(body: => A): A =
    if (!on) body
    else {
      val s = open(name, run)
      try body finally close(s)
    }

  private def open(name: String, run: Int): Span = synchronized {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), run, name,
      System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Key, s.id.toString)
    s
  }

  private def close(s: Span): Unit = synchronized {
    s.end = System.nanoTime()
    stack = stack.tail
    sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
  }
}
