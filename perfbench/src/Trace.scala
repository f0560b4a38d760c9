package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, plus the Spark work
  * each span caused. One thread drives the engine, so spans nest strictly.
  * The innermost open span's id rides the `perfbench.span` local property;
  * Spark copies local properties into every job it submits from this
  * thread, so the listener can attribute each job, stage and task to the
  * span that was open when the job started. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  final case class Span(id: Long, parent: Long, name: String, start: Long) {
    var end: Long = 0L
    def dur: Long = end - start
  }

  /** Spark work attributed to one span. */
  final class Counts {
    var jobs, stages, tasks, failedTasks = 0L
    var taskMs, shuffleRead, shuffleWrite, spill = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      failedTasks += o.failedTasks; taskMs += o.taskMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill
    }
  }

  /** When false, `span` runs its body with no span and no attribution. */
  var enabled = false
  private var nextId = 0L
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val counts = new ConcurrentHashMap[java.lang.Long, Counts]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(-1L), name,
        System.nanoTime())
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
        spans += s
      }
    }

  private def countsOf(span: java.lang.Long): Counts =
    counts.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach {
      id =>
        val span = java.lang.Long.valueOf(id.toLong)
        e.stageIds.foreach(st => stageSpan.put(st, span))
        countsOf(span).synchronized(countsOf(span).jobs += 1)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val c = countsOf(span)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = countsOf(span)
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskMs += m.executorRunTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Spark work of span `id` alone (not its children). */
  def countsFor(id: Long): Counts =
    Option(counts.get(java.lang.Long.valueOf(id))).getOrElse(new Counts)

  /** Self time of every span: its duration minus its children's. */
  def selfNanos: Map[Long, Long] = {
    val child = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.dur)
    spans.map(s => s.id -> (s.dur - child(s.id))).toMap
  }

  /** Every span in the subtree rooted at `root` (root included). */
  def subtree(root: Long): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Long): Seq[Span] =
      kids.getOrElse(id, Nil).toSeq.flatMap(s => s +: walk(s.id))
    spans.filter(_.id == root).toSeq ++ walk(root)
  }
}

object Trace {
  val Prop = "perfbench.span"
}
