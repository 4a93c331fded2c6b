package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into each layer, plus
  * the Spark work each span caused.
  *
  * A span sets the Spark job group to its own name for its duration, so
  * every job, stage and task it submits is attributed to it; a nested span
  * takes over the job group until it ends. Spans are kept in memory and
  * summarized when the run ends. When tracing is off, `span` only runs its
  * body.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace.{Span, Work}

  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[String]()
  private val work = mutable.HashMap[String, Work]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val names = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  @volatile private var current: Option[String] = None
  private def known(group: String): Boolean = names.contains(group)

  private val listener = new SparkListener {
    override def onJobStart(job: SparkListenerJobStart): Unit = {
      // jobs a streaming query submits carry the query's own job group:
      // those belong to the innermost span open when they start
      val group = Option(job.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).filter(known(_))
        .orElse(current).getOrElse(Trace.Unattributed)
      job.stageIds.foreach(stageGroup.put(_, group))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = work.synchronized {
      add(s.stageInfo.stageId, Work(stages = 1))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = work.synchronized {
      Option(t.taskMetrics).foreach { m =>
        add(t.stageId, Work(tasks = 1, executorRunMs = m.executorRunTime, inputBytes = m.inputMetrics.bytesRead,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def add(stageId: Int, w: Work): Unit = {
    val group = Option(stageGroup.get(stageId)).getOrElse(Trace.Unattributed)
    work(group) = work.getOrElse(group, Work()) + w
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.headOption
      open.push(name)
      names.add(name)
      current = Some(name)
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.pop()
        current = parent
        parent match {
          case Some(p) => sc.setJobGroup(p, p, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
        spans.synchronized(spans += Span(name, parent, t0, t1))
      }
    }

  /** Drop everything recorded so far (after untimed set-up work). */
  def reset(): Unit = {
    Trace.drainBus(sc)
    work.synchronized(work.clear())
    spans.synchronized(spans.clear())
  }

  /** Position in the span log; `selfSeconds(from)` reads spans after it. */
  def mark: Int = spans.synchronized(spans.size)

  private def since(from: Int): List[Span] = spans.synchronized(spans.drop(from).toList)

  /** Self time per span name over the spans recorded after `from`: each
    * span's duration minus the part its direct children cover.
    */
  def selfSeconds(from: Int = 0): Map[String, Double] = {
    val ss = since(from)
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.groupBy(_.name).map { case (n, group) =>
      n -> (group.map(s => s.endNs - s.startNs).sum - childNs.getOrElse(Some(n), 0L)) / 1e9
    }
  }

  /** Wall time covered by the outermost spans whose names start with `prefix`. */
  def wallUnder(prefix: String): Double =
    since(0).filter(s => s.name.startsWith(prefix) && !s.parent.exists(_.startsWith(prefix)))
      .map(_.seconds).sum

  /** Listener totals per span name so far (jobs outside every span under
    * `Trace.Unattributed`), once every posted event has been delivered.
    */
  def totals(): Map[String, Work] = {
    Trace.drainBus(sc)
    work.synchronized(work.toMap)
  }

  /** Listener totals over every span and the unattributed jobs. */
  def total(): Work = if (!enabled) Work() else totals().values.foldLeft(Work())(_ + _)

  /** Listener totals over every span whose name starts with `prefix`. */
  def workUnder(prefix: String): Work =
    totals().collect { case (n, w) if n.startsWith(prefix) => w }.foldLeft(Work())(_ + _)

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Trace {
  val Unattributed = "unattributed"

  final case class Span(name: String, parent: Option[String], startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Spark work attributed to one span name. */
  final case class Work(stages: Long = 0, tasks: Long = 0, executorRunMs: Long = 0, inputBytes: Long = 0,
                        shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
    private def zip(o: Work, f: (Long, Long) => Long): Work = Work(f(stages, o.stages), f(tasks, o.tasks),
      f(executorRunMs, o.executorRunMs), f(inputBytes, o.inputBytes), f(shuffleReadBytes, o.shuffleReadBytes),
      f(shuffleWriteBytes, o.shuffleWriteBytes), f(spillBytes, o.spillBytes))
    def +(o: Work): Work = zip(o, _ + _)
    def -(o: Work): Work = zip(o, _ - _)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drainBus(sc: SparkContext): Unit = org.apache.spark.BenchBus.drain(sc)
}
