package lakebench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval. Times are epoch milliseconds with sub-millisecond
  * precision, so spans built from Spark's own epoch-ms phase timestamps
  * (`QueryPlanningTracker`) line up with the benchmark's.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, t0: Double, t1: Double)

/** Spans and op ids, kept in memory and written out once the run ends.
  *
  * Disabled, every call is a plain pass-through, so the untraced ops of
  * a traced run execute the same code as a run with tracing off.
  * The open span of a thread is published to Spark as the local
  * properties `lakebench.op` / `lakebench.span`, which every job
  * submitted from that thread inherits; [[StageTags]] reads them back.
  */
final class Tracer(sc: SparkContext) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private final case class Open(id: Long, op: Long, name: String)
  private val open = new ThreadLocal[List[Open]] { override def initialValue(): List[Open] = Nil }
  @volatile var enabled = false

  private def newId(): Long = synchronized { nextId += 1; nextId }

  def all: Seq[Span] = synchronized(spans.toList)

  /** A root span for op `opId`: every span opened inside it carries the id. */
  def op[A](name: String, opId: Long)(body: => A): A =
    if (!enabled) body else scoped(name, opId, 0L)(body)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else open.get match {
      case Open(p, o, _) :: _ => scoped(name, o, p)(body)
      case Nil => body
    }

  /** A span whose interval was measured elsewhere (commit tail, Catalyst
    * phases), attached under the thread's open span.
    */
  def record(name: String, t0: Double, t1: Double): Unit =
    if (enabled) open.get match {
      case Open(p, o, _) :: _ => synchronized(spans += Span(newId(), p, o, name, t0, t1))
      case Nil => ()
    }

  private def scoped[A](name: String, opId: Long, parent: Long)(body: => A): A = {
    val id = newId()
    val stack = open.get
    open.set(Open(id, opId, name) :: stack)
    sc.setLocalProperty("lakebench.op", opId.toString)
    sc.setLocalProperty("lakebench.span", name)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      synchronized(spans += Span(id, parent, opId, name, t0, t1))
      open.set(stack)
      stack match {
        case Open(_, o, n) :: _ =>
          sc.setLocalProperty("lakebench.op", o.toString)
          sc.setLocalProperty("lakebench.span", n)
        case Nil =>
          sc.setLocalProperty("lakebench.op", null)
          sc.setLocalProperty("lakebench.span", null)
      }
    }
  }
}

/** Per-stage Spark counters, each stage tagged with the op and span that
  * were open on the submitting thread (stream-thread jobs carry the
  * streaming query id instead) and with the stage's call site, which
  * names the public API call that submitted it — a cross-check on the
  * span tag.
  */
final case class StageStat(
    stage: Int, op: String, span: String, callSite: String, submitted: Double,
    var tasks: Long = 0, var cpuMs: Double = 0, var gcMs: Double = 0,
    var inputBytes: Long = 0, var shuffleBytes: Long = 0, var spillBytes: Long = 0)

final class StageTags extends SparkListener {
  private val stages = mutable.LinkedHashMap.empty[Int, StageStat]
  private val jobOf = mutable.HashMap.empty[Int, (Int, String, String)]

  private def tag(p: java.util.Properties, key: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = tag(e.properties, "lakebench.op")
      .orElse(tag(e.properties, "sql.streaming.queryId").map(_ => "stream"))
      .getOrElse("")
    val span = tag(e.properties, "lakebench.span").getOrElse("")
    e.stageIds.foreach(s => jobOf(s) = (e.jobId, op, span))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val (_, op, span) = jobOf.getOrElse(e.stageInfo.stageId, (-1, "", ""))
    stages.getOrElseUpdate(e.stageInfo.stageId,
      StageStat(e.stageInfo.stageId, op, span, e.stageInfo.name,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (m != null) {
        s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot(): Seq[StageStat] = synchronized(stages.values.map(_.copy()).toList)
  def jobs(): Seq[(Int, String)] = synchronized(
    jobOf.values.map { case (j, op, _) => (j, op) }.toSeq.distinct)
  def clear(): Unit = synchronized { stages.clear(); jobOf.clear() }
}
