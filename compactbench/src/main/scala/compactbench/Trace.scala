package compactbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `rep` is the repetition the span belongs to;
  * `parent` is the id of the enclosing span on the calling thread (-1 for a
  * repetition's root). */
final case class Span(id: Int, name: String, parent: Int, rep: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory around the benchmark's calls into the engine and
  * tags every Spark job started inside a span with the span's name through
  * the `compactbench.span` local property (threads spawned inside a span —
  * the compaction's plan pool — inherit it). With `enabled = false` the
  * tracer only runs the body, so untraced repetitions pay nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0
  @volatile var rep: Int = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try Tracer.tagged(sc, name)(body)
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        synchronized { spans += Span(id, name, parents.headOption.getOrElse(-1), rep, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  val SpanKey = "compactbench.span"
  /** Tag for jobs of untraced repetitions inside a traced run. */
  val Untraced = "untraced"

  /** Runs `body` with the Spark jobs it starts on this thread (and threads
    * it spawns) tagged `tag`. */
  def tagged[A](sc: SparkContext, tag: String)(body: => A): A = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, tag)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }
}

/** Spark runtime counters summed per span name. */
final class SpanCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Attributes jobs, stages and tasks to the span tag their job carried; jobs
  * started with no tag are counted under `unattributed`. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, SpanCounters]()

  private def of(span: String): SpanCounters =
    counters.computeIfAbsent(span, _ => new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .getOrElse("unattributed")
    val c = of(tag)
    c.synchronized {
      c.jobs += 1
      c.stages += e.stageInfos.size
    }
    e.stageInfos.foreach(s => stageSpan.put(s.stageId, tag))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = of(Option(stageSpan.get(e.stageId)).getOrElse("unattributed"))
    c.synchronized {
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Map[String, SpanCounters] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.toMap
  }
}
