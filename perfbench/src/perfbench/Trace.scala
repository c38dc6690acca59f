package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call into a layer. `parent` is the enclosing span; `prev` is
  * the shorter prefix of the same composition, when the span is one of a
  * chain of cumulative prefixes (the curation stages). */
final case class Span(name: String, op: Int, parent: Option[String], prev: Option[String],
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  def group: String = Tracer.group(op, name)
}

/** Engine counters of one job group (= one span instance). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  /** max ÷ median task time in the stage whose slowest task is slowest. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val worst = stageTaskMs.values.maxBy(_.max).sorted
      val median = worst(worst.size / 2).max(1L)
      worst.last.toDouble / median
    }
}

object Tracer {
  val Prefix = "perfbench:"
  def group(op: Int, name: String): String = s"$Prefix$op:$name"
}

/** Spans kept in memory, plus a `SparkListener` and a
  * `QueryExecutionListener` that attribute jobs, tasks, shuffle, spill,
  * GC and planning time to the span whose job group submitted them.
  * Listeners are attached only while a traced op runs ([[attach]]). */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val counters = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  /** (start epoch ms, duration ms) of each finished query's analysis,
    * optimization and planning phases. */
  private val planPhases = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stack: List[String] = Nil
  private var on = false

  private def counter(g: String): Counters = counters.getOrElseUpdate(g, new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(Tracer.Prefix)) {
        counter(g).jobs += 1
        e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val c = counter(g)
        c.tasks += 1
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      if (phases.nonEmpty) planPhases += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
  }

  /** Runs `body` with tracing on: listeners attached, every span recorded. */
  def attach[T](body: => T): T = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    on = true
    try body
    finally {
      on = false
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
    }
  }

  /** Times `body` as span `name` of op `op`; jobs it submits carry the
    * span's job group. A no-op wrapper unless tracing is attached. */
  def span[T](name: String, op: Int, prev: Option[String] = None)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val g = Tracer.group(op, name)
      stack = name :: stack
      sc.setJobGroup(g, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.nanoTime()
        val m1 = System.currentTimeMillis()
        stack = stack.tail
        parent match {
          case Some(p) => sc.setJobGroup(Tracer.group(op, p), p, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(name, op, parent, prev, t0, t1, m0, m1)
      }
    }

  def countersOf(s: Span): Counters = synchronized(counters.getOrElse(s.group, new Counters))

  private def children(s: Span): Seq[Span] =
    spans.filter(x => x.op == s.op && x.parent.contains(s.name)).toSeq

  /** Planning seconds of the queries whose planning began inside the span
    * and outside its children. (The query listener reports a finished
    * query without its job group, so planning is attributed by time.) */
  def planS(s: Span): Double = synchronized {
    def in(t: Long, x: Span) = t >= x.startMs && t <= x.endMs
    val kids = children(s)
    planPhases.collect { case (t, d) if in(t, s) && !kids.exists(in(t, _)) => d }.sum / 1000.0
  }

  /** Span duration minus its children, or minus its shorter prefix. */
  def selfS(s: Span): Double = s.prev match {
    case Some(p) =>
      s.wallS - spans.find(x => x.op == s.op && x.name == p).map(_.wallS).getOrElse(0.0)
    case None =>
      s.wallS - children(s).map(_.wallS).sum
  }
}
