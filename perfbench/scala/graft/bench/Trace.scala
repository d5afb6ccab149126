package graft.bench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One span: a named interval on the driver clock with the span that caused
  * it. `layer` names the repo module the span's body runs in. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    start: Double, end: Double)

/** In-memory spans. Untraced runs record nothing and set no job property;
  * the traced run tags every Spark job with the innermost open span, so the
  * listener can hang the job under the benchmark call that submitted it. */
final class Tracer(val wanted: Boolean) {
  var enabled = wanted
  private var sc: SparkContext = null
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Spark jobs the listener recorded while tracing was on. */
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stack = mutable.Stack[Int]()
  private var nextId = 1

  def attach(s: SparkContext): Unit = sc = s

  /** Milliseconds since the tracer started, on the driver's monotonic clock. */
  def nowMs: Double = (System.nanoTime() - origin) / 1e6
  /** Converts a listener event's wall-clock stamp to the tracer's clock. */
  private val wallAtOrigin = System.currentTimeMillis() - (System.nanoTime() - origin) / 1000000L
  def fromWall(ms: Long): Double = (ms - wallAtOrigin).toDouble

  def current: Int = if (stack.isEmpty) 0 else stack.top

  private def tag(): Unit = if (sc != null)
    sc.setLocalProperty(Tracer.SpanProp, if (stack.isEmpty) null else stack.top.toString)

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = current
    val t0 = nowMs
    stack.push(id)
    tag()
    try body
    finally {
      stack.pop()
      tag()
      spans += Span(id, name, layer, parent, t0, nowMs)
    }
  }

  /** Benchmark spans plus one span per Spark job the listener saw, each job
    * clipped to its parent's interval. */
  def all: Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val jobSpans = jobs.flatMap { j =>
      byId.get(j.span).map { p =>
        val s = math.max(p.start, fromWall(j.startMs))
        val e = math.min(p.end, fromWall(j.endMs))
        Span(-j.id - 1, s"job ${j.id} ${j.callSite}", "spark.job", p.id, s, math.max(s, e))
      }
    }
    spans.toSeq ++ jobSpans
  }
}

object Tracer {
  val SpanProp = "graft.bench.span"

  /** Self time of each span: its duration minus the union of its children's
    * intervals (AQE can run sibling jobs concurrently). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
      var covered = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cs.isNaN) { cs = a; ce = b }
        else if (a > ce) { covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (!cs.isNaN) covered += ce - cs
      s.id -> math.max(0.0, (s.end - s.start) - covered)
    }.toMap
  }

  def toJson(spans: Seq[Span], self: Map[Int, Double]): String =
    spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        f""""parent":${s.parent},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,""" +
        f""""self_ms":${self(s.id)}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

/** One finished Spark job as the listener saw it. */
final case class JobRec(id: Int, span: Int, callSite: String, startMs: Long,
    endMs: Long, stages: Seq[Int])

/** Task counters of one stage. */
final class StageAgg {
  var cpuNs, gcMs, shuffleWrite, spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** The benchmark's single listener. Task CPU is always summed (it feeds the
  * untraced `cpu_s`); per-job and per-stage records are kept only when
  * `detailed`. `reset` clears every map, and `drain` empties the listener
  * bus first, so a rep never sees another rep's events. */
final class BenchListener(sc: SparkContext) extends SparkListener {
  @volatile var detailed = false
  private var cpuNs = 0L
  private val jobStart = mutable.Map.empty[Int, (Int, String, Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.Map.empty[Int, StageAgg]
  /** SQL execution id → the call site of the action that started its root
    * execution (AQE submits a query's stages from other threads, whose own
    * call sites name no user code). */
  private val execSite = mutable.Map.empty[String, String]

  def drain(): Unit = BenchBus.drain(sc)

  def reset(): Unit = { drain(); synchronized {
    cpuNs = 0L; jobStart.clear(); jobs.clear(); stages.clear(); execSite.clear()
  } }

  def taskCpuSeconds: Double = { drain(); synchronized(cpuNs / 1e9) }
  def finishedJobs: Seq[JobRec] = { drain(); synchronized(jobs.toList) }
  /** The task counters of the given jobs' stages. */
  def stagesOf(js: Seq[JobRec]): Map[Int, StageAgg] = synchronized {
    js.flatMap(_.stages).distinct.flatMap(id => stages.get(id).map(id -> _)).toMap
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if detailed => synchronized {
      val root = s.rootExecutionId.map(_.toString).getOrElse(s.executionId.toString)
      execSite(s.executionId.toString) = execSite.getOrElse(root, s.description)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanProp).map(_.toInt).getOrElse(0)
    val site = prop("spark.sql.execution.id").flatMap(execSite.get).getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobStart(e.jobId) = (span, site, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detailed) synchronized {
    jobStart.remove(e.jobId).foreach { case (span, site, t0, st) =>
      jobs += JobRec(e.jobId, span, site, t0, e.time, st)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val cpu = m.executorCpuTime + m.executorDeserializeCpuTime
      cpuNs += cpu
      if (detailed) {
        val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
        s.cpuNs += cpu
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.taskMs += e.taskInfo.duration
      }
    }
  }
}

/** Counters of a set of jobs, summed over their stages. */
final case class JobSum(jobs: Int, stages: Int, cpuS: Double, gcS: Double,
    shuffleWrite: Long, spill: Long)

object JobSum {
  def of(stages: Map[Int, StageAgg], js: Seq[JobRec]): JobSum = {
    val st = js.flatMap(_.stages).distinct.flatMap(stages.get)
    JobSum(js.size, st.count(_.taskMs.nonEmpty), st.map(_.cpuNs).sum / 1e9,
      st.map(_.gcMs).sum / 1e3, st.map(_.shuffleWrite).sum, st.map(_.spill).sum)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
