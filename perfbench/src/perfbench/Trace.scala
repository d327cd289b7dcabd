package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** One recorded call: `opId` groups the spans of one epoch or statement;
  * `spark` marks spans whose thread submits Spark jobs (jobs are
  * attributed to the innermost such span open at job start). Times are
  * [[Clock]] microseconds. */
final case class Span(id: Long, name: String, parent: Long, opId: Long,
    thread: String, spark: Boolean, startUs: Long, endUs: Long) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** Monotonic wall clock in epoch microseconds: `System.nanoTime` anchored
  * once to the epoch, so due times and commit times compare exactly. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** In-memory span recorder. With `on = false` every method is a direct
  * call of its body, so the untraced run pays nothing but a branch. */
object Tracer {
  /** Spark local property naming the span a job was submitted under. */
  val SpanProperty = "perfbench.span"
}

final class Tracer(val on: Boolean) {
  import Tracer.SpanProperty
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private val counters = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def span[A](name: String, opId: Long = -1L, spark: Boolean = true)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val sc = if (spark) SparkSession.getDefaultSession.map(_.sparkContext) else None
      val prevProp = sc.map(_.getLocalProperty(SpanProperty))
      sc.foreach(_.setLocalProperty(SpanProperty, id.toString))
      val t0 = Clock.nowUs
      try body
      finally {
        done.add(Span(id, name, parents.headOption.getOrElse(0L), opId,
          Thread.currentThread().getName, spark, t0, Clock.nowUs))
        stack.set(parents)
        sc.foreach(_.setLocalProperty(SpanProperty, prevProp.orNull))
      }
    }

  /** A count or size observed at a layer boundary (kept as samples). */
  def count(name: String, v: Double): Unit =
    if (on) counters.synchronized { counters.getOrElseUpdate(name, mutable.ArrayBuffer()) += v }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startUs)
  def samples(name: String): Seq[Double] =
    counters.synchronized(counters.get(name).map(_.toSeq).getOrElse(Nil))

  /** Self time: duration minus the union of the direct children's spans. */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs)).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.endUs - s.startUs - covered) / 1000.0
    }.toMap
  }
}

/** Per-stage task totals. */
final class StageTotals {
  var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var outputBytes = 0L
}

/** The harness's own listener: records every job with its span tag and
  * submission time, and sums task metrics per stage. Job → span
  * resolution happens after the run (see [[attribute]]), because the
  * listener bus is asynchronous and commit legs may submit jobs from
  * pooled threads whose local properties are stale. */
final class LayerListener extends SparkListener {
  final case class Job(id: Int, timeUs: Long, tag: Long, stages: Seq[Int])
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageTotals]()
  @volatile var stagesCompleted = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .flatMap(_.toLongOption).getOrElse(0L)
    // job start times are epoch ms; shift to the Clock's µs scale
    jobs.add(Job(e.jobId, e.time * 1000L, tag, e.stageIds))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesCompleted += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = stages.computeIfAbsent(e.stageId, _ => new StageTotals)
      t.synchronized {
        t.tasks += 1; t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime; t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Spark totals per span id. A job belongs to its tagged span when that
    * span was open at job start; otherwise to the innermost Spark-side
    * span open at that time (job timestamps are ms, hence the slack). */
  def attribute(spans: Seq[Span]): Map[Long, SparkTotals] = {
    val byId = spans.map(s => s.id -> s).toMap
    val sparkSpans = spans.filter(_.spark)
    def open(s: Span, t: Long) = s.startUs - 1000 <= t && t <= s.endUs + 1000
    val out = mutable.Map.empty[Long, SparkTotals]
    jobs.asScala.foreach { j =>
      val owner = byId.get(j.tag).filter(open(_, j.timeUs)).map(_.id).orElse(
        sparkSpans.filter(open(_, j.timeUs)).sortBy(s => -s.startUs).headOption.map(_.id))
      val st = out.getOrElseUpdate(owner.getOrElse(0L), new SparkTotals)
      st.jobs += 1
      j.stages.flatMap(s => Option(stages.get(s))).foreach { t =>
        st.stages += 1; st.add(t)
      }
    }
    out.toMap
  }

  def totals: SparkTotals = {
    val st = new SparkTotals
    st.jobs = jobs.size; st.stages = stagesCompleted
    stages.values.asScala.foreach(st.add)
    st
  }
}

final class SparkTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var outputBytes = 0L
  def add(t: StageTotals): Unit = t.synchronized {
    tasks += t.tasks; cpuNs += t.cpuNs; gcMs += t.gcMs
    shuffleBytes += t.shuffleBytes; outputBytes += t.outputBytes
  }
  def plus(o: SparkTotals): SparkTotals = {
    val r = new SparkTotals
    r.jobs = jobs + o.jobs; r.stages = stages + o.stages; r.tasks = tasks + o.tasks
    r.cpuNs = cpuNs + o.cpuNs; r.gcMs = gcMs + o.gcMs
    r.shuffleBytes = shuffleBytes + o.shuffleBytes; r.outputBytes = outputBytes + o.outputBytes
    r
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), 0 on no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.size - 1)
      val lo = r.floor.toInt; val hi = r.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
