package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Shuffle bytes written by every task. Registered in every run, traced or
  * not, because `shuffle_mb` is an end-to-end metric. */
final class ShuffleCounter extends SparkListener {
  val written = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      written.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
}

final case class JobRec(id: Int, execId: Option[Long], callSite: String,
                        start: Double, var end: Double)
/** One SQL execution; an action when `root == id`. `phases` are its
  * Catalyst phase intervals from the `QueryPlanningTracker`. */
final case class ExecRec(id: Long, root: Long, start: Double, var end: Double,
                         var phases: Map[String, (Double, Double)])
final class StageAgg {
  var tasks, failures = 0L
  var runMs, cpuNs, gcMs, deserMs, fetchWaitMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
}
final case class Events(jobs: Seq[JobRec], execs: Map[Long, ExecRec],
                        stages: Map[Int, StageAgg], completedStages: Int)

/** Records jobs, stages, tasks, SQL executions and the Catalyst phase
  * times of every execution while [[on]] is set. Events arrive on Spark's
  * listener bus thread; the harness drains the bus before [[take]]. */
final class Tracer extends SparkListener {
  @volatile var on = false
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private var completedStages = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    // The result stage is created last, so it has the highest id; its name
    // is the job's short call site ("parquet at Sources.scala:28").
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = JobRec(e.jobId, execId, site, e.time.toDouble, Double.NaN)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) synchronized { completedStages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) a.failures += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.deserMs += m.executorDeserializeTime
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if on => synchronized {
      val root = s.rootExecutionId.getOrElse(s.executionId)
      execs(s.executionId) =
        ExecRec(s.executionId, root, s.time.toDouble, Double.NaN, Map.empty)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach { x =>
        x.end = s.time.toDouble
        x.phases = PerfbenchBridge.queryExecution(s).toSeq
          .flatMap(_.tracker.phases).collect {
            case (k, v) if Trace.Phases.contains(k) =>
              k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble)
          }.toMap
      }
    }
    case _ =>
  }

  /** Everything recorded since the last call. */
  def take(): Events = synchronized {
    val ev = Events(jobs.values.toSeq, execs.toMap, stages.toMap, completedStages)
    jobs.clear(); execs.clear(); stages.clear(); completedStages = 0
    ev
  }
}

/** One timed query execution as the harness saw it, in whole epoch
  * milliseconds (`System.currentTimeMillis`, as Spark stamps its listener
  * events): construct is `[start, constructEnd)`, the materialising
  * action `[constructEnd, end]`. */
final case class QueryWindow(name: String, start: Long, constructEnd: Long,
                             end: Long, cachedRdds: Int, cachedMb: Double)

/** A span of the trace. Times are epoch milliseconds. `outsideParentMs` is
  * how much of the span lies outside its parent's interval: 0 when the
  * spans nest. */
final case class Span(id: Int, parent: Int, query: String, pass: Int,
                      layer: String, name: String, start: Double, end: Double,
                      outsideParentMs: Double) {
  def ms: Double = end - start
}

object Trace {
  val Phases = Seq("analysis", "optimization", "planning")

  /** Builds the span tree of one query: the query root; `construct`;
    * one `action` per SQL execution, holding its Catalyst `phase` spans;
    * one `job` per Spark job, under its execution when it has one. Spans
    * keep their recorded times (a span that never ended ends with its
    * parent), so a mis-parented span shows in `outsideParentMs` and in
    * self times that add up to more than the query's wall time. */
  def spans(w: QueryWindow, pass: Int, ev: Events, nextId: () => Int): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    def add(parent: Span, layer: String, name: String, s: Double, e0: Double): Span = {
      val e = if (e0.isNaN) parent.end else e0
      val outside = math.max(0.0, parent.start - s) + math.max(0.0, e - parent.end)
      val sp = Span(nextId(), parent.id, w.name, pass, layer, name, s, e,
        math.min(outside, math.max(0.0, e - s)))
      out += sp
      sp
    }
    val root = Span(nextId(), -1, w.name, pass, "query", w.name,
      w.start.toDouble, w.end.toDouble, 0.0)
    out += root
    val construct = add(root, "construct", "construct", w.start.toDouble, w.constructEnd.toDouble)
    def container(t: Double) = if (t < w.constructEnd) construct else root
    def inWindow(t: Double) = t >= w.start && t <= w.end
    val actions = mutable.HashMap.empty[Long, Span]
    ev.execs.values.toSeq.filter(x => inWindow(x.start)).sortBy(_.id).foreach { x =>
      val parent = actions.getOrElse(x.root, container(x.start))
      val ph = x.phases
      val s = (x.start +: ph.values.map(_._1).toSeq).min
      val e = if (x.end.isNaN) w.end else (x.end +: ph.values.map(_._2).toSeq).max
      val a = add(parent, "action", s"execution ${x.id}", s, e)
      actions(x.id) = a
      Phases.foreach(p => ph.get(p).foreach { case (ps, pe) => add(a, "phase", p, ps, pe) })
    }
    ev.jobs.filter(j => inWindow(j.start)).foreach { j =>
      val parent = j.execId.flatMap(actions.get).getOrElse(container(j.start))
      add(parent, "job", s"job ${j.id}: ${j.callSite}", j.start, j.end)
    }
    out.toSeq
  }

  /** Exclusive time of each span: every instant that some span covers is
    * charged to exactly one span, the deepest one open at that instant
    * (the later-started one between equals). When the spans nest, the
    * self times of a query sum to its wall time; time a span spends
    * outside the query's interval adds to the sum. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(byId(s.parent))
    val d = spans.map(s => s.id -> depth(s)).toMap
    val cuts = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val open = spans.filter(s => s.start <= a && s.end >= b)
      if (open.nonEmpty) {
        val owner = open.maxBy(s => (d(s.id), s.start))
        self(owner.id) += b - a
      }
    }
    spans.map(s => s.id -> self(s.id)).toMap
  }

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, hi = 0.0
    var lo = Double.NegativeInfinity
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > hi || lo == Double.NegativeInfinity) {
        if (lo != Double.NegativeInfinity) total += hi - lo
        lo = s; hi = e
      } else hi = math.max(hi, e)
    }
    if (lo != Double.NegativeInfinity) total += hi - lo
    total
  }
}
