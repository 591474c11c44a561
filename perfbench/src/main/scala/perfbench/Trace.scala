package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.SortExec

/** One timed interval at a layer boundary. Times are epoch microseconds;
  * `trace` groups the spans of one request (a query execution, or one
  * streaming phase). */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      startUs: Long, endUs: Long)

/** Spans and counters of a traced run, kept in memory and written once at
  * exit. With tracing off every method is a no-op apart from running the
  * body, so end-to-end runs carry no recording cost. `overheadNs` sums the
  * time the recording itself takes, for `trace.overhead_frac`.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack.empty[(Int, String, String, Long)]
  private var nextId = 1
  @volatile var overheadNs = 0L

  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private def charged[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally overheadNs += System.nanoTime() - t0
  }

  /** Run `body` inside a span; the span's id is passed to the body. */
  def span[T](name: String, trace: String = "")(body: Int => T): T =
    if (!enabled) body(0)
    else {
      val id = charged {
        val id = nextId; nextId += 1
        val tr = if (trace.nonEmpty) trace else if (open.isEmpty) name else open.top._3
        open.push((id, name, tr, nowUs))
        id
      }
      try body(id)
      finally charged {
        val (_, n, tr, s) = open.pop()
        val parent = if (open.isEmpty) 0 else open.top._1
        spans.synchronized(spans += Span(id, parent, tr, n, s, nowUs))
      }
    }

  /** Record a span measured elsewhere (listener jobs and stages, stream
    * micro-batches). */
  def record(parent: Int, trace: String, name: String, startUs: Long, endUs: Long): Int =
    if (!enabled) 0
    else charged {
      spans.synchronized {
        val id = nextId; nextId += 1
        spans += Span(id, parent, trace, name, startUs, endUs)
        id
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Tasks of one stage, summed as the listener sees them end. */
final class StageRec(val id: Int) {
  var name = ""; var submitMs = 0L; var doneMs = 0L
  var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shWrite = 0L; var shRead = 0L; var spill = 0L; var input = 0L
  val durs = ArrayBuffer.empty[Long]
}
/** A job and the span that was open on its submitting thread. */
final class JobRec(val id: Int, val span: Int, val startMs: Long, val stages: Seq[Int]) {
  @volatile var endMs = 0L
}

/** Spark's own task, stage and job channel, grouped by the span that was
  * open on the submitting thread (carried as a job local property). */
final class Recorder(tracer: Tracer) extends SparkListener {
  val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
  val stages = scala.collection.concurrent.TrieMap.empty[Int, StageRec]
  @volatile private var lastEventNs = System.nanoTime()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally { tracer.overheadNs += System.nanoTime() - t0; lastEventNs = System.nanoTime() }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    st.synchronized {
      st.tasks += 1
      if (e.taskInfo != null) st.durs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime; st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shWrite += m.shuffleWriteMetrics.bytesWritten
        st.shRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.diskBytesSpilled
        st.input += m.inputMetrics.bytesRead
      }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val st = stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId))
    st.synchronized {
      st.name = si.name
      st.submitMs = si.submissionTime.getOrElse(0L)
      st.doneMs = si.completionTime.getOrElse(0L)
    }
  }

  /** Wait until the asynchronous listener bus has delivered every event of
    * the jobs seen so far. */
  def drain(maxMs: Long = 3000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def settled = jobs.values.forall(_.endMs > 0) &&
      System.nanoTime() - lastEventNs > 150L * 1000000L
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Jobs (and the stages that ran for them) submitted under `spans`. */
  def jobsUnder(spans: Set[Int]): Seq[JobRec] = jobs.values.filter(j => spans(j.span)).toSeq

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stages).distinct.flatMap(stages.get).filter(_.tasks > 0)

  /** Record job and stage spans under their submitting spans. */
  def emitSpans(traceOf: Int => String): Unit = if (tracer.enabled) {
    jobs.values.toSeq.sortBy(_.id).filter(_.span != 0).foreach { j =>
      val jid = tracer.record(j.span, traceOf(j.span), s"job ${j.id}",
        j.startMs * 1000L, math.max(j.endMs, j.startMs) * 1000L)
      j.stages.flatMap(stages.get).filter(_.submitMs > 0).foreach { s =>
        tracer.record(jid, traceOf(j.span), s"stage ${s.id}: ${s.name.take(60)}",
          s.submitMs * 1000L, math.max(s.doneMs, s.submitMs) * 1000L)
      }
    }
  }
}

object Recorder {
  val SpanKey = "perfbench.span"

  /** Mark jobs submitted by this thread inside `body` with span `id`. */
  def under[T](sc: SparkContext, id: Int)(body: => T): T = {
    val was = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    try body finally sc.setLocalProperty(SpanKey, was)
  }

  /** Spark's execution layer over a set of jobs, as per-layer metrics.
    * `execS` is the wall time the jobs ran in, `passes` the number of
    * repetitions the counts are averaged over. */
  def execMetrics(r: Recorder, js: Seq[JobRec], execS: Double,
                  passes: Int, cores: Int): Map[String, Double] = {
    val st = r.stagesOf(js)
    val per = 1.0 / math.max(passes, 1)
    val taskS = st.map(_.runMs).sum / 1000.0
    val skew = st.filter(_.durs.size >= 2).map { s =>
      val d = s.durs.sorted
      val med = math.max(d(d.size / 2), 1L)
      d.last.toDouble / med
    }
    Map(
      "exec.exec_s" -> execS * per,
      "exec.jobs" -> js.size * per,
      "exec.stages" -> st.size * per,
      "exec.tasks" -> st.map(_.tasks).sum * per,
      "exec.task_s" -> taskS * per,
      "exec.cpu_s" -> st.map(_.cpuNs).sum / 1e9 * per,
      "exec.gc_s" -> st.map(_.gcMs).sum / 1000.0 * per,
      "exec.core_busy_frac" -> (if (execS > 0) taskS / (execS * cores) else 0.0),
      "exec.shuffle_write_mb" -> st.map(_.shWrite).sum / 1e6 * per,
      "exec.shuffle_read_mb" -> st.map(_.shRead).sum / 1e6 * per,
      "exec.spill_mb" -> st.map(_.spill).sum / 1e6 * per,
      "exec.input_mb" -> st.map(_.input).sum / 1e6 * per,
      "exec.skew_max" -> (if (skew.isEmpty) 1.0 else skew.max))
  }
}

/** Shape of an executed physical plan, walking into adaptive query stages
  * (the final AQE plan once the plan has run). */
final case class PlanShape(nodes: Int, exchanges: Int, joins: Int, sorts: Int) {
  def +(o: PlanShape): PlanShape =
    PlanShape(nodes + o.nodes, exchanges + o.exchanges, joins + o.joins, sorts + o.sorts)
}

object PlanShape {
  val empty: PlanShape = PlanShape(0, 0, 0, 0)

  def of(p: SparkPlan): PlanShape = p match {
    case a: AdaptiveSparkPlanExec => of(a.executedPlan)
    case q: QueryStageExec => of(q.plan)
    case _: ReusedExchangeExec => PlanShape(1, 0, 0, 0)
    case _ =>
      val self = PlanShape(1,
        p match { case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1; case _ => 0 },
        p match { case _: BaseJoinExec => 1; case _ => 0 },
        p match { case _: SortExec => 1; case _ => 0 })
      (p.children ++ p.subqueries).map(of).foldLeft(self)(_ + _)
  }
}
