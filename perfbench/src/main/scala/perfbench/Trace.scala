package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's own calls into the program.
  * A span records its name, start, end, the span that caused it (same
  * thread) and an optional join key for work that crosses threads (a
  * gRPC request's client call and the server-side sink call share the
  * request's first trace id). Nothing is recorded unless [[on]]. */
object Trace {

  @volatile var on = false

  final case class Span(id: Long, parent: Long, name: String, startNs: Long,
      endNs: Long, key: String) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, key: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime(), key))
        stack.set(stack.get.tail)
      }
    }

  /** A span timed by the caller, for work that completes on another
    * thread (an asynchronous call); it has no parent. */
  def record(name: String, key: String, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), 0L, name, startNs, endNs, key))

  def all: Seq[Span] = spans.asScala.toSeq

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children. */
  def selfMs(ss: Seq[Span]): Map[Long, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** Spans as JSON lines, with self time, for the trace file. */
  def jsonLines: Iterator[String] = {
    val ss = all.sortBy(_.startNs)
    val self = selfMs(ss)
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    ss.iterator.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","key":"${s.key}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"dur_ms":${s.ms}%.3f,"self_ms":${self(s.id)}%.3f}"""
    }
  }
}

/** Executor-level counters from the scheduler's task and job events. Jobs
  * carry the benchmark's `perfbench.phase` local property, so jobs started
  * while a DataFrame is being built are told apart from the timed action. */
final class ExecCounters extends SparkListener {
  val tasks, runMs, gcMs, shuffleBytes, spillBytes, jobs = new LongAdder
  /** phase -> call site -> jobs */
  val jobsByPhase =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentHashMap[String, LongAdder]]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val props = Option(e.properties)
    val phase = props.flatMap(p => Option(p.getProperty(ExecCounters.Phase))).getOrElse("")
    // the final stage is named after the job's call site ("parquet at ...")
    val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
    jobsByPhase.computeIfAbsent(phase, _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent(site, _ => new LongAdder).increment()
  }

  /** Jobs per call site over the phases `keep` accepts, most first. */
  def jobsIn(keep: String => Boolean): Seq[(String, Long)] =
    jobsByPhase.asScala.toSeq.filter(p => keep(p._1))
      .flatMap(_._2.asScala.toSeq.map { case (site, n) => site -> n.sum() })
      .groupBy(_._1).map { case (site, xs) => site -> xs.map(_._2).sum }.toSeq.sortBy(-_._2)
}

object ExecCounters {
  val Phase = "perfbench.phase"
}

/** Per-action planning and scan counters from the query-execution
  * listener: the QueryPlanningTracker phases and the file-scan node's SQL
  * metrics (files, partitions and rows read). */
final class PlanCounters extends QueryExecutionListener {
  import PlanCounters.Action
  val actions = new ConcurrentLinkedQueue[Action]()

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ph(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val plan = ph("analysis") + ph("optimization") + ph("planning")
    val scans = PlanCounters.scans(qe.executedPlan)
    def m(name: String) = scans.map(s => s.metrics.get(name).map(_.value).getOrElse(0L)).sum
    actions.add(Action(func, plan,
      math.max(0.0, durationNs / 1e6 - ph("optimization") - ph("planning")),
      m("numFiles"), m("numPartitions"), m("numOutputRows")))
  }

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

}

object PlanCounters {
  final case class Action(func: String, planMs: Double, execMs: Double,
      files: Long, partitions: Long, rowsScanned: Long)

  /** File scans of a physical plan, looking through adaptive wrappers. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}

/** Micro-batch progress of the ingest stream: committed rows (used by
  * both modes to know what is visible) and per-trigger phase durations. */
final class StreamCounters extends StreamingQueryListener {
  import StreamCounters.Trigger
  val committedRows = new LongAdder
  val triggers = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      committedRows.add(p.numInputRows)
      triggers.add(Trigger(p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def all: Seq[Trigger] = triggers.asScala.toSeq
}

object StreamCounters {
  final case class Trigger(rows: Long, durations: Map[String, Long])
}
