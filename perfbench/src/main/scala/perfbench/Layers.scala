package perfbench

import java.io.File
import java.util.concurrent.atomic.LongAdder

import Main.{Env, Result}

/** Per-layer metrics of a traced run, named `<layer>.<metric>` after the
  * program's modules: `grpc` (GrpcServer + LogProto), `sink` (the
  * LogStream.batchWrite enqueue), `stream` (the LogStream micro-batches),
  * `table` (LogTable), `query` (LogHttpServer → LogApi → LogQuery),
  * `suite` (SparkEntry + Tables construction and the operators' actions),
  * `exec` (Spark executors) and `gen` (the benchmark's load generator).
  *
  * A layer a workload does not exercise reports 0; a percentile whose
  * samples do not support it reads -1. Counts and times cover the
  * measurement window; spans are written to
  * `<root>/.bench_out/trace-<workload>-<seed>.jsonl`. */
final class Layers(env: Env, res: Result, exec: ExecCounters, plans: PlanCounters) {

  var service: Option[Service.Running] = None
  val returnedRows = new LongAdder
  var backlogRows = 0.0
  var freshMs: Seq[Double] = Nil
  /** `/v1/logs` answers the readers got inside the window. */
  var readerAnswers = 0
  var lateMs: Seq[Double] = Nil
  /** Construction ms of each timed suite pass. */
  var suiteConstructMs: Seq[Double] = Nil

  private var execAt: Seq[Long] = Nil
  private var execDelta: Seq[Long] = Seq.fill(6)(0L)
  private var actionsAt, actionsEnd, triggersAt, triggersEnd = 0

  private def execNow: Seq[Long] = Seq(exec.tasks, exec.runMs, exec.gcMs,
    exec.shuffleBytes, exec.spillBytes, exec.jobs).map(_.sum())

  def startWindow(): Unit = {
    execAt = execNow
    actionsAt = plans.actions.size
    triggersAt = service.fold(0)(_.stream.triggers.size)
  }

  def endWindow(): Unit = {
    Thread.sleep(200) // let the listener bus deliver the window's events
    execDelta = execNow.zip(execAt).map { case (a, b) => a - b }
    actionsEnd = plans.actions.size
    triggersEnd = service.fold(0)(_.stream.triggers.size)
  }

  def finish(): Unit = if (env.trace) {
    val L = res.layers
    def pct(xs: Seq[Double], q: Double) = if (xs.isEmpty) 0.0 else Stats.pct(xs, q).value
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def per(total: Double, n: Double) = if (n == 0) 0.0 else total / n

    // wire: client ack minus the server-side sink time of the same request
    val sinks = Trace.named("sink.enqueue").map(s => s.key -> s.ms).toMap
    val self = Trace.named("grpc.call").flatMap(c => sinks.get(c.key).map(c.ms - _))
    L("grpc.ack_self_ms.p50") = (pct(self, 0.5), "ms")
    L("grpc.ack_self_ms.p90") = (pct(self, 0.9), "ms")
    val enq = sinks.values.toSeq
    L("sink.enqueue_ms.p50") = (pct(enq, 0.5), "ms")
    L("sink.enqueue_ms.p90") = (pct(enq, 0.9), "ms")
    L("sink.calls") = (enq.size.toDouble, "count")

    // micro-batches committed inside the window (a few per second: means)
    val trig = service.fold(Seq.empty[StreamCounters.Trigger])(_.stream.all.slice(triggersAt, triggersEnd))
    def d(k: String) = mean(trig.map(_.durations.getOrElse(k, 0L).toDouble))
    L("stream.triggers") = (trig.size.toDouble, "count")
    L("stream.rows_per_trigger") = (mean(trig.map(_.rows.toDouble)), "rows")
    L("stream.addBatch_ms") = (d("addBatch"), "ms")
    L("stream.triggerExecution_ms") = (d("triggerExecution"), "ms")
    L("stream.queryPlanning_ms") = (d("queryPlanning"), "ms")
    L("stream.walCommit_ms") = (d("walCommit"), "ms")
    L("stream.backlog_rows") = (backlogRows, "rows")
    L("stream.visible_lag_ms.p50") = (pct(freshMs, 0.5), "ms")
    L("stream.visible_lag_ms.p90") = (pct(freshMs, 0.9), "ms")

    // storage: files and bytes on disk of the served table
    val (files, bytes, rows) = service.map(s => tableStats(s.table)).getOrElse((0L, 0L, 0L))
    L("table.files") = (files.toDouble, "count")
    L("table.bytes_per_row") = (per(bytes.toDouble, rows.toDouble), "bytes")
    L("table.read_ms.p50") = (pct(Trace.named("table.read").map(_.ms), 0.5), "ms")

    // query path: the `collect` actions LogApi runs inside the window for
    // the readers (the prober's server reads on a session of its own)
    val actions = plans.actions.toArray(Array.empty[PlanCounters.Action])
      .slice(actionsAt, actionsEnd).toSeq
    val q = if (service.isEmpty) Nil else actions.filter(_.func == "collect")
    L("query.actions") = (q.size.toDouble, "count")
    if (service.nonEmpty) res.line(s"query_actions ${q.size} for $readerAnswers reader answers")
    L("query.plan_ms.p50") = (pct(q.map(_.planMs), 0.5), "ms")
    L("query.exec_ms.p50") = (pct(q.map(_.execMs), 0.5), "ms")
    L("query.files_read") = (mean(q.map(_.files.toDouble)), "count")
    L("query.partitions_read") = (mean(q.map(_.partitions.toDouble)), "count")
    L("query.rows_scanned_per_returned") =
      (per(q.map(_.rowsScanned).sum.toDouble, returnedRows.sum().toDouble), "ratio")

    // suite, per timed pass. Jobs started while a registry function builds
    // its DataFrame carry the phase "construct:<pass>:<row>"; schema
    // inference is the `parquet` call site (Tables' unpinned reads)
    val passes = suiteConstructMs.size.toDouble
    val constructJobs = exec.jobsIn(p => p.startsWith("construct:") && !p.startsWith("construct:-"))
    val saves = actions.filter(_.func == "overwrite") // the noop save
    L("suite.construct_ms") = (mean(suiteConstructMs), "ms")
    L("suite.construct_jobs") = (per(constructJobs.map(_._2).sum.toDouble, passes), "count")
    L("suite.inference_jobs") = (per(constructJobs.filter(_._1.startsWith("parquet at "))
      .map(_._2).sum.toDouble, passes), "count")
    L("suite.plan_ms") = (per(saves.map(_.planMs).sum, passes), "ms")
    L("suite.exec_ms") = (per(saves.map(_.execMs).sum, passes), "ms")
    constructJobs.take(5).foreach { case (site, n) =>
      res.line(f"suite_construct_jobs_at $site ${n / passes}%.1f per pass")
    }

    val Seq(tasks, runMs, gcMs, shuffle, spill, jobs) = execDelta
    L("exec.jobs") = (jobs.toDouble, "count")
    L("exec.tasks") = (tasks.toDouble, "count")
    L("exec.task_run_ms") = (runMs.toDouble, "ms")
    L("exec.gc_ms") = (gcMs.toDouble, "ms")
    L("exec.shuffle_bytes") = (shuffle.toDouble, "bytes")
    L("exec.spill_bytes") = (spill.toDouble, "bytes")

    L("gen.late_ms.p90") = (pct(lateMs, 0.9), "ms")
    L("gen.late_ms.max") = (if (lateMs.isEmpty) 0.0 else lateMs.max, "ms")

    writeSpans()
  }

  /** Data files, their bytes and the row count of a table directory. */
  private def tableStats(path: String): (Long, Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val data = walk(new File(path)).filter(_.getName.endsWith(".parquet"))
    val rows = graft.logs.LogTable.read(env.spark, path).count()
    (data.size.toLong, data.map(_.length).sum, rows)
  }

  private def writeSpans(): Unit = {
    val out = new File(env.root, ".bench_out")
    out.mkdirs()
    val f = new File(out, s"trace-${env.workload}-${env.seed}.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try Trace.jsonLines.foreach(w.println) finally w.close()
    res.line(s"spans ${Trace.all.size} written to .bench_out/${f.getName}")
  }
}
