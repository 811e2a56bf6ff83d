package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Duration, Instant}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row => SRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.logs.{GrpcServer, LogApi, LogEntryMsg, LogHttpServer, LogSchema, LogTable}
import graft.streaming.LogStream

import Main.{Env, Result}

/** The log-service workloads: the program assembled in-process and driven
  * over real loopback sockets — gRPC BatchWrite into [[LogStream]] /
  * [[LogTable]] and HTTP `/v1/logs` through [[LogHttpServer]] → [[LogApi]]
  * → [[graft.logs.LogQuery]].
  *
  * `mixed` runs on a preloaded, compacted table. During the window an
  * open-loop writer sends one 500-row batch every 1/8 s (4000 rows/s), two
  * closed-loop readers query `/v1/logs`, half of the time the live tail
  * ("last 10 minutes"), half of the time history, and a prober polls the
  * `probe` service for each batch's marker row.
  *
  * `ingest` is the closed-loop measurement behind [[WriterRowsPerS]]: two
  * writers saturate BatchWrite into an empty table. */
object Service {

  val BatchRows = 500            // the reference's default batch (BASELINE.md)
  val Clients = 2                // gRPC connections the writer alternates over
  val Readers = 2
  val Setups = 3                 // setup repetitions; setup_s is their median
  /** Preloaded history, in rows (~8k per month): per-query cost on this
    * table is dominated by fixed planning and job cost, and a larger table
    * only lengthens setup. */
  val HistoryRows = 50000
  /** Open-loop writer rate (rows/s) of `mixed`: about an eighth of the
    * `ingest` workload's rows/s (acked rows ÷ first send → all committed),
    * whose median over seeds 1-3 was 33.1k on a 4-core machine. Half of
    * it leaves the batcher beside the two readers near saturation, and the
    * run-to-run spread then exceeds the benchmark's bounds (README). */
  val WriterRowsPerS = 4000
  val RequestTimeoutMs: Long = LogApi.DefaultTimeoutMs

  // ── the service under test ──

  /** One assembled service over one table directory: the micro-batch
    * stream, the gRPC listener feeding it and the HTTP query listener. */
  final class Running(env: Env, val table: String) {
    private val spark = env.spark
    import spark.implicits._
    val stream = new StreamCounters
    spark.streams.addListener(stream)
    private val source = MemoryStream[LogEntryMsg](spark)
    val query: StreamingQuery =
      LogStream.ingest(source.toDF(), table, table + "_checkpoint")
    val acked = new AtomicLong()
    // The lock works around a program defect: MemoryStream.addData encodes
    // rows with one shared, non-thread-safe serializer before taking its
    // own lock, so two gRPC event-loop threads calling the sink at once
    // corrupt rows ("Invalid byte array backed UnsafeRow", grpc-status 13).
    // LogServiceMain wires the same sink without a lock.
    private val sink: Seq[LogEntryMsg] => Long = entries =>
      Trace.span("sink.enqueue", entries.headOption.fold("")(_.trace_id)) {
        source.synchronized(LogStream.batchWrite(source, entries).written)
      }
    val grpc: GrpcServer = new GrpcServer(sink).start()
    val http: LogHttpServer = new LogHttpServer(
      () => Trace.span("table.read")(LogTable.read(spark, table)), 0, RequestTimeoutMs).start()
    // the prober reads through a server of its own on a session of its
    // own, so the query-layer listener on `spark` sees the readers only
    private val probeSession = spark.newSession()
    val probeHttp: LogHttpServer = new LogHttpServer(
      () => LogTable.read(probeSession, table), 0, RequestTimeoutMs).start()
    private val clientGroup = GrpcClient.group(2)
    val clients: Seq[GrpcClient] = (0 until Clients).map(_ => new GrpcClient(clientGroup, grpc.port))

    /** Wait until the stream has committed `rows` rows (listener count). */
    def awaitCommitted(rows: Long, timeoutMs: Long): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      while (stream.committedRows.sum() < rows && System.currentTimeMillis() < end)
        Thread.sleep(5)
      stream.committedRows.sum() >= rows
    }

    def stop(): Unit = {
      clients.foreach(_.close())
      clientGroup.shutdownGracefully(0, 1, TimeUnit.SECONDS).await(5, TimeUnit.SECONDS)
      http.stop()
      probeHttp.stop()
      grpc.stop()
      query.stop()
      query.awaitTermination(10000)
      spark.streams.removeListener(stream)
    }
  }

  /** Generate the seeded history with the executors, append it in the
    * LogTable layout and compact it: the state a long-running service
    * reaches after its background merges. */
  private def loadHistory(env: Env, path: String, n: Int): Unit = {
    val seed = env.seed
    val rdd = env.spark.sparkContext.range(0L, n.toLong, 1L, env.nproc * 4).map { i =>
      val r = Gen.history(seed, n, i.toInt)
      SRow(r.tsStamp, r.service, r.level, r.msg, r.attrs, r.traceId, r.spanId)
    }
    LogTable.append(env.spark.createDataFrame(rdd, LogSchema.schema), path)
    LogTable.compact(env.spark, path)
  }

  /** Writer batch b, due at `dueMs` on the synthetic clock: row 0 is the
    * probe marker. */
  private def liveBatch(seed: Long, b: Long, dueMs: Long): Seq[LogEntryMsg] =
    (0 until BatchRows).map(j => Gen.live(seed, b, j, liveMicros(dueMs, j)))

  /** Stamp of row j of batch b: the batch's due time on the synthetic
    * clock (ms since [[Gen.HistEnd]]), then j µs. */
  private def liveMicros(dueMs: Long, j: Int): Long = dueMs * 1000 + j

  // ── HTTP ──

  private val json = new ObjectMapper()

  private def httpClient(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** One `/v1/logs` exchange; Left = failure reason. */
  private def get(client: HttpClient, port: Int, q: Gen.Query): Either[String, JsonNode] = {
    val qs = q.params.map { case (k, v) => k + "=" + URLEncoder.encode(v, UTF_8) }.mkString("&")
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/logs?$qs"))
      .timeout(Duration.ofMillis(RequestTimeoutMs)).GET().build()
    try {
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode != 200) Left(s"HTTP ${resp.statusCode}: ${resp.body.take(200)}")
      else Right(json.readTree(resp.body))
    } catch { case e: Throwable => Left(s"HTTP: $e") }
  }

  private def rowsOf(body: JsonNode): Seq[Gen.Row] =
    body.get("logs").elements().asScala.map { n =>
      Gen.Row(Instant.parse(n.get("ts").asText).toEpochMilli, n.get("service").asText,
        n.get("level").asText, n.get("msg").asText, n.get("attrs").asText,
        n.get("trace_id").asText, n.get("span_id").asText, -1)
    }.toSeq

  /** Stored row as a [[Gen.Row]] (user is not compared). */
  private def storedRow(r: SRow): Gen.Row = Gen.Row(
    r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[String]("service"),
    r.getAs[String]("level"), r.getAs[String]("msg"), r.getAs[String]("attrs"),
    r.getAs[String]("trace_id"), r.getAs[String]("span_id"), -1)

  /** A response that may include live rows: every row satisfies the
    * filter, ts is non-increasing and the count respects the limit. */
  private def wellFormed(q: Gen.Query, got: Seq[Gen.Row]): Boolean =
    got.size <= q.limit && got.forall(q.matches) &&
      got.zip(got.drop(1)).forall { case (a, b) => a.ts >= b.ts }

  final case class Answer(q: Gen.Query, body: Either[String, JsonNode], ms: Double)

  // ── the workload ──

  /** Setup, repeated [[Setups]] times: load + compact the history (if
    * `history` rows), start the service, and warm both paths with one
    * marker batch in and one query out. The median is setup_s; the last
    * service is kept. */
  private def setUp(env: Env, res: Result, layers: Layers, history: Int): Running = {
    val setupS = scala.collection.mutable.ArrayBuffer[Double]()
    var svc: Running = null
    for (i <- 0 until Setups) {
      if (svc != null) svc.stop()
      val t = System.nanoTime()
      val path = env.dir(s"table_$i")
      if (history > 0) loadHistory(env, path, history)
      svc = new Running(env, path)
      val warmBatch = liveBatch(env.seed, -1L - i, Gen.HistEnd)
      svc.acked.addAndGet(svc.clients(0).batchWrite(warmBatch).get(RequestTimeoutMs, TimeUnit.MILLISECONDS))
      require(svc.awaitCommitted(svc.acked.get, 60000), "warm batch never committed")
      val warm = get(httpClient(), svc.http.port, Gen.historyQuery(env.seed, 99, i))
      require(warm.isRight, s"warm query failed: $warm")
      setupS += (System.nanoTime() - t) / 1e9
    }
    res.e2e("setup_s") = (Stats.median(setupS.toSeq), "s")
    res.line("setup_s_each " + setupS.map(t => f"$t%.3f").mkString(" "))
    layers.service = Some(svc)
    svc
  }

  /** The table holds `rows` rows, and 200 sampled writer rows of the
    * `acked` batches round-trip field-exact (ms-truncated ts, attrs JSON);
    * batch b was stamped `stampMs(b)`. Returns the table's row count. */
  private def checkStored(env: Env, res: Result, svc: Running, rows: Long,
      acked: IndexedSeq[Long], stampMs: Long => Long): Long = {
    val table = LogTable.read(env.spark, svc.table)
    val count = table.count()
    if (count != rows) res.wrong(s"table holds $count rows, want $rows")
    val rng = new Gen.Rng(env.seed, 5L, 0L)
    val expected = if (acked.isEmpty) Map.empty[String, Gen.Row] else (0 until 200).map { _ =>
      val (b, j) = (acked(rng.below(acked.size)), rng.below(BatchRows))
      val e = Gen.live(env.seed, b, j, liveMicros(stampMs(b), j))
      e.trace_id -> Gen.stored(e)
    }.toMap
    val got = table.filter(col("trace_id").isin(expected.keys.toSeq: _*)).collect()
      .map(storedRow).map(r => r.traceId -> r).toMap
    expected.foreach { case (id, want) =>
      if (!got.get(id).contains(want)) res.wrong(s"row $id: want $want, got ${got.get(id)}")
    }
    res.line(s"table_rows $count, sampled_rows_checked ${expected.size}")
    count
  }

  /** Closed loop: [[Clients]] writers, one per connection, each sending
    * the next 500-row batch as soon as its last one is acked, into an empty
    * table for `--seconds`; then the run waits until every acked row is
    * committed. rows/s = acked rows ÷ (first send → all committed).
    * BENCHMARK.json does not list this workload; it measures the rate
    * `mixed`'s open-loop writer is set from. */
  def ingest(env: Env, res: Result, layers: Layers): Unit = {
    val svc = setUp(env, res, layers, history = 0)
    val before = svc.acked.get
    val stampMs = (b: Long) => Gen.HistEnd + b
    val ackMs = new ConcurrentLinkedQueue[Double]()
    val ackedBatches = new ConcurrentLinkedQueue[java.lang.Long]()
    val next = new AtomicLong()
    layers.startWindow()
    val t0 = System.nanoTime()
    val until = t0 + (env.seconds * 1e9).toLong
    val writers = (0 until Clients).map { w =>
      val t = new Thread(() => {
        while (System.nanoTime() < until) {
          val b = next.getAndIncrement()
          val entries = liveBatch(env.seed, b, stampMs(b))
          val sent = System.nanoTime()
          val n = scala.util.Try(svc.clients(w).batchWrite(entries)
            .get(RequestTimeoutMs, TimeUnit.MILLISECONDS))
          val done = System.nanoTime()
          val ok = n.toOption.contains(BatchRows.toLong)
          res.op(ok, s"BatchWrite ${entries.head.trace_id}: ${n.fold(_.toString, k => s"acked $k")}")
          Trace.record("grpc.call", entries.head.trace_id, sent, done)
          if (ok) { svc.acked.addAndGet(BatchRows); ackedBatches.add(b) }
          ackMs.add(if (ok) (done - sent) / 1e6 else RequestTimeoutMs.toDouble)
        }
      }, s"perfbench-writer-$w")
      t.start()
      t
    }
    writers.foreach(_.join())
    layers.backlogRows = (svc.acked.get - svc.stream.committedRows.sum()).toDouble
    val visible = svc.awaitCommitted(svc.acked.get, 120000)
    val wall = (System.nanoTime() - t0) / 1e9
    layers.endWindow()
    if (!visible) res.wrong("acked rows were not all committed within 120 s")

    val rows = svc.acked.get - before
    checkStored(env, res, svc, svc.acked.get, ackedBatches.asScala.map(_.longValue).toIndexedSeq, stampMs)
    svc.stop()
    val acks = ackMs.asScala.toSeq
    res.e2e("throughput_per_s") = (rows / wall, "1/s")
    res.e2e("latency_ms") = (Stats.pct(acks, 0.5).value, "ms")
    res.line(f"ingest_rows_per_s ${rows / wall}%.1f 1/s ($rows rows, ${acks.size} batches, " +
      f"first send → all committed $wall%.2f s, backlog ${layers.backlogRows}%.0f rows at last ack)")
    res.pct("ack", acks, 0.99)
  }

  def mixed(env: Env, res: Result, layers: Layers): Unit = {
    val model = new Gen.Model(env.seed, HistoryRows)
    val svc = setUp(env, res, layers, HistoryRows)

    val interval = BatchRows * 1e9 / WriterRowsPerS      // ns between batches
    layers.startWindow()
    val t0 = System.nanoTime()
    val until = t0 + (env.seconds * 1e9).toLong
    // synthetic clock: live rows are stamped HistEnd + time since the
    // window opened, so "the last 10 minutes" is the live tail plus the end
    // of history, the same for every seed
    def synthMs(ns: Long): Long = Gen.HistEnd + (ns - t0) / 1000000L

    // open-loop writer: batch k is due at t0 + k·interval and sent async;
    // ack latency and lateness are timed from the due time
    val ackMs = new ConcurrentLinkedQueue[Double]()
    val lateMs = new ConcurrentLinkedQueue[Double]()
    val ackedAt = new ConcurrentHashMap[String, java.lang.Long]()
    val ackedBatches = new ConcurrentLinkedQueue[java.lang.Long]()
    val inflight = new ConcurrentLinkedQueue[CompletableFuture[Long]]()
    val writer = new Thread(() => {
      var k = 0L
      while (t0 + (k * interval).toLong < until) {
        val due = t0 + (k * interval).toLong
        val now = System.nanoTime()
        if (due > now) TimeUnit.NANOSECONDS.sleep(due - now)
        val sent = System.nanoTime()
        lateMs.add(math.max(0L, sent - due) / 1e6)
        val entries = liveBatch(env.seed, k, synthMs(due))
        val marker = entries.head.trace_id
        // a call not acked within the timeout fails with TimeoutException
        val f = svc.clients((k % Clients).toInt).batchWrite(entries)
          .orTimeout(RequestTimeoutMs, TimeUnit.MILLISECONDS)
        val batch = k
        inflight.add(f.whenComplete { (n, e) =>
          val done = System.nanoTime()
          val ok = e == null && n == BatchRows
          res.op(ok, s"BatchWrite $marker: ${Option(e).getOrElse(s"acked $n")}")
          Trace.record("grpc.call", marker, sent, done)
          if (ok) { svc.acked.addAndGet(n); ackedAt.put(marker, done); ackedBatches.add(batch) }
          ackMs.add(if (ok) (done - due) / 1e6 else RequestTimeoutMs.toDouble)
        })
        k += 1
      }
    }, "perfbench-writer")
    writer.start()

    // prober: polls the probe service every 50 ms for marker rows, timing
    // ack → visible through the same /v1/logs path users read
    val seenAt = new ConcurrentHashMap[String, java.lang.Long]()
    @volatile var probing = true
    val prober = new Thread(() => {
      val client = httpClient()
      val q = Gen.Query("probe", Gen.ProbeService, Gen.HistEnd, Gen.HistEnd + 86400000L,
        limit = 100000)
      while (probing) {
        val body = get(client, svc.probeHttp.port, q)
        res.op(body.isRight, s"probe: ${body.left.getOrElse("")}")
        body.foreach { b =>
          val now = System.nanoTime()
          b.get("logs").elements().asScala.foreach(n => seenAt.putIfAbsent(n.get("trace_id").asText, now))
        }
        Thread.sleep(50)
      }
    }, "perfbench-prober")
    prober.start()

    // readers, closed loop: a seeded coin picks the live tail or history
    val answers = new ConcurrentLinkedQueue[Answer]()
    val readers = (0 until Readers).map { r =>
      val t = new Thread(() => {
        val client = httpClient()
        var k = 0L
        while (System.nanoTime() < until) {
          val rng = new Gen.Rng(env.seed, 6L, (r.toLong << 40) ^ k)
          val q = if (rng.below(2) == 0) Gen.historyQuery(env.seed, r, k) else {
            val now = synthMs(System.nanoTime())
            Gen.Query("recent", Gen.Services(rng.below(3)), now - 600000L, now + 60000L,
              level = if (rng.below(2) == 0) None else Some("WARN"))
          }
          val s0 = System.nanoTime()
          val body = Trace.span("http.query")(get(client, svc.http.port, q))
          answers.add(Answer(q, body, (System.nanoTime() - s0) / 1e6))
          k += 1
        }
      }, s"perfbench-reader-$r")
      t.start()
      t
    }
    readers.foreach(_.join())
    val readWall = (System.nanoTime() - t0) / 1e9
    writer.join()
    // every call completes (acked, failed or timed out) and is counted
    inflight.asScala.foreach(f => scala.util.Try(f.join()))
    layers.backlogRows = (svc.acked.get - svc.stream.committedRows.sum()).toDouble
    // every acked marker must become visible before the run ends
    val deadline = System.nanoTime() + 30000000000L
    while (ackedAt.keySet.asScala.exists(!seenAt.containsKey(_)) && System.nanoTime() < deadline)
      Thread.sleep(10)
    probing = false
    prober.join()
    layers.endWindow()

    // ── correctness, after the window ──
    val missing = ackedAt.keySet.asScala.count(!seenAt.containsKey(_))
    if (missing > 0) res.wrong(s"$missing acked markers never became visible")
    val fresh = ackedAt.asScala.toSeq.flatMap { case (m, a) =>
      Option(seenAt.get(m)).map(s => math.max(0L, s - a) / 1e6) }
    // history answers equal the model; live-tail answers are well formed
    val queryMs = answers.asScala.toSeq.map { a =>
      val problem = a.body match {
        case Left(e) => Some(e)
        case Right(b) =>
          layers.returnedRows.add(b.get("count").asLong)
          val got = rowsOf(b)
          if (a.q.shape == "recent") {
            if (wellFormed(a.q, got)) None else Some("live answer breaks filter/order/limit")
          } else if (got == model.answer(a.q).map(_.copy(user = -1))) None
          else Some("answer differs from the model")
      }
      res.op(problem.isEmpty, s"${a.q}: ${problem.getOrElse("")}")
      if (problem.isEmpty) a.ms else RequestTimeoutMs.toDouble
    }
    // the table holds history + every acked row exactly once
    checkStored(env, res, svc, HistoryRows + svc.acked.get,
      ackedBatches.asScala.map(_.longValue).toIndexedSeq.sorted,
      b => synthMs(t0 + (b * interval).toLong))
    svc.stop()

    layers.freshMs = fresh
    layers.readerAnswers = answers.size
    layers.lateMs = lateMs.asScala.toSeq
    val acks = ackMs.asScala.toSeq
    res.e2e("throughput_per_s") = (answers.size / readWall, "1/s")
    res.e2e("latency_ms") = (Stats.pct(fresh, 0.5).value, "ms")
    res.line(f"queries_per_s ${answers.size / readWall}%.3f 1/s (n=${answers.size})")
    res.pct("fresh", fresh, 0.9)
    res.pct("query", queryMs, 0.9)
    res.pct("ack", acks, 0.99)
    res.line(f"writer_rows_per_s $WriterRowsPerS (open loop, $BatchRows-row batches, ${acks.size} sent)")
  }
}
