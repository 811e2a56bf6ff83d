package perfbench

import java.sql.Timestamp
import java.time.Instant

import graft.logs.LogEntryMsg

/** Seeded log generator and the in-memory model of the table it fills.
  *
  * Every field of a row is a pure function of (seed, stream, index), so the
  * executors that write the preloaded table, the gRPC writers and the model
  * that checks `/v1/logs` answers all derive the same rows without sharing
  * state. Rows vary along the properties the query path depends on: a
  * skewed service mix, four levels, ~1k users inside the JSON `attrs`,
  * message sizes from 20 to ~200 bytes, and timestamps spread over six
  * months (history) or following the writer's clock (live rows).
  */
object Gen {

  val Services: Array[String] =
    Array("api", "auth", "billing", "cart", "checkout", "search", "inventory", "notify")
  private val ServiceWeights = Array(30, 20, 12, 10, 10, 8, 6, 4)
  val Levels: Array[String] = Array("DEBUG", "INFO", "WARN", "ERROR")
  private val LevelWeights = Array(15, 65, 14, 6)
  val Users = 1000
  private val Regions = Array("us-1", "us-2", "eu-1", "eu-2", "ap-1")
  private val Words = ("request handled user login cache miss timeout retry " +
    "payment accepted declined order shipped queue depth latency upstream " +
    "connection reset token refreshed index rebuilt query slow disk full " +
    "GET POST /v1/items /v1/cart status=200 status=500 id= took ms").split(" ")

  /** History spans 2024-01-01 .. 2024-07-01 UTC (six month partitions). */
  val HistStart: Long = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  val HistEnd: Long = Instant.parse("2024-07-01T00:00:00Z").toEpochMilli

  /** The probe service the freshness prober polls for marker rows. */
  val ProbeService = "probe"

  /** SplitMix64 finalizer: a well-mixed 64-bit value per input. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic random stream keyed by (seed, stream, index). */
  final class Rng(seed: Long, stream: Long, index: Long) {
    private var state = mix(mix(mix(seed) ^ stream) ^ index)
    def next(): Long = { state = mix(state); state }
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
    def weighted(ws: Array[Int]): Int = {
      var r = below(ws.sum)
      var i = 0
      while (r >= ws(i)) { r -= ws(i); i += 1 }
      i
    }
  }

  // stream ids keep the history, writer and query streams independent
  private val HistoryStream = 1L
  private val LiveStream = 2L
  private val QueryStream = 3L

  /** A stored row: ts in epoch ms (storage precision), attrs as the JSON
    * string `to_json` produces from the wire map. */
  final case class Row(ts: Long, service: String, level: String, msg: String,
      attrs: String, traceId: String, spanId: String, user: Int) {
    def tsStamp: Timestamp = new Timestamp(ts)
  }

  /** The common field draw; `ts` and the trace id come from the caller.
    * Returns the stored row and the wire attrs map it was serialized from. */
  private def body(r: Rng, ts: Long, traceId: String,
      service: String): (Row, Seq[(String, String)]) = {
    val level = r.weighted(LevelWeights)
    // ~85% of rows carry a user; users are skewed (a square draw favours
    // low ids), so a few users are frequent and most are rare
    val user = if (r.below(100) < 85) { val u = r.below(Users); u * u / Users } else -1
    val attrs = (if (user >= 0) Seq("user" -> userName(user)) else Nil) ++
      Seq("region" -> Regions(r.below(Regions.length))) ++
      (if (r.below(4) == 0) Seq("status" -> (if (level == 3) "500" else "200")) else Nil)
    val words = 3 + r.below(28)
    val msg = (0 until words).map(_ => Words(r.below(Words.length))).mkString(" ")
    (Row(ts, service, Levels(level), msg, attrsJson(attrs), traceId,
      f"${r.next() & 0xFFFFFFFFL}%08x", user), attrs)
  }

  def userName(u: Int): String = f"u$u%04d"

  /** `{"k":"v",...}` in insertion order — Spark's `to_json` of a small
    * map; keys and values here need no escaping. */
  def attrsJson(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")

  private def hex16(x: Long): String = f"$x%016x"

  /** History row i of n: timestamps strictly increase with i and are unique
    * (each row owns one `step`-wide slot), so every ts-desc top-K is
    * deterministic. */
  def history(seed: Long, n: Int, i: Int): Row = {
    val r = new Rng(seed, HistoryStream, i)
    val step = (HistEnd - HistStart) / n
    val ts = HistStart + i * step + r.below(step.toInt)
    body(r, ts, hex16(r.next()) + f"$i%016x", Services(r.weighted(ServiceWeights)))._1
  }

  /** Live (wire) row j of writer batch b, stamped `tsMicros` (wire
    * timestamps carry microseconds, which ingest truncates to ms). Row 0 of
    * every batch is its marker: service [[ProbeService]], trace id
    * [[markerId]]. */
  def live(seed: Long, b: Long, j: Int, tsMicros: Long): LogEntryMsg = {
    val r = new Rng(seed, LiveStream, (b << 16) ^ j)
    val service = Services(r.weighted(ServiceWeights))
    val (row, attrs) = if (j == 0) body(r, 0L, markerId(b), ProbeService)
      else body(r, 0L, f"b$b%016xr$j%04x", service)
    LogEntryMsg(ts = wireTs(tsMicros), service = row.service, level = row.level,
      msg = row.msg, attrs = attrs.toMap, trace_id = row.traceId, span_id = row.spanId)
  }

  def markerId(b: Long): String = f"m$b%016x"

  /** RFC3339 with microseconds: `2024-03-05T12:34:56.789123Z`. */
  def wireTs(micros: Long): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L)
    Instant.ofEpochSecond(secs).toString.stripSuffix("Z") + f".$frac%06dZ"
  }

  /** The stored form of a wire row: ms-truncated ts, attrs as JSON. */
  def stored(e: LogEntryMsg): Row =
    Row(Instant.parse(e.ts).toEpochMilli, e.service, e.level, e.msg,
      attrsJson(e.attrs.toSeq), e.trace_id, e.span_id, -1)

  // ── queries ──

  /** One `/v1/logs` request: half-open [from, to) in epoch ms. */
  final case class Query(shape: String, service: String, from: Long, to: Long,
      level: Option[String] = None, user: Option[String] = None, limit: Int = 100) {
    def params: Seq[(String, String)] =
      Seq("service" -> service, "from" -> Instant.ofEpochMilli(from).toString,
        "to" -> Instant.ofEpochMilli(to).toString, "limit" -> limit.toString) ++
        level.map("level" -> _) ++ user.map("user" -> _)
    def matches(r: Row): Boolean =
      r.service == service && r.ts >= from && r.ts < to &&
        level.forall(_ == r.level) && user.forall(u => r.attrs.contains("\"user\":\"" + u + "\""))
  }

  val Shapes: Seq[String] = Seq("hour", "service", "level", "user", "limit1000")
  private val ShapeWeights = Array(30, 20, 20, 20, 10)

  /** Query k of reader `reader` over history [lo, hi). */
  def historyQuery(seed: Long, reader: Int, k: Long, lo: Long = HistStart,
      hi: Long = HistEnd): Query = {
    val r = new Rng(seed, QueryStream, (reader.toLong << 40) ^ k)
    val service = Services(r.weighted(ServiceWeights))
    val hour = 3600000L
    Shapes(r.weighted(ShapeWeights)) match {
      case "hour" =>
        val from = lo + (r.next() & Long.MaxValue) % (hi - lo - hour)
        Query("hour", service, from, from + hour)
      case "service" => Query("service", service, lo, hi)
      case "level" =>
        Query("level", service, lo, hi, level = Some(if (r.below(2) == 0) "WARN" else "ERROR"))
      case "user" =>
        // a one-month window: the JSON filter cannot use row-group stats,
        // so it scans every row of the service in range
        val month = 30L * 24 * hour
        val from = lo + (r.next() & Long.MaxValue) % (hi - lo - month)
        // frequent users (low ids) so most answers are non-empty
        Query("user", service, from, from + month, user = Some(userName(r.below(40))))
      case _ => Query("limit1000", service, lo, hi, limit = 1000)
    }
  }

  /** Index over the history rows for exact top-K answers. Rows of one
    * service are kept in index order, which is ts order. */
  final class Model(val seed: Long, val n: Int) {
    private val tsOf = new Array[Long](n)
    private val svcOf = new Array[Byte](n)
    private val levelOf = new Array[Byte](n)
    private val userOf = new Array[Short](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      val r = history(seed, n, i)
      tsOf(i) = r.ts
      svcOf(i) = Services.indexOf(r.service).toByte
      levelOf(i) = Levels.indexOf(r.level).toByte
      userOf(i) = r.user.toShort
    }
    private val byService: Array[Array[Int]] =
      Services.indices.map(s => (0 until n).filter(svcOf(_) == s).toArray).toArray

    def row(i: Int): Row = history(seed, n, i)

    /** Exact answer: rows matching q, ts descending, at most q.limit. */
    def answer(q: Query): Seq[Row] = {
      val s = Services.indexOf(q.service)
      val idx = if (s < 0) Array.empty[Int] else byService(s)
      val level = q.level.map(l => Levels.indexOf(l).toByte)
      val user = q.user.map(u => u.stripPrefix("u").toInt.toShort)
      // first position with ts >= q.to, then scan down to q.from
      var lo = 0
      var hi = idx.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (tsOf(idx(m)) < q.to) lo = m + 1 else hi = m }
      val out = scala.collection.mutable.ArrayBuffer[Row]()
      var p = lo - 1
      while (p >= 0 && out.size < q.limit && tsOf(idx(p)) >= q.from) {
        val i = idx(p)
        if (level.forall(_ == levelOf(i)) && user.forall(_ == userOf(i))) out += row(i)
        p -= 1
      }
      out.toSeq
    }
  }

  /** Brute-force reference for [[Model.answer]]: filter every row, sort. */
  def bruteForce(rows: Seq[Row], q: Query): Seq[Row] =
    rows.filter(q.matches).sortBy(-_.ts).take(q.limit)
}
