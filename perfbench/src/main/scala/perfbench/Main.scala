package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point (run.py builds and launches it):
  *
  * {{{
  * Main --workload mixed|suite|ingest --seed N --seconds S --trace 0|1
  *      --root <checkout> --tmp <scratch dir inside the checkout>
  * }}}
  *
  * One workload runs per JVM on a fixed session (local[nproc], shuffle
  * partitions = nproc, UTC, UI off). Human-readable report lines go to
  * stdout first; the last stdout line is the JSON result run.py relays:
  * `{"correct":..,"attempted":..,"failed":..,"metrics":{..}}` with the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  */
object Main {

  final case class Env(spark: SparkSession, workload: String, root: File, tmp: File,
      seed: Long, seconds: Double, trace: Boolean, nproc: Int) {
    def dir(name: String): String = {
      val d = new File(tmp, name)
      d.mkdirs()
      d.getAbsolutePath
    }
  }

  /** Everything one run reports. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer[String]()
    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    val layers = mutable.LinkedHashMap[String, (Double, String)]()
    val report = mutable.ArrayBuffer[String]()

    /** Count one operation; a failure also records why (first few). */
    def op(ok: Boolean, why: => String = ""): Unit = synchronized {
      attempted += 1
      if (!ok) { failed += 1; if (problems.size < 20) problems += why }
    }
    def wrong(why: String): Unit = synchronized { if (problems.size < 20) problems += why }
    def line(s: String): Unit = synchronized { report += s }

    /** Report `<name>_p50_ms` and the highest of `hi` and p90 that the
      * samples support, each with its sample count. */
    def pct(name: String, xs: Seq[Double], hi: Double): Unit = {
      val p50 = Stats.pct(xs, 0.5)
      line(if (p50.ok) f"${name}_p50_ms ${p50.value}%.3f ms (n=${xs.size})"
        else s"${name}_p50_ms unsupported (n=${xs.size})")
      Seq(hi, 0.9).map(Stats.pct(xs, _)).find(_.ok).foreach { p =>
        line(f"${name}_p${(p.q * 100).round}_ms ${p.value}%.3f ms " +
          s"(n=${p.n}, ${Stats.beyond(p.n, p.q)} beyond)")
      }
    }
  }

  /** Runs the workload and exits the JVM: the servers' event loops are
    * non-daemon threads, and a failed run must not hang on them. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable =>
        System.err.println("perfbench: run failed")
        e.printStackTrace()
        1
    }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val nproc = Runtime.getRuntime.availableProcessors()
    val tmp = new File(a("tmp"))
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", new File(tmp, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val env = Env(spark, workload, new File(a("root")), tmp, a("seed").toLong,
      a("seconds").toDouble, a.get("trace").contains("1"), nproc)
    val res = new Result
    Trace.on = env.trace
    val exec = new ExecCounters
    val plans = new PlanCounters
    if (env.trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(plans)
    }
    val layers = new Layers(env, res, exec, plans)
    try {
      workload match {
        case "mixed" => Service.mixed(env, res, layers)
        case "ingest" => Service.ingest(env, res, layers)
        case "suite" => Suite.run(env, res, layers)
        case other => sys.error(s"unknown workload '$other'")
      }
      res.line(f"rss_peak_mb ${rssPeakMb()}%.1f MB")
      layers.finish()
    } finally spark.stop()

    res.line(f"session_start_s $sessionS%.3f s (not in setup_s)")
    res.report.foreach(println)
    res.e2e.foreach { case (k, (v, unit)) => println(s"e2e $k ${num(v)} $unit") }
    res.problems.foreach(p => println(s"problem: $p"))
    val metrics = if (env.trace) res.layers else res.e2e
    val body = metrics.map { case (k, (v, unit)) =>
      "\"" + k + "\":{\"value\":" + num(v) + ",\"unit\":\"" + unit + "\"}"
    }.mkString(",")
    // a run is correct when every output checked out, no operation failed
    // and every end-to-end metric has the samples it needs
    val correct = res.problems.isEmpty && res.failed == 0 && res.attempted > 0 &&
      res.e2e.values.forall(m => !m._1.isNaN && !m._1.isInfinite)
    println(s"""{"correct":$correct,"attempted":${math.max(res.attempted, 1)},""" +
      s""""failed":${res.failed},"metrics":{$body}}""")
  }

  /** Full-precision JSON number; a value without enough samples (NaN)
    * cannot be encoded and reads -1. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "-1" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
