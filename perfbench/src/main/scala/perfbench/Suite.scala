package perfbench

import java.io.File

import graft.SparkEntry

import Main.{Env, Result}

/** The analytics-suite workload: registered queries from
  * [[SparkEntry.queries]], each built by its registry function (DataFrame
  * construction, including any eager jobs and schema inference in
  * `Tables`) and materialized through the noop sink, the way `graft.Bench`
  * times them. It runs on the sf0.001 fixture copy under
  * `perfbench/data`, so it reads nothing outside the checkout.
  */
object Suite {

  /** Warm passes in setup; `setup_s` is their median. */
  val Setups = 3

  /** The timed rows: every 40th row of the sorted registry, less the
    * verification-only rows and the layout rows (which memoize a one-time
    * write per JVM that a repeated setup cannot repeat) — a systematic
    * draw that keeps a pass near 3 s on 4 cores (all 198 such rows take
    * ~126 s warm at sf0.001) — with the row count each returns on the
    * fixture. */
  val Stride = 40
  val ExpectedRows: Map[String, Long] = Map(
    "q10_returned_items" -> 20, "q_codec_stats" -> 15, "q_eval_sample" -> 25,
    "q_lttb" -> 120, "q_sequence_count" -> 15)

  def names: Seq[String] =
    (SparkEntry.queries.keySet -- SparkEntry.verificationOnly -- SparkEntry.layoutQueries)
      .toSeq.sorted.zipWithIndex.collect { case (n, i) if i % Stride == 0 => n }

  /** One query: construction then the noop save; returns (construct ms,
    * total ms). */
  private def one(env: Env, dir: String, name: String, pass: Int): (Double, Double) = {
    val sc = env.spark.sparkContext
    Trace.span("suite.query", name) {
      val t0 = System.nanoTime()
      sc.setLocalProperty(ExecCounters.Phase, s"construct:$pass:$name")
      val df = Trace.span("suite.construct", name)(SparkEntry.queries(name)(env.spark, dir))
      val t1 = System.nanoTime()
      sc.setLocalProperty(ExecCounters.Phase, s"exec:$pass:$name")
      Trace.span("suite.save", name)(df.write.format("noop").mode("overwrite").save())
      sc.setLocalProperty(ExecCounters.Phase, null)
      ((t1 - t0) / 1e6, (System.nanoTime() - t0) / 1e6)
    }
  }

  def run(env: Env, res: Result, layers: Layers): Unit = {
    val dir = new File(env.root, "perfbench/data").getAbsolutePath
    val all = names
    // seeded order per pass, so no query always runs first
    def order(pass: Int): Seq[String] = {
      val r = new Gen.Rng(env.seed, 7L, pass)
      all.map(n => (r.next(), n)).sortBy(_._1).map(_._2)
    }
    val setup = (0 until Setups).map { i =>
      val t = System.nanoTime()
      order(-1 - i).foreach(n => one(env, dir, n, -1 - i))
      (System.nanoTime() - t) / 1e9
    }
    res.e2e("setup_s") = (Stats.median(setup), "s")
    res.line("setup_s_each " + setup.map(t => f"$t%.3f").mkString(" "))

    layers.startWindow()
    val t0 = System.nanoTime()
    val end = t0 + (env.seconds * 1e9).toLong
    val perQuery = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector.empty)
    val passes = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    var pass = 0
    while (pass == 0 || System.nanoTime() < end) {
      var constructMs, totalMs = 0.0
      order(pass).foreach { n =>
        val (c, t) = try one(env, dir, n, pass) catch {
          case e: Throwable =>
            res.op(ok = false, s"$n: ${e.toString.linesIterator.next()}")
            (Double.NaN, Double.NaN)
        }
        if (!t.isNaN) {
          res.op(ok = true)
          perQuery(n) :+= t
          constructMs += c
          totalMs += t
        }
      }
      passes += ((constructMs, totalMs))
      pass += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    layers.endWindow()
    layers.suiteConstructMs = passes.map(_._1).toSeq

    // correctness, outside the timed window: each query's row count
    all.foreach { n =>
      val rows = SparkEntry.queries(n)(env.spark, dir).count()
      if (!ExpectedRows.get(n).contains(rows))
        res.wrong(s"$n returned $rows rows, expected ${ExpectedRows.get(n)}")
    }

    // a pass has only a handful of rows, too few for percentiles: report
    // means per row and their geometric mean across rows
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val perRow = perQuery.toSeq.sortBy(_._1).map { case (n, xs) => n -> mean(xs) }
    val n = perQuery.values.map(_.size).sum
    res.e2e("throughput_per_s") = (n / wall, "1/s")
    res.e2e("latency_ms") = (Stats.geomean(perRow.map(_._2)), "ms")
    res.line(f"suite_s ${mean(passes.map(_._2 / 1000).toSeq)}%.3f s " +
      s"(mean of ${passes.size} passes, ${all.size} queries each, construction included)")
    res.line(f"suite_construct_s ${mean(passes.map(_._1 / 1000).toSeq)}%.3f s per pass")
    res.line(f"suite_geomean_ms ${Stats.geomean(perRow.map(_._2))}%.3f ms (n=${perRow.size} rows)")
    perRow.foreach { case (q, ms) => res.line(f"suite_query $q $ms%.1f ms (mean of ${perQuery(q).size})") }
  }
}
