package graft.eltbench

import java.io.{File, FileWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The ELT benchmark's JVM side: one workload, one seed, one run.
  *
  *   graft.eltbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --out <result.json>
  *
  * Sets the workload up [[SetupRepeats]] times (setup_s is the median),
  * runs an untimed warm-up op, then closed-loop iterations of
  * (op, rerun) until `--seconds` have passed. Untraced, the result holds
  * the end-to-end metrics; traced, iterations alternate between traced and
  * untraced, and the result holds the per-layer metrics (medians over the
  * traced iterations) and the tracing overhead. The result file also
  * carries `extras`: figures shown in the summary but not benchmarked. */
object Main {
  val SetupRepeats = 3

  /** Span name -> self-time metric. */
  val SelfTime: Seq[(String, String)] = Seq(
    "sources.read" -> "sources.read_s", "transform" -> "transform.s",
    "sink.append" -> "sink.append_s", "report" -> "report.s",
    "pipeline" -> "pipeline.self_s", "text.scrub" -> "text.scrub_s",
    "neardup.exact" -> "neardup.exact_s", "neardup.minhash" -> "neardup.minhash_s",
    "text.quality" -> "text.quality_s", "sampling.split" -> "sampling.split_s",
    "packing.pack" -> "packing.pack_s", "llmprep" -> "llmprep.self_s",
    "op" -> "trace.harness_s")
  val Modules: Seq[String] = Seq("sources", "transform", "sink", "report",
    "pipeline", "text", "neardup", "sampling", "packing", "llmprep")
  def module(span: String): String = span.takeWhile(_ != '.')

  val PerLayer: Seq[(String, String)] =
    SelfTime.map(_._2 -> "s") ++ Seq(
      "trace.op_s" -> "s", "trace.overhead_s" -> "s",
      "sources.spark_jobs" -> "count", "sources.page_fetches" -> "count",
      "sources.http_requests" -> "count", "sources.throttled" -> "count",
      "sources.retries" -> "count", "sources.useful_fetch_ratio" -> "ratio",
      "sources.fetch_busy_s" -> "s", "sources.fetch_concurrency" -> "ratio",
      "sources.token_calls" -> "count",
      "transform.rows_in" -> "count", "transform.rows_out" -> "count",
      "sink.spark_jobs" -> "count", "sink.probe_rows_read" -> "count",
      "sink.probe_share" -> "ratio", "sink.rows_inserted" -> "count",
      "sink.insert_ratio" -> "ratio", "sink.files_written" -> "count",
      "sink.bytes_written" -> "bytes", "sink.shuffle_bytes" -> "bytes",
      "sink.bytes_per_payload_byte" -> "ratio",
      "neardup.exact_rows_out" -> "count", "neardup.candidates" -> "count",
      "neardup.pairs" -> "count", "neardup.confirm_ratio" -> "ratio",
      "neardup.distributed_path" -> "bool",
      "input.records" -> "count", "input.pages" -> "count",
      "input.sink_rows" -> "count", "input.corpus_docs" -> "count",
      "input.shingle_cells" -> "count") ++
      Modules.flatMap(m => Seq(s"$m.tasks" -> "count", s"$m.gc_s" -> "s",
        s"$m.spill_bytes" -> "bytes", s"$m.cached_bytes" -> "bytes"))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Old-generation heap in use right after a full collection, in MB. The
    * first collection lets Spark's cleaner drop what became unreachable
    * (broadcast and cached blocks); the second frees it. */
  private def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"eltbench-$name")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // the UI is off; keep its status stores from growing the heap metric
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val counters = new SparkCounters(spark, work.getPath)
    if (trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    val plain = new Tracer(spark, on = false, counters)
    val traced = new Tracer(spark, on = trace, counters)

    val wl = Workload(name, spark, work, seed)
    var attempted = 0L
    var failed = 0L
    def check(ok: => Boolean): Unit = {
      attempted += 1
      val passed = try ok catch {
        case e: Exception => System.err.println(s"[eltbench] operation failed: $e"); false
      }
      if (!passed) failed += 1
    }

    try {
      val t0 = System.nanoTime()
      def phase(what: String): Unit =
        System.err.println(f"[eltbench] $what done at ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // The first setup runs cold, so the median is a warm one.
      val setups = (1 to SetupRepeats).map(_ => timed(wl.setup())._2)
      phase("setup")
      // Untimed warm-up (class loading, JIT, Spark's generated code): one
      // op of each kind measured below; a rerun runs a subset of its code.
      for (t <- if (trace) Seq(traced, plain) else Seq(plain)) {
        wl.between(); t.nextOp(); check(wl.op(t, mutable.Map.empty))
      }
      phase("warm-up")

      val opTimes, rerunTimes, iterTimes, tracedIterTimes = mutable.ArrayBuffer.empty[Double]
      val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
      var heapPeak = 0.0
      val start = System.nanoTime()
      var iteration = 0
      def elapsed = (System.nanoTime() - start) / 1e9
      // a traced run needs at least one traced and one untraced iteration
      while (elapsed < seconds || (trace && iteration < 2)) {
        val useTrace = trace && iteration % 2 == 0
        val t = if (useTrace) traced else plain
        val counts = mutable.Map.empty[String, Double]
        wl.between()
        val firstSpan = t.spans.size
        t.nextOp()
        val (_, opS) = timed(check(wl.op(t, counts)))
        t.nextOp()
        val (_, rerunS) = timed(check(wl.rerun(t, counts)))
        if (useTrace) {
          org.apache.spark.eltbench.Bus.drain(spark.sparkContext)
          tracedIterTimes += opS + rerunS
          layerRows += layerMetrics(traced, counters, traced.spans.drop(firstSpan).toSeq,
            counts.toMap)
        } else {
          opTimes += opS; rerunTimes += rerunS; iterTimes += opS + rerunS
        }
        heapPeak = heapPeak max oldGenAfterGcMb()
        iteration += 1
        phase(f"iteration $iteration (op $opS%.2f s, rerun $rerunS%.2f s)")
      }

      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", median(setups), "s"),
          ("op_s", median(opTimes.toSeq), "s"),
          ("rerun_s", median(rerunTimes.toSeq), "s"),
          ("heap_peak_mb", heapPeak, "MB"))
        else {
          val once = wl.facts ++ wl.finalCounts()
          val layer = layerRows.flatMap(_.keys).distinct.map(k =>
            k -> median(layerRows.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++ once ++
            Map("trace.overhead_s" -> (median(tracedIterTimes.toSeq) - median(iterTimes.toSeq)))
          val withRatios = layer ++ Map(
            "neardup.confirm_ratio" -> ratio(layer, "neardup.pairs", "neardup.candidates"))
          PerLayer.map { case (k, unit) => (k, withRatios.getOrElse(k, 0.0), unit) }
        }

      if (trace) {
        val w = new FileWriter(new File(work, "spans.jsonl"))
        try traced.dump(w) finally w.close()
      }
      val extras = wl.extras ++ wl.facts ++ Map(
        "error_rate" -> failed.toDouble / attempted,
        "iterations" -> iteration.toDouble,
        "samples" -> (if (trace) layerRows.size else opTimes.size).toDouble)
      writeResult(new File(opts("out")), failed == 0, attempted, failed, metrics, extras)
    } finally {
      wl.close()
      spark.stop()
    }
  }

  private def ratio(m: Map[String, Double], num: String, den: String): Double = {
    val d = m.getOrElse(den, 0.0)
    if (d == 0) 0.0 else m.getOrElse(num, 0.0) / d
  }

  /** Per-layer metrics of one traced iteration (its op and rerun). */
  private def layerMetrics(t: Tracer, c: SparkCounters, spans: Seq[Span],
      counts: Map[String, Double]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double] ++ counts
    for ((span, metric) <- SelfTime)
      out(metric) = spans.filter(_.name == span).map(t.selfNanos).sum / 1e9
    out("trace.op_s") = spans.filter(_.parent == -1).map(s => s.end - s.start).sum / 1e9
    def stat(ss: Seq[Span])(f: GroupStats => java.util.concurrent.atomic.AtomicLong): Double =
      ss.map(s => f(c.stats(t.group(s))).get.toDouble).sum
    for (m <- Modules) {
      val ss = spans.filter(s => module(s.name) == m)
      out(s"$m.tasks") = stat(ss)(_.tasks)
      out(s"$m.gc_s") = stat(ss)(_.gcMs) / 1000
      out(s"$m.spill_bytes") = stat(ss)(_.spillBytes)
      out(s"$m.cached_bytes") = ss.map(_.cachedBytes.toDouble).maxOption.getOrElse(0.0)
    }
    val sources = spans.filter(s => module(s.name) == "sources")
    val sink = spans.filter(s => module(s.name) == "sink")
    out("sources.spark_jobs") = stat(sources)(_.jobs)
    out("sink.spark_jobs") = stat(sink)(_.jobs)
    out("sink.shuffle_bytes") = stat(sink)(_.shuffleBytes)
    val m = out.toMap
    out("sources.useful_fetch_ratio") = ratio(m, "sources.nonempty_fetches", "sources.page_fetches")
    out("sources.fetch_concurrency") = ratio(m, "sources.fetch_busy_s", "sources.read_wall_s")
    out("sink.probe_share") = ratio(m, "sink.probe_rows_read", "sink.rows_before")
    out("sink.insert_ratio") = ratio(m, "sink.rows_inserted", "transform.rows_out")
    out("sink.bytes_per_payload_byte") = ratio(m, "sink.bytes_written", "sources.bytes_served")
    out.toMap
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def writeResult(f: File, correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], extras: Map[String, Double]): Unit = {
    val ms = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val ex = extras.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }
      .mkString(", ")
    val w = new FileWriter(f)
    try w.write(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$ms}, "extras": {$ex}}""" + "\n")
    finally w.close()
  }
}
