package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark harness: one workload, one seed, one JVM at
  * `local[cores]`, one client in a closed loop.
  *
  * {{{
  * Main --workload extract|ingest|train_eval --seed N --seconds S --trace 0|1 [--root DIR]
  * }}}
  *
  * Prints one line per metric, then the result as one JSON line: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. A traced run alternates traced and untraced batches, so the
  * tracing overhead is measured in the same run. See perfbench/README.md.
  */
object Main {
  val SetupRepeats = 3
  val HeapSampleEveryNs = 2000000000L

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "docs_per_s" -> "docs/s", "batch_p50_s" -> "s", "batch_tail_s" -> "s",
    "peak_heap_mb" -> "MB", "f1" -> "ratio", "stored_bytes_per_input_byte" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "core.html_extract_us_per_doc" -> "us", "core.tokenize_us_per_doc" -> "us",
    "core.score_us_per_doc" -> "us", "core.merge_us_per_doc" -> "us",
    "core.fingerprint_us_per_doc" -> "us", "core.extract_one_us_per_doc" -> "us",
    "core.text_stats_us_per_doc" -> "us", "core.feature_frame_us_per_span" -> "us",
    "core.jaccard_us_per_pair" -> "us", "core.kernel_docs" -> "count",
    "core.tokens_per_doc" -> "count", "core.labels_per_doc" -> "count", "core.jaccard_pairs" -> "count",
    "engine.extract_s" -> "s", "engine.near_dedup_s" -> "s", "engine.near_dedup_dropped" -> "count",
    "engine.feature_frame_s" -> "s", "engine.label_containment_s" -> "s", "engine.evaluate_s" -> "s",
    "jobs.fit_s" -> "s", "jobs.fit_spark_jobs" -> "count", "jobs.dedup_probe_s" -> "s",
    "jobs.dedup_update_s" -> "s", "jobs.dedup_build_s" -> "s", "jobs.index_bytes" -> "bytes",
    "sources.warc_write_s" -> "s", "sources.warc_read_s" -> "s", "sources.warc_bytes_per_doc" -> "bytes",
    "spark.task_busy_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_fetch_wait_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.tasks_failed" -> "count",
    "spark.core_busy_frac" -> "ratio", "spark.parallel_efficiency" -> "ratio",
    "trace.overhead_frac" -> "ratio")

  /** Span name → per-layer metric: median over traced batches of the
    * span's total duration in the batch.
    */
  private val BatchSpans = Seq(
    "engine.extract" -> "engine.extract_s", "engine.near_dedup" -> "engine.near_dedup_s",
    "engine.feature_frame" -> "engine.feature_frame_s",
    "engine.label_containment" -> "engine.label_containment_s",
    "engine.evaluate" -> "engine.evaluate_s", "jobs.fit" -> "jobs.fit_s",
    "jobs.dedup_probe" -> "jobs.dedup_probe_s", "jobs.dedup_update" -> "jobs.dedup_update_s")

  /** Span name → per-layer metric measured in set-up: median over the
    * set-up repeats.
    */
  private val SetupSpans = Seq(
    "jobs.dedup_build" -> "jobs.dedup_build_s", "sources.warc_write" -> "sources.warc_write_s")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, root: File)

  /** One measured batch: its latency, the documents it completed, and
    * whether it was traced.
    */
  final case class Done(batch: Int, ns: Long, docs: Long, ok: Boolean, traced: Boolean)

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(m.getOrElse("root", ".bench_build/run")).getAbsoluteFile)
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: failed: $e")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    Util.deleteRecursively(o.root)
    o.root.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(o.root, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    try {
      val tracer = new Tracer(spark.sparkContext, listen = o.trace)
      val heap = new HeapProbe
      val ctx = new Ctx(spark, o.seed, cores, tracer, heap)
      val wl: Workload = o.workload match {
        case "extract" => new ExtractWorkload(ctx)
        case "ingest" => new IngestWorkload(ctx)
        case "train_eval" => new TrainEvalWorkload(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }

      // set-up: staging repeated, the last copy kept
      tracer.active = o.trace
      val stageS = (0 until SetupRepeats).map { k =>
        tracer.batch = -(k + 1)
        val d = new File(o.root, s"stage-$k")
        val s = Util.timeNs(wl.stage(d))._2 / 1e9
        if (k > 0) Util.deleteRecursively(new File(o.root, s"stage-${k - 1}"))
        s
      }
      tracer.active = false
      val failures = ArrayBuffer.empty[String]
      var checkS = 0.0
      def attempt(b: Int, traced: Boolean): (BatchResult, Long) = {
        wl.prepare(b)
        tracer.batch = b
        tracer.active = traced
        val paused = heap.pausedNs
        val t0 = System.nanoTime()
        val res =
          try {
            // the check runs outside the batch span: its jobs are not the
            // workload's
            val check = tracer.span("batch")(wl.run(b))
            val ns = System.nanoTime() - t0 - (heap.pausedNs - paused)
            val (r, checkNs) = Util.timeNs(check())
            checkS += checkNs / 1e9
            (r, ns)
          } catch {
            case e: Exception => (BatchResult(0, ok = false, e.toString), System.nanoTime() - t0)
          }
        tracer.active = false
        heap.armed = false
        if (!res._1.ok) failures += s"batch $b: ${res._1.detail}"
        res
      }
      val warmStartMs = System.currentTimeMillis()
      var warm = 0
      var warmNs = 0L
      while (warm < wl.warmupBatches || warmNs < wl.warmupSeconds * 1e9) {
        warmNs += attempt(warm, traced = false)._2
        warm += 1
      }
      val firstMeasuredMs = System.currentTimeMillis()
      val setupS = (firstMeasuredMs - jvmStartMs) / 1e3 - stageS.sum + Util.median(stageS)

      // measured phase: closed loop until `seconds` of batch time
      val done = ArrayBuffer.empty[Done]
      var measuredNs = 0L
      var nextHeapAt = 0L
      var b = warm
      while (measuredNs < o.seconds * 1000000000L) {
        val traced = o.trace && b % 2 == 0
        heap.armed = measuredNs >= nextHeapAt
        if (heap.armed) nextHeapAt = measuredNs + HeapSampleEveryNs
        val (r, ns) = attempt(b, traced)
        done += Done(b, ns, r.docs, r.ok, traced)
        measuredNs += ns
        b += 1
      }

      val lat = done.map(_.ns / 1e9).toSeq
      val n = lat.length
      val (tailQ, tail) = tailLatency(lat)
      val docsPerS = done.map(_.docs).sum / (measuredNs / 1e9)
      val failed = failures.length
      val attempted = warm + n
      val e2e = Map(
        "setup_s" -> setupS,
        "docs_per_s" -> docsPerS,
        "batch_p50_s" -> Util.median(lat),
        "batch_tail_s" -> tail,
        // median of the sampled batches' peaks: an occasional sample that
        // still holds blocks Spark has not yet released would otherwise
        // set the whole run's figure
        "peak_heap_mb" -> Util.median(heap.samplesMb.toSeq),
        "f1" -> wl.f1,
        "stored_bytes_per_input_byte" -> wl.storedBytesPerInputByte)
      println(f"# workload=${o.workload} seed=${o.seed} cores=$cores batches=$n tail=p$tailQ%.1f " +
        f"session_s=${(sessionMs - jvmStartMs) / 1e3}%.3f warmup_s=${(firstMeasuredMs - warmStartMs) / 1e3}%.3f " +
        f"check_s=$checkS%.3f wall_s=${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.3f " +
        f"heap_mb=${heap.samplesMb.map(m => f"$m%.0f").mkString("/")} stage_s=${stageS.map(s => f"$s%.3f").mkString("/")} " +
        f"fail_frac=${failed.toDouble / attempted}%.4f")
      println(s"# batch_s=${lat.map(l => f"$l%.3f").mkString(",")}")
      failures.foreach(f => println(s"# FAILED $f"))

      val (metrics, defs) =
        if (!o.trace) (e2e, EndToEnd)
        else (perLayer(o, wl, tracer, ctx, done.toSeq), PerLayer)
      defs.foreach { case (name, unit) => println(s"# $name = ${metrics.getOrElse(name, 0.0)} $unit") }
      val json = defs.map { case (name, unit) =>
        s""""$name":{"value":${num(metrics.getOrElse(name, 0.0))},"unit":"$unit"}"""
      }.mkString(",")
      println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$json}}""")
      0
    } finally {
      spark.stop()
      Util.deleteRecursively(o.root)
    }
  }

  /** Latency at the highest percentile with ten batches beyond it: the
    * eleventh-largest batch, at percentile 100 (n - 10) / n (p75 at 40
    * batches, p90 at 100). It moves smoothly with the batch count, so runs
    * with a few batches more or less stay comparable. Below 20 batches that
    * percentile is under the median, and the maximum is reported.
    */
  def tailLatency(lat: Seq[Double]): (Double, Double) = {
    val s = lat.sorted
    val n = s.length
    if (n == 0) (0.0, 0.0)
    else if (n < 20) (100.0, s(n - 1))
    else (100.0 * (n - 10) / n, s(n - 11))
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString

  private def perLayer(o: Opts, wl: Workload, tracer: Tracer, ctx: Ctx, done: Seq[Done]): Map[String, Double] = {
    tracer.drain()
    val (traced, untraced) = done.partition(_.traced)
    val tracedBatches = traced.map(_.batch).toSet
    def rate(xs: Seq[Done]) = xs.map(_.docs).sum / (xs.map(_.ns).sum / 1e9)
    def medianOver(perBatch: Map[Int, Double]): Double =
      Util.median(tracedBatches.toSeq.map(b => perBatch.getOrElse(b, 0.0)))

    val out = scala.collection.mutable.Map.empty[String, Double]
    BatchSpans.foreach { case (span, metric) =>
      val per = tracer.perBatchNs(span)
      if (per.keySet.exists(tracedBatches)) out(metric) = medianOver(per.map { case (b, ns) => b -> ns / 1e9 })
    }
    SetupSpans.foreach { case (span, metric) =>
      val per = tracer.perBatchNs(span).filter(_._1 < 0)
      if (per.nonEmpty) out(metric) = Util.median(per.values.map(_ / 1e9).toSeq)
    }
    val fitJobs = tracer.perBatchSpark(_.name == "jobs.fit")
    if (fitJobs.keySet.exists(tracedBatches)) out("jobs.fit_spark_jobs") = medianOver(fitJobs.map { case (b, c) => b -> c.jobs.toDouble })
    ctx.counts.foreach { case (name, vs) => out(name) = Util.median(vs.toSeq) }

    val sp = tracer.perBatchSpark(_ => true).filter { case (b, _) => tracedBatches(b) }
    def sparkMedian(f: SparkCounters => Double) = medianOver(sp.map { case (b, c) => b -> f(c) })
    out ++= Seq(
      "spark.task_busy_s" -> sparkMedian(_.busyNs / 1e9),
      "spark.task_cpu_s" -> sparkMedian(_.cpuNs / 1e9),
      "spark.gc_s" -> sparkMedian(_.gcMs / 1e3),
      "spark.shuffle_fetch_wait_s" -> sparkMedian(_.fetchWaitMs / 1e3),
      "spark.shuffle_read_bytes" -> sparkMedian(_.shuffleReadBytes.toDouble),
      "spark.shuffle_write_bytes" -> sparkMedian(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> sparkMedian(_.spillBytes.toDouble),
      "spark.jobs" -> sparkMedian(_.jobs.toDouble),
      "spark.tasks" -> sparkMedian(_.tasks.toDouble),
      "spark.tasks_failed" -> sparkMedian(_.tasksFailed.toDouble),
      "spark.core_busy_frac" -> sp.values.map(_.busyNs).sum / (traced.map(_.ns).sum.toDouble * ctx.cores),
      "trace.overhead_frac" -> (1.0 - rate(traced) / rate(untraced)))
    tracer.write(new File(o.root.getParentFile, s"traces/${o.workload}-seed${o.seed}.jsonl"))

    out ++= wl.tracedProbes()
    out ++= Kernels.run(wl.kernelSample)
    out.toMap
  }
}
