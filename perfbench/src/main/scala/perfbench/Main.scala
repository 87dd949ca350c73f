package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.model.Tables

/** Runs one workload and writes its result as JSON.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file> [--data <dir>] [--queries a,b,...]`
  *
  * Set-up (session plus the workload's preparation) is done five times and
  * its median reported. Then an untimed warm pass, which also produces the
  * outputs the correctness checks read, and the measured run with tracing
  * off. With `--trace 1` a second, traced run follows; its per-layer
  * metrics are reported together with its end-to-end difference from the
  * untraced run (the tracing overhead).
  */
object Main {

  val BatchWorkloads = Set("registry_tail")
  val StreamWorkloads = Set("trade_stream")
  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val SetupRepeats = 5
  /** Sequential untimed passes over the registry mix before it is measured. */
  val BatchWarmSeconds = 15.0
  /** Measured passes at least: 70 query runs, enough for a p85 with ten
    * runs beyond it.
    */
  val BatchMinPasses = 7

  /** Wall seconds of each phase of this run, for the record. */
  private val phaseSeconds = scala.collection.mutable.LinkedHashMap[String, Double]()

  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phaseSeconds(name) = (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch { case e: Throwable =>
      // Spark leaves non-daemon threads behind; exit rather than hang
      e.printStackTrace()
      sys.exit(1)
    }

  private def run(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(BatchWorkloads(workload) || StreamWorkloads(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(work))

    var spark: SparkSession = null
    var url = ""
    val setups = (1 to SetupRepeats).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      if (BatchWorkloads(workload)) TableNames.foreach(Tables.table(spark, a("data"), _))
      else {
        url = s"jdbc:derby:memory:perfbench$k;create=true"
        Streams.createTable(url)
      }
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLogLevel("WARN")
    phaseSeconds("setup") = setups.sum

    val result =
      if (BatchWorkloads(workload))
        runBatch(spark, workload, a("data"), a("queries").split(",").toSeq, seed, seconds,
          trace, work, cores)
      else runStream(spark, seed, seconds, trace, url, work, cores)

    val env = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "setup_samples_s" -> setups,
      "session_config" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" ||
          k.startsWith("spark.cleaner") }.toSeq.sortBy(_._1).toMap)
    val metrics = result.metrics ++ Map(
      "setup_s" -> Stats.median(setups), "peak_rss_mb" -> peakRssMb())
    phase("stop")(spark.stop())
    Files.writeString(Paths.get(a("out")), Json.obj(
      "env" -> env, "metrics" -> metrics, "layers" -> result.layers,
      "layer_units" -> Layers.Units.toMap,
      "checks" -> result.checks,
      "detail" -> (result.detail + ("phase_seconds" -> phaseSeconds.toMap)),
      "attempted" -> result.attempted, "failed" -> result.failed))
  }

  final case class Outcome(metrics: Map[String, Double], layers: Map[String, Double],
                           checks: Map[String, Boolean], detail: Map[String, Any],
                           attempted: Long, failed: Long)

  def session(cores: Int, work: String): SparkSession =
    GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  // ---- batch ----------------------------------------------------------------

  /** Batch latency: the mean over queries of each query's median time
    * over the passes (the typical query of the fixed mix; with ten distinct
    * queries a pooled median would jump between neighbours), and the 85th
    * percentile of all query runs pooled — the highest that the
    * sample-count rule allows at [[BatchMinPasses]] passes. Throughput is
    * queries per second of a median pass.
    */
  def batchMetrics(r: Batch.Result): Map[String, Double] = {
    val ok = r.samples.filter(_.ok)
    val perQuery = ok.groupBy(_.name).values.map(q => Stats.median(q.map(_.seconds * 1000))).toSeq
    if (perQuery.isEmpty) Map.empty
    else {
      val runs = ok.map(_.seconds * 1000)
      val pass = Stats.median(r.passSeconds)
      Map(
        "latency_ms" -> perQuery.sum / perQuery.size,
        "latency_tail_ms" -> Stats.ruledPercentile(runs, 0.85).getOrElse(runs.max),
        "pass_s" -> pass,
        "throughput_per_s" -> perQuery.size / pass)
    }
  }

  def runBatch(spark: SparkSession, workload: String, data: String, names: Seq[String],
               seed: Long, seconds: Double, trace: Boolean, work: String,
               cores: Int): Outcome = {
    val warm = phase("warm")(Batch.warmAndDump(spark, data, names, s"$work/results", cores))
    val failedWarm = warm.collect { case (n, None) => n }
    // sequential untimed passes: after the concurrent warm pass, pass times
    // keep falling for ~25 s of sequential passes (by about a fifth)
    phase("warm_sequential")(Batch.run(spark, data, names, seed, BatchWarmSeconds, 1, None,
      workload))
    val r = phase("measure")(Batch.run(spark, data, names, seed, seconds, BatchMinPasses, None,
      workload))
    val m = batchMetrics(r)
    val layers = if (!trace) Map.empty[String, Double] else phase("traced") {
      val tracer = new Tracer
      val l = LayerListener.install(spark)
      val rt = Batch.run(spark, data, names, seed + 1, seconds, BatchMinPasses, Some(tracer),
        workload)
      LayerListener.drain(spark, l)
      val spans = Layers.withLayerSpans(tracer.all, l, tracer, Set("build", "action"))
      writeTrace(work, spans, l)
      val mt = batchMetrics(rt)
      Layers.Units.map(_._1 -> 0.0).toMap ++
        Layers.batch(spans, l, rt.passSeconds.size, cores) ++ overhead(m, mt)
    }
    val failedRuns = r.samples.count(!_.ok)
    Outcome(m, layers, Map("warm_pass_ran" -> failedWarm.isEmpty),
      Map("queries" -> names, "passes" -> r.passSeconds, "warm_failed" -> failedWarm,
        "warm_s" -> warm.collect { case (n, Some(s)) => n -> s }.toMap,
        "samples" -> r.samples.size,
        "query_ms" -> r.samples.groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds * 1000) },
        "per_query_median_s" -> r.samples.filter(_.ok).groupBy(_.name)
          .map { case (k, v) => k -> Stats.median(v.map(_.seconds)) }),
      attempted = r.samples.size + names.size, failed = failedRuns + failedWarm.size)
  }

  // ---- streams --------------------------------------------------------------

  /** End-to-end metrics of a stream run and the number of lines never
    * committed. Latency runs from a line's due time to its batch's commit;
    * throughput is the pipeline's capacity over the measured micro-batches
    * (their input rows per second of trigger execution), which the fixed
    * feed rate does not cap.
    */
  def streamMetrics(run: Streams.Run): (Map[String, Double], Long) = {
    val lat = Stats.attributeLatencies(run.commits, run.dueNs)
    val ok = run.measured.map(lat(_)).filter(_ >= 0).map(_ / 1e6)
    val lost = run.dueNs.indices.count(lat(_) < 0).toLong
    val batches = run.progress.filter(p => p.batchId >= run.firstMeasuredBatch &&
      p.numInputRows > 0).map(p => (p.numInputRows, p.durationMs.get("triggerExecution")
      .doubleValue))
    if (ok.isEmpty || batches.isEmpty) (Map.empty, lost)
    else (Map(
      "latency_ms" -> Stats.median(ok),
      "latency_tail_ms" -> Stats.ruledPercentile(ok, 0.99).getOrElse(ok.max),
      "pass_s" -> Stats.median(batches.map(_._2 / 1000)),
      "throughput_per_s" -> Stats.capacityPerS(batches)), lost)
  }

  def runStream(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
                url: String, work: String, cores: Int): Outcome = {
    val run = phase("measure")(Streams.tradeStream(spark, seed, seconds, url, work, None))
    val (m, lost) = streamMetrics(run)
    val layers = if (!trace) Map.empty[String, Double] else phase("traced") {
      val tracer = new Tracer
      val tracedUrl = url.replace(";create=true", "traced;create=true")
      Streams.createTable(tracedUrl)
      val l = LayerListener.install(spark)
      val rt = Streams.tradeStream(spark, seed, seconds, tracedUrl, work, Some(tracer))
      LayerListener.drain(spark, l)
      val spans = Layers.withLayerSpans(Layers.streamSpans(rt, tracer), l, tracer, Set("upsert"))
      writeTrace(work, spans, l)
      Layers.Units.map(_._1 -> 0.0).toMap ++ Layers.stream(rt, spans, l, cores) ++
        overhead(m, streamMetrics(rt)._1)
    }
    val failedChecks = run.checks.count(!_._2)
    Outcome(m, layers, run.checks, run.detail ++ Map("error" -> run.error,
      "commits" -> run.commits.size),
      attempted = run.tape.size.toLong + run.checks.size, failed = lost + failedChecks)
  }

  private def overhead(untraced: Map[String, Double],
                       traced: Map[String, Double]): Map[String, Double] =
    untraced.keys.filter(traced.contains).map { k =>
      s"trace.overhead.$k" -> (traced(k) - untraced(k))
    }.toMap

  /** Writes the traced run's spans (jobs and Catalyst runs among them) and
    * the stages of each job.
    */
  private def writeTrace(work: String, spans: Seq[Span], l: LayerListener): Unit = {
    val stageJob = l.jobs.values.asScala.toSeq.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    val out = Json.obj(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "key" -> s.key, "start_us" -> s.startUs, "end_us" -> s.endUs)),
      "stages" -> l.stages.values.asScala.toSeq.map(s => Map("stage" -> s.stageId,
        "job" -> stageJob.getOrElse(s.stageId, -1), "start_us" -> s.startUs,
        "end_us" -> s.endUs, "tasks" -> s.tasks, "run_ms" -> s.runMs)))
    Files.writeString(Paths.get(s"$work/trace.json"), out)
  }
}
