package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run. Times and volumes are means per unit
  * of work — per pass on the batch workloads, per micro-batch with data on
  * the streaming ones — so they read directly against `pass_s`; event
  * counts are totals over the traced run, state sizes are maxima. Every
  * name is reported on every workload (0 where a layer is not on the
  * workload's path).
  */
object Layers {

  val Units: Seq[(String, String)] = Seq(
    "microbatch.count" -> "count", "microbatch.trigger_ms" -> "ms",
    "microbatch.latest_offset_ms" -> "ms", "microbatch.planning_ms" -> "ms",
    "microbatch.add_batch_ms" -> "ms", "microbatch.wal_commit_ms" -> "ms",
    "microbatch.commit_offsets_ms" -> "ms",
    "source.backlog_events" -> "count", "source.backlog_growth_per_s" -> "1/s",
    "source.conn_epochs" -> "count",
    "gen.late_ms" -> "ms",
    "parse.rows" -> "count", "parse.malformed" -> "count", "parse.bad_decimal" -> "count",
    "dedup.state_rows" -> "count", "dedup.state_bytes" -> "bytes",
    "dedup.dropped_duplicates" -> "count", "dedup.rows_dropped_by_watermark" -> "count",
    "dedup.commit_ms" -> "ms",
    "ohlcv.state_rows" -> "count", "ohlcv.state_bytes" -> "bytes",
    "ohlcv.rows_updated" -> "count", "ohlcv.rows_dropped_by_watermark" -> "count",
    "ohlcv.commit_ms" -> "ms",
    "sink.upsert_ms" -> "ms", "sink.stage_ms" -> "ms", "sink.merge_ms" -> "ms",
    "sink.rows" -> "count", "sink.failed_batches" -> "count",
    "build.s" -> "s", "build.jobs" -> "count", "build.tasks" -> "count",
    "catalyst.s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_skew" -> "ratio", "exec.busy_ratio" -> "ratio",
    "exec.input_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.output_bytes" -> "bytes", "exec.gc_s" -> "s", "exec.failed_tasks" -> "count",
    "trace.unaccounted_s" -> "s", "trace.unaccounted_share" -> "ratio",
    "trace.overhead.latency_ms" -> "ms", "trace.overhead.latency_tail_ms" -> "ms",
    "trace.overhead.pass_s" -> "s", "trace.overhead.throughput_per_s" -> "1/s")

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Execution of the jobs tagged with one of `spanIds`, per `units`. */
  private def exec(l: LayerListener, spanIds: Set[Int], units: Double,
                   cores: Int): Map[String, Double] = {
    val jobs = l.jobs.values.asScala.filter(j => spanIds(j.span)).toSeq
    val stages = l.stages.values.asScala.filter(s => spanIds(s.span)).toSeq
    val wallS = Spans.union(jobs.filter(_.endUs > 0).map(j => (j.startUs, j.endUs))) / 1e6
    val skewed = stages.filter(_.tasks >= 2)
    val failed = l.failedTasks.asScala.collect { case (s, n) if spanIds(s) => n.get }.sum
    Map(
      "exec.s" -> wallS / units,
      "exec.jobs" -> jobs.size / units,
      "exec.stages" -> stages.size / units,
      "exec.tasks" -> stages.map(_.tasks).sum / units,
      "exec.task_skew" -> (if (skewed.isEmpty) 1.0
        else skewed.map(_.maxTaskMs.toDouble).sum / math.max(1e-9, skewed.map(_.meanTaskMs).sum)),
      "exec.busy_ratio" -> (if (wallS <= 0) 0.0
        else stages.map(_.runMs).sum / 1000.0 / (wallS * cores)),
      "exec.input_bytes" -> stages.map(_.inputBytes).sum / units,
      "exec.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum / units,
      "exec.shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum / units,
      "exec.spill_bytes" -> stages.map(_.spillBytes).sum / units,
      "exec.output_bytes" -> stages.map(_.outputBytes).sum / units,
      "exec.gc_s" -> stages.map(_.gcMs).sum / 1000.0 / units,
      "exec.failed_tasks" -> failed.toDouble)
  }

  /** The traced spans plus, as children, every Spark job (under the span
    * it was tagged with) and every Catalyst run (under the innermost span
    * of `hosts` it started in).
    */
  def withLayerSpans(spans: Seq[Span], l: LayerListener, tracer: Tracer,
                     hosts: Set[String]): Seq[Span] = {
    val ids = spans.map(_.id).toSet
    val jobs = l.jobs.values.asScala.toSeq.sortBy(_.jobId)
      .filter(j => ids(j.span) && j.endUs > 0)
      .map(j => Span(tracer.newId(), j.span, "job", s"job/${j.jobId}", j.startUs, j.endUs))
    val hostSpans = spans.filter(s => hosts(s.name))
    val catalyst = l.catalyst.asScala.toSeq.flatMap { c =>
      hostSpans.filter(h => c.startUs >= h.startUs && c.startUs <= h.endUs)
        .sortBy(_.durUs).headOption
        .map(h => Span(tracer.newId(), h.id, "catalyst", h.key, c.startUs, c.startUs + c.durUs))
    }
    spans ++ jobs ++ catalyst
  }

  private def sumS(spans: Seq[Span]): Double = spans.map(_.durUs).sum / 1e6

  /** Batch workloads: each query span splits into build, Catalyst (the
    * action's tracker phases) and execution (the action's jobs); what the
    * query and action spans' children leave uncovered is unaccounted.
    */
  def batch(spans: Seq[Span], l: LayerListener, passes: Int, cores: Int): Map[String, Double] = {
    val units = math.max(1, passes).toDouble
    val byName = spans.groupBy(_.name).withDefaultValue(Nil)
    val buildIds = byName("build").map(_.id).toSet
    val actionIds = byName("action").map(_.id).toSet
    val buildTasks = l.stages.values.asScala.filter(s => buildIds(s.span)).map(_.tasks).sum
    val self = Spans.selfTimes(spans)
    val unaccounted = (byName("query") ++ byName("action")).map(s => self(s.id)).sum / 1e6
    val totalS = sumS(byName("query"))
    exec(l, actionIds, units, cores) ++ Map(
      "build.s" -> sumS(byName("build")) / units,
      "build.jobs" -> byName("job").count(j => buildIds(j.parent)) / units,
      "build.tasks" -> buildTasks / units,
      "catalyst.s" -> sumS(byName("catalyst").filter(c => actionIds(c.parent))) / units,
      "trace.unaccounted_s" -> unaccounted / units,
      "trace.unaccounted_share" -> (if (totalS > 0) unaccounted / totalS else 0.0))
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** The micro-batch phases Spark reports, in the order they run. */
  val Phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Streaming workloads: progress phases, state operators, the upsert
    * span and the jobs run inside it. Unaccounted time is what the
    * micro-batch and addBatch spans' children leave uncovered.
    */
  def stream(run: Streams.Run, spans: Seq[Span], l: LayerListener,
             cores: Int): Map[String, Double] = {
    val batches = run.progress.filter(p => p.batchId >= run.firstMeasuredBatch)
    val data = batches.filter(_.numInputRows > 0)
    val units = math.max(1, data.size).toDouble
    val ops = batches.flatMap(_.stateOperators.toSeq)
    val (dedup, agg) = ops.partition(_.operatorName.toLowerCase.contains("dedup"))
    val dataKeys = data.map(p => s"batch/${p.batchId}").toSet
    val upserts = spans.filter(s => s.name == "upsert" && dataKeys(s.key))
    val upsertIds = upserts.map(_.id).toSet
    val jobs = l.jobs.values.asScala.filter(j => upsertIds(j.span) && j.endUs > 0).toSeq
    val stageS = upserts.map(u => Spans.union(jobs.filter(_.span == u.id)
      .map(j => (j.startUs, j.endUs))) / 1e3)
    val observed = batches.flatMap(p => Option(p.observedMetrics.get("ingest")))
    def obs(f: String): Double =
      observed.map(r => if (r.isNullAt(r.fieldIndex(f))) 0L else r.getAs[Long](f)).sum.toDouble
    val epochs = batches.flatMap(p => Option(p.observedMetrics.get("feed")))
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    val catalystS = sumS(spans.filter(c => c.name == "catalyst" && upsertIds(c.parent)))
    val trig = data.map(dur(_, "triggerExecution"))
    val self = Spans.selfTimes(spans)
    val unaccountedMs = spans.filter(s => (s.name == "microbatch" || s.name == "addBatch") &&
      dataKeys(s.key)).map(s => self(s.id)).sum / 1e3
    val lateMs = run.measured.map(i => (run.sentNs(i) - run.dueNs(i)) / 1e6)
    exec(l, upsertIds, units, cores) ++ Map(
      "microbatch.count" -> data.size.toDouble,
      "microbatch.trigger_ms" -> mean(trig),
      "microbatch.latest_offset_ms" -> mean(data.map(dur(_, "latestOffset"))),
      "microbatch.planning_ms" -> mean(data.map(dur(_, "queryPlanning"))),
      "microbatch.add_batch_ms" -> mean(data.map(dur(_, "addBatch"))),
      "microbatch.wal_commit_ms" -> mean(data.map(dur(_, "walCommit"))),
      "microbatch.commit_offsets_ms" -> mean(data.map(dur(_, "commitOffsets"))),
      "source.backlog_events" -> backlog(run).map(_._2).maxOption.getOrElse(0.0),
      "source.backlog_growth_per_s" -> Stats.backlogGrowthPerS(backlog(run)),
      "source.conn_epochs" -> (epochs.maxOption.getOrElse(0) + 1).toDouble,
      "gen.late_ms" -> (if (lateMs.isEmpty) 0.0 else Stats.percentile(lateMs, 0.99)),
      "parse.rows" -> obs("n_rows"),
      "parse.malformed" -> obs("n_malformed"),
      "parse.bad_decimal" -> obs("n_bad_decimal"),
      "dedup.state_rows" -> dedup.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "dedup.state_bytes" -> dedup.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "dedup.dropped_duplicates" -> dedup.map(o => Option(o.customMetrics
        .get("numDroppedDuplicateRows")).map(_.doubleValue).getOrElse(0.0)).sum,
      "dedup.rows_dropped_by_watermark" -> dedup.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "dedup.commit_ms" -> dedup.map(_.commitTimeMs.toDouble).sum / units,
      "ohlcv.state_rows" -> agg.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "ohlcv.state_bytes" -> agg.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "ohlcv.rows_updated" -> agg.map(_.numRowsUpdated.toDouble).sum,
      "ohlcv.rows_dropped_by_watermark" -> agg.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "ohlcv.commit_ms" -> agg.map(_.commitTimeMs.toDouble).sum / units,
      "sink.upsert_ms" -> mean(upserts.map(_.durUs / 1e3)),
      "sink.stage_ms" -> mean(stageS),
      "sink.merge_ms" -> mean(upserts.zip(stageS).map { case (u, s) => u.durUs / 1e3 - s }),
      "sink.rows" -> agg.map(_.numRowsUpdated.toDouble).sum,
      "sink.failed_batches" -> (if (run.error.isDefined) 1.0 else 0.0),
      "catalyst.s" -> catalystS / units,
      "trace.unaccounted_s" -> unaccountedMs / 1e3 / units,
      "trace.unaccounted_share" -> (if (trig.isEmpty || trig.sum == 0) 0.0
        else unaccountedMs / trig.sum))
  }

  /** (seconds since the first measured line was due, lines due but not yet
    * committed just before each measured commit).
    */
  def backlog(run: Streams.Run): Seq[(Double, Double)] = {
    val t0 = run.measureStartNs
    val commits = run.commits.sortBy(_.batchId)
    commits.zip(0L +: commits.map(_.endOffset)).filter(_._1.commitNs >= t0).map {
      case (c, before) =>
        val due = java.util.Arrays.binarySearch(run.dueNs, c.commitNs) match {
          case i if i >= 0 => i + 1
          case i => -i - 1
        }
        ((c.commitNs - t0) / 1e9, math.max(0L, due - before).toDouble)
    }
  }

  /** Streaming spans rebuilt from progress: one span per micro-batch with
    * its phases as children in run order; each upsert span is re-parented
    * under its batch's addBatch phase.
    */
  def streamSpans(run: Streams.Run, tracer: Tracer): Seq[Span] = {
    val upserts = tracer.all.filter(_.name == "upsert").map(s => s.key -> s).toMap
    run.progress.flatMap { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val id = tracer.newId()
      val key = s"batch/${p.batchId}"
      val batch = Span(id, 0, "microbatch", key, start,
        start + (dur(p, "triggerExecution") * 1000).toLong)
      var t = start
      val phases = Phases.filter(k => p.durationMs.containsKey(k)).map { k =>
        val s = Span(tracer.newId(), id, k, key, t, t + (dur(p, k) * 1000).toLong)
        t = s.endUs
        s
      }
      val addBatch = phases.find(_.name == "addBatch")
      batch +: (phases ++ upserts.get(key).map(u => u.copy(parent = addBatch.map(_.id).getOrElse(id))))
    }
  }
}
