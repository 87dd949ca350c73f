package perfbench

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.{JdbcUpsertSink, OhlcvStream}

/** The streaming workload: a seeded trade tape served over TCP to the
  * library's own flow — resilient socket source → parse + observe →
  * watermarked dedup → 1-minute OHLCV → JDBC upsert into embedded Derby.
  */
object Streams {

  val Table = "trades_1min_agg"
  val Keys: Seq[String] = Seq("window_start", "symbol")
  /** Open-loop feed rate of trade_stream, lines per second. */
  val Rate = 2000
  /** Event time runs this much faster than wall time, so windows close and
    * dedup state reaches its steady size within a run.
    */
  val Speedup = 30
  val EventMsPerLine: Double = 1000.0 / Rate * Speedup
  val EventT0Ms = 1718000000000L
  /** Lines burst at start-up, before anything is measured: they warm the
    * pipeline and establish a watermark, so injected late lines are late.
    */
  val PrefixLines = 4000
  /** Open-loop seconds before the measured window; the JIT is still
    * speeding the micro-batch path up for this long.
    */
  val WarmSeconds = 15.0

  /** Creates the sink table (DOUBLE columns, as the library's pipeline
    * spec flattens NUMERIC(20,8) for embedded databases).
    */
  def createTable(url: String): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      c.createStatement().executeUpdate(
        s"""CREATE TABLE $Table ("window_start" TIMESTAMP NOT NULL,
           |"window_end" TIMESTAMP NOT NULL, "symbol" VARCHAR(16) NOT NULL,
           |"open_price" DOUBLE, "high_price" DOUBLE, "low_price" DOUBLE,
           |"close_price" DOUBLE, "total_volume" DOUBLE, "vwap" DOUBLE,
           |PRIMARY KEY ("symbol", "window_start"))""".stripMargin)
    } finally c.close()
  }

  /** OHLCV rows flattened to the sink's column types. */
  private def flat(agg: DataFrame): DataFrame =
    agg.select(col("window_start"), col("window_end"), col("symbol"),
      col("open_price").cast("double"), col("high_price").cast("double"),
      col("low_price").cast("double"), col("close_price").cast("double"),
      col("total_volume").cast("double"), col("vwap").cast("double"))

  /** A running pipeline plus what the benchmark observes of it. */
  final class Pipeline(spark: SparkSession, port: Int, url: String, ckDir: String,
                       trigger: Trigger, tracer: Option[Tracer]) {
    val commitNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

    private val query: StreamingQuery = {
      val raw = OhlcvStream.fromResilientSocket(spark, "localhost", port,
        retryDelayMs = 50L, maxRetryDelayMs = 400L)
        .observe("feed", max(col("conn_epoch")).as("max_epoch"))
      val trades = OhlcvStream.observed(OhlcvStream.parseTrades(raw))
      val agg = flat(OhlcvStream.ohlcvWatermarked(OhlcvStream.dedupTrades(trades)))
      val upsert = JdbcUpsertSink.upsert(url, Table, Keys)
      val sc = spark.sparkContext
      val sink: (DataFrame, Long) => Unit = { (df, id) =>
        tracer match {
          case None => upsert(df, id)
          case Some(t) => t.span("upsert", s"batch/$id", 0) { sid =>
            sc.setLocalProperty(LayerListener.SpanProperty, sid.toString)
            try upsert(df, id) finally sc.setLocalProperty(LayerListener.SpanProperty, null)
          }
        }
        commitNs.put(id, System.nanoTime())
      }
      agg.writeStream.outputMode("update").foreachBatch(sink).trigger(trigger)
        .option("checkpointLocation", ckDir).start()
    }

    /** Source offset (lines) covered by the last finished batch. */
    def committedOffset: Long =
      Option(query.lastProgress).flatMap(p => p.sources.headOption)
        .flatMap(s => Option(s.endOffset)).map(_.toLong).getOrElse(0L)

    def awaitOffset(target: Long, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (committedOffset < target && System.nanoTime() < deadline && query.isActive)
        Thread.sleep(5)
      committedOffset >= target
    }

    def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq

    def commits: Seq[Stats.Commit] = progress.flatMap { p =>
      for {
        s <- p.sources.headOption
        end <- Option(s.endOffset)
        if p.numInputRows > 0 && commitNs.containsKey(p.batchId)
      } yield Stats.Commit(p.batchId, end.toLong, commitNs.get(p.batchId))
    }

    def stop(): Unit = query.stop()
    def error: Option[String] = query.exception.map(_.getMessage)
  }

  /** One stream run. Lines `[measuredFrom, tape.size)` are measured; the
    * first of them became due at `measureStartNs`.
    */
  final case class Run(tape: TradeTape, dueNs: Array[Long], sentNs: Array[Long],
                       commits: Seq[Stats.Commit],
                       progress: Seq[StreamingQueryProgress],
                       measuredFrom: Int, measureStartNs: Long, firstMeasuredBatch: Long,
                       checks: Map[String, Boolean], detail: Map[String, Any],
                       error: Option[String]) {
    def measured: Range = measuredFrom until tape.size
  }

  /** trade_stream: a burst prefix, committed before anything is measured,
    * then an open-loop feed at [[Rate]] lines/s for [[WarmSeconds]] +
    * `seconds`; lines due in the last `seconds` are measured.
    */
  def tradeStream(spark: SparkSession, seed: Long, seconds: Double, url: String,
                  work: String, tracer: Option[Tracer]): Run = {
    val tape = new TradeTape(seed, EventT0Ms, EventMsPerLine)
    tape.append(PrefixLines, allowLate = false)
    tape.append((Rate * (WarmSeconds + seconds)).toInt, allowLate = true)
    val n = tape.size
    val from = PrefixLines + (Rate * WarmSeconds).toInt
    val due = new Array[Long](n)
    val sent = new Array[Long](n)
    var firstBatch = 0L
    var prefixSeconds = 0.0
    val feed = new FeedServer
    val p = new Pipeline(spark, feed.port, url, s"$work/ckpt-${java.util.UUID.randomUUID()}",
      Trigger.ProcessingTime("1 second"), tracer)
    val err = try {
      val t0 = System.nanoTime()
      feed.burst(tape.lines, 0, PrefixLines)
      java.util.Arrays.fill(due, 0, PrefixLines, t0)
      java.util.Arrays.fill(sent, 0, PrefixLines, t0)
      require(p.awaitOffset(PrefixLines, 90), "warm prefix was not committed")
      prefixSeconds = (System.nanoTime() - t0) / 1e9
      val period = (1e9 / Rate).toLong
      val start = System.nanoTime() + 20000000L
      var i = PrefixLines
      while (i < n) { due(i) = start + (i - PrefixLines) * period; i += 1 }
      feed.openLoop(tape.lines, PrefixLines, n, start, period, sent)
      require(p.awaitOffset(n, 60), "feed was not drained within 60 s")
      firstBatch = p.commits.filter(_.endOffset > from).map(_.batchId).min
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally { p.stop(); feed.close() }
    finish(spark, url, tape, due, sent, p, from, firstBatch, prefixSeconds, err.orElse(p.error))
  }

  private def finish(spark: SparkSession, url: String, tape: TradeTape, due: Array[Long],
                     sent: Array[Long], p: Pipeline, from: Int, firstBatch: Long,
                     prefixSeconds: Double, err: Option[String]): Run = {
    val progress = p.progress
    val k = TradeTape.Kind
    val observed = progress.flatMap(pr => Option(pr.observedMetrics.get("ingest")))
    def obs(field: String): Long =
      observed.map(r => if (r.isNullAt(r.fieldIndex(field))) 0L else r.getAs[Long](field)).sum
    val ops = progress.flatMap(_.stateOperators.toSeq)
    val dedupOps = ops.filter(_.operatorName.toLowerCase.contains("dedup"))
    val dupDropped = dedupOps.map(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
      .map(_.longValue).getOrElse(0L)).sum
    val wmDropped = ops.map(_.numRowsDroppedByWatermark).sum
    // malformed lines reach dedup with a NULL trade_id, where they are
    // duplicates of each other
    val malformedPerBatch = progress.filter(_.numInputRows > 0).flatMap { pr =>
      pr.sources.headOption.map { src =>
        val from = Option(src.startOffset).map(_.toInt).getOrElse(0)
        val until = math.min(src.endOffset.toInt, tape.size)
        pr.batchId -> (from until until).count(tape.kinds(_) == k.Malformed)
      }
    }
    val nullKeyDrops = Stats.nullKeyDuplicates(malformedPerBatch)
    val t0 = System.nanoTime()
    val expected = batchOhlcv(spark, tape, Set(k.Valid, k.BadDecimal))
    // windows whose figures a bad-decimal trade changes: its quantity still
    // counts in total_volume (and so in the vwap divisor), and it can be
    // the window's open or close with a NULL price
    val skewed = expected.diff(batchOhlcv(spark, tape, Set(k.Valid))).size
    val actual = sinkRows(url)
    val checkSeconds = (System.nanoTime() - t0) / 1e9
    val checks = Map(
      "pipeline_ran" -> err.isEmpty,
      "all_lines_committed" -> (p.committedOffset >= tape.size),
      "sink_equals_batch_ohlcv" -> (actual == expected),
      "malformed_counted" -> (obs("n_malformed") == tape.count(k.Malformed)),
      "bad_decimal_counted" -> (obs("n_bad_decimal") == tape.count(k.BadDecimal)),
      "duplicates_dropped" -> (dupDropped == tape.count(k.Replay) + nullKeyDrops),
      "late_dropped" -> (wmDropped == tape.count(k.Late)))
    val detail = Map[String, Any](
      "lines" -> tape.size, "committed_offset" -> p.committedOffset,
      "prefix_s" -> prefixSeconds, "check_s" -> checkSeconds,
      "batches_id_rows_ms" -> progress.filter(_.numInputRows > 0).map(b =>
        Seq(b.batchId, b.numInputRows, b.durationMs.get("triggerExecution").longValue)),
      "sink_rows" -> actual.size, "expected_rows" -> expected.size,
      "bad_decimal_skewed_windows" -> skewed,
      "injected" -> Map("replay" -> tape.count(k.Replay), "late" -> tape.count(k.Late),
        "malformed" -> tape.count(k.Malformed), "bad_decimal" -> tape.count(k.BadDecimal)),
      "null_key_duplicates" -> nullKeyDrops,
      "observed" -> Map("duplicates" -> dupDropped, "late" -> wmDropped,
        "malformed" -> obs("n_malformed"), "bad_decimal" -> obs("n_bad_decimal")))
    val measureStart = if (from < due.length) due(from) else 0L
    Run(tape, due, sent, p.commits, progress, from, measureStart, firstBatch, checks, detail,
      err)
  }

  /** Batch `OhlcvStream.ohlcv` over the tape's own record of the unique,
    * on-time lines of the given kinds. Over valid and bad-decimal trades
    * (both are trades the feed sent once and on time) it is what the sink
    * must hold once the feed is drained.
    */
  private def batchOhlcv(spark: SparkSession, tape: TradeTape,
                         kinds: Set[Byte]): Set[Seq[Any]] = {
    import spark.implicits._
    val picked = tape.lines.indices.filter(i => kinds(tape.kinds(i))).map(tape.lines(_))
    val lines = spark.sparkContext.parallelize(picked, spark.sparkContext.defaultParallelism)
    val df = flat(OhlcvStream.ohlcv(OhlcvStream.parseTrades(lines.toDF("json"))))
    df.collect().map(rowKey).toSet
  }

  private def sinkRows(url: String): Set[Seq[Any]] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"""SELECT "window_start", "window_end", "symbol", "open_price", "high_price",
           |"low_price", "close_price", "total_volume", "vwap" FROM $Table""".stripMargin)
      val out = Set.newBuilder[Seq[Any]]
      while (rs.next())
        out += Seq(rs.getTimestamp(1).getTime, rs.getTimestamp(2).getTime, rs.getString(3)) ++
          (4 to 9).map(i => Option(rs.getObject(i)))
      out.result()
    } finally c.close()
  }

  private def rowKey(r: Row): Seq[Any] =
    Seq(r.getTimestamp(0).getTime, r.getTimestamp(1).getTime, r.getString(2)) ++
      (3 to 8).map(i => Option(r.get(i)))
}
