package perfbench

import java.io.{BufferedOutputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

/** Seeded trade tape in the reference's wire format (one JSON trade per
  * line, decimal strings, epoch-ms trade_time).
  *
  * Every line carries a kind, so the benchmark knows exactly what the
  * pipeline must do with it:
  *  - [[Kind.Valid]]: a fresh, on-time trade — it must reach the sink;
  *  - [[Kind.Replay]]: a byte-identical re-send of a recent valid trade,
  *    within the dedup horizon — dedup state must drop it;
  *  - [[Kind.Late]]: a fresh trade stamped [[LateByMs]] behind the tape —
  *    the watermark must drop it;
  *  - [[Kind.Malformed]]: a truncated JSON object — parsed to a NULL row;
  *  - [[Kind.BadDecimal]]: a fresh, on-time trade whose price does not
  *    parse — the parse yields a NULL price and the row flows on.
  *
  * Symbols are Zipf-skewed. Event time advances `eventMsPerLine` per line,
  * so the tape can run event time faster than wall time.
  */
final class TradeTape(seed: Long, eventT0Ms: Long, eventMsPerLine: Double) {
  import TradeTape._

  private val rng = new SplittableRandom(seed)
  private val symbolCdf: Array[Double] = {
    val w = (1 to Symbols.length).map(k => 1.0 / math.pow(k, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val basePrice: Array[Long] =
    Array.fill(Symbols.length)((math.pow(10, 1 + rng.nextInt(5)) * 1e8).toLong)
  private val recentValid = new ArrayBuffer[Int]()
  private var nextId = 1L

  val lines = new ArrayBuffer[String]()
  val kinds = new ArrayBuffer[Byte]()

  def size: Int = lines.length

  /** Event time the next appended line is stamped with. */
  def headEventMs: Long = eventT0Ms + (lines.length * eventMsPerLine).toLong

  /** Appends `n` lines; late lines only when `allowLate` (the caller knows
    * a watermark is already established).
    */
  def append(n: Int, allowLate: Boolean): Unit = (0 until n).foreach { _ =>
    val t = headEventMs
    val u = rng.nextDouble()
    val kind =
      if (u < ReplayShare) { if (recentValid.nonEmpty) Kind.Replay else Kind.Valid }
      else if (u < ReplayShare + LateShare) { if (allowLate) Kind.Late else Kind.Valid }
      else if (u < ReplayShare + LateShare + MalformedShare) Kind.Malformed
      else if (u < ReplayShare + LateShare + MalformedShare + BadDecimalShare) Kind.BadDecimal
      else Kind.Valid
    kind match {
      case Kind.Replay =>
        val orig = recentValid(rng.nextInt(recentValid.length))
        push(lines(orig), kind)
      case Kind.Late => push(trade(t - LateByMs, badPrice = false), kind)
      case Kind.Malformed =>
        val full = trade(t, badPrice = false)
        push(full.substring(0, full.length / 2), kind)
      case Kind.BadDecimal => push(trade(t, badPrice = true), kind)
      case _ =>
        recentValid += lines.length
        if (recentValid.length > ReplayWindow) recentValid.remove(0)
        push(trade(t, badPrice = false), kind)
    }
  }

  def count(kind: Byte): Int = kinds.count(_ == kind)

  private def push(line: String, kind: Byte): Unit = {
    lines += line; kinds += kind
  }

  private def trade(t: Long, badPrice: Boolean): String = {
    val u = rng.nextDouble()
    var s = 0
    while (symbolCdf(s) < u) s += 1
    val px = basePrice(s) + rng.nextLong(basePrice(s) / 100 + 1)
    val qty = 100000L + rng.nextLong(1000000000L)
    val id = nextId
    nextId += 1
    val price = if (badPrice) dec(px).replace('.', 'x') else dec(px)
    s"""{"trade_id":$id,"symbol":"${Symbols(s)}","price":"$price",""" +
      s""""quantity":"${dec(qty)}","trade_time":$t,"is_buyer_maker":${rng.nextBoolean()}}"""
  }
}

object TradeTape {
  object Kind {
    val Valid: Byte = 0
    val Replay: Byte = 1
    val Late: Byte = 2
    val Malformed: Byte = 3
    val BadDecimal: Byte = 4
  }
  val ReplayShare = 0.02
  val LateShare = 0.005
  val MalformedShare = 0.0005
  val BadDecimalShare = 0.0005
  /** Replays pick among the last this-many valid lines, well inside the
    * 2-minute dedup horizon at any tape speed used here.
    */
  val ReplayWindow = 200
  /** Late lines sit an hour behind the tape: behind any watermark the
    * pipeline can hold once it has committed one batch.
    */
  val LateByMs: Long = 60L * 60 * 1000
  val ZipfS = 1.1
  val Symbols: Array[String] = (Seq("BTC", "ETH", "SOL", "XRP", "ADA", "DOGE",
    "BNB", "TRX", "DOT", "LINK", "AVAX", "LTC", "ATOM", "UNI", "XLM", "ETC",
    "FIL", "APT", "ARB", "OP", "NEAR", "ALGO", "AAVE", "SAND", "MANA", "EGLD",
    "XTZ", "THETA", "AXS", "ICP", "FLOW", "CHZ").map(_ + "USDT")).toArray

  /** Fixed-point (1e-8 units) to an 8-decimal string. */
  def dec(units: Long): String = f"${units / 100000000L}.${units % 100000000L}%08d"
}

/** A one-client TCP line feed on loopback; the pipeline's resilient socket
  * source connects to [[port]].
  */
final class FeedServer extends AutoCloseable {
  private val server = new ServerSocket(0, 8, InetAddress.getLoopbackAddress)
  private var client: Socket = _
  private var out: OutputStream = _

  def port: Int = server.getLocalPort

  private def ensureClient(): OutputStream = {
    if (client == null) {
      client = server.accept()
      client.setTcpNoDelay(true)
      out = new BufferedOutputStream(client.getOutputStream, 1 << 16)
    }
    out
  }

  /** Writes lines [from, until) as fast as the socket takes them. */
  def burst(lines: collection.IndexedSeq[String], from: Int, until: Int): Unit = {
    val o = ensureClient()
    var i = from
    while (i < until) { o.write((lines(i) + "\n").getBytes(StandardCharsets.UTF_8)); i += 1 }
    o.flush()
  }

  /** Open loop: line `from + k` is due at `startNs + k * periodNs` and is
    * written at (or, if the writer fell behind, after) that time. Records
    * the actual send time of each line in `sentNs`.
    */
  def openLoop(lines: collection.IndexedSeq[String], from: Int, until: Int,
               startNs: Long, periodNs: Long, sentNs: Array[Long]): Unit = {
    val o = ensureClient()
    var i = from
    while (i < until) {
      val due = startNs + (i - from).toLong * periodNs
      val wait = due - System.nanoTime()
      if (wait > 0) {
        o.flush()
        LockSupport.parkNanos(wait)
      }
      o.write((lines(i) + "\n").getBytes(StandardCharsets.UTF_8))
      sentNs(i) = System.nanoTime()
      i += 1
    }
    o.flush()
  }

  override def close(): Unit = {
    if (client != null) client.close()
    server.close()
  }
}
