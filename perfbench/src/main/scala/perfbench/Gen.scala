package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.streaming.StreamingParity.SlotMs

/** Kafka wire schema, as the connector delivers it and as
  * `graft.sources.KafkaSource`'s record adapters read it.
  */
case class WireRow(
    key: Array[Byte], value: Array[Byte], topic: String, partition: Int,
    offset: Long, timestamp: java.sql.Timestamp, timestampType: Int)

/** One rung of generated input: `rate` events per second for `seconds`
  * seconds. Event `i` is due `dueMs(i)` ms after the rung starts, carries
  * event time `timeBase + dueMs(i)`, key `key(i)` (the word of the
  * grouping stream, z of the join stream) and part `part(i)` (the port, or
  * the relation id), and is sent in tick `dueMs(i) / TickMs`; tick `t`
  * holds events `tickStart(t)` until `tickStart(t + 1)` and is sent as
  * `messages(t)`: one Kafka message value per part, null where the part
  * has no event in that tick.
  */
final class Rung(
    val timeBase: Long, val rate: Int, val seconds: Int, val dueMs: Array[Int], val key: Array[Int],
    val part: Array[Byte], val tickStart: Array[Int], val messages: Array[Array[Array[Byte]]]) {
  def events: Int = dueMs.length
  def ticks: Int = messages.length
  def window(i: Int): Int = (dueMs(i) / SlotMs).toInt
}

/** Deterministic open-loop input: the same seed gives the same events
  * and byte-identical messages.
  */
object Gen {
  val TickMs = 10
  val Parts = 3
  /** Event times sit far from epoch 0, which collides with the initial
    * watermark, on a whole window. Successive rungs of one query sit
    * `PhaseMs` apart in event time, so no rung's events fall behind the
    * watermark an earlier rung left and no two rungs share a window.
    */
  val LogicalBase = 1000000000000L
  val PhaseMs = 1000000L
  require(LogicalBase % SlotMs == 0 && PhaseMs % SlotMs == 0 && 1000 % SlotMs == 0)

  def timeBase(phase: Int): Long = LogicalBase + phase * PhaseMs

  /** Grouping phases: windows alternate in pairs between a uniform phase
    * (every word of a `rate / UniformPasses` vocabulary once per shuffled
    * pass, four passes a window, so every whole or half window a batch
    * reads has a low max count, few singles and no heavy hitter: the cost
    * model picks plain HH) and a Zipf phase (s = 1.2 over ZipfWords words,
    * the top word about a fifth of the window: salted APK).
    */
  val PhaseWindows = 2
  val UniformPasses = 4
  val ZipfWords = 10000
  val ZipfS = 1.2

  /** Star-join key space: `rate / JoinKeyDivisor` uniform z values, so a
    * (z, window) has on average 5/3 events of each relation and the join
    * emits about 0.93 rows per event read.
    */
  val JoinKeyDivisor = 5

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(ZipfWords)(r => math.pow(r + 1.0, -ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def zipf(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(ZipfWords - 1, if (i >= 0) i else -i - 1)
  }

  private def due(rate: Int, seconds: Int): Array[Int] = {
    val n = rate.toLong * seconds
    require(n > 0 && n < (1 << 21), s"rung of $n events is out of range")
    Array.tabulate(n.toInt)(i => (i * 1000L / rate).toInt)
  }

  /** `"ts port word"` events on 3 ports, sent without a message key. */
  def groupDrift(seed: Long, rate: Int, seconds: Int, phase: Int = 0): Rung = {
    val perWindow = (rate * SlotMs / 1000).toInt
    require(perWindow % (2 * UniformPasses) == 0, s"rate $rate must divide into passes")
    val r = new SplittableRandom(seed * 1000003L + rate)
    val dueMs = due(rate, seconds)
    val vocab = perWindow / UniformPasses
    val perm = Array.range(0, vocab)
    val word = new Array[Int](dueMs.length)
    val port = new Array[Byte](dueMs.length)
    var i = 0
    while (i < dueMs.length) {
      val k = i % perWindow // position inside the window
      if ((dueMs(i) / SlotMs / PhaseWindows) % 2 == 0) {
        if (k % vocab == 0) shuffle(perm, r)
        word(i) = perm(k % vocab)
      } else word(i) = zipf(r)
      port(i) = r.nextInt(Parts).toByte
      i += 1
    }
    val tb = timeBase(phase)
    build(tb, rate, seconds, dueMs, word, port, i => s"${tb + dueMs(i)} ${port(i)} w${word(i)}")
  }

  /** `"ts z x"` events of relations 0, 1 and 2 (the message key), with
    * uniform z and x = the event's index, so every joined row names its
    * three contributing events.
    */
  def starJoin(seed: Long, rate: Int, seconds: Int, phase: Int = 0): Rung = {
    val r = new SplittableRandom(seed * 1000003L + rate + 1)
    val dueMs = due(rate, seconds)
    val keys = math.max(1, rate / JoinKeyDivisor)
    val z = Array.fill(dueMs.length)(r.nextInt(keys))
    val rel = Array.fill(dueMs.length)(r.nextInt(Parts).toByte)
    val tb = timeBase(phase)
    build(tb, rate, seconds, dueMs, z, rel, i => s"${tb + dueMs(i)} z${z(i)} $i")
  }

  private def shuffle(a: Array[Int], r: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  /** Groups events into ticks and each tick into one `;`-joined message
    * per part.
    */
  private def build(timeBase: Long, rate: Int, seconds: Int, dueMs: Array[Int], key: Array[Int],
      part: Array[Byte], text: Int => String): Rung = {
    val ticks = seconds * 1000 / TickMs
    val tickStart = new Array[Int](ticks + 1)
    val messages = new Array[Array[Array[Byte]]](ticks)
    var i = 0
    for (t <- 0 until ticks) {
      tickStart(t) = i
      val parts = Array.fill(Parts)(new StringBuilder)
      while (i < dueMs.length && dueMs(i) / TickMs == t) {
        val sb = parts(part(i))
        if (sb.nonEmpty) sb.append(';')
        sb.append(text(i))
        i += 1
      }
      messages(t) = parts.map(sb => if (sb.isEmpty) null else sb.toString.getBytes(UTF_8))
    }
    tickStart(ticks) = i
    new Rung(timeBase, rate, seconds, dueMs, key, part, tickStart, messages)
  }
}
